package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated test tables
  * (schemas documented in /root/repo/FIXTURES.md §2).
  *
  * All engine queries read through here so scan behavior is uniform:
  * plain `spark.read.parquet` gives vectorized reads with predicate
  * pushdown and column pruning for free. At 100 TB these would be
  * partitioned/bucketed table roots; the API is path-based so the
  * same code serves both.
  */
object Tables {
  /** Parquet footer schemas, memoized per (dir, table). Every bare
    * `spark.read.parquet` runs a driver-side footer-reading JOB to
    * infer the schema (visible as `parallelize>mapPartitions`, ~25 ms)
    * — once per DataFrame CONSTRUCTION, so a suite that builds
    * hundreds of plans from the same immutable tables pays it
    * hundreds of times. The schema of a fixed dataset is metadata, not
    * data: inferring it once per (dir, name) and passing it explicitly
    * (the production idiom is a catalog-declared schema) skips the job
    * with no change to any plan or result.
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaMemo.computeIfAbsent((dir, name),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Conditional scan fan-out for the ROW-LOCAL-HEAVY corpora
    * (documents, embeddings): parquet scan parallelism is the
    * ROW-GROUP count, and a small corpus written as one fat row group
    * (the test fixtures; any single-file export) pins every
    * tokenize/shingle/hash pass of every consumer to ONE core while
    * the rest idle. When the planned scan yields fewer than half the
    * session's cores, pay one small round-robin repartition of the raw
    * rows; on real corpora (100 TB = hundreds of thousands of splits)
    * the condition is never true and NO shuffle is added. A further
    * effect at the small end: consumers that derive several frames
    * from one corpus (e.g. the AllPairs join's five shingle passes)
    * now share the ONE fanned exchange via Spark's exchange reuse
    * instead of re-running the single-core scan chain per frame.
    *
    * The probe is PASSIVE: the obvious `queryExecution.toRdd
    * .getNumPartitions` goes through `AdaptiveSparkPlanExec.doExecute`,
    * which under AQE runs every upstream shuffle stage as real jobs at
    * DataFrame-CONSTRUCTION time (double work the final query repeats)
    * and throws on a streaming input. So only a plan with no Exchange
    * (the one shape where the scan split count IS the job's
    * parallelism; anything downstream of a shuffle is already
    * `spark.sql.shuffle.partitions` wide) is probed, and its split
    * count is read from the planned FileSourceScanExec — driver-side
    * file-split enumeration, no job. `cores` is floored by the shuffle
    * width alongside `defaultParallelism`: under dynamic allocation (or
    * before executors register) the latter can report the driver's
    * local slots, which would mute the probe and size the fan-out too
    * narrow.
    */
  private[graft] def spreadScan(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val sess = df.sparkSession
    val cores = math.max(sess.sparkContext.defaultParallelism,
      sess.sessionState.conf.numShufflePartitions)
    val plan = df.queryExecution.sparkPlan
    val hasExchange = plan.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.nonEmpty
    if (hasExchange) return df // already shuffle-width downstream
    val parts = plan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDDs().map(_.getNumPartitions).sum
    }.sum
    if (parts > 0 && parts * 2 < cores) df.repartition(cores) else df
  }

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some data
    * drops (which Spark's reader rejects by default —
    * PARQUET_TYPE_ILLEGAL) and as plain TIMESTAMP(MICROS) in others, so
    * normalize whatever is on disk to one caller-visible µs
    * TimestampType column:
    *  - NANOS: read as epoch-nano longs (`nanosAsLong`) and rebuild via
    *    floor division — matches DuckDB's ns→µs truncation;
    *  - MICROS without UTC adjustment: Spark infers TIMESTAMP_NTZ; the
    *    session runs in UTC (GraftSession), so the cast to TimestampType
    *    re-labels the same wall-clock instant losslessly.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame =
    spreadScan(table(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
