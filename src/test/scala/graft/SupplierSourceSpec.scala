package graft

import graft.sources.{SupplierMicroBatchStream, SupplierPartition, SupplierRegistry, SupplierSource}
import graft.streaming.MicroBatch
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 Supplier source must deliver every fetched batch exactly
  * once, skip supplier errors without advancing, and idle on empty
  * fetches — the reference's dispatcher semantics as a Spark source.
  * Each trigger sweeps up to `defaultParallelism` supplier batches,
  * never more than `SupplierSource.MaxSweep`, one input partition each.
  */
class SupplierSourceSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Streams supplier `id` through `transform` into memory sink `sink`
    * until it holds `want` rows (20 s at most), then unregisters `id`.
    */
  private def drain(id: String, sink: String, want: Int)(transform: DataFrame => DataFrame): Seq[Row] = {
    val q = transform(spark.readStream.format("graft.sources.SupplierSource")
      .option("supplierId", id).load())
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      while (spark.table(sink).count() < want && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(50)
      }
    } finally {
      q.stop()
      SupplierRegistry.unregister(id)
    }
    spark.table(sink).collect().toSeq
  }

  /** The most supplier batches one trigger sweeps: the task slots,
    * capped.
    */
  private def slots: Int = math.min(spark.sparkContext.defaultParallelism, SupplierSource.MaxSweep)

  /** Registers supplier `id` over `batches`: one batch per call, then
    * empty fetches; returns the batches not yet fetched.
    */
  private def queued(id: String, batches: Seq[Seq[String]]): ConcurrentLinkedQueue[Seq[String]] = {
    val q = new ConcurrentLinkedQueue[Seq[String]](batches.asJava)
    SupplierRegistry.register(id, () => Success(Option(q.poll()).getOrElse(Seq.empty)))
    q
  }

  /** `n` batches of 3 rows each, named by batch and row. */
  private def batches(n: Int): Seq[Seq[String]] = (0 until n).map(b => (0 until 3).map(r => s"b$b-r$r"))

  /** What one micro-batch delivers: (input partition, value) per row,
    * in collect order.
    */
  private def partitioned(df: DataFrame): Seq[(Int, String)] =
    df.select(spark_partition_id(), col("value")).collect().map(r => r.getInt(0) -> r.getString(1)).toSeq

  /** The rows a micro-batch over `sweep` should hold: supplier batch
    * `p` of the sweep in input partition `p`, rows in fetch order.
    */
  private def asPartitions(sweep: Seq[Seq[String]]): Seq[(Int, String)] =
    sweep.zipWithIndex.flatMap { case (b, p) => b.map(p -> _) }

  /** Streams supplier `id` back to back until no new data arrives,
    * then unregisters it; returns each micro-batch as [[partitioned]].
    */
  private def microBatches(id: String): Seq[Seq[(Int, String)]] = {
    val seen = new ConcurrentLinkedQueue[Seq[(Int, String)]]()
    val q = spark.readStream.format("graft.sources.SupplierSource")
      .option("supplierId", id).load()
      .writeStream.foreachBatch { (df: DataFrame, _: Long) => seen.add(partitioned(df)); () }
      .start()
    try q.processAllAvailable()
    finally {
      q.stop()
      SupplierRegistry.unregister(id)
    }
    seen.asScala.toSeq
  }

  private type Stream = MicroBatchStream with SupportsAdmissionControl

  /** The source's micro-batch stream, built the way Spark builds it. */
  private def streamOf(id: String): Stream =
    new SupplierSource()
      .getTable(SupplierSource.schema, Array.empty, Map("supplierId" -> id).asJava)
      .asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .toMicroBatchStream(java.nio.file.Files.createTempDirectory("graft-sweep").toString)
      .asInstanceOf[Stream]

  /** One trigger's sweep from `start`, as Spark asks for it. */
  private def sweepFrom(stream: Stream, start: String): String =
    stream.latestOffset(stream.deserializeOffset(start), ReadLimit.allAvailable()).json()

  test("supplier batches flow through a distributed transform exactly once") {
    val n = new AtomicInteger(0)
    SupplierRegistry.register("s1", () => {
      val i = n.getAndIncrement()
      if (i < 3) Success(Seq(s"batch$i-a", s"batch$i-b"))
      else if (i == 3) Failure(new RuntimeException("fetch boom")) // skipped
      else Success(Seq.empty) // drained
    })
    val got = drain("s1", "supplier_out", 6)(
      _.select(upper(col("value")).as("v"))) // distributed transform
      .map(_.getString(0)).sorted
    assert(got.sameElements((0 until 3).flatMap(i =>
      Seq(s"BATCH$i-A", s"BATCH$i-B")).sorted), s"got: ${got.mkString(",")}")
  }

  test("unknown supplier id fails loudly") {
    val df = spark.readStream.format("graft.sources.SupplierSource")
      .option("supplierId", "nope").load()
    val e = intercept[Exception] {
      val q = df.writeStream.format("memory").queryName("nope_out").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("invalid supplier") ||
      Option(e.getCause).exists(_.getMessage.contains("invalid supplier")))
  }

  test("a batch crosses to the executors as UTF-8, row for row, nulls and odd text intact") {
    val rows = Seq("first", null, "", "naïve café — ÿ", "𝄞 clef 😀", "lone \ud800 surrogate", "x" * 300, "last")
    val sent = new AtomicInteger(0)
    SupplierRegistry.register("s_utf8", () =>
      if (sent.getAndIncrement() == 0) Success(rows) else Success(Seq.empty))
    val got = drain("s_utf8", "supplier_utf8_out", rows.size)(
      _.select(col("value"), hex(col("value")).as("hex")))
    assert(got.size == rows.size, s"got: $got")
    def hexOf(u: UTF8String) = u.getBytes.map(b => f"${b & 0xff}%02X").mkString
    rows.zip(got).foreach { case (in, out) =>
      if (in == null) assert(out.isNullAt(0) && out.isNullAt(1), s"null became $out")
      else {
        val want = UTF8String.fromString(in)
        assert(out.getString(0) == want.toString, s"$in became ${out.getString(0)}")
        assert(out.getString(1) == hexOf(want), s"$in: bytes ${out.getString(1)}, want ${hexOf(want)}")
      }
    }
    // the partition itself hands back views equal to fromString, in order
    val part = SupplierPartition(rows)
    assert(part.size == rows.size)
    rows.indices.foreach { i =>
      assert(part.row(i) == (if (rows(i) == null) null else UTF8String.fromString(rows(i))), s"row $i")
    }
  }

  test("a serialized 5000-row partition costs its UTF-8 bytes plus 4 bytes a row, within 1 KiB") {
    val rng = new java.util.Random(7)
    val rows = (0 until 5000).map(i =>
      if (i % 97 == 0) null
      else Seq.fill(8 + rng.nextInt(33))(s"word${rng.nextInt(64)}é").mkString(" "))
    val utf8Bytes = rows.filter(_ != null).map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum
    val out = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(out)
    oos.writeObject(SupplierPartition(rows))
    oos.close()
    val bound = utf8Bytes + 4L * rows.size + 1024
    assert(out.size <= bound, s"serialized ${out.size} bytes > $bound (UTF-8 $utf8Bytes)")
  }

  test("a trigger sweeps up to defaultParallelism batches: a 2N+1 backlog arrives as N, N and 1, one partition each") {
    val n = slots
    val all = batches(2 * n + 1)
    queued("s_sweep", all)
    val got = microBatches("s_sweep")
    assert(got.map(_.map(_._1).distinct.size) == Seq(n, n, 1), s"partitions per micro-batch: $got")
    assert(got == Seq(all.take(n), all.slice(n, 2 * n), all.drop(2 * n)).map(asPartitions),
      s"micro-batches: $got")
  }

  test("a sweep stops at the first empty fetch") {
    queued("s_gap", Seq(Seq("b0-a", "b0-b"), Seq.empty, Seq("b1-a")))
    val got = microBatches("s_gap")
    assert(got == Seq(Seq(0 -> "b0-a", 0 -> "b0-b"), Seq(0 -> "b1-a")), s"micro-batches: $got")
  }

  test("a failed fetch is skipped without advancing, keeps the sweep going, and counts toward its bound") {
    val n = slots
    val calls = new AtomicInteger(0)
    SupplierRegistry.register("s_down", () => {
      calls.incrementAndGet()
      Failure(new RuntimeException("supplier down"))
    })
    try {
      val down = streamOf("s_down")
      (1 to 3).foreach { k =>
        assert(sweepFrom(down, "0") == "0")
        assert(calls.get() == k * n, s"after $k sweeps: ${calls.get()} calls, bound $n per sweep")
      }
    } finally SupplierRegistry.unregister("s_down")
    // every other fetch fails: one sweep buffers the ceil(n / 2) batches
    // its n calls found
    val flaky = new AtomicInteger(0)
    SupplierRegistry.register("s_flaky", () => {
      val i = flaky.getAndIncrement()
      if (i % 2 == 1) Failure(new RuntimeException("flaky")) else Success(Seq(s"b$i"))
    })
    try {
      val stream = streamOf("s_flaky")
      val end = sweepFrom(stream, "0")
      assert(flaky.get() == n)
      assert(end == ((n + 1) / 2).toString)
      val parts = stream.planInputPartitions(stream.initialOffset(), stream.deserializeOffset(end))
        .map(_.asInstanceOf[SupplierPartition])
      assert(parts.map(p => p.row(0).toString).toSeq == (0 until n by 2).map(i => s"b$i"))
    } finally SupplierRegistry.unregister("s_flaky")
  }

  test("a sweep makes at most MaxSweep supplier calls, however many task slots the session has") {
    val calls = new AtomicInteger(0)
    SupplierRegistry.register("s_cap", () => Success(Seq(s"b${calls.getAndIncrement()}")))
    try {
      val stream = new SupplierMicroBatchStream("s_cap", slots = 64)
      assert(sweepFrom(stream, "0") == SupplierSource.MaxSweep.toString)
      assert(calls.get() == SupplierSource.MaxSweep)
    } finally SupplierRegistry.unregister("s_cap")
  }

  test("a restarted stream buffers its next sweep past the recovered offset") {
    val all = batches(2)
    queued("s_resume", all)
    try {
      // a fresh stream on a checkpoint whose offset log ends at 7
      val stream = streamOf("s_resume")
      assert(sweepFrom(stream, "7") == "9")
      val parts = stream.planInputPartitions(stream.deserializeOffset("7"), stream.deserializeOffset("9"))
        .map(_.asInstanceOf[SupplierPartition])
      assert(parts.map(p => (0 until p.size).map(p.row(_).toString)).toSeq == all)
    } finally SupplierRegistry.unregister("s_resume")
  }

  test("AvailableNow delivers one sweep and stops; a restart on its checkpoint delivers the next") {
    val n = slots
    val all = batches(2 * n + 1)
    val left = queued("s_now", all)
    val cp = java.nio.file.Files.createTempDirectory("graft-now-cp").toString
    def run(): Seq[Seq[(Int, String)]] = {
      val seen = new ConcurrentLinkedQueue[Seq[(Int, String)]]()
      val q = MicroBatch.start(
        spark.readStream.format("graft.sources.SupplierSource").option("supplierId", "s_now").load(),
        processor = (_, df) => Try { seen.add(partitioned(df)); df },
        availableNow = true,
        checkpoint = Some(cp))
      try assert(q.awaitTermination(30000), "AvailableNow query did not stop")
      finally q.stop()
      seen.asScala.toSeq
    }
    try {
      // the query's end offset is its first sweep's; the rest stays
      // with the supplier
      val first = run()
      assert(first == Seq(asPartitions(all.take(n))), s"first run: $first")
      assert(left.asScala.toSeq == all.drop(n))
      val second = run()
      assert(second == Seq(asPartitions(all.slice(n, 2 * n))), s"restarted run: $second")
      assert(left.asScala.toSeq == all.drop(2 * n))
    } finally SupplierRegistry.unregister("s_now")
  }
}
