package graft

import graft.sources.SupplierRegistry
import graft.streaming.{MicroBatch, NearDupHit, StreamingDedup, TimedText}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}

/** Streaming near-dup ingest: batch parity across a micro-batch split,
  * cross-batch index hits, bucket-cap saturation semantics.
  */
class StreamingDedupSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  // 30 tokens; variants differ in the last token only → 3-gram Jaccard
  // 25/31 ≈ 0.806, above the 0.7 threshold
  private val base = (1 to 29).map(i => s"w$i").mkString(" ")
  private val d1 = s"$base endA"
  private val d2 = (100 to 129).map(i => s"x$i").mkString(" ") // unrelated
  private val d3 = s"$base endB"
  private val d4 = s"$base endC" // arrives in batch 2; near-dup of 1 and 3
  private val d5 = (200 to 229).map(i => s"y$i").mkString(" ") // unrelated

  test("stream/batch parity holds across a micro-batch split; cross-batch dups hit the index") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[TimedText]
    val q = StreamingDedup.nearDupIngest(in.toDF(), "doc_id", "text", tau = 0.7)
      .writeStream.format("memory").queryName("neardup").outputMode("append").start()
    in.addData(TimedText(1, ts(0), d1), TimedText(2, ts(1), d2), TimedText(3, ts(2), d3))
    q.processAllAvailable()
    in.addData(TimedText(4, ts(10), d4), TimedText(5, ts(11), d5))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("neardup").distinct()
      .select(col("matched_id").as("doc_a"), col("doc_id").as("doc_b"), col("jacc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // matched_id always arrived first → (a, b) is id-ordered
    assert(got.forall { case (a, b, _) => a < b }, s"hit direction broken: $got")
    // cross-batch: doc 4 (batch 2) must match docs 1 and 3 (batch 1)
    assert(got.exists { case (a, b, _) => a == 1L && b == 4L }, s"cross-batch hit missing: $got")
    // exact parity with the batch near-dup pair generator on the union corpus
    val corpus = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4), (5L, d5)).toDF("doc_id", "text")
    val batch = ops.Dedup.minhashVerifiedPairs(corpus, "doc_id", "text")
      .filter(col("jacc") >= 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch,
      s"stream hits != batch pairs\n stream: $got\n batch:  $batch")
  }

  test("saturated bucket stops indexing but keeps probing (cap semantics)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // both overloads: the unbounded index and the evicting one
    val overloads = Seq[(String, DataFrame => Dataset[NearDupHit])](
      "neardup_cap" -> (StreamingDedup.nearDupIngest(_, "doc_id", "text",
        tau = 0.7, maxBucket = 1)),
      "neardup_cap_timed" -> (StreamingDedup.nearDupIngest(_, "doc_id", "text",
        "ts", "1 minute", idleRetentionMs = 10L * 60000L, tau = 0.7, maxBucket = 1)))
    for ((name, ingest) <- overloads) {
      val in = MemoryStream[TimedText]
      val q = ingest(in.toDF())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      in.addData(TimedText(1, ts(0), d1), TimedText(2, ts(1), d1), TimedText(3, ts(2), d1))
      q.processAllAvailable()
      q.stop()
      val pairs = spark.table(name).distinct()
        .select(col("matched_id"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // only doc 1 fits the capped bucket: 2 and 3 each match 1, but 3
      // can never match the unindexed 2
      assert(pairs == Set((1L, 2L), (1L, 3L)), s"$name: cap semantics broken: $pairs")
    }
  }

  test("checkpointed restart: bucket state recovers from the state store; pair set equals the uninterrupted run") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val cp = java.nio.file.Files.createTempDirectory("graft-ndi-cp").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ndi-out").toString
    val in = MemoryStream[TimedText]
    def start() = StreamingDedup.nearDupIngest(in.toDF(), "doc_id", "text",
        tau = 0.7)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append").start()
    val q1 = start()
    in.addData(TimedText(1, ts(0), d1), TimedText(2, ts(1), d2), TimedText(3, ts(2), d3))
    q1.processAllAvailable()
    q1.stop() // kill between micro-batches
    // batch 2 arrives while the query is DOWN; the restarted query must
    // verify it against bucket state RECOVERED from the checkpoint
    in.addData(TimedText(4, ts(10), d4), TimedText(5, ts(11), d5))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out).distinct()
      .select(col("matched_id"), col("doc_id"), col("jacc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the cross-RESTART hits are the state-recovery proof: doc 4 must
    // match docs 1 and 3, which live only in pre-restart bucket state
    assert(got.exists { case (a, b, _) => a == 1L && b == 4L },
      s"cross-restart hit (1,4) missing — state not recovered: $got")
    assert(got.exists { case (a, b, _) => a == 3L && b == 4L },
      s"cross-restart hit (3,4) missing — state not recovered: $got")
    // exact parity with the batch pair generator = parity with the
    // uninterrupted stream (the first test pins stream==batch)
    val corpus = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4), (5L, d5)).toDF("doc_id", "text")
    val batch = ops.Dedup.minhashVerifiedPairs(corpus, "doc_id", "text")
      .filter(col("jacc") >= 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch,
      s"restarted stream != batch pairs\n stream: $got\n batch:  $batch")
  }

  test("checkpointed restart with idle eviction: segment semantics survive the restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val cp = java.nio.file.Files.createTempDirectory("graft-ndiev-cp").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ndiev-out").toString
    val dz1 = (300 to 329).map(i => s"z$i").mkString(" ")
    val dz2 = (400 to 429).map(i => s"q$i").mkString(" ")
    val in = MemoryStream[TimedText]
    def start() = StreamingDedup.nearDupIngest(in.toDF(), "doc_id", "text",
        "ts", "1 minute", idleRetentionMs = 10L * 60000L,
        tau = 0.7, maxBucket = 100)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append").start()
    val q1 = start()
    in.addData(TimedText(1, ts(0), d1))    // indexes d1's buckets
    q1.processAllAvailable()
    q1.stop() // restart in the middle of the retention horizon
    in.addData(TimedText(80, ts(30), dz1)) // wm -> past d1's horizon
    val q2 = start()
    q2.processAllAvailable()
    in.addData(TimedText(81, ts(31), dz2)) // fires d1's recovered timeout
    q2.processAllAvailable()
    in.addData(TimedText(4, ts(32), d4))   // post-gap: new first member
    q2.processAllAvailable()
    in.addData(TimedText(5, ts(33), d3))   // near-dup of both 1 and 4
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out).distinct()
      .select(col("matched_id"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical to the uninterrupted eviction test: pre-gap state was
    // recovered AND then evicted on schedule; post-gap segment matches
    // within itself only
    assert(got == Set((4L, 5L)),
      s"restarted eviction semantics diverged, got $got")
  }

  test("idle-retention eviction forgets quiet buckets; the index restarts per segment") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dz1 = (300 to 329).map(i => s"z$i").mkString(" ") // watermark traffic
    val dz2 = (400 to 429).map(i => s"q$i").mkString(" ")
    val in = MemoryStream[TimedText]
    // 1-minute watermark delay, 10-minute retention horizon
    val q = StreamingDedup.nearDupIngest(in.toDF(), "doc_id", "text",
        "ts", "1 minute", idleRetentionMs = 10L * 60000L,
        tau = 0.7, maxBucket = 100)
      .writeStream.format("memory").queryName("neardup_evict")
      .outputMode("append").start()
    in.addData(TimedText(1, ts(0), d1))      // indexes d1's buckets
    q.processAllAvailable()
    in.addData(TimedText(80, ts(30), dz1))   // wm -> 10:29 (> 10:00+10min)
    q.processAllAvailable()
    in.addData(TimedText(81, ts(31), dz2))   // trigger fires d1's timeout
    q.processAllAvailable()
    // doc 1 is forgotten: its near-dup arriving after the quiet gap is
    // NOT flagged and becomes the segment's new first member
    in.addData(TimedText(4, ts(32), d4))
    q.processAllAvailable()
    in.addData(TimedText(5, ts(33), d3))     // near-dup of both 1 and 4
    q.processAllAvailable()
    q.stop()
    val got = spark.table("neardup_evict").distinct()
      .select(col("matched_id"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.exists(_._1 == 1L),
      s"evicted doc 1 must be forgotten, got $got")
    assert(got == Set((4L, 5L)),
      s"post-gap segment must match within itself only, got $got")
  }

  test("noveltyWithState: first-carrier attributions across micro-batch splits equal the batch novelty census") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def toks(p: String, a: Int, b: Int) = (a to b).map(i => s"$p$i").mkString(" ")
    // n1: 10 tokens → 3 grams, all novel. n2: exact dup of n1 → 0 novel.
    // n3: shares its first 8-token gram with n1, adds 8 fresh tokens →
    // 9 grams, 8 novel. n4 (batch 2): n1's text + one token → 4 grams,
    // 1 novel. n5: 3 tokens → no grams at all.
    val n1 = toks("a", 1, 10)
    val n3 = toks("a", 1, 8) + " " + toks("c", 9, 16)
    val n4 = n1 + " zz"
    val n5 = "one two three"
    val in = MemoryStream[TimedText]
    val q = StreamingDedup.noveltyWithState(in.toDF(), "doc_id", "ts", "text",
        watermark = "1 minute")
      .writeStream.format("memory").queryName("novelty_stream")
      .outputMode("append").start()
    in.addData(TimedText(1, ts(0), n1), TimedText(2, ts(1), n1),
      TimedText(3, ts(2), n3))
    q.processAllAvailable()
    in.addData(TimedText(4, ts(10), n4), TimedText(5, ts(11), n5))
    q.processAllAvailable()
    // after batch 2 the watermark (10:10) is past every batch-1 doc:
    // their grams must be attributed — and to the MIN id (doc 1, never
    // its exact dup doc 2) — while d4's fresh gram (ts 10:10, not
    // STRICTLY behind the watermark) stays open
    val mid = spark.table("novelty_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mid.nonEmpty, "no attributions after the watermark passed batch 1")
    assert(!mid.exists(_._2 == 2L), s"exact-dup doc 2 claimed novelty: ${mid.toSeq}")
    assert(!mid.exists(_._2 == 4L), "doc 4 attributed before the watermark passed it")
    in.addData(TimedText(99, Timestamp.valueOf("2026-01-11 10:00:00"), toks("z", 1, 9)))
    q.processAllAvailable()
    q.stop()
    val events = spark.table("novelty_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // each gram attributed exactly once
    assert(events.map(_._1).distinct.length == events.length,
      "a gram was attributed more than once")
    // stream rollup == batch ngramNovelty on the closed slice (docs 1-5)
    val corpus = Seq((1L, n1), (2L, n1), (3L, n3), (4L, n4), (5L, n5))
      .toDF("doc_id", "text")
    val batch = ops.TextAnalysis.ngramNovelty(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap // doc -> n_novel
    val streamed = events.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    (1L to 5L).foreach { d =>
      assert(streamed.getOrElse(d, 0L) == batch(d),
        s"doc $d: stream novel=${streamed.getOrElse(d, 0L)} != batch=${batch(d)}")
    }
    // the planted shape, explicitly
    assert(batch == Map(1L -> 3L, 2L -> 0L, 3L -> 8L, 4L -> 1L, 5L -> 0L),
      s"planted novelty profile drifted: $batch")
  }

  test("exactDedupIngest: per-batch parity with batch dedupIncremental; index persists across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[TimedText]
    val q = StreamingDedup.exactDedupIngest(in.toDF(), "doc_id", "text")
      .writeStream.format("memory").queryName("exact_ingest")
      .outputMode("append").start()
    // batch 1: d1 twice (2 is dup_in_increment of 1) + unrelated d2
    in.addData(TimedText(1, ts(0), d1), TimedText(2, ts(1), d1),
      TimedText(3, ts(2), d2))
    q.processAllAvailable()
    // batch 2: d1 again (dup_of_index), a fresh text twice, one new
    in.addData(TimedText(4, ts(10), d1), TimedText(5, ts(11), d3),
      TimedText(6, ts(12), d3), TimedText(7, ts(13), d5))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("exact_ingest")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "new", 2L -> "dup_in_increment", 3L -> "new",
      4L -> "dup_of_index", 5L -> "new", 6L -> "dup_in_increment",
      7L -> "new"), s"statuses drifted: $got")
    // per-batch parity with the BATCH op: old = earlier batches
    val b1 = Seq((1L, d1), (2L, d1), (3L, d2)).toDF("doc_id", "text")
    val b2 = Seq((4L, d1), (5L, d3), (6L, d3), (7L, d5)).toDF("doc_id", "text")
    val batchStatuses =
      ops.Dedup.dedupIncremental(b1.limit(0), b1, "doc_id", "text")
        .unionByName(ops.Dedup.dedupIncremental(b1, b2, "doc_id", "text"))
        .select(col("doc_id"), col("status"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == batchStatuses,
      s"stream != batch\n stream: $got\n batch:  $batchStatuses")
  }

  test("exactDedupIngest: a checkpoint resumes across the FileContext and FileSystem checkpoint managers, both ways") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val posture = spark.conf.get(key)
    val fileContext = classOf[FileContextBasedCheckpointFileManager].getName
    val batches = Seq(
      Seq(TimedText(1, ts(0), d1), TimedText(2, ts(1), d1), TimedText(3, ts(2), d2)),
      Seq(TimedText(4, ts(3), d3), TimedText(5, ts(4), d2)),
      Seq(TimedText(6, ts(10), d1), TimedText(7, ts(11), d5), TimedText(8, ts(12), d5)),
      Seq(TimedText(9, ts(13), d3), TimedText(10, ts(14), d4)))
    // one query per manager on one checkpoint, stopped between phases;
    // each phase runs an equal share of the batches
    def run(managers: String*): Seq[(Long, String)] = {
      val cp = java.nio.file.Files.createTempDirectory("graft-edi-cp").toString
      val out = java.nio.file.Files.createTempDirectory("graft-edi-out").toString
      val in = MemoryStream[TimedText]
      val perPhase = batches.size / managers.size
      try managers.zipWithIndex.foreach { case (m, i) =>
        spark.conf.set(key, m)
        assert(CheckpointFileManager.create(new Path(cp), spark.sessionState.newHadoopConf())
          .getClass.getName == m)
        val q = StreamingDedup.exactDedupIngest(in.toDF(), "doc_id", "text")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .outputMode("append").start()
        try batches.slice(i * perPhase, (i + 1) * perPhase).foreach { b =>
          in.addData(b)
          q.processAllAvailable()
        } finally q.stop()
      } finally spark.conf.set(key, posture)
      spark.read.parquet(out).select("doc_id", "status")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    }
    val uninterrupted = run(posture)
    assert(uninterrupted == Seq(
      1L -> "new", 2L -> "dup_in_increment", 3L -> "new", 4L -> "new",
      5L -> "dup_of_index", 6L -> "dup_of_index", 7L -> "new",
      8L -> "dup_in_increment", 9L -> "dup_of_index", 10L -> "new"),
      s"statuses drifted: $uninterrupted")
    // docs 6 and 9 repeat texts first indexed before the restart: their
    // dup_of_index comes from state the other manager wrote
    for (managers <- Seq(Seq(fileContext, posture), Seq(posture, fileContext))) {
      val got = run(managers: _*)
      assert(got == uninterrupted,
        s"restart ${managers.mkString(" -> ")} != uninterrupted\n got: $got\n want: $uninterrupted")
    }
  }

  // SupplierSource sweeps: two supplier batches per sweep, "<doc_id>\t<text>"
  // rows as perfbench's stream_dedup writes them. Sweep 1 repeats d1 across
  // its two batches with the lower doc id in the later batch; sweep 2
  // repeats d2 and d1 from sweep 1 and d4 across its own two batches.
  private val sweep1 = Seq(Seq(2L -> d1, 3L -> d2), Seq(1L -> d1, 4L -> d3))
  private val sweep2 = Seq(Seq(5L -> d2, 6L -> d4), Seq(7L -> d4, 8L -> d1))
  private val sweepStatuses = Seq(
    1L -> "new", 2L -> "dup_in_increment", 3L -> "new", 4L -> "new",
    5L -> "dup_of_index", 6L -> "new", 7L -> "dup_in_increment", 8L -> "dup_of_index")

  /** `exactDedupIngest` over SupplierSource `id` under MicroBatch, on one
    * checkpoint. Each of `sweeps` is queued at once (a trigger sees all
    * of its batches or none) and run until its rows are delivered; if
    * `restart`, the query is stopped and restarted between sweeps.
    * Returns each micro-batch's statuses, per sweep.
    */
  private def ingestSweeps(id: String, sweeps: Seq[Seq[Seq[(Long, String)]]],
                           restart: Boolean): Seq[Seq[Seq[(Long, String)]]] = {
    import spark.implicits._
    val cp = java.nio.file.Files.createTempDirectory("graft-sweep-cp").toString
    val feed = new ConcurrentLinkedQueue[Seq[String]]()
    SupplierRegistry.register(id, () => feed.synchronized(Success(Option(feed.poll()).getOrElse(Seq.empty))))
    val delivered = new ConcurrentLinkedQueue[Seq[(Long, String)]]()
    def start() = MicroBatch.start(
      StreamingDedup.exactDedupIngest(
        spark.readStream.format("graft.sources.SupplierSource").option("supplierId", id).load()
          .select(substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
            expr("substring(value, instr(value, '\t') + 1)").as("text")),
        "doc_id", "text").toDF(),
      processor = (_, df) => Try { delivered.add(df.as[(Long, String)].collect().toSeq.sorted); df },
      pollInterval = 0.seconds,
      checkpoint = Some(cp))
    var q = start()
    try sweeps.zipWithIndex.map { case (sweep, i) =>
      if (restart && i > 0) { q.stop(); q = start() }
      val before = delivered.size
      feed.synchronized(sweep.foreach(b => feed.add(b.map { case (doc, text) => s"$doc\t$text" })))
      // a trigger already past its fetch when the sweep was queued can
      // end processAllAvailable early, so first wait for the sweep's rows
      val want = sweep.map(_.size).sum
      val deadline = System.currentTimeMillis() + 30000
      while (delivered.asScala.drop(before).map(_.size).sum < want && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      q.processAllAvailable()
      delivered.asScala.toSeq.drop(before)
    } finally {
      q.stop()
      SupplierRegistry.unregister(id)
    }
  }

  test("exactDedupIngest over SupplierSource: one sweep is one micro-batch; statuses span its batches and earlier sweeps") {
    assert(spark.sparkContext.defaultParallelism >= 2, "a sweep of two batches needs two task slots")
    val got = ingestSweeps("sweep_dedup", Seq(sweep1, sweep2), restart = false)
    assert(got.map(_.size) == Seq(1, 1), s"micro-batches per sweep: $got")
    assert(got.flatten.flatten.sorted == sweepStatuses, s"statuses: $got")
  }

  test("exactDedupIngest over SupplierSource: a restart between sweeps re-delivers nothing and takes the next sweep") {
    assert(spark.sparkContext.defaultParallelism >= 2, "a sweep of two batches needs two task slots")
    val got = ingestSweeps("sweep_restart", Seq(sweep1, sweep2), restart = true)
    // the restarted query's only micro-batch is sweep 2, whole; its
    // dup_of_index statuses come from state the first query committed
    assert(got.map(_.size) == Seq(1, 1), s"micro-batches per sweep: $got")
    assert(got(1).flatten.map(_._1).sorted == sweep2.flatten.map(_._1).sorted, s"after restart: ${got(1)}")
    assert(got.flatten.flatten.sorted == sweepStatuses, s"statuses: $got")
  }
}
