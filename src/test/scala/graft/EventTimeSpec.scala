package graft

import graft.streaming.{EventTime, TimedEvent}
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Event-time semantics over MemoryStream: window contents, watermark
  * late-row dropping, session merging, custom keyed state.
  */
class EventTimeSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:$sec%02d")

  test("tumbling windows aggregate by event time; late rows beyond watermark drop") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[TimedEvent]
    val q = EventTime.tumblingCounts(in.toDF(), "ts", "user_id", "5 minutes", "5 minutes")
      .writeStream.format("memory").queryName("tumbling").outputMode("update").start()
    in.addData(TimedEvent(1, ts(0), 1.0), TimedEvent(1, ts(1), 2.0), TimedEvent(1, ts(7), 4.0))
    q.processAllAvailable()
    // advance watermark far past the first window, then send a late row into it
    in.addData(TimedEvent(1, ts(30), 8.0))
    q.processAllAvailable()
    in.addData(TimedEvent(1, ts(2), 100.0)) // late: watermark is 10:25
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tumbling")
      .groupBy("w_start").agg(max("n_events").as("n"), max("sum_value").as("s"))
      .collect().map(r => r.getTimestamp(0).toString -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows("2026-01-01 10:00:00.0") == ((2L, 3.0))) // late +100 never applied
    assert(rows("2026-01-01 10:05:00.0") == ((1L, 4.0)))
  }

  test("trending terms: late rows drop, batch parity holds, top-k cut ranks per window") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[graft.streaming.TimedText]
    val q = EventTime.trendingTermCounts(in.toDF(), "ts", "text", "5 minutes", "5 minutes")
      .writeStream.format("memory").queryName("trending").outputMode("update").start()
    val onTime = Seq(
      graft.streaming.TimedText(1, ts(0), "spark spark join"),
      graft.streaming.TimedText(2, ts(1), "join window"),
      graft.streaming.TimedText(3, ts(7), "hash hash hash spark"))
    in.addData(onTime: _*)
    q.processAllAvailable()
    val flush = graft.streaming.TimedText(9, ts(30), "flush")
    in.addData(flush)
    q.processAllAvailable()
    in.addData(graft.streaming.TimedText(4, ts(2), "spark spark spark spark")) // late
    q.processAllAvailable()
    q.stop()
    val got = spark.table("trending")
      .groupBy("w_start", "term").agg(max("cnt").as("cnt")).cache()
    val m = got.collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("2026-01-01 10:00:00.0", "spark")) == 2L, "late doc must never apply")
    assert(m(("2026-01-01 10:00:00.0", "join")) == 2L)
    assert(m(("2026-01-01 10:05:00.0", "hash")) == 3L)
    // batch parity: the SAME operator over the on-time rows as a batch
    // frame (watermark no-ops) must produce the identical count set
    val batch = EventTime.trendingTermCounts((onTime :+ flush).toDF(),
      "ts", "text", "5 minutes", "5 minutes")
    val diff = got.join(batch, Seq("w_start", "term"), "full_outer")
      .filter(got("cnt").isNull || batch("cnt").isNull || got("cnt") =!= batch("cnt"))
    assert(diff.count() == 0, "stream final counts must equal the batch run")
    // top-k cut: window 10:00 has spark=2, join=2, window=1 — ties rank
    // lexicographically, so k=2 keeps join then spark
    val top = EventTime.topTermsPerWindow(got.filter(col("w_start") === lit(ts(0))), 2)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("term")))
    assert(top.toSeq == Seq((1, "join"), (2, "spark")), s"got ${top.toSeq}")
  }

  test("session windows merge events within the gap and split across it") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[TimedEvent]
    val q = EventTime.sessionWindows(in.toDF(), "ts", "user_id", "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("sessions").outputMode("complete").start()
    in.addData(
      TimedEvent(7, ts(0), 1.0), TimedEvent(7, ts(3), 1.0),  // session A (merged)
      TimedEvent(7, ts(20), 1.0),                            // session B
      TimedEvent(8, ts(1), 9.0))                             // other key
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions").collect()
    val u7 = rows.filter(_.getAs[Long]("user_id") == 7L)
    assert(u7.length == 2)
    assert(u7.map(_.getAs[Long]("n_events")).sorted.sameElements(Array(1L, 2L)))
    assert(rows.count(_.getAs[Long]("user_id") == 8L) == 1)
  }

  test("streaming dedup within watermark drops replayed events") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[TimedEvent]
    val q = in.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "ts")
      .writeStream.format("memory").queryName("streamdedup").outputMode("append").start()
    in.addData(TimedEvent(1, ts(0), 1.0), TimedEvent(1, ts(0), 1.0)) // same-batch dup
    q.processAllAvailable()
    in.addData(TimedEvent(1, ts(0), 1.0), TimedEvent(1, ts(1), 2.0)) // replay + new
    q.processAllAvailable()
    q.stop()
    assert(spark.table("streamdedup").count() == 2) // (1,10:00) once + (1,10:01)
  }

  test("stream-stream inner join within event-time bounds") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[TimedEvent]
    val buys = MemoryStream[TimedEvent]
    val c = clicks.toDF().select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val b = buys.toDF().select(col("user_id").as("buyer_id"), col("ts").as("buy_ts"))
      .withWatermark("buy_ts", "10 minutes")
    // buy must follow the click within 5 minutes
    val q = c.join(b,
        c("user_id") === b("buyer_id") &&
        b("buy_ts") >= c("click_ts") &&
        b("buy_ts") <= c("click_ts") + org.apache.spark.sql.functions.expr("INTERVAL 5 MINUTES"))
      .writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    clicks.addData(TimedEvent(1, ts(0), 0), TimedEvent(2, ts(0), 0))
    buys.addData(TimedEvent(1, ts(3), 0))   // within 5 min → joins
    buys.addData(TimedEvent(2, ts(9), 0))   // outside 5 min → dropped
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssjoin").collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("user_id") == 1L)
  }

  test("file-source stream drains the events table with AvailableNow") {
    val events = Tables.events(spark, sfDir)
    // the streaming file source monitors a DIRECTORY for arriving files
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = spark.readStream
      .schema(Tables.table(spark, sfDir, "events").schema)
      .parquet(dir.toString)
    val n = new java.util.concurrent.atomic.AtomicLong(0)
    val q = graft.streaming.MicroBatch.start(
      stream,
      processor = (_, df) => scala.util.Success(df),
      finalizer = (p, _) => p.foreach(df => n.addAndGet(df.count())),
      availableNow = true)
    q.awaitTermination(30000)
    assert(n.get() == events.count(), s"streamed ${n.get()} of ${events.count()} rows")
  }

  test("flatMapGroupsWithState sessionizer emits closed sessions with totals") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[TimedEvent]
    val q = EventTime.sessionizeWithState(in.toDS(), gapMs = 5 * 60 * 1000, watermark = "1 minute")
      .writeStream.format("memory").queryName("statefulsess").outputMode("append").start()
    in.addData(TimedEvent(5, ts(0), 1.0), TimedEvent(5, ts(2), 2.0))
    q.processAllAvailable()
    in.addData(TimedEvent(5, ts(20), 7.0)) // gap > 5 min → closes session A
    q.processAllAvailable()
    in.addData(TimedEvent(5, ts(40), 0.0)) // advances watermark; times out session B
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("statefulsess").as[graft.streaming.SessionOut].collect()
    assert(rows.exists(s => s.n_events == 2 && s.sum_value == 3.0), s"got: ${rows.mkString(",")}")
    assert(rows.exists(s => s.n_events == 1 && s.sum_value == 7.0), s"got: ${rows.mkString(",")}")
  }

  test("streaming heavy hitters: MG guarantee holds vs exact recount across micro-batches; late rows never resurrect a window") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{HeavyOut, TimedText}
    val width = 4
    // tokens of the [10:00, 10:10) window, split across three batches
    val d1 = "a a a a a a b b b c"
    val d2 = "a a d d e f g"
    val d3 = "b b h i j a"
    val exact = s"$d1 $d2 $d3".split(" ").groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val n = exact.values.sum // 23
    val in = MemoryStream[TimedText]
    val q = EventTime.heavyHittersWithState(in.toDS(),
        windowMs = 10 * 60 * 1000, watermark = "5 minutes", width = width)
      .writeStream.format("memory").queryName("heavystream").outputMode("append").start()
    in.addData(TimedText(1L, ts(1), d1), TimedText(2L, ts(3), d2))
    q.processAllAvailable()
    in.addData(TimedText(3L, ts(5), d3))
    q.processAllAvailable()
    assert(spark.table("heavystream").isEmpty, "window must not emit before the watermark closes it")
    in.addData(TimedText(4L, ts(21), "zz")) // watermark → 10:16 > window end
    q.processAllAvailable()
    val rows = spark.table("heavystream").as[HeavyOut].collect()
    assert(rows.nonEmpty, "closed window must emit its summary")
    assert(rows.forall(_.w_start_ms == ts(0).getTime), s"wrong window: ${rows.toSeq}")
    assert(rows.length <= width, "summary is width-bounded")
    assert(rows.forall(_.n_tokens == n), s"exact token count wrong: ${rows.toSeq}")
    // MG guarantee: every term above n/(width+1) is present (a=9, b=5 > 4.6)
    val terms = rows.map(_.term).toSet
    assert(terms.contains("a") && terms.contains("b"), s"heavy terms missing: $terms")
    // per-candidate bound vs the exact recount: cnt_lb <= true <= cnt_lb + err_ub
    rows.foreach { r =>
      val t = exact(r.term)
      assert(r.cnt_lb <= t && t <= r.cnt_lb + r.err_ub,
        s"bound violated for ${r.term}: lb=${r.cnt_lb} err=${r.err_ub} true=$t")
      assert(r.err_ub <= n / (width + 1), s"err_ub exceeds n/(width+1): $r")
    }
    // late data: a row behind the watermark must not resurrect the window
    in.addData(TimedText(5L, ts(2), "a a a"))
    q.processAllAvailable()
    in.addData(TimedText(6L, ts(22), "zz"))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("heavystream").as[HeavyOut].collect()
    assert(after.length == rows.length, s"late row resurrected the closed window: ${after.toSeq}")
  }

  test("stream-static enrichment join matches the batch run on identical data") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic"), (3L, "gold"))
      .toDF("user_id", "segment")
    val data = Seq(
      TimedEvent(1, ts(0), 1.0), TimedEvent(1, ts(2), 2.0),
      TimedEvent(2, ts(1), 4.0), TimedEvent(3, ts(3), 8.0),
      TimedEvent(9, ts(4), 99.0), // no dim row → inner join drops it
      TimedEvent(2, ts(8), 16.0)) // next 5-minute window
    val in = MemoryStream[TimedEvent]
    val q = EventTime.enrichedWindowCounts(in.toDF(), dim, "ts", "user_id",
        "segment", "5 minutes", "5 minutes")
      .writeStream.format("memory").queryName("enriched").outputMode("complete").start()
    in.addData(data.take(3): _*) // split across micro-batches: the static
    q.processAllAvailable()      // side re-joins identically per batch
    in.addData(data.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("enriched")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))).toMap
    // batch equivalent over the same rows: same join, same window
    val batch = EventTime.enrichedWindowCounts(data.toDF(), dim, "ts", "user_id",
        "segment", "5 minutes", "5 minutes")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed(("2026-01-01 10:00:00.0", "gold")) == ((3L, 11.0)))
    assert(!streamed.keys.exists(_._2 == null), "unmatched key leaked through inner join")
  }

  test("streaming anomaly detector flags the same rows as the batch operator, across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the batch spec's planted shape: 30 stable alternating readings,
    // then a spike; plus a constant-value user that must stay silent
    val data =
      (1 to 30).map(i => graft.streaming.IdEvent(i.toLong, 1L, ts(0, i),
        if (i % 2 == 0) 10.2 else 10.0)) ++
      Seq(graft.streaming.IdEvent(31L, 1L, ts(1, 0), 50.0)) ++
      (1 to 25).map(i => graft.streaming.IdEvent(100L + i, 2L, ts(10, i - 1), 7.0))
    val in = MemoryStream[graft.streaming.IdEvent]
    val q = EventTime.anomalyWithState(in.toDS(), window = 20, minN = 10,
        zThresh = 3.0)
      .writeStream.format("memory").queryName("anomstream").outputMode("append").start()
    // split mid-ring: rows 1-15 arrive in batch 1, the rest (including
    // the spike) in batch 2 — the ring must carry across the trigger
    in.addData(data.take(15): _*)
    q.processAllAvailable()
    in.addData(data.drop(15): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("anomstream").as[graft.streaming.AnomalyOut]
      .collect().map(a => (a.event_id, a.user_id, a.value_milli, a.win_n, a.z)).toSet
    // batch run over the identical rows
    val batch = ops.Advanced.anomaly(
        data.map(e => (e.event_id, e.user_id, e.ts, e.value))
          .toDF("event_id", "user_id", "ts", "value"),
        "event_id", "user_id", "ts", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("value_milli"), r.getAs[Long]("win_n"),
        r.getAs[Double]("z"))).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.map(_._1) == Set(31L), s"expected exactly the spike: $streamed")
  }

  test("rolling distinct users: chained dedup+window states, late drop, batch parity") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def dts(day: Int) = new Timestamp(day.toLong * 86400000L)
    val in = MemoryStream[TimedEvent]
    val q = EventTime.rollingDistinctUsers(in.toDF(), "ts", "user_id",
        "7 days", "1 day", "1 day")
      .writeStream.format("memory").queryName("rolling_users")
      .outputMode("append").start()
    // u1 active days 0, 1 (twice — dedup state must collapse), 8; u2 day 1
    val onTime = Seq(TimedEvent(1, dts(0), 1.0), TimedEvent(1, dts(1), 1.0),
      TimedEvent(1, dts(1), 2.0), TimedEvent(2, dts(1), 1.0),
      TimedEvent(1, dts(8), 1.0))
    in.addData(onTime: _*)
    q.processAllAvailable()
    in.addData(TimedEvent(9, dts(40), 0.0)) // flush: closes every planted window
    q.processAllAvailable()
    in.addData(TimedEvent(3, dts(0), 1.0)) // late: behind the day-39 watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rolling_users")
      .select(to_date(col("w_end") - expr("INTERVAL 1 DAY")).as("day"),
        col("active_users"))
      .collect().map(r => r.getDate(0).toLocalDate.toEpochDay -> r.getLong(1)).toMap
    // trailing-7 ends: day 0 → {u1}; 1..7 → {u1,u2}; 8..14 → {u1} (the
    // flush user's windows are still open and must NOT appear; the late
    // user-3 row must not have reopened day 0)
    val want = (Map(0L -> 1L) ++ (1L to 7L).map(_ -> 2L) ++
      (8L to 14L).map(_ -> 1L)).toMap
    assert(got == want, s"stream windows wrong: $got")
    // batch parity: the batch operator caps at the max active day — the
    // stream, filtered to those ends, must agree exactly
    val batch = ops.Advanced.rollingDistinct(onTime.toDF(), "user_id", "ts", 7)
      .collect().map(r => r.getDate(0).toLocalDate.toEpochDay -> r.getLong(1)).toMap
    assert(got.view.filterKeys(_ <= 8L).toMap == batch,
      s"stream $got vs batch $batch")
  }

  test("streaming mix drift: bit-parity with batch JSD across micro-batches; cap and late rows pinned") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{DriftOut, TimedCat}
    // reference mix: the "historical corpus" — en-heavy
    val ref = Map("en" -> 80L, "de" -> 15L, "zh" -> 5L)
    // window [10:00,10:10): drifted mix incl. a category ref lacks,
    // split across batches to prove merge correctness
    val w1 = Seq("en", "en", "de", "zh", "xx")
    val w2 = Seq("de", "de", "zh", "xx", "en")
    val in = MemoryStream[TimedCat]
    val q = EventTime.mixDriftWithState(in.toDS(),
        windowMs = 10 * 60 * 1000, watermark = "5 minutes", refMix = ref)
      .writeStream.format("memory").queryName("driftstream")
      .outputMode("append").start()
    // identical-mix control window [10:10,10:20): exactly the ref mix
    val w3 = Seq.fill(16)("en") ++ Seq.fill(3)("de") ++ Seq.fill(1)("zh")
    in.addData(w1.map(c => TimedCat(ts(1), c)): _*)
    q.processAllAvailable()
    in.addData(w2.map(c => TimedCat(ts(4), c)) ++
      w3.map(c => TimedCat(ts(15), c)): _*)
    q.processAllAvailable()
    assert(spark.table("driftstream").isEmpty,
      "window must not emit before the watermark closes it")
    in.addData(TimedCat(ts(31), "en")) // watermark → 10:26 > both ends
    q.processAllAvailable()
    val all = spark.table("driftstream").as[DriftOut].collect()
    val zero = all.filter(_.w_start_ms == ts(10).getTime)
    assert(zero.length == 1 && zero(0).jsd_micro == 0L,
      s"identical mix must score 0: ${zero.toSeq}")
    val rows = all.filter(_.w_start_ms == ts(0).getTime)
    assert(rows.length == 1 && rows(0).w_start_ms == ts(0).getTime)
    assert(rows(0).n_docs == 10L && rows(0).n_cats == 4L &&
      rows(0).n_other == 0L)
    // bit-parity: batch jsDivergence on the window slice with the
    // reference appended as its own source recovers the same micro
    // value. Build a two-source frame whose corpus-mix side IS the
    // reference: src "w" = the window, src "r" = ref counts, then
    // corpus = w + r… instead, drive the batch term directly:
    val refTotal = ref.values.sum.toDouble
    val winCounts = (w1 ++ w2).groupBy(identity).map { case (c, xs) => c -> xs.length.toLong }
    def halfAway(x: Double): Long =
      (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
    val wantMicro = (ref.keySet ++ winCounts.keySet).toSeq.sorted.map { c =>
      val p = winCounts.getOrElse(c, 0L).toDouble / 10.0
      val qq = ref.getOrElse(c, 0L).toDouble / refTotal
      val m = (p + qq) / 2
      halfAway(((if (p > 0) p * math.log(p / m) else 0.0) +
        (if (qq > 0) qq * math.log(qq / m) else 0.0)) / 2 * 1e6)
    }.sum
    assert(rows(0).jsd_micro == wantMicro,
      s"stream ${rows(0).jsd_micro} vs model $wantMicro")
    // late data must not resurrect the emitted window
    in.addData(TimedCat(ts(2), "zz"))
    q.processAllAvailable()
    in.addData(TimedCat(ts(42), "en"))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("driftstream").as[DriftOut].collect()
      .count(_.w_start_ms == ts(0).getTime)
    assert(after == 1, "late row resurrected the closed window")
    // state cap: 3rd distinct category folds into __other at maxCats=2
    val in2 = MemoryStream[TimedCat]
    val q2 = EventTime.mixDriftWithState(in2.toDS(),
        windowMs = 10 * 60 * 1000, watermark = "5 minutes",
        refMix = ref, maxCats = 2)
      .writeStream.format("memory").queryName("driftcap")
      .outputMode("append").start()
    in2.addData(TimedCat(ts(1), "en"), TimedCat(ts(1), "de"),
      TimedCat(ts(2), "zh"), TimedCat(ts(2), "xx"))
    q2.processAllAvailable()
    in2.addData(TimedCat(ts(21), "en"))
    q2.processAllAvailable()
    q2.stop()
    val capped = spark.table("driftcap").as[DriftOut].collect()
      .filter(_.w_start_ms == ts(0).getTime)
    assert(capped.length == 1 && capped(0).n_other == 2L,
      s"overflow mass invisible: ${capped.toSeq}")
  }

  test("streaming KS drift: bit-parity with batch sourceDrift across micro-batches; late rows drop") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{KsOut, TimedMeasure}
    // window [10:00,10:10): two sources with visibly different length
    // mixes, split across micro-batches to prove the census merges
    val b1 = Seq(("web", 10L), ("web", 200L), ("book", 950L), ("web", 40L))
    val b2 = Seq(("book", 800L), ("book", 1000L), ("web", 30L), ("web", 60L))
    val sliceDf = (b1 ++ b2).toDF("source", "len")
    // reference derived FROM the slice: the streaming scorer against it
    // must then equal batch sourceDrift on the slice (whose global side
    // is that same frame) — the strongest cross-form law available
    val (grid, refCdf) = ops.Mixing.ksReference(sliceDf, "len")
    val in = MemoryStream[TimedMeasure]
    val q = EventTime.ksDriftWithState(in.toDS(), windowMs = 10 * 60 * 1000,
        watermark = "5 minutes", grid = grid, refCdf = refCdf)
      .writeStream.format("memory").queryName("ksdrift")
      .outputMode("append").start()
    in.addData(b1.map { case (s, l) => TimedMeasure(ts(1), s, l) }: _*)
    q.processAllAvailable()
    in.addData(b2.map { case (s, l) => TimedMeasure(ts(4), s, l) }: _*)
    q.processAllAvailable()
    assert(spark.table("ksdrift").isEmpty,
      "window must not emit before the watermark closes it")
    in.addData(TimedMeasure(ts(21), "web", 50L)) // watermark → 10:16
    q.processAllAvailable()
    val got = spark.table("ksdrift").as[KsOut].collect()
      .filter(_.w_start_ms == ts(0).getTime)
      .map(o => o.source -> ((o.n_docs, o.ks_stat, o.ks_bin))).toMap
    val batch = ops.Mixing.sourceDrift(sliceDf, "source", "len").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getInt(3))))
      .toMap
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got("web")._2 > 0.0, "planted drift must score nonzero")
    // late row behind the watermark must not resurrect the closed window
    in.addData(TimedMeasure(ts(2), "web", 999L))
    q.processAllAvailable()
    in.addData(TimedMeasure(ts(31), "web", 50L))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("ksdrift").as[KsOut].collect()
      .count(_.w_start_ms == ts(0).getTime)
    assert(after == 2, "late row resurrected the closed window")
  }

  test("streaming page-hinkley: bit parity with the batch fold across micro-batches; late drop") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{PhOut, TimedAmount}
    def dts(day: Int, hour: Int = 12) =
      new Timestamp(day.toLong * 86400000L + hour.toLong * 3600000L)
    val in = MemoryStream[TimedAmount]
    val q = EventTime.pageHinkleyWithState(in.toDS(), "1 day")
      .writeStream.format("memory").queryName("ph_stream")
      .outputMode("append").start()
    // the batch spec's step series, with day 0 split into two rows
    // (intra-day summation) and the arrival order scrambled inside
    // each micro-batch (the fold must order by DAY, not arrival)
    val batch1 = Seq(TimedAmount("s", dts(2), 100.0),
      TimedAmount("s", dts(0, 8), 60.0), TimedAmount("s", dts(1), 100.0),
      TimedAmount("s", dts(0, 18), 40.0), TimedAmount("s", dts(3), 100.0))
    val batch2 = Seq(TimedAmount("s", dts(6), 200.0),
      TimedAmount("s", dts(4), 200.0), TimedAmount("s", dts(5), 200.0))
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable()
    in.addData(TimedAmount("s", dts(40), 1.0)) // flush: closes days 0..6
    q.processAllAvailable()
    in.addData(TimedAmount("s", dts(0), 999.0)) // late: behind the watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ph_stream").as[PhOut].collect()
      .filter(_.day_ms <= 6L * 86400000L)
      .sortBy(_.day_ms)
      .map(p => (p.day_ms / 86400000L, p.revenue_cents, p.u_cents,
        p.ph_cents, p.alarm)).toSeq
    // batch twin on the SAME closed slice
    val slice = (batch1 ++ batch2).map(t => (new java.sql.Date(t.ts.getTime), t.amount))
      .toDF("d", "p").select(col("d").cast("date").as("d"), col("p"))
    val want = graft.ops.Sequence.pageHinkley(slice, "d", "p").collect()
      .map(r => (r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay,
        r.getAs[Long]("revenue_cents"), r.getAs[Long]("u_cents"),
        r.getAs[Long]("ph_cents"), r.getAs[Boolean]("alarm"))).toSeq
    assert(got == want, s"stream $got\nvs batch $want")
    assert(got.last._5, "the day-6 alarm from the hand trace must fire")
    assert(got.map(_._2).take(2) == Seq(10000L, 10000L),
      "intra-day rows must sum into one closed day")
    // the late day-0 row produced no extra output row
    assert(spark.table("ph_stream").as[PhOut].collect()
      .count(_.day_ms == 0L) == 1, "late row reopened a closed day")
  }

  test("streaming sprt: bit parity with the batch per-day path; crossing day verdict") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{SprtOut, TimedFlag}
    import graft.ops.Diagnostics.{SprtBoundMicro, SprtHitMicro, SprtMissMicro}
    def dts(day: Int, hour: Int) =
      new Timestamp(day.toLong * 86400000L + hour.toLong * 3600000L)
    val in = MemoryStream[TimedFlag]
    val q = EventTime.sprtWithState(in.toDS(), "1 day",
        SprtHitMicro, SprtMissMicro, SprtBoundMicro)
      .writeStream.format("memory").queryName("sprt_stream")
      .outputMode("append").start()
    // 12 trials/day at a 50% hit rate pushes toward H1
    // (ln(19)/(6·hit + 6·miss) ≈ 2.2 days); scramble arrival order
    val trials = for {
      day <- 0 to 3; i <- 0 until 12
    } yield TimedFlag("s", dts(day, 2 + i), i % 2 == 0)
    // scramble WITHIN micro-batches only: with a 1-day watermark,
    // scrambling ACROSS batches would make early-day rows genuinely
    // late (dropped — correct behavior, wrong fixture)
    val rnd = new scala.util.Random(7)
    val b1 = rnd.shuffle(trials.filter(_.ts.getTime < 2L * 86400000L).toList)
    val b2 = rnd.shuffle(trials.filter(_.ts.getTime >= 2L * 86400000L).toList)
    in.addData(b1: _*)
    q.processAllAvailable()
    in.addData(b2: _*)
    q.processAllAvailable()
    in.addData(TimedFlag("s", dts(40, 0), hit = false)) // flush
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sprt_stream").as[SprtOut].collect()
      .filter(_.day_ms <= 3L * 86400000L).sortBy(_.day_ms)
      .map(o => (o.day_ms / 86400000L, o.n, o.x, o.llr_step_micro,
        o.llr_cum_micro, o.state)).toSeq
    // batch twin on the same closed slice (its per-day columns)
    val slice = trials.map(t => (new java.sql.Date(t.ts.getTime), t.hit))
      .toDF("day", "hit")
    val want = graft.ops.Diagnostics.sprt(slice, "day", "hit").collect()
      .map(r => (r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay,
        r.getAs[Long]("n"), r.getAs[Long]("x"),
        r.getAs[Long]("llr_step_micro"), r.getAs[Long]("llr_cum_micro"),
        r.getAs[String]("state"))).toSeq
    assert(got == want, s"stream $got\nvs batch $want")
    // the 50%-hit path crosses the H1 boundary and STAYS decided
    assert(got.exists(_._6 == "accept_h1"), "H1 crossing never emitted")
    val firstCross = got.indexWhere(_._6 == "accept_h1")
    assert(got.drop(firstCross).forall(_._6 == "accept_h1"),
      "verdict regressed after the crossing on a rising path")
  }

  test("sequential monitors require a UTC session timezone, loudly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[graft.streaming.TimedAmount]
    val flags = MemoryStream[graft.streaming.TimedFlag]
    val orig = spark.conf.get("spark.sql.session.timeZone")
    try {
      // a non-UTC session would bucket midnight-adjacent events into a
      // different day than the batch twin's to_date — refuse, don't drift
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException] {
        EventTime.pageHinkleyWithState(in.toDS(), "1 day")
      }
      assert(e.getMessage.contains("UTC"), e.getMessage)
      intercept[IllegalArgumentException] {
        EventTime.sprtWithState(flags.toDS(), "1 day", 1L, -1L, 10L)
      }
      intercept[IllegalArgumentException] {
        EventTime.cusumWithState(in.toDS(), "1 day")
      }
      intercept[IllegalArgumentException] {
        EventTime.burstWithState(
          MemoryStream[graft.streaming.TimedMark].toDS(), "1 day")
      }
      // any zone that NORMALIZES to UTC passes (Etc/UTC, GMT, +00:00)
      spark.conf.set("spark.sql.session.timeZone", "Etc/UTC")
      EventTime.pageHinkleyWithState(in.toDS(), "1 day")
      spark.conf.set("spark.sql.session.timeZone", "+00:00")
      EventTime.sprtWithState(flags.toDS(), "1 day", 1L, -1L, 10L)
    } finally spark.conf.set("spark.sql.session.timeZone", orig)
  }

  test("streaming cusum: every closed-day re-estimate matches the batch estimator on that prefix; late drop") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{CusumOut, TimedAmount}
    def dts(day: Int, hour: Int = 12) =
      new Timestamp(day.toLong * 86400000L + hour.toLong * 3600000L)
    val in = MemoryStream[TimedAmount]
    val q = EventTime.cusumWithState(in.toDS(), "1 day")
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode("append").start()
    // level shift at day 4 (10 → 50); day 0 split intra-day (4 + 6);
    // arrival order scrambled inside each micro-batch
    val rows = Seq(
      TimedAmount("s", dts(2), 10.0), TimedAmount("s", dts(0, 8), 4.0),
      TimedAmount("s", dts(1), 10.0), TimedAmount("s", dts(0, 18), 6.0),
      TimedAmount("s", dts(3), 10.0),
      TimedAmount("s", dts(5), 50.0), TimedAmount("s", dts(4), 50.0),
      TimedAmount("s", dts(7), 50.0), TimedAmount("s", dts(6), 50.0))
    in.addData(rows.take(5): _*)
    q.processAllAvailable()
    in.addData(rows.drop(5): _*)
    q.processAllAvailable()
    in.addData(TimedAmount("s", dts(40), 1.0)) // flush: closes days 0..7
    q.processAllAvailable()
    in.addData(TimedAmount("s", dts(0), 999.0)) // late: behind the watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cusum_stream").as[CusumOut].collect()
      .filter(_.day_ms <= 7L * 86400000L).sortBy(_.day_ms)
    assert(got.map(_.day_ms / 86400000L).toSeq == (0L to 7L))
    // every closed-day row IS the batch estimator on the stream's
    // slice up to that day — change point, statistic, mean, count
    got.foreach { o =>
      val d = o.day_ms / 86400000L
      val slice = rows.filter(_.ts.getTime / 86400000L <= d)
        .map(t => ("s", t.ts, t.amount)).toDF("event_type", "ts", "value")
      val w = graft.ops.Advanced.cusum(slice, "event_type", "ts", "value")
        .collect().head
      assert(o.change_day_ms / 86400000L ==
        w.getAs[java.sql.Date]("change_day").toLocalDate.toEpochDay,
        s"day $d: change_day diverged from the prefix-batch estimator")
      assert(o.cusum_milli == w.getAs[Long]("cusum_milli"), s"day $d cusum")
      assert(o.mean_milli == w.getAs[Long]("mean_milli"), s"day $d mean")
      assert(o.n_days == w.getAs[Long]("n_days"), s"day $d n_days")
    }
    // the final estimate localizes the planted shift boundary
    assert(got.last.change_day_ms / 86400000L == 3L,
      s"planted shift at day 4 should argmax the last pre-shift day, " +
        s"got ${got.last.change_day_ms / 86400000L}")
    assert(spark.table("cusum_stream").as[CusumOut].collect()
      .count(_.day_ms == 0L) == 1, "late row reopened a closed day")
  }

  test("streaming burst monitor: every closed-day episode report matches the batch detector on that prefix") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{BurstOut, TimedMark}
    def marks(day: Int, n: Int) = (1 to n).map(i =>
      TimedMark("t", new Timestamp(day.toLong * 86400000L + i * 1000L)))
    // the batch fixture's shape: bursts at days 1,2 (chained) and 5
    // (gap-broken), quiet tail — and the day-3 arrival RETROACTIVELY
    // matters: early prefixes flag different days than the final mean
    val byDay = Seq(1 -> 10, 2 -> 10, 3 -> 1, 5 -> 10) ++
      (6 to 10).map(_ -> 1)
    val rows = byDay.flatMap { case (d, n) => marks(d, n) }
    val in = MemoryStream[TimedMark]
    val q = EventTime.burstWithState(in.toDS(), "1 day")
      .writeStream.format("memory").queryName("burst_stream")
      .outputMode("append").start()
    in.addData(rows.take(12): _*)
    q.processAllAvailable()
    in.addData(rows.drop(12): _*)
    q.processAllAvailable()
    in.addData(TimedMark("t",
      new Timestamp(40L * 86400000L))) // flush: closes days 1..10
    q.processAllAvailable()
    q.stop()
    val got = spark.table("burst_stream").as[BurstOut].collect()
      .filter(_.day_ms <= 10L * 86400000L).sortBy(_.day_ms)
    assert(got.map(_.day_ms / 86400000L).toSeq ==
      byDay.map(_._1.toLong).sorted)
    got.foreach { o =>
      val d = (o.day_ms / 86400000L).toInt
      val slice = byDay.filter(_._1 <= d).flatMap { case (dd, n) =>
        (1 to n).map(i =>
          ("t", new Timestamp(dd.toLong * 86400000L + i * 1000L)))
      }.toDF("g", "ts")
      val w = graft.ops.Sequence.burstEpisodes(slice, "g", "ts")
        .collect().head
      val want = (w.getLong(1), w.getLong(2), w.getLong(3), w.getLong(4),
        w.getAs[java.sql.Date](5).toLocalDate.toEpochDay, w.getLong(6))
      val have = (o.n_days, o.n_burst_days, o.n_episodes,
        o.longest_episode_days, o.peak_day_ms / 86400000L, o.peak_count)
      assert(have == want, s"day $d: stream $have vs batch $want")
    }
    // the final report IS the batch fixture's answer
    val last = got.last
    assert((last.n_burst_days, last.n_episodes, last.longest_episode_days,
      last.peak_day_ms / 86400000L, last.peak_count) ==
      ((3L, 2L, 2L, 1L, 10L)))
  }

  test("streaming page-hinkley: idle-retention eviction restarts the recurrence") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{PhOut, TimedAmount}
    def dts(day: Int) = new Timestamp(day.toLong * 86400000L + 12L * 3600000L)
    val in = MemoryStream[TimedAmount]
    val q = EventTime.pageHinkleyWithState(in.toDS(), "1 day",
        idleRetentionMs = Some(5L * 86400000L))
      .writeStream.format("memory").queryName("ph_evict")
      .outputMode("append").start()
    // series a runs days 0-1, then goes quiet; series b's traffic keeps
    // the watermark moving so a's retention timeout can fire
    in.addData(TimedAmount("a", dts(0), 100.0), TimedAmount("a", dts(1), 100.0),
      TimedAmount("b", dts(0), 1.0))
    q.processAllAvailable()
    in.addData(TimedAmount("b", dts(20), 1.0)) // closes a's days, arms retention
    q.processAllAvailable()
    in.addData(TimedAmount("b", dts(40), 1.0)) // wm passes wm+5d → a evicted
    q.processAllAvailable()
    in.addData(TimedAmount("a", dts(45), 70.0))
    q.processAllAvailable()
    in.addData(TimedAmount("b", dts(80), 1.0)) // closes a's day 45
    q.processAllAvailable()
    q.stop()
    val a = spark.table("ph_evict").as[PhOut].collect()
      .filter(_.series == "a").sortBy(_.day_ms)
    assert(a.map(_.day_ms / 86400000L).toSeq == Seq(0L, 1L, 45L))
    // an un-evicted series would fold day 45 as t=3 with
    // u = 7000 − 27000/3 = −2000; the restart's t=1 branch pins u=0
    assert(a.last.u_cents == 0L,
      s"evicted series must restart its recurrence, got u=${a.last.u_cents}")
    assert(a(1).u_cents == 0L && a(1).revenue_cents == 10000L)
  }

  test("streaming sprt, cusum and burst: idle-retention eviction restarts each monitor") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{TimedAmount, TimedFlag, TimedMark}
    def dts(day: Int) = new Timestamp(day.toLong * 86400000L + 12L * 3600000L)
    val keep = Some(5L * 86400000L)
    // the page-hinkley retention script: series a runs days 0-1, then
    // goes quiet; b's traffic moves the watermark past a's retention
    // timeout; a resumes on day 45, which b's day 80 closes
    val script = Seq(Seq("a" -> 0, "a" -> 1, "b" -> 0), Seq("b" -> 20),
      Seq("b" -> 40), Seq("a" -> 45), Seq("b" -> 80))
    def run[T: Encoder, O: Encoder](name: String, row: (String, Int) => T)(
        op: Dataset[T] => Dataset[O]): Seq[O] = {
      val in = MemoryStream[T]
      val q = op(in.toDS()).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try script.foreach { step =>
        in.addData(step.map(row.tupled))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).as[O].collect().toSeq
    }
    val sprt = run("sprt_evict", (s, d) => TimedFlag(s, dts(d), hit = d < 45))(
      EventTime.sprtWithState(_, "1 day", 1000L, -1000L, 1000000L, keep))
      .filter(_.series == "a").sortBy(_.day_ms)
    val cusum = run("cusum_evict", (s, d) => TimedAmount(s, dts(d), 10.0))(
      EventTime.cusumWithState(_, "1 day", keep))
      .filter(_.series == "a").sortBy(_.day_ms)
    val burst = run("burst_evict", (s, d) => TimedMark(s, dts(d)))(
      EventTime.burstWithState(_, "1 day", keep))
      .filter(_.series == "a").sortBy(_.day_ms)
    // an un-evicted series would carry days 0-1 into its day-45 row:
    // sprt cum 2000 − 1000 instead of the step alone, n_days 3 not 1
    val rows = Map(
      "sprt" -> (sprt.map(_.day_ms / 86400000L),
        sprt.lastOption.exists(o => o.llr_cum_micro == o.llr_step_micro)),
      "cusum" -> (cusum.map(_.day_ms / 86400000L),
        cusum.lastOption.exists(_.n_days == 1L)),
      "burst" -> (burst.map(_.day_ms / 86400000L),
        burst.lastOption.exists(_.n_days == 1L)))
    val kept = rows.filter { case (_, (days, restarted)) =>
      days != Seq(0L, 1L, 45L) || !restarted
    }
    assert(kept.isEmpty, s"evicted series must restart: $kept\n" +
      s"sprt $sprt\ncusum $cusum\nburst $burst")
  }
}
