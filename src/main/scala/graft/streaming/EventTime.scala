package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A keyed, timestamped event — the typed row for stateful operators. */
case class TimedEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** A timestamped document — the typed row for streaming text ops. */
case class TimedText(doc_id: Long, ts: java.sql.Timestamp, text: String)

/** An emitted session from the custom stateful sessionizer. */
case class SessionOut(user_id: Long, n_events: Long, sum_value: Double,
                      start_ms: Long, end_ms: Long)

/** A keyed, identified, timestamped event for [[EventTime.anomalyWithState]]. */
case class IdEvent(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
                   value: Double)

/** An anomaly flagged by the streaming detector — same fields as the
  * batch [[graft.ops.Advanced.anomaly]] output row.
  */
case class AnomalyOut(event_id: Long, user_id: Long, value_milli: Long,
                      win_n: Long, z: Double)

/** Per-user ring of the last ≤ window milli-quantized values. */
case class AnomalyState(ring: Seq[Long])

/** Mutable-per-key state for [[EventTime.sessionizeWithState]]. */
case class SessionState(n: Long, sum: Double, startMs: Long, lastMs: Long)

/** One (window, token) occurrence for [[EventTime.heavyHittersWithState]];
  * `pos` is the token's position within its document so per-invocation
  * processing order is deterministic.
  */
case class TimedTerm(ts: java.sql.Timestamp, w_start_ms: Long, pos: Int,
                     term: String)

/** Per-window Misra–Gries state: tracked counters (≤ width), the
  * number of decrement-all steps taken (`dec` — the sketch's error
  * bound), and the exact token count `n`.
  */
case class HHState(counts: Map[String, Long], dec: Long, n: Long)

/** A heavy-hitter candidate emitted when the watermark closes its
  * window: `cnt_lb ≤ true count ≤ cnt_lb + err_ub`, and any term with
  * true count &gt; n_tokens/(width+1) is guaranteed present.
  */
case class HeavyOut(w_start_ms: Long, term: String, cnt_lb: Long,
                    err_ub: Long, n_tokens: Long)

/** One timed categorical observation for
  * [[EventTime.mixDriftWithState]] (a document's source/language tag
  * on an ingest stream).
  */
case class TimedCat(ts: java.sql.Timestamp, cat: String)

/** [[TimedCat]] with its tumbling window pre-resolved. */
case class WindowedCat(ts: java.sql.Timestamp, w_start_ms: Long,
                       cat: String)

/** Per-window category census for [[EventTime.mixDriftWithState]];
  * bounded by `maxCats` (+1 for the `__other` overflow bucket).
  */
case class DriftState(counts: Map[String, Long], n: Long)

/** Closed-window drift verdict: the window's Jensen–Shannon
  * divergence (micro-nats) from the reference mix, with the overflow
  * mass `n_other` alongside so a capped census is never mistaken for
  * a faithful one.
  */
case class DriftOut(w_start_ms: Long, n_docs: Long, n_cats: Long,
                    n_other: Long, jsd_micro: Long)

/** One timed measured observation for [[EventTime.ksDriftWithState]]
  * (a document's source tag and length measure on an ingest stream).
  */
case class TimedMeasure(ts: java.sql.Timestamp, source: String, len: Long)

/** [[TimedMeasure]] with its tumbling window pre-resolved. */
case class WindowedMeasure(ts: java.sql.Timestamp, w_start_ms: Long,
                           source: String, len: Long)

/** Per-(window, source) grid census for [[EventTime.ksDriftWithState]]:
  * `cum(i)` counts observations with `len ≤ grid(i)`, `n` the total —
  * fixed |grid|+1 longs per open key regardless of window volume.
  */
case class KsState(cum: Array[Long], n: Long)

/** Closed-window KS verdict against the reference ECDF — the
  * [[graft.ops.Mixing.sourceDrift]] row shape keyed by window start.
  */
case class KsOut(w_start_ms: Long, source: String, n_docs: Long,
                 ks_stat: Double, ks_bin: Int)

/** One timed monetary observation for
  * [[EventTime.pageHinkleyWithState]] — `series` keys independent
  * monitors (parallelism at scale = |series|).
  */
case class TimedAmount(series: String, ts: java.sql.Timestamp,
                       amount: Double)

/** [[TimedAmount]] with its day window pre-resolved and the amount
  * cent-quantized; `ts` rides along to carry the watermark into the
  * stateful operator.
  */
case class DayAmount(series: String, ts: java.sql.Timestamp,
                     day_ms: Long, cents: Long)

/** Per-series Page–Hinkley state: the bounded OPEN-day buffer (days
  * the watermark has not yet closed) plus the O(1) permanent
  * accumulator (t, Σx, U, min U) — the monitor's memory never grows
  * with stream length.
  */
case class PhState(days: Map[Long, Long], t: Long, sx: Long, u: Long,
                   um: Long)

/** One closed day's Page–Hinkley row — the batch
  * [[graft.ops.Sequence.pageHinkley]] row shape keyed by series.
  */
case class PhOut(series: String, day_ms: Long, revenue_cents: Long,
                 u_cents: Long, ph_cents: Long, alarm: Boolean)

/** Per-series offline-CUSUM state: the bounded OPEN-day buffer
  * (day → (Σmilli, n)) plus the closed-trajectory prefix sums — one
  * (day, S_j, N_j) triple per CLOSED day, the minimal sufficient
  * statistic for re-centering every prefix deviation when the running
  * mean moves (grows with closed days by the estimator's nature — see
  * [[EventTime.cusumWithState]]).
  */
case class CusumState(open: Map[Long, (Long, Long)],
                      pre: Vector[(Long, Long, Long)])

/** One closed day's change-point re-estimate: the batch
  * [[graft.ops.Advanced.cusum]] row for the slice up to `day_ms`,
  * keyed by series and stamped with the closing day.
  */
case class CusumOut(series: String, day_ms: Long, change_day_ms: Long,
                    cusum_milli: Long, mean_milli: Long, n_days: Long)

/** One timed occurrence (count events by day) for
  * [[EventTime.burstWithState]].
  */
case class TimedMark(series: String, ts: java.sql.Timestamp)

/** [[TimedMark]] with its day window pre-resolved; `ts` carries the
  * watermark into the stateful operator.
  */
case class DayMark(series: String, ts: java.sql.Timestamp, day_ms: Long)

/** Per-series burst-monitor state: the bounded OPEN-day count buffer
  * plus the closed (day, count) trajectory — every past day's burst
  * verdict moves when the running mean moves, so the full closed
  * trajectory is the minimal sufficient statistic (the
  * [[CusumState]] contract).
  */
case class BurstState(open: Map[Long, Long], days: Vector[(Long, Long)])

/** One closed day's re-estimate of the episode report: the batch
  * [[graft.ops.Sequence.burstEpisodes]] row for the slice up to
  * `day_ms`, keyed by series and stamped with the closing day.
  */
case class BurstOut(series: String, day_ms: Long, n_days: Long,
                    n_burst_days: Long, n_episodes: Long,
                    longest_episode_days: Long, peak_day_ms: Long,
                    peak_count: Long)

/** One timed boolean trial for [[EventTime.sprtWithState]]. */
case class TimedFlag(series: String, ts: java.sql.Timestamp, hit: Boolean)

/** [[TimedFlag]] with its day window pre-resolved; `ts` carries the
  * watermark into the stateful operator.
  */
case class DayFlag(series: String, ts: java.sql.Timestamp, day_ms: Long,
                   hit: Boolean)

/** Per-series SPRT state: open-day (trials, hits) buffer plus the
  * permanent cumulative micro-nat log-likelihood ratio.
  */
case class SprtState(days: Map[Long, (Long, Long)], cum: Long)

/** One closed day's SPRT row — the batch [[graft.ops.Diagnostics.sprt]]
  * per-day columns keyed by series (the batch op's retrospective
  * `decision_day`/`decision` columns need the whole series and have no
  * streaming meaning: the FIRST non-continue `state` IS the decision,
  * available the moment it exists).
  */
case class SprtOut(series: String, day_ms: Long, n: Long, x: Long,
                   llr_step_micro: Long, llr_cum_micro: Long,
                   state: String)

/** Event-time streaming operators: watermarked tumbling/sliding/session
  * windows and a custom `flatMapGroupsWithState` sessionizer.
  *
  * The reference framework has no event-time notion (its loop is pure
  * processing-time polling, `batch_processor.go:104-136`); these are
  * the engine's native streaming capability over the `events`-shaped
  * schema. Everything is built on Structured Streaming state stores —
  * at scale, state is partitioned by key across executors, and the
  * watermark bounds state size (late rows beyond it are dropped, state
  * for closed windows is evicted).
  */
object EventTime {

  /** Tumbling event-time counts per key, watermarked. */
  def tumblingCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col(keyCol), col("n_events"), col("sum_value"))

  /** Sliding event-time counts per key, watermarked. */
  def slidingCounts(events: DataFrame, tsCol: String, keyCol: String,
                    windowLen: String, slide: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col(keyCol), col("n_events"))

  /** Sliding-window distinct active users — the streaming twin of the
    * batch [[graft.ops.Advanced.rollingDistinct]], spelled as CHAINED
    * STATEFUL operators (supported since Spark 3.5, append mode): a
    * streaming `dropDuplicates` on (user, window) feeds a windowed
    * count. The dedup state store is the streaming equivalent of the
    * batch construction's "each (user, end) emitted exactly once" —
    * downstream the count is a PLAIN count, never count-distinct,
    * which Structured Streaming could not express over sliding
    * windows at all. The watermark evicts BOTH states as windows
    * close; per-key state is partitioned across executors, so at
    * scale state size is bounded by |active users| × window/slide,
    * not by the stream. The same call works in batch (watermark and
    * dedup state degrade to a plain distinct), which the parity spec
    * pins against the batch operator.
    */
  def rollingDistinctUsers(events: DataFrame, tsCol: String, keyCol: String,
                           windowLen: String, slide: String,
                           watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).as("user_id"),
        window(col(tsCol), windowLen, slide).as("win"))
      .dropDuplicates("user_id", "win")
      .groupBy(col("win"))
      .agg(count(lit(1)).as("active_users"))
      .select(col("win.start").as("w_start"), col("win.end").as("w_end"),
        col("active_users"))

  /** Trending terms over a timestamped text stream: watermarked
    * tumbling-window (window, term) counts — the streaming half of the
    * corpus n-gram monitor ([[graft.ops.TextAnalysis.topNgrams]] is the
    * batch half). The token explosion is row-local; the ONLY stateful
    * operator is the windowed count, whose state the watermark evicts
    * as windows close. The per-window top-k CUT deliberately lives
    * downstream in [[topTermsPerWindow]] — a fold over the emitted
    * final rows — because ranking inside the stream would stack a
    * second stateful aggregate on the first, while the emitted
    * (window, term) frame is already final and vocabulary-bounded.
    * The same call works in batch (watermark is a no-op there), which
    * is what the parity spec pins.
    */
  def trendingTermCounts(docs: DataFrame, tsCol: String, textCol: String,
                         windowLen: String, watermark: String): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .select(window(col(tsCol), windowLen).as("win"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("win"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("win.start").as("w_start"), col("term"), col("cnt"))

  /** Batch-side top-k cut over emitted (w_start, term, cnt) rows,
    * through the bounded [[graft.functions.TopK]] term aggregate —
    * ≤ k rows per window per map task cross the shuffle; ties rank
    * lexicographically so the cut is deterministic.
    */
  def topTermsPerWindow(counts: DataFrame, k: Int): DataFrame =
    counts
      .groupBy(col("w_start"))
      .agg(graft.functions.TopK.topKTerms(k)(col("cnt").cast("double"),
        col("term")).as("top"))
      .select(col("w_start"), posexplode(col("top")))
      .select(col("w_start"), (col("pos") + 1).cast("int").as("rank"),
        col("col.term").as("term"), col("col.score").cast("long").as("cnt"))
      .orderBy(col("w_start"), col("rank"))

  /** Gap-based session windows via the built-in `session_window` —
    * Spark merges overlapping per-key sessions in the state store.
    */
  def sessionWindows(events: DataFrame, tsCol: String, keyCol: String,
                     gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col(keyCol), col("n_events"), col("sum_value"))

  /** Stream-static enrichment join: every micro-batch joins the stream
    * against a STATIC dimension — the lookup-table shape (user →
    * segment, id → tenant, …). Stream-static inner joins are
    * STATELESS: no state store, no watermark interaction on the join
    * itself (the watermark here only serves the downstream windowed
    * aggregation), and the static side is broadcast so enrichment adds
    * zero shuffles to the stream — exactly how a 1000-executor cluster
    * wants a dimension lookup to run.
    */
  def enrichedWindowCounts(events: DataFrame, dim: DataFrame, tsCol: String,
                           keyCol: String, segCol: String, windowLen: String,
                           watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .join(broadcast(dim), Seq(keyCol))
      .groupBy(window(col(tsCol), windowLen), col(segCol))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col(segCol),
        col("n_events"), col("sum_value"))

  /** Streaming twin of the batch anomaly detector
    * ([[graft.ops.Advanced.anomaly]]): one bounded ring of the last
    * `window` milli-quantized values per user, each arriving event
    * scored against the ring's EXACT integer moments (n, Σv, Σv² —
    * the batch op's cross-engine determinism discipline, reused here
    * so stream and batch flag IDENTICAL rows on identical in-order
    * data, which the parity spec pins). State is O(window) longs per
    * user — the watermark-less analogue of a 20-row frame, evicted
    * per-key by the state store at scale.
    *
    * Ordering contract, stated honestly: events are scored in
    * (ts, event_id) order WITHIN each micro-batch, and batches are
    * assumed in order across triggers (the batch window sorts
    * globally; a production stream with real out-of-orderness puts a
    * watermark-delay sorter upstream — re-sorting inside unbounded
    * state is not this operator's job).
    */
  def anomalyWithState(events: Dataset[IdEvent], window: Int, minN: Int,
                       zThresh: Double): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomalyState, AnomalyOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[IdEvent], state: GroupState[AnomalyState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var ring = state.getOption.map(_.ring.toVector).getOrElse(Vector.empty[Long])
          val out = Seq.newBuilder[AnomalyOut]
          // HALF_UP both places — the exact rule Spark's `round` applies
          // in the batch op, so stream and batch agree on boundaries
          def halfUp(x: Double, scale: Int): BigDecimal =
            BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
          sorted.foreach { e =>
            val v = halfUp(e.value * 1000, 0).toLong
            val n = ring.length.toLong
            if (n >= minN) {
              val s = ring.sum
              val ss = ring.iterator.map(x => x * x).sum
              val q = n * ss - s * s
              if (q > 0) {
                val z = (n * v - s).toDouble / math.sqrt(q.toDouble * n / (n - 1))
                if (math.abs(z) > zThresh)
                  out += AnomalyOut(e.event_id, userId, v, n,
                    halfUp(z, 4).toDouble)
              }
            }
            ring = (ring :+ v).takeRight(window)
          }
          state.update(AnomalyState(ring))
          out.result().iterator
      }
  }

  /** Start (epoch ms) of the fixed `windowMs` window holding the
    * timestamp column `ts` — pure long arithmetic, the unit the
    * event-time timeouts that close a window are registered in.
    */
  private def windowStartMs(ts: String, windowMs: Long): Column =
    (floor(unix_millis(col(ts)) / windowMs) * windowMs).cast("long")

  /** One call of a per-window sketch keyed by its window: once the
    * watermark has passed `windowEndMs` (the timeout this sets) the
    * final state is evicted and `emit`ted; until then the rows `fold`
    * into the state.
    */
  private def closeWindow[R, S, O](state: GroupState[S], rows: Iterator[R],
                                   windowEndMs: Long, empty: => S)(
      fold: (S, Iterator[R]) => S)(emit: S => Iterator[O]): Iterator[O] =
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      emit(s)
    } else {
      state.update(fold(state.getOption.getOrElse(empty), rows))
      state.setTimeoutTimestamp(windowEndMs)
      Iterator.empty
    }

  /** Streaming twin of the batch heavy-hitters miner
    * ([[graft.ops.TextAnalysis.heavyHitters]]): one bounded
    * Misra–Gries summary per event-time tumbling window, maintained in
    * `flatMapGroupsWithState` keyed by window start and emitted ONCE —
    * when the watermark passes the window's end (event-time timeout,
    * the sessionizer's eviction pattern). The batch op can afford a
    * second exact-recount pass over the full corpus; a stream cannot
    * re-read itself, so the streaming twin reports the sketch's own
    * honest contract instead: per candidate, `cnt_lb ≤ true ≤
    * cnt_lb + err_ub` (err_ub = number of decrement steps, at most
    * n/(width+1)), and EVERY term with true count &gt;
    * n_tokens/(width+1) is present — the same Misra–Gries guarantee
    * the batch op uses for pruning, with the exact window token count
    * `n_tokens` carried alongside. EventTimeSpec pins guarantee-level
    * parity against an exact recount across a micro-batch split, plus
    * the late-data contract (rows behind the watermark are dropped,
    * never resurrect an emitted window).
    *
    * Scale shape: state is O(width) counters per OPEN window — bounded
    * regardless of vocabulary, the whole point of the sketch at
    * 100 TB/day stream rates — and the timeout evicts it the moment
    * the watermark closes the window. The token explosion is
    * row-local; the only shuffle is the keyed exchange to the state
    * store, exactly like the windowed counts above.
    */
  def heavyHittersWithState(docs: Dataset[TimedText], windowMs: Long,
                            watermark: String, width: Int): Dataset[HeavyOut] = {
    import docs.sparkSession.implicits._
    docs.toDF()
      .withWatermark("ts", watermark)
      .select(col("ts"), windowStartMs("ts", windowMs).as("w_start_ms"),
        posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "term")
      .filter(col("term") =!= "")
      .as[TimedTerm]
      .groupByKey(_.w_start_ms)
      .flatMapGroupsWithState[HHState, HeavyOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (wStart: Long, rows: Iterator[TimedTerm], state: GroupState[HHState]) =>
          closeWindow(state, rows, wStart + windowMs, HHState(Map.empty, 0L, 0L)) {
            // deterministic fold order within the invocation
            (s0, rows) => rows.toSeq.sortBy(r => (r.ts.getTime, r.pos)).foldLeft(s0) {
              (s, r) =>
                val m = s.counts
                m.get(r.term) match {
                  case Some(c) => HHState(m.updated(r.term, c + 1L), s.dec, s.n + 1)
                  case None if m.size < width =>
                    HHState(m.updated(r.term, 1L), s.dec, s.n + 1)
                  case None =>
                    // decrement-all: the incoming term and one unit of every
                    // tracked term cancel — fires ≤ n/(width+1) times
                    HHState(m.flatMap { case (t, c) =>
                      if (c > 1L) Some(t -> (c - 1L)) else None
                    }, s.dec + 1, s.n + 1)
                }
            }
          } { s =>
            s.counts.toSeq.sortBy { case (t, c) => (-c, t) }.iterator
              .map { case (t, c) => HeavyOut(wStart, t, c, s.dec, s.n) }
          }
      }
  }

  /** Custom stateful sessionization via `flatMapGroupsWithState`: one
    * `SessionState` per user, extended on each event within `gapMs`,
    * emitted and reset when a gap (or event-time timeout) closes it.
    * This is the template for arbitrary keyed state the built-in
    * windows can't express (e.g. per-session feature accumulation).
    */
  def sessionizeWithState(events: Dataset[TimedEvent], gapMs: Long,
                          watermark: String): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[TimedEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed the session's end: emit and clear
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.n, s.sum, s.startMs, s.lastMs))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  cur = Some(SessionState(s.n + 1, s.sum + e.value, s.startMs, math.max(s.lastMs, t)))
                case Some(s) =>
                  closed += SessionOut(userId, s.n, s.sum, s.startMs, s.lastMs)
                  cur = Some(SessionState(1, e.value, t, t))
                case None =>
                  cur = Some(SessionState(1, e.value, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming twin of the batch mix-drift scorer
    * ([[graft.ops.Evaluation.jsDivergence]]): per event-time tumbling
    * window, a category census is maintained in
    * `flatMapGroupsWithState` and — when the watermark closes the
    * window — scored as the Jensen–Shannon divergence of the window's
    * mix against a fixed REFERENCE mix (the historical corpus counts,
    * passed as a parameter: a stream cannot re-read itself to compute
    * the corpus side the way the batch op does). The per-category
    * term is the batch op's exact expression — micro-rounded with the
    * same away-from-zero rule Spark's `round` applies — so a window's
    * `jsd_micro` is BIT-IDENTICAL to the batch op run on that
    * window's slice with the same reference (EventTimeSpec pins this
    * across a micro-batch split, plus the late-data contract).
    *
    * Scale shape: state is one bounded counter map per OPEN window —
    * `maxCats` caps it against adversarial category cardinality
    * (overflow mass folds into `__other`, visible in `n_other`) —
    * and event-time timeout evicts it at watermark passage. The only
    * shuffle is the keyed exchange to the state store.
    */
  def mixDriftWithState(docs: Dataset[TimedCat], windowMs: Long,
                        watermark: String, refMix: Map[String, Long],
                        maxCats: Int = 1000): Dataset[DriftOut] = {
    require(refMix.nonEmpty && refMix.values.forall(_ > 0),
      "mixDriftWithState: reference mix must have positive counts")
    require(maxCats >= 1, s"mixDriftWithState: maxCats=$maxCats")
    val refTotal = refMix.values.sum
    import docs.sparkSession.implicits._
    docs.toDF()
      .withWatermark("ts", watermark)
      .select(col("ts"), windowStartMs("ts", windowMs).as("w_start_ms"),
        col("cat"))
      .as[WindowedCat]
      .groupByKey(_.w_start_ms)
      .flatMapGroupsWithState[DriftState, DriftOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (wStart: Long, rows: Iterator[WindowedCat], state: GroupState[DriftState]) =>
          closeWindow(state, rows, wStart + windowMs, DriftState(Map.empty, 0L)) {
            (s0, rows) =>
              rows.foldLeft(s0) { (s, r) =>
                val key =
                  if (s.counts.contains(r.cat) || s.counts.size < maxCats) r.cat
                  else "__other" // bounded state: overflow mass stays visible
                DriftState(
                  s.counts.updated(key, s.counts.getOrElse(key, 0L) + 1L),
                  s.n + 1L)
              }
          } { s =>
            // Spark round() semantics on doubles: half away from zero
            def halfAway(x: Double): Long =
              (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
            val ns = s.n.toDouble
            val cats = (refMix.keySet ++ s.counts.keySet).toSeq.sorted
            val jsdMicro = cats.map { c =>
              val p = s.counts.getOrElse(c, 0L).toDouble / ns
              val q = refMix.getOrElse(c, 0L).toDouble / refTotal.toDouble
              val m = (p + q) / 2
              val term = (if (p > 0) p * math.log(p / m) else 0.0) +
                (if (q > 0) q * math.log(q / m) else 0.0)
              halfAway(term / 2 * 1e6)
            }.sum
            Iterator.single(DriftOut(wStart, s.n,
              s.counts.size.toLong, s.counts.getOrElse("__other", 0L),
              jsdMicro))
          }
      }
  }

  /** Streaming twin of the continuous drift monitor
    * ([[graft.ops.Mixing.sourceDrift]]'s ECDF-grid KS — the sibling of
    * [[mixDriftWithState]]'s categorical JSD): per (event-time tumbling
    * window, source), a bounded grid census counts observations at or
    * below each reference threshold in `flatMapGroupsWithState`; when
    * the watermark closes the window, the source's window ECDF is
    * scored against the fixed REFERENCE ECDF (the historical corpus,
    * passed as `grid`/`refCdf` — [[graft.ops.Mixing.ksReference]]
    * derives both; a stream cannot re-read the corpus the way the
    * batch op derives its global side). The max-|diff| statistic, its
    * argmax bin (ties toward the HIGHER bin) and the final
    * `round(·, 4)` replicate the batch op's exact double arithmetic,
    * so a window's row is BIT-IDENTICAL to
    * [[graft.ops.Mixing.sourceDrift]] run on that window's slice with
    * the reference derived from the same slice (EventTimeSpec pins
    * this across a micro-batch split, plus the late-drop contract).
    *
    * Scale shape: state is one (|grid|+1)-long census per OPEN
    * (window, source) pair — fixed-size regardless of window volume —
    * evicted by event-time timeout at watermark passage; the only
    * shuffle is the keyed exchange to the state store. Key cardinality
    * is open-windows × |sources|: the source column is assumed
    * bounded-cardinality (the monitoring contract `sourceDrift` itself
    * carries); an unbounded tag column needs [[mixDriftWithState]]'s
    * capped-census discipline instead.
    */
  def ksDriftWithState(docs: Dataset[TimedMeasure], windowMs: Long,
                       watermark: String, grid: Array[Double],
                       refCdf: Array[Double]): Dataset[KsOut] = {
    require(grid.nonEmpty && grid.length == refCdf.length,
      s"ksDriftWithState: grid (${grid.length}) and refCdf " +
        s"(${refCdf.length}) must be non-empty and aligned")
    require(grid.length < 2 || grid.zip(grid.tail).forall { case (a, b) => a <= b },
      "ksDriftWithState: grid must be non-decreasing")
    require(refCdf.forall(c => c >= 0.0 && c <= 1.0),
      "ksDriftWithState: refCdf values must lie in [0,1]")
    import docs.sparkSession.implicits._
    docs.toDF()
      .withWatermark("ts", watermark)
      .select(col("ts"), windowStartMs("ts", windowMs).as("w_start_ms"),
        col("source"), col("len"))
      .as[WindowedMeasure]
      .groupByKey(m => (m.w_start_ms, m.source))
      .flatMapGroupsWithState[KsState, KsOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Long, String), rows: Iterator[WindowedMeasure],
         state: GroupState[KsState]) =>
          closeWindow(state, rows, key._1 + windowMs,
            KsState(new Array[Long](grid.length), 0L)) { (s, rows) =>
            var n = s.n
            rows.foreach { r =>
              val d = r.len.toDouble
              var i = 0
              while (i < grid.length) {
                if (d <= grid(i)) s.cum(i) += 1
                i += 1
              }
              n += 1
            }
            KsState(s.cum, n)
          } { s =>
            // batch-exact scoring: the batch op's greatest(struct(diff,
            // bin)) takes the max diff with ties toward the HIGHER bin
            // — an ascending scan with >= reproduces it; round(·, 4)
            // on a double is BigDecimal.valueOf + HALF_UP in Spark's
            // Round, replicated literally
            var bestDiff = -1.0
            var bestBin = -1
            var i = 0
            while (i < grid.length) {
              val diff = math.abs(s.cum(i).toDouble / s.n - refCdf(i))
              if (diff >= bestDiff) { bestDiff = diff; bestBin = i }
              i += 1
            }
            val ks = java.math.BigDecimal.valueOf(bestDiff)
              .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
            Iterator.single(KsOut(key._1, key._2, s.n, ks, bestBin))
          }
      }
  }

  /** Milliseconds per day window for the sequential day monitors. */
  private val DayMs = 86400000L

  /** A day monitor's input: the watermark, and (series, ts, day_ms)
    * plus the monitor's own `values` columns.
    *
    * The monitors bucket days by flooring `unix_millis` into fixed UTC
    * 86400000-ms windows (the day label must be pure long arithmetic —
    * the event-time timeout that closes a day is registered in the
    * same unit). Their batch twins bucket via `to_date`, which follows
    * `spark.sql.session.timeZone` — so the bit-identical-to-batch
    * contract holds ONLY under a UTC session. Enforced loudly here
    * rather than silently diverging near midnight in non-UTC sessions.
    */
  private def dayRows(rows: Dataset[_], op: String, watermark: String,
                      values: Column*): DataFrame = {
    val tz = rows.sparkSession.conf.get("spark.sql.session.timeZone")
    val zone = java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS).normalized()
    require(zone == java.time.ZoneOffset.UTC,
      s"$op: batch-parity day bucketing requires a UTC session timezone " +
        s"(spark.sql.session.timeZone is '$tz') — the batch twin's to_date " +
        "day follows the session zone while the streaming day label is a " +
        "fixed UTC window; run with UTC or pre-bucket days upstream")
    rows.toDF()
      .withWatermark("ts", watermark)
      .select(Seq(col("series"), col("ts"),
        windowStartMs("ts", DayMs).as("day_ms")) ++ values: _*)
  }

  /** One call of a sequential day monitor: `merge` the rows into the
    * open-day buffer that `openDays` reads (a timed-out call brings
    * none), `close` every buffered day the watermark has passed in DAY
    * order, then the retention tail. The tail wakes the key again when
    * the watermark can close its next open day; an all-closed key
    * either keeps its state (`idleRetentionMs = None` —
    * |series|-bounded) or arms the idle-retention timeout, whose firing
    * with nothing left to fold evicts the key.
    */
  private def foldClosedDays[R, S, O](state: GroupState[S], rows: Iterator[R],
                                      idleRetentionMs: Option[Long], empty: => S)(
      openDays: S => Map[Long, Any], merge: (S, R) => S,
      close: (S, Long) => (S, O)): Iterator[O] = {
    var s = state.getOption.getOrElse(empty)
    if (!state.hasTimedOut) s = rows.foldLeft(s)(merge)
    val wm = state.getCurrentWatermarkMs()
    val out = openDays(s).keysIterator.filter(_ + DayMs <= wm).toSeq.sorted
      .map { d => val (next, o) = close(s, d); s = next; o }
    val open = openDays(s)
    if (open.nonEmpty) {
      state.update(s)
      state.setTimeoutTimestamp(math.max(open.keysIterator.min + DayMs, wm + 1))
    } else idleRetentionMs match {
      case Some(_) if state.hasTimedOut && out.isEmpty =>
        state.remove()
      case Some(ms) =>
        state.update(s)
        state.setTimeoutTimestamp(wm + ms)
      case None =>
        state.update(s)
    }
    out.iterator
  }

  /** Streaming twin of the batch Page–Hinkley monitor
    * ([[graft.ops.Sequence.pageHinkley]]): per series, daily revenue
    * totals fold through the IDENTICAL integer recurrence (running
    * mean one truncating division per day, U / running-min / PH exact
    * longs, alarm = PH·5 &gt; Σx) as the watermark closes each day —
    * so a closed day's row is BIT-IDENTICAL to the batch op run on
    * the stream's slice up to that day (EventTimeSpec pins this
    * across micro-batch splits, plus the late-drop contract).
    *
    * Unlike the per-window monitors above, PH is a SEQUENTIAL
    * recurrence — day d's row needs every day before it — so the
    * state is NOT per-window: one state per series holds (a) the
    * bounded OPEN-day buffer (watermark not yet past day end; late
    * rows beyond the watermark are dropped before reaching the
    * operator, so a closed day can never reopen) and (b) the O(1)
    * permanent accumulator. Closed days fold IN DAY ORDER regardless
    * of arrival order — the watermark's monotonicity is what makes
    * the cross-micro-batch fold total-ordered.
    *
    * Scale shape: state per series = open-horizon days + 4 longs,
    * keyed-exchange parallelism = |series| (a single global series is
    * inherently sequential — same contract as the batch fold's
    * single-row trajectory).
    *
    * State retention: with `idleRetentionMs = None` (default) a
    * series whose days have all closed keeps its O(1) accumulator
    * forever — the state store is |series|-bounded, the right
    * contract for bounded-cardinality monitoring keys. Pass
    * `Some(ms)` to EVICT a series that stays quiet for `ms` of
    * event time after its last day closed; a series resuming after
    * eviction RESTARTS its recurrence from zero (t=1, U=0) — batch
    * parity then holds per quiet-gap-delimited segment, not for the
    * whole series history. Requires a UTC session timezone (loud
    * `require`) — see [[dayRows]].
    */
  def pageHinkleyWithState(rows: Dataset[TimedAmount], watermark: String,
                           idleRetentionMs: Option[Long] = None): Dataset[PhOut] = {
    import rows.sparkSession.implicits._
    dayRows(rows, "pageHinkleyWithState", watermark,
        expr("CAST(round(amount * 100) AS BIGINT)").as("cents"))
      .as[DayAmount]
      .groupByKey(_.series)
      .flatMapGroupsWithState[PhState, PhOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (series: String, it: Iterator[DayAmount], state: GroupState[PhState]) =>
          foldClosedDays(state, it, idleRetentionMs,
            PhState(Map.empty, 0L, 0L, 0L, 0L))(_.days,
            (s, r) => s.copy(days =
              s.days.updated(r.day_ms, s.days.getOrElse(r.day_ms, 0L)
                + r.cents)),
            // the batch recurrence verbatim (operands are non-negative,
            // so JVM / is the same truncation as DIV)
            { (s, d) =>
              val x = s.days(d)
              val t = s.t + 1
              val sx = s.sx + x
              val (u, um) =
                if (t == 1L) (0L, 0L)
                else {
                  val u2 = s.u + x - sx / t
                  (u2, math.min(s.um, u2))
                }
              val ph = u - um
              (PhState(s.days - d, t, sx, u, um),
                PhOut(series, d, x, u, ph, ph * 5 > sx))
            })
      }
  }

  /** Streaming twin of the batch Wald SPRT monitor
    * ([[graft.ops.Diagnostics.sprt]]) — the sequential test finally
    * run SEQUENTIALLY: each day the watermark closes adds its exact
    * micro-nat log-likelihood increment (the batch op's literal
    * constants) to the running ratio, and the day's
    * accept_h1/accept_h0/continue verdict is available the moment the
    * day is final instead of at a retrospective batch read. Per-day
    * (day, n, x, step, cum, state) rows are BIT-IDENTICAL to the
    * batch op on the same closed slice (EventTimeSpec pins this; the
    * batch op's whole-series `decision_day`/`decision` columns have
    * no streaming meaning — the first non-continue state IS the
    * decision).
    *
    * Same sequential-fold machinery as [[pageHinkleyWithState]]: the
    * open-day (trials, hits) buffer is watermark-bounded, the
    * accumulator is ONE long, closed days fold in day order whatever
    * the arrival order, and late rows drop before the operator. Same
    * state-retention contract too: `idleRetentionMs = None` keeps the
    * one-long accumulator per series forever (|series|-bounded);
    * `Some(ms)` evicts a series idle for `ms` of event time, and a
    * resumed series restarts the ratio from 0. Requires a UTC session
    * timezone (loud `require`) — see [[dayRows]].
    */
  def sprtWithState(rows: Dataset[TimedFlag], watermark: String,
                    hitMicro: Long, missMicro: Long, boundMicro: Long,
                    idleRetentionMs: Option[Long] = None): Dataset[SprtOut] = {
    import rows.sparkSession.implicits._
    dayRows(rows, "sprtWithState", watermark, col("hit"))
      .as[DayFlag]
      .groupByKey(_.series)
      .flatMapGroupsWithState[SprtState, SprtOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (series: String, it: Iterator[DayFlag], state: GroupState[SprtState]) =>
          foldClosedDays(state, it, idleRetentionMs,
            SprtState(Map.empty, 0L))(_.days,
            { (s, r) =>
              val (n0, x0) = s.days.getOrElse(r.day_ms, (0L, 0L))
              s.copy(days = s.days.updated(r.day_ms,
                (n0 + 1L, x0 + (if (r.hit) 1L else 0L))))
            },
            { (s, d) =>
              val (n, x) = s.days(d)
              val step = x * hitMicro + (n - x) * missMicro
              val cum = s.cum + step
              (SprtState(s.days - d, cum), SprtOut(series, d, n, x, step, cum,
                if (cum >= boundMicro) "accept_h1"
                else if (cum <= -boundMicro) "accept_h0"
                else "continue"))
            })
      }
  }

  /** Streaming twin of the batch offline-CUSUM change-point estimator
    * ([[graft.ops.Advanced.cusum]]): each time the watermark closes a
    * day, the series re-estimates its single most plausible level-
    * shift day GIVEN THE DATA SO FAR, and the emitted row is
    * BIT-IDENTICAL to the batch op run on the stream's slice up to
    * that day (EventTimeSpec pins every prefix across micro-batch
    * splits). The last row per series therefore IS the batch answer
    * once the final day closes.
    *
    * Exactness follows the batch op literally: per-event milli-unit
    * quantization by the same engine `round` expression, the center
    * mean as ONE `BigDecimal.valueOf(S/N).setScale(0, HALF_UP)` per
    * closed day (Spark's `Round` on a double, replicated), and the
    * argmax over prefix deviations in pure longs with the batch tie
    * rule (|cusum| desc, day asc — an in-order scan replacing only on
    * strictly-greater absolute value).
    *
    * The recurrence exploits linearity: the cumulative deviation of
    * prefix j under center m is S_j − m·N_j, so the state keeps ONE
    * (day, S_j, N_j) triple per CLOSED day and re-centers all of them
    * with each new mean in an O(closed-days) scan — no per-event
    * history. Unlike [[pageHinkleyWithState]]'s O(1) accumulator this
    * trajectory GROWS with closed days; that is the estimator's
    * nature (yesterday's day becomes today's best change point when
    * the mean moves — the offline CUSUM argmax is full-trajectory by
    * definition), and at 24 bytes per day a decade of daily history
    * is ~90 KB per series. Open days buffer watermark-bounded as in
    * the other monitors; late rows drop before the operator.
    *
    * Same retention contract as [[pageHinkleyWithState]]:
    * `idleRetentionMs = None` keeps the trajectory forever
    * (|series|-bounded keys); `Some(ms)` evicts an idle series, and a
    * resumed series restarts its trajectory — parity then holds per
    * quiet-gap-delimited segment. Requires a UTC session timezone
    * (loud `require`) — see [[dayRows]].
    */
  def cusumWithState(rows: Dataset[TimedAmount], watermark: String,
                     idleRetentionMs: Option[Long] = None): Dataset[CusumOut] = {
    import rows.sparkSession.implicits._
    dayRows(rows, "cusumWithState", watermark,
        // the batch op's per-event quantization expression verbatim
        // (its `v`), reusing DayAmount's `cents` field as the carrier
        expr("CAST(round(amount * 1000) AS BIGINT)").as("cents"))
      .as[DayAmount]
      .groupByKey(_.series)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (series: String, it: Iterator[DayAmount], state: GroupState[CusumState]) =>
          foldClosedDays(state, it, idleRetentionMs,
            CusumState(Map.empty, Vector.empty))(_.open,
            { (s, r) =>
              val (sv0, n0) = s.open.getOrElse(r.day_ms, (0L, 0L))
              s.copy(open =
                s.open.updated(r.day_ms, (sv0 + r.cents, n0 + 1L)))
            },
            { (s, d) =>
              val (sv, n) = s.open(d)
              val (_, sPrev, nPrev) =
                s.pre.lastOption.getOrElse((0L, 0L, 0L))
              val pre = s.pre :+ (d, sPrev + sv, nPrev + n)
              val sAll = pre.last._2
              val nAll = pre.last._3
              val mean = java.math.BigDecimal.valueOf(sAll.toDouble / nAll)
                .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
              var bestAbs = -1L
              var bestDay = 0L
              var bestCus = 0L
              pre.foreach { case (dj, sj, nj) =>
                val cus = sj - mean * nj
                val a = math.abs(cus)
                if (a > bestAbs) { bestAbs = a; bestDay = dj; bestCus = cus }
              }
              (CusumState(s.open - d, pre),
                CusumOut(series, d, bestDay, bestCus, mean, pre.length.toLong))
            })
      }
  }

  /** Streaming twin of the batch burst-episode detector
    * ([[graft.ops.Sequence.burstEpisodes]]) — the fourth sequential
    * monitor, completing the family (Page–Hinkley and SPRT fold O(1)
    * accumulators; CUSUM and this one are TRAJECTORY estimators):
    * each watermark-closed day re-reports the series' full episode
    * profile — burst days, episode count, longest episode, peak —
    * for the data so far, BIT-IDENTICAL to the batch op on that
    * prefix (EventTimeSpec pins every prefix across micro-batch
    * splits).
    *
    * Why the whole closed (day, count) trajectory is state: the burst
    * rule compares each day against the RUNNING mean
    * (c·n_days &gt; 2·total), so every new day can flip a PAST day's
    * verdict and re-chain episodes — the report is a function of the
    * full prefix by definition, exactly the [[cusumWithState]]
    * situation (16 bytes/day; a decade ≈ 60 KB/series). Each close
    * replays the batch rule over the trajectory in day order — an
    * O(closed-days) driver-side scan per close, no extra jobs.
    *
    * Same UTC-session requirement and idle-retention contract as the
    * other monitors; late rows drop at the watermark before the
    * operator, so a closed day's count is final.
    */
  def burstWithState(rows: Dataset[TimedMark], watermark: String,
                     idleRetentionMs: Option[Long] = None): Dataset[BurstOut] = {
    import rows.sparkSession.implicits._
    dayRows(rows, "burstWithState", watermark)
      .as[DayMark]
      .groupByKey(_.series)
      .flatMapGroupsWithState[BurstState, BurstOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (series: String, it: Iterator[DayMark], state: GroupState[BurstState]) =>
          foldClosedDays(state, it, idleRetentionMs,
            BurstState(Map.empty, Vector.empty))(_.open,
            (s, r) => s.copy(open =
              s.open.updated(r.day_ms, s.open.getOrElse(r.day_ms, 0L) + 1L)),
            { (s0, d) =>
              val s = BurstState(s0.open - d, s0.days :+ (d, s0.open(d)))
              // the batch rule replayed verbatim over the prefix: flag
              // under the running totals, chain consecutive CALENDAR
              // days, peak = earliest max-count day
              val total = s.days.iterator.map(_._2).sum
              val nDays = s.days.length.toLong
              var nBurst = 0L; var nEp = 0L; var longest = 0L
              var run = 0L; var prevDay = Long.MinValue
              var peakDay = 0L; var peakC = -1L
              s.days.foreach { case (day, c) =>
                if (c > peakC) { peakC = c; peakDay = day }
                if (c * nDays > total * 2L) {
                  nBurst += 1
                  run = if (prevDay == day - DayMs) run + 1 else { nEp += 1; 1L }
                  if (run > longest) longest = run
                  prevDay = day
                } else prevDay = Long.MinValue
              }
              (s, BurstOut(series, d, nDays, nBurst, nEp, longest, peakDay, peakC))
            })
      }
  }
}
