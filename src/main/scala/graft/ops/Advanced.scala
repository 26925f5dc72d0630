package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 relational surface: grouping sets, a full window-function
  * battery, and correlated subqueries. All DuckDB-oracle-able; all
  * shapes chosen to survive a 100× scale-up (keyed windows only —
  * never a global or low-cardinality-partition order-by; subqueries
  * that Catalyst decorrelates into joins).
  */
object Advanced {

  /** GROUPING SETS — the general form of [[Relational.rollupAgg]] /
    * cubeAgg: per-nation totals, per-priority totals, and the grand
    * total, WITHOUT the (nation, priority) cross detail rollup/cube
    * would also emit. Aggregation is partial+final hash agg; the
    * grouping-set expansion multiplies rows by |sets| before the
    * shuffle, which Catalyst handles with a single Expand node.
    * NULL group labels are coalesced to 'ALL' so cross-engine sort
    * order is unambiguous (same trick as rollup/cube).
    */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val o = Tables.orders(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupingSets(
        Seq(Seq(col("n_name")), Seq(col("o_orderpriority")), Seq()),
        col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("sum_price"))
      .select(
        coalesce(col("n_name"), lit("ALL")).as("n_name"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n_orders"), col("sum_price"))
      .orderBy(col("n_name"), col("o_orderpriority"))
  }

  val groupingSetsAggSql: String =
    """SELECT coalesce(n_name, 'ALL') AS n_name,
      |  coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
      |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
      |ORDER BY n_name, o_orderpriority""".stripMargin

  /** Window-function battery over per-customer order history:
    * lag/lead, ntile quartiles, cume_dist, running sum, 3-row moving
    * average — one keyed window (partitionBy customer), ordered by the
    * UNIQUE (date, orderkey) pair so every offset/rank/frame function
    * is deterministic cross-engine. Keyed partitions scale (each
    * customer's history is one task's slice); the running aggregates
    * are sequential prefix computations over that slice, identical
    * evaluation order in Spark and DuckDB.
    */
  def windowBattery(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wMov = w.rowsBetween(-2, 0)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("prev_price", round(lag(col("o_totalprice"), 1).over(w), 2))
      .withColumn("next_price", round(lead(col("o_totalprice"), 1).over(w), 2))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("cd", round(cume_dist().over(w), 6))
      .withColumn("run_sum", round(sum(col("o_totalprice")).over(wRun), 2))
      // 3 decimals, not 2: a 2-row average of 2-decimal prices is an
      // exact multiple of 0.005 — the precise value where Spark's
      // exact-decimal HALF_UP and DuckDB's multiply-round-divide
      // disagree on the same double; at 3 decimals every possible
      // average (k/100, k/200, k/300) sits away from the boundary
      .withColumn("mov_avg3", round(avg(col("o_totalprice")).over(wMov), 3))
      .select(col("o_orderkey"), col("o_custkey"),
        col("prev_price"), col("next_price"), col("quartile"),
        col("cd"), col("run_sum"), col("mov_avg3"))
      .orderBy(col("o_orderkey"))
  }

  val windowBatterySql: String =
    """SELECT o_orderkey, o_custkey,
      |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
      |  round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  round(cume_dist() OVER w, 6) AS cd,
      |  round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum,
      |  round(avg(o_totalprice) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 3) AS mov_avg3
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** RANGE-frame window: 30-day trailing revenue per customer — the
    * time-based complement of [[windowBattery]]'s ROWS frames. The
    * frame is defined over day numbers (days since 1990-01-01), so
    * same-day orders are peers and the trailing sum includes all of
    * them regardless of their physical order — RANGE frames are
    * deterministic under ties where ROWS frames are not. Keyed window
    * (per-customer partitions) — scales like every other window here.
    */
  def windowRange(spark: SparkSession, dir: String): DataFrame = {
    val dayNo = expr("datediff(o_orderdate, DATE '1990-01-01')")
    val w = Window.partitionBy(col("o_custkey")).orderBy(dayNo)
      .rangeBetween(-29, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("trail30_sum", round(sum(col("o_totalprice")).over(w), 2))
      .withColumn("trail30_n", count(lit(1)).over(w))
      .select(col("o_orderkey"), col("o_custkey"), col("trail30_sum"), col("trail30_n"))
      .orderBy(col("o_orderkey"))
  }

  val windowRangeSql: String =
    """SELECT o_orderkey, o_custkey,
      |  round(sum(o_totalprice) OVER w, 2) AS trail30_sum,
      |  count(*) OVER w AS trail30_n
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY datediff('day', DATE '1990-01-01', o_orderdate)
      |             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** Time-series LINEAR INTERPOLATION — [[gapFill]]'s forward-fill
    * sibling for measures where a gap means "the value moved smoothly",
    * not "it held": interior missing days get
    * `prev + (next − prev) · Δdays/Δspan` between the nearest observed
    * values; leading/trailing edges degrade to back-/forward-fill. Two
    * keyed windows per direction over the same metadata-sized grid as
    * gapFill (last/first with ignoreNulls carrying value AND observed
    * day) — no self-join, no per-gap scan, scales with |types|×|days|.
    * The interpolation fraction divides two exact day integers, so the
    * rounded result is reproducible cross-engine.
    */
  def interpolate(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 2).as("v"))
    val days = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val grid = e.select(col("event_type")).distinct()
      .crossJoin(broadcast(days))
    val wb = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(daily, Seq("event_type", "day"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wb))
      .withColumn("pd", last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wb))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wf))
      .withColumn("nd", first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wf))
      .withColumn("v_interp",
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))         // leading edge: backfill
          .when(col("nv").isNull, col("pv"))         // trailing edge: forward-fill
          .otherwise(round(col("pv") +
            (col("nv") - col("pv")) *
              datediff(col("day"), col("pd")).cast("double") /
              datediff(col("nd"), col("pd")), 4)))
      .withColumn("interpolated", (col("v").isNull && col("v_interp").isNotNull).cast("int"))
      .select(col("event_type"), col("day"), col("n"), col("v_interp"), col("interpolated"))
      .orderBy(col("event_type"), col("day"))
  }

  val interpolateSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, value FROM events),
      |daily AS (
      |  SELECT event_type, day, count(*) AS n, round(avg(value), 2) AS v
      |  FROM e GROUP BY event_type, day),
      |days AS (
      |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT CAST(min(day) AS TIMESTAMP) AS d0, CAST(max(day) AS TIMESTAMP) AS d1 FROM e)),
      |grid AS (
      |  SELECT event_type, day
      |  FROM (SELECT DISTINCT event_type FROM e) CROSS JOIN days),
      |j AS (
      |  SELECT g.event_type, g.day, coalesce(daily.n, 0) AS n, daily.v,
      |    last_value(daily.v IGNORE NULLS) OVER wb AS pv,
      |    last_value(CASE WHEN daily.v IS NOT NULL THEN g.day END IGNORE NULLS) OVER wb AS pd,
      |    first_value(daily.v IGNORE NULLS) OVER wf AS nv,
      |    first_value(CASE WHEN daily.v IS NOT NULL THEN g.day END IGNORE NULLS) OVER wf AS nd
      |  FROM grid g LEFT JOIN daily ON g.event_type = daily.event_type AND g.day = daily.day
      |  WINDOW
      |    wb AS (PARTITION BY g.event_type ORDER BY g.day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wf AS (PARTITION BY g.event_type ORDER BY g.day
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_type, day, CAST(n AS BIGINT) AS n,
      |  CASE WHEN v IS NOT NULL THEN v
      |       WHEN pv IS NULL THEN nv
      |       WHEN nv IS NULL THEN pv
      |       ELSE round(pv + (nv - pv) *
      |         CAST(date_diff('day', pd, day) AS DOUBLE) / date_diff('day', pd, nd), 4)
      |  END AS v_interp,
      |  CAST(v IS NULL AND (pv IS NOT NULL OR nv IS NOT NULL) AS INT) AS interpolated
      |FROM j
      |ORDER BY event_type, day""".stripMargin

  /** Time-series gap filling — the dense-calendar pattern every
    * metrics pipeline needs: build the full (event_type × day) grid
    * from the observed date bounds, left-join the daily aggregates,
    * zero-fill counts, and forward-fill the daily average
    * (`last(..., ignoreNulls)` over an unbounded-preceding frame) so
    * days with no events carry the last observed value. The grid sides
    * are tiny (|types| and |days| — the only cross join in the
    * relational surface, both inputs broadcastable); everything else is
    * one keyed aggregation plus a keyed window. Scales: the grid is
    * metadata-sized regardless of event volume.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 2).as("avg_value"))
    val days = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val grid = e.select(col("event_type")).distinct()
      .crossJoin(broadcast(days))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("event_type", "day"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("avg_ffill",
        coalesce(last(col("avg_value"), ignoreNulls = true).over(w), lit(0.0)))
      .select(col("event_type"), col("day"), col("n"), col("avg_ffill"))
      .orderBy(col("event_type"), col("day"))
  }

  val gapFillSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, value FROM events),
      |daily AS (
      |  SELECT event_type, day, count(*) AS n, round(avg(value), 2) AS avg_value
      |  FROM e GROUP BY event_type, day),
      |days AS (
      |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT CAST(min(day) AS TIMESTAMP) AS d0, CAST(max(day) AS TIMESTAMP) AS d1 FROM e)),
      |grid AS (
      |  SELECT event_type, day
      |  FROM (SELECT DISTINCT event_type FROM e) CROSS JOIN days),
      |filled AS (
      |  SELECT g.event_type, g.day, coalesce(daily.n, 0) AS n, daily.avg_value
      |  FROM grid g LEFT JOIN daily ON g.event_type = daily.event_type AND g.day = daily.day)
      |SELECT event_type, day, CAST(n AS BIGINT) AS n,
      |  coalesce(last_value(avg_value IGNORE NULLS)
      |             OVER (PARTITION BY event_type ORDER BY day
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS avg_ffill
      |FROM filled
      |ORDER BY event_type, day""".stripMargin

  /** Event-type transition matrix (first-order Markov report): for
    * every consecutive event pair within a user's timeline, count
    * (prev_type → type) and its share of all transitions leaving
    * prev_type — the navigation/path analysis behind funnel design
    * ("what actually follows a view?"). One keyed window pass computes
    * lag(type) per user (the same partitioning discipline as
    * [[funnel]]), then a |types|²-bounded aggregate; the per-row share
    * is a ratio of exact counts via a second tiny aggregate joined
    * back — deterministic, oracle-exact.
    */
  def transitions(spark: SparkSession, dir: String): DataFrame =
    transitions(Tables.events(spark, dir), "event_id", "user_id", "ts",
      "event_type")

  /** DataFrame-first form over any (id, key, time, type) frame. */
  def transitions(events: DataFrame, idCol: String, keyCol: String,
                  tsCol: String, typeCol: String): DataFrame = {
    val e = events.select(col(idCol).as("event_id"), col(keyCol).as("user_id"),
      col(tsCol).as("ts"), col(typeCol).as("etype"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = e.withColumn("prev_type", lag(col("etype"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("etype").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val outgoing = pairs.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("n_out"))
    pairs.join(outgoing, Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n").cast("double") / col("n_out"), 4).as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val transitionsSql: String =
    """WITH l AS (
      |  SELECT user_id, event_type AS next_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_type
      |  FROM events),
      |pairs AS (
      |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
      |  FROM l WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, next_type),
      |o AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_out
      |      FROM pairs GROUP BY prev_type)
      |SELECT prev_type, next_type, n,
      |  round(CAST(n AS DOUBLE) / n_out, 4) AS p
      |FROM pairs JOIN o USING (prev_type)
      |ORDER BY prev_type, next_type""".stripMargin

  private val AnomalyWin = 20
  private val AnomalyMinN = 10
  private val AnomalyZ = 3.0

  /** Trailing-window anomaly detection on the event stream: per user,
    * each value is scored against the mean/stddev of its previous
    * [[AnomalyWin]] events, and rows beyond [[AnomalyZ]] sample
    * standard deviations are flagged — the standard metric-monitoring
    * primitive (fraud spikes, sensor glitches, broken emitters).
    *
    * Cross-engine determinism is the interesting part: a double
    * mean/stddev differs between engines in the last bits (summation
    * order), which can flip a boundary row. So values quantize to
    * integer MILLI-units and the window computes EXACT integer moments
    * (n, Σv, Σv²) — the z-score then derives from those integers with
    * the same IEEE operations on both sides: z = (n·v − S) /
    * sqrt((n·SS − S²)·n / (n−1)). Every engine sees identical BIGINTs,
    * identical doubles, identical flags (the [[graft.ops.TextAnalysis]]
    * micro-unit discipline applied to second moments). Magnitudes are
    * bounded: |v| ≤ 6e5 milli-units, so n·SS ≤ 1.3e14 — far inside
    * BIGINT for any window this size.
    *
    * Scale shape: ONE keyed window (partition by user, order by
    * (ts, event_id) — the id tiebreak makes the frame deterministic
    * under timestamp collisions); per-user state is the 20-row frame;
    * no self-join, no global sort before the output ordering.
    */
  def anomaly(spark: SparkSession, dir: String): DataFrame =
    anomaly(Tables.events(spark, dir), "event_id", "user_id", "ts", "value")

  /** DataFrame-first form over any (id, key, time, value) frame. */
  def anomaly(events: DataFrame, idCol: String, keyCol: String,
              tsCol: String, valCol: String): DataFrame = {
    val e = events.select(col(idCol).as("event_id"), col(keyCol).as("user_id"),
      col(tsCol).as("ts"),
      round(col(valCol) * 1000).cast("long").as("v"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-AnomalyWin, -1)
    e.withColumn("n", count(col("v")).over(w))
      .withColumn("s", sum(col("v")).over(w))
      .withColumn("ss", sum(col("v") * col("v")).over(w))
      .filter(col("n") >= AnomalyMinN)
      .withColumn("q", col("n") * col("ss") - col("s") * col("s"))
      .filter(col("q") > 0)
      .withColumn("z", (col("n") * col("v") - col("s")).cast("double") /
        sqrt((col("q") * col("n")).cast("double") / (col("n") - 1)))
      .filter(abs(col("z")) > AnomalyZ)
      .select(col("event_id"), col("user_id"),
        col("v").as("value_milli"), col("n").as("win_n"),
        round(col("z"), 4).as("z"))
      .orderBy(col("event_id"))
  }

  val anomalySql: String =
    s"""WITH e AS (
      |  SELECT event_id, user_id, ts,
      |    CAST(round(value * 1000) AS BIGINT) AS v
      |  FROM events),
      |m AS (
      |  SELECT event_id, user_id, v,
      |    CAST(count(v) OVER w AS BIGINT) AS n,
      |    CAST(sum(v) OVER w AS BIGINT) AS s,
      |    CAST(sum(v * v) OVER w AS BIGINT) AS ss
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN $AnomalyWin PRECEDING AND 1 PRECEDING)),
      |qd AS (
      |  SELECT event_id, user_id, v, n, n * ss - s * s AS q,
      |    CAST(n * v - s AS DOUBLE) /
      |      sqrt(CAST((n * ss - s * s) * n AS DOUBLE) / (n - 1)) AS z
      |  FROM m WHERE n >= $AnomalyMinN AND n * ss - s * s > 0)
      |SELECT event_id, user_id, v AS value_milli, n AS win_n,
      |  round(z, 4) AS z
      |FROM qd WHERE abs(z) > $AnomalyZ
      |ORDER BY event_id""".stripMargin

  private val EwmaDepth = 16

  /** Trailing EWMA smoothing on the event stream: per user, each
    * value's exponentially-weighted average over its last
    * [[EwmaDepth]] events with decay ½ — the online smoothing
    * primitive behind rate/load/latency monitors (recent events
    * dominate, history fades geometrically).
    *
    * Cross-engine exactness via DYADIC weights: with decay ½ and
    * milli-unit integer values, weight 2^(depth−1−k) for lag k makes
    * numerator and denominator EXACT BIGINTs (a float `pow(alpha,k)`
    * chain accumulates engine-specific rounding; powers of two do
    * not). Magnitudes bound: |v| ≤ 1e6 milli × 2¹⁵ × 16 terms ≈ 5e11,
    * far inside BIGINT. The single final division and round are the
    * same IEEE ops on both engines. Short histories keep real
    * semantics: the denominator only accrues weights for lags that
    * exist, so row 1's EWMA is its own value, not a zero-padded decay.
    *
    * Scale shape: ONE keyed window (partition by user, order by
    * (ts, id) — deterministic under timestamp collisions); the
    * [[EwmaDepth]] `lag` expressions all ride that one Window
    * operator (same spec → one exchange, one sort); no self-join,
    * no global window.
    */
  def ewma(spark: SparkSession, dir: String): DataFrame =
    ewma(Tables.events(spark, dir), "event_id", "user_id", "ts", "value")

  /** DataFrame-first form over any (id, key, time, value) frame. */
  def ewma(events: DataFrame, idCol: String, keyCol: String,
           tsCol: String, valCol: String): DataFrame = {
    val e = events.select(col(idCol).as("event_id"), col(keyCol).as("user_id"),
      col(tsCol).as("ts"),
      round(col(valCol) * 1000).cast("long").as("v"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val terms = (0 until EwmaDepth).map { k =>
      val wt = 1L << (EwmaDepth - 1 - k)
      val lv = if (k == 0) col("v") else lag(col("v"), k).over(w)
      (coalesce(lv, lit(0L)) * wt,
        when(lv.isNotNull, lit(wt)).otherwise(lit(0L)))
    }
    e.withColumn("num", terms.map(_._1).reduce(_ + _))
      .withColumn("w_den", terms.map(_._2).reduce(_ + _))
      .select(col("event_id"), col("user_id"), col("v").as("value_milli"),
        col("w_den"),
        round(col("num").cast("double") / col("w_den"), 4).as("ewma_milli"))
      .orderBy(col("event_id"))
  }

  val ewmaSql: String = {
    val numTerms = (0 until EwmaDepth).map { k =>
      val wt = 1L << (EwmaDepth - 1 - k)
      if (k == 0) s"v * $wt"
      else s"COALESCE(lag(v, $k) OVER w, 0) * $wt"
    }.mkString(" + ")
    val denTerms = (0 until EwmaDepth).map { k =>
      val wt = 1L << (EwmaDepth - 1 - k)
      if (k == 0) s"$wt"
      else s"CASE WHEN lag(v, $k) OVER w IS NOT NULL THEN $wt ELSE 0 END"
    }.mkString(" + ")
    s"""WITH e AS (
      |  SELECT event_id, user_id, ts,
      |    CAST(round(value * 1000) AS BIGINT) AS v
      |  FROM events),
      |m AS (
      |  SELECT event_id, user_id, v,
      |    CAST($numTerms AS BIGINT) AS num,
      |    CAST($denTerms AS BIGINT) AS w_den
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_id, user_id, v AS value_milli, w_den,
      |  round(CAST(num AS DOUBLE) / w_den, 4) AS ewma_milli
      |FROM m ORDER BY event_id""".stripMargin
  }

  private val AcfLags = Seq(1, 2, 3)
  private val AcfMinPairs = 10

  /** Per-user autocorrelation of event values at lags 1–3 — the
    * time-series diagnostic that separates trending/periodic behavior
    * from noise (does a user's next value echo the last one? the one
    * before?). Pearson r over the (vₜ, vₜ₋ₖ) pairs of each user's
    * time-ordered stream, one row per (user, lag) with ≥
    * [[AcfMinPairs]] pairs and non-degenerate variance on both sides.
    *
    * Determinism discipline: values quantize to integer MILLI-units;
    * the six regression moments (n, Σx, Σy, Σxy, Σxx, Σyy) accumulate
    * EXACTLY in BIGINT; the final Pearson combination runs in double —
    * the cross-products would overflow 2⁶³ on long streams (the
    * zipf-fit lesson), while the same IEEE multiply/divide/sqrt
    * sequence over identical BIGINTs is bit-identical cross-engine.
    *
    * Scale shape: the three lagged copies all ride ONE keyed Window
    * operator (same (user, ts, id) spec — one exchange, one sort),
    * `stack` fans each row into its (lag, pair) form row-locally, and
    * ONE partial+final aggregation reduces to the |users|×|lags|
    * frame. No self-join (the textbook ACF join re-shuffles the
    * corpus per lag), no global window.
    */
  def autocorr(spark: SparkSession, dir: String): DataFrame =
    autocorr(Tables.events(spark, dir), "event_id", "user_id", "ts", "value")

  /** DataFrame-first form over any (id, key, time, value) frame. */
  def autocorr(events: DataFrame, idCol: String, keyCol: String,
               tsCol: String, valCol: String): DataFrame = {
    val e = events.select(col(idCol).as("event_id"), col(keyCol).as("user_id"),
      col(tsCol).as("ts"),
      round(col(valCol) * 1000).cast("long").as("v"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val lagged = AcfLags.foldLeft(e) { (df, k) =>
      df.withColumn(s"y_$k", lag(col("v"), k).over(w))
    }
    val stackArgs = AcfLags.map(k => s"$k, y_$k").mkString(", ")
    lagged
      .select(col("user_id"), col("v").as("x"),
        expr(s"stack(${AcfLags.length}, $stackArgs) AS (lag_k, y)"))
      .where(col("y").isNotNull)
      .groupBy(col("user_id"), col("lag_k"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .where(col("n") >= AcfMinPairs)
      .withColumn("vx", col("n").cast("double") * col("sxx")
        - col("sx").cast("double") * col("sx"))
      .withColumn("vy", col("n").cast("double") * col("syy")
        - col("sy").cast("double") * col("sy"))
      .where(col("vx") > 0 && col("vy") > 0)
      .withColumn("r", round(
        (col("n").cast("double") * col("sxy")
          - col("sx").cast("double") * col("sy"))
          / sqrt(col("vx") * col("vy")), 4))
      .select(col("user_id"), col("lag_k"), col("n"), col("r"))
      .orderBy(col("user_id"), col("lag_k"))
  }

  val autocorrSql: String = {
    val lagCols = AcfLags.map(k => s"lag(v, $k) OVER w AS y_$k").mkString(",\n      |    ")
    val unions = AcfLags.map(k =>
      s"SELECT user_id, $k AS lag_k, v AS x, y_$k AS y FROM lagged WHERE y_$k IS NOT NULL")
      .mkString("\n      |  UNION ALL ")
    s"""WITH e AS (
      |  SELECT event_id, user_id, ts,
      |    CAST(round(value * 1000) AS BIGINT) AS v
      |  FROM events),
      |lagged AS (
      |  SELECT user_id, v,
      |    $lagCols
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |pairs AS (
      |  $unions),
      |m AS (
      |  SELECT user_id, lag_k, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM pairs GROUP BY 1, 2
      |  HAVING count(*) >= $AcfMinPairs),
      |v AS (
      |  SELECT user_id, lag_k, n,
      |    CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS vx,
      |    CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vy,
      |    CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cxy
      |  FROM m)
      |SELECT user_id, CAST(lag_k AS INT) AS lag_k, n,
      |  round(cxy / sqrt(vx * vy), 4) AS r
      |FROM v WHERE vx > 0 AND vy > 0
      |ORDER BY user_id, lag_k""".stripMargin
  }

  /** Lag window for [[crossCorr]]: ±3 days around alignment. */
  private val CrossCorrLags = 3
  /** Minimum overlapping days for a (pair, lag) cell to report. */
  private val CrossCorrMinDays = 10

  /** Lead/lag cross-correlation between event-type daily volumes: for
    * every ORDERED pair of distinct event types and every lag k in
    * ±[[CrossCorrLags]] days, the Pearson correlation of (x_t, y_{t+k})
    * over the zero-filled daily grid — the diagnostic that says "clicks
    * lead purchases by two days", which [[autocorr]] (self-correlation)
    * cannot see. Zero-filling matters: skipping silent days would
    * misalign every series against calendar time.
    *
    * Same exactness discipline as [[autocorr]]: daily counts and all
    * five moments accumulate in BIGINT; only the final Pearson
    * combination runs in double (identical IEEE sequence both
    * engines). Scale shape: the ONLY corpus-sized operation is the
    * (type, day) count aggregate; the calendar grid, the |types|×|days|
    * zero-fill, the 7-lag fan-out and the pair join are all bounded
    * frames.
    */
  def crossCorr(spark: SparkSession, dir: String): DataFrame =
    crossCorr(Tables.events(spark, dir), "event_type", "ts")

  /** DataFrame-first form over any (category, timestamp) event frame. */
  def crossCorr(events: DataFrame, typeCol: String, tsCol: String): DataFrame = {
    // the ONLY corpus-sized work, materialized once: the lazy plan
    // embeds `daily` six times (calendar span, type list, zero-fill,
    // × both pair sides), which would re-run the events aggregate 6×
    val daily = Cached.checkpoint(events
      .groupBy(col(typeCol).as("t"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n")))
    val cal = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1)")).as("day"))
    val grid = daily.select(col("t")).distinct()
      .crossJoin(cal) // bounded × bounded: |types| × |days|
      .join(daily, Seq("t", "day"), "left")
      .select(col("t"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
    val a = grid
      .select(col("t").as("type_a"), col("day"), col("n").as("x"))
      .select(col("*"),
        explode(expr(s"sequence(${-CrossCorrLags}, $CrossCorrLags)")).as("lag_k"))
    val b = grid.select(col("t").as("type_b"), col("day").as("bday"),
      col("n").as("y"))
    a.join(b, col("bday") === date_add(col("day"), col("lag_k")) &&
        col("type_a") =!= col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("lag_k"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .where(col("n_days") >= CrossCorrMinDays)
      .withColumn("vx", col("n_days").cast("double") * col("sxx")
        - col("sx").cast("double") * col("sx"))
      .withColumn("vy", col("n_days").cast("double") * col("syy")
        - col("sy").cast("double") * col("sy"))
      .where(col("vx") > 0 && col("vy") > 0)
      .withColumn("r", round(
        (col("n_days").cast("double") * col("sxy")
          - col("sx").cast("double") * col("sy"))
          / sqrt(col("vx") * col("vy")), 4))
      .select(col("type_a"), col("type_b"), col("lag_k").cast("int").as("lag_k"),
        col("n_days"), col("r"))
      .orderBy(col("type_a"), col("type_b"), col("lag_k"))
  }

  val crossCorrSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |cal AS (
       |  SELECT CAST(unnest(generate_series(
       |    (SELECT min(day) FROM daily), (SELECT max(day) FROM daily),
       |    INTERVAL 1 DAY)) AS DATE) AS day),
       |grid AS (
       |  SELECT ty.t, cal.day, coalesce(daily.n, 0) AS n
       |  FROM (SELECT DISTINCT t FROM daily) ty
       |  CROSS JOIN cal
       |  LEFT JOIN daily ON daily.t = ty.t AND daily.day = cal.day),
       |pairs AS (
       |  SELECT a.t AS type_a, b.t AS type_b, k.lag_k, a.n AS x, b.n AS y
       |  FROM grid a
       |  CROSS JOIN (SELECT CAST(unnest(generate_series(${-CrossCorrLags},
       |                              $CrossCorrLags)) AS INTEGER) AS lag_k) k
       |  JOIN grid b ON b.day = a.day + k.lag_k AND b.t <> a.t),
       |m AS (
       |  SELECT type_a, type_b, lag_k, CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM pairs GROUP BY 1, 2, 3
       |  HAVING count(*) >= $CrossCorrMinDays),
       |v AS (
       |  SELECT type_a, type_b, lag_k, n_days,
       |    CAST(n_days AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS vx,
       |    CAST(n_days AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vy,
       |    CAST(n_days AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cxy
       |  FROM m)
       |SELECT type_a, type_b, CAST(lag_k AS INT) AS lag_k, n_days,
       |  round(cxy / sqrt(vx * vy), 4) AS r
       |FROM v WHERE vx > 0 AND vy > 0
       |ORDER BY type_a, type_b, lag_k""".stripMargin

  /** Inter-purchase cadence profile per market segment: how often do
    * customers come back? Per customer the gaps between CONSECUTIVE
    * orders (one keyed window, ordered by (date, orderkey) so same-day
    * ties can't flip), then per segment: repeat-customer counts and the
    * gap distribution — median exact via the doubled-integer trick
    * ([[Diagnostics.madOutliers]] discipline: doubling makes the one
    * possible interpolation midpoint an integer), mean as one division
    * of exact sums, max exact. Deliberately NO p90: an interpolated
    * 0.9 quantile sits at an engine-dependent floating position —
    * the kind of latent cross-engine flake this library refuses.
    *
    * Scale shape: one customer-keyed window over orders (the only
    * corpus-sized exchange), one broadcast dim join for the segment,
    * one bounded per-segment aggregate.
    */
  def purchaseGaps(spark: SparkSession, dir: String): DataFrame =
    purchaseGaps(Tables.orders(spark, dir), Tables.customer(spark, dir))

  /** DataFrame-first form. */
  def purchaseGaps(orders: DataFrame, customer: DataFrame): DataFrame = {
    val gaps = orders
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("d"),
        col("o_orderkey"))
      .withColumn("prev_d", lag(col("d"), 1).over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(col("d"), col("o_orderkey"))))
      .join(broadcast(customer.select(col("c_custkey"),
        col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
    val perCust = gaps.groupBy(col("segment"), col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    val custStats = perCust.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n_orders") >= 2, 1L).otherwise(0L))
          .as("n_repeat_customers"))
    val gapStats = gaps.filter(col("prev_d").isNotNull)
      .select(col("segment"),
        (datediff(col("d"), col("prev_d")).cast("long") * 2L).as("g2"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_gaps"),
        percentile(col("g2"), lit(0.5)).cast("long").as("med2"),
        sum(col("g2")).as("sum2"), max(col("g2")).as("max2"))
    custStats.join(gapStats, Seq("segment"))
      .select(col("segment"), col("n_customers"), col("n_repeat_customers"),
        col("n_gaps"),
        round(col("med2").cast("double") / 2.0, 1).as("median_gap_days"),
        round(col("sum2").cast("double") / 2.0 / col("n_gaps"), 4)
          .as("avg_gap_days"),
        expr("max2 DIV 2").as("max_gap_days"))
      .orderBy(col("segment"))
  }

  val purchaseGapsSql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey
      |  FROM orders),
      |g AS (
      |  SELECT o_custkey, d,
      |    lag(d, 1) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
      |      AS prev_d
      |  FROM o),
      |j AS (
      |  SELECT c_mktsegment AS segment, g.* FROM g
      |  JOIN customer ON o_custkey = c_custkey),
      |pc AS (
      |  SELECT segment, o_custkey, count(*) AS n_orders
      |  FROM j GROUP BY 1, 2),
      |cs AS (
      |  SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
      |    CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_repeat_customers
      |  FROM pc GROUP BY 1),
      |gs AS (
      |  SELECT segment, CAST(count(*) AS BIGINT) AS n_gaps,
      |    CAST(quantile_cont(2 * (d - prev_d), 0.5) AS BIGINT) AS med2,
      |    CAST(sum(2 * (d - prev_d)) AS BIGINT) AS sum2,
      |    CAST(max(2 * (d - prev_d)) AS BIGINT) AS max2
      |  FROM j WHERE prev_d IS NOT NULL GROUP BY 1)
      |SELECT cs.segment, n_customers, n_repeat_customers, n_gaps,
      |  round(CAST(med2 AS DOUBLE) / 2.0, 1) AS median_gap_days,
      |  round(CAST(sum2 AS DOUBLE) / 2.0 / n_gaps, 4) AS avg_gap_days,
      |  CAST(max2 // 2 AS BIGINT) AS max_gap_days
      |FROM cs JOIN gs ON cs.segment = gs.segment
      |ORDER BY cs.segment""".stripMargin

  /** Attribution look-back window in days. */
  private val AttribWindowDays = 7

  /** Multi-touch purchase attribution: for every purchase, the same
    * user's view/click touches in the prior [[AttribWindowDays]] days,
    * credited three ways at once — first-touch, last-touch, and linear
    * — reported per touch type. Linear credit is EXACT integer ppm:
    * each touch gets ⌊1e6/n⌋ and the remainder 1e6 mod n goes to the
    * first touch (a stated, deterministic policy), so per-purchase
    * credit sums to exactly 1e6 and the report's total equals
    * 1e6 × (touched purchases) to the last unit — the invariant the
    * spec pins. Purchases with no in-window touch attribute nothing
    * (they are the funnel's organic tail).
    *
    * Scale shape: one user-keyed equi-join with a time-band predicate
    * (per-user touch lists are rate-bounded, never a cross join), then
    * TWO window passes over the same purchase-keyed exchange (forward
    * and reverse rank) and one bounded per-type aggregate.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame =
    attribution(Tables.events(spark, dir), "user_id", "event_type", "ts",
      "event_id")

  /** DataFrame-first form over any (user, type, time, id) event frame. */
  def attribution(events: DataFrame, userCol: String, typeCol: String,
                  tsCol: String, idCol: String): DataFrame = {
    val e = events.select(col(userCol).as("u"), col(typeCol).as("et"),
      col(tsCol).as("ts"), col(idCol).as("eid"))
    val purchases = e.filter(col("et") === "purchase")
      .select(col("u").as("pu"), col("ts").as("pt"), col("eid").as("pid"))
    val touches = e.filter(col("et").isin("view", "click"))
      .join(purchases, col("u") === col("pu") &&
        col("ts") >= col("pt") - expr(s"INTERVAL $AttribWindowDays DAYS") &&
        col("ts") < col("pt"))
      .select(col("pid"), col("et").as("touch_type"), col("ts"), col("eid"))
    val byP = Window.partitionBy(col("pid"))
    val fwd = byP.orderBy(col("ts"), col("eid"))
    val rev = byP.orderBy(col("ts").desc, col("eid").desc)
    touches
      .withColumn("rk", row_number().over(fwd))
      .withColumn("rk_rev", row_number().over(rev))
      .withColumn("n", count(lit(1)).over(byP))
      .withColumn("credit_ppm",
        expr("1000000 DIV n") +
          when(col("rk") === 1, expr("1000000 % n")).otherwise(lit(0L)))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("first_touch"),
        sum(when(col("rk_rev") === 1, 1L).otherwise(0L)).as("last_touch"),
        sum(col("credit_ppm")).as("linear_ppm"))
      .orderBy(col("touch_type"))
  }

  val attributionSql: String =
    s"""WITH e AS (
       |  SELECT user_id AS u, event_type AS et, ts, event_id AS eid
       |  FROM events),
       |p AS (
       |  SELECT u AS pu, ts AS pt, eid AS pid FROM e
       |  WHERE et = 'purchase'),
       |t AS (
       |  SELECT p.pid, e.et AS touch_type, e.ts, e.eid
       |  FROM e JOIN p ON e.u = p.pu
       |    AND e.ts >= p.pt - INTERVAL $AttribWindowDays DAY
       |    AND e.ts < p.pt
       |  WHERE e.et IN ('view', 'click')),
       |r AS (
       |  SELECT touch_type,
       |    row_number() OVER (PARTITION BY pid ORDER BY ts, eid) AS rk,
       |    row_number() OVER (PARTITION BY pid ORDER BY ts DESC, eid DESC)
       |      AS rk_rev,
       |    count(*) OVER (PARTITION BY pid) AS n
       |  FROM t)
       |SELECT touch_type, CAST(count(*) AS BIGINT) AS n_touches,
       |  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS first_touch,
       |  CAST(sum(CASE WHEN rk_rev = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS last_touch,
       |  CAST(sum(1000000 // n
       |           + CASE WHEN rk = 1 THEN 1000000 % n ELSE 0 END) AS BIGINT)
       |    AS linear_ppm
       |FROM r GROUP BY touch_type ORDER BY touch_type""".stripMargin

  /** Event-sequence funnel: per user, the first `view`, the first
    * `click` strictly after that view, and the first `purchase`
    * strictly after that click — then the per-stage user counts with
    * conversion rates. ONE scan and ONE shuffle: the staged timestamps
    * are conditional-min window functions over the same user_id
    * partitioning (each stage's `min(CASE …)` references the previous
    * stage's window output; same partitioning → Catalyst adds Window
    * operators without new exchanges), then a per-user dedup and one
    * global count — never a per-user sort, collect, or repeated scan.
    * The oracle deliberately uses the textbook join-per-stage SQL
    * formulation: two independent derivations agreeing is a stronger
    * check than one shape transcribed twice.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ts") > col("t_view"), col("ts"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ts") > col("t_click"), col("ts"))).over(w))
    staged
      .groupBy(col("user_id"))
      .agg(first(col("t_view")).as("t_view"), first(col("t_click")).as("t_click"),
        first(col("t_purchase")).as("t_purchase"))
      .agg(count(col("t_view")).as("n_view"), count(col("t_click")).as("n_click"),
        count(col("t_purchase")).as("n_purchase"))
      .select(
        col("n_view"), col("n_click"), col("n_purchase"),
        round(col("n_click") / col("n_view"), 4).as("view_to_click"),
        round(col("n_purchase") / col("n_click"), 4).as("click_to_purchase"))
  }

  val funnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(ts) AS t_click
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(ts) AS t_purchase
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |  GROUP BY e.user_id)
      |SELECT
      |  (SELECT count(*) FROM v) AS n_view,
      |  (SELECT count(*) FROM c) AS n_click,
      |  (SELECT count(*) FROM p) AS n_purchase,
      |  round((SELECT count(*) FROM c) / (SELECT count(*) FROM v), 4) AS view_to_click,
      |  round((SELECT count(*) FROM p) / (SELECT count(*) FROM c), 4) AS click_to_purchase""".stripMargin

  /** Retention cohorts — the other classic event-analytics rollup next
    * to [[funnel]] and [[gapFill]]: group users by first-activity day
    * (their cohort), then count distinct users active at each day
    * offset 0..7 from their cohort day. Two keyed aggregations (first
    * day per user, distinct user-days) and one keyed join, all on
    * user_id; the output is |cohorts| × 8 rows regardless of event
    * volume.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val activity = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohorts = activity.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    activity.join(cohorts, Seq("user_id"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .filter(col("day_offset") <= 7)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** SCD2 (slowly-changing-dimension type 2) materialization — the
    * history-tracking member of the CDC family next to
    * [[Relational.latestByKey]] (SCD1 compaction) and
    * [[Relational.mergeUpsert]] (MERGE): every change event becomes a
    * versioned validity interval [valid_from, valid_to) with the open
    * current row marked. One keyed window (partitioned by the business
    * key — never global), ordered on (epoch-millis, seq) so timestamp
    * ties cannot flip versions cross-engine; epoch millis keep the
    * oracle exact under the ns→µs→ms truncation chain.
    */
  def scd2(spark: SparkSession, dir: String): DataFrame =
    scd2(Tables.events(spark, dir), "user_id", "event_id", "ts", "event_type")

  /** DataFrame-first form over any (key, seq, ts, value) change feed. */
  def scd2(changes: DataFrame, keyCol: String, seqCol: String,
           tsCol: String, valCol: String): DataFrame = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("valid_from_ms"), col("seq"))
    changes
      .select(col(keyCol).as("key"), col(seqCol).as("seq"),
        unix_millis(col(tsCol)).as("valid_from_ms"), col(valCol).as("value"))
      .select(col("key"),
        row_number().over(w).cast("int").as("version"),
        col("value"), col("valid_from_ms"),
        lead(col("valid_from_ms"), 1).over(w).as("valid_to_ms"))
      .withColumn("is_current", col("valid_to_ms").isNull.cast("int"))
      .orderBy(col("key"), col("version"))
  }

  val scd2Sql: String =
    """WITH c AS (
      |  SELECT user_id AS key, event_id AS seq, epoch_ms(ts) AS valid_from_ms,
      |    event_type AS value
      |  FROM events)
      |SELECT key, CAST(row_number() OVER w AS INT) AS version, value,
      |  valid_from_ms,
      |  lead(valid_from_ms) OVER w AS valid_to_ms,
      |  CAST(lead(valid_from_ms) OVER w IS NULL AS INT) AS is_current
      |FROM c WINDOW w AS (PARTITION BY key ORDER BY valid_from_ms, seq)
      |ORDER BY key, version""".stripMargin

  val retentionSql: String =
    """WITH activity AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |cohorts AS (
      |  SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id)
      |SELECT cohort_day,
      |  CAST(datediff('day', cohort_day, day) AS INT) AS day_offset,
      |  count(*) AS n_users
      |FROM activity JOIN cohorts USING (user_id)
      |WHERE datediff('day', cohort_day, day) <= 7
      |GROUP BY cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Weekly cohort retention MATRIX — [[retention]]'s production form:
    * users grouped by first-activity ISO week, each cohort's distinct
    * active users counted at every later week offset, with the
    * retention share in floor basis points against the cohort's size.
    * The triangle (cohort week × week offset) is the standard
    * engagement report; the share column is what makes cohorts of
    * different sizes comparable.
    *
    * Scale shape: two user-keyed aggregates (first week, distinct
    * user-weeks), one user-keyed equi-join, a |weeks|²-bounded grid
    * aggregate, and a |weeks|-row broadcast join for cohort sizes —
    * nothing event-volume-sized crosses the final exchanges and no
    * window anywhere. Offsets divide exact day counts by 7 (both
    * engines floor positive integer division); shares are
    * floor-basis-point BIGINTs, immune to float summation order.
    */
  def cohortMatrix(spark: SparkSession, dir: String): DataFrame =
    cohortMatrix(Tables.events(spark, dir), "user_id", "ts")

  /** DataFrame-first form. */
  def cohortMatrix(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val activity = events
      .select(col(userCol).as("u"),
        date_trunc("week", col(tsCol)).cast("date").as("week"))
      .distinct()
    val cohorts = activity.groupBy(col("u"))
      .agg(min(col("week")).as("cohort_week"))
    val grid = activity.join(cohorts, Seq("u"))
      .withColumn("week_offset",
        expr("datediff(week, cohort_week) div 7").cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
    val sizes = grid.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_users").as("cohort_size"))
    grid.join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        col("cohort_size"),
        expr("n_users * 10000L div cohort_size").as("retention_bp"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val cohortMatrixSql: String =
    """WITH activity AS (
      |  SELECT DISTINCT user_id AS u,
      |    CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
      |cohorts AS (
      |  SELECT u, min(week) AS cohort_week FROM activity GROUP BY u),
      |grid AS (
      |  SELECT cohort_week, (week - cohort_week) // 7 AS week_offset,
      |    count(*) AS n_users
      |  FROM activity JOIN cohorts USING (u)
      |  GROUP BY 1, 2),
      |sizes AS (
      |  SELECT cohort_week, n_users AS cohort_size FROM grid
      |  WHERE week_offset = 0)
      |SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
      |  CAST(n_users AS BIGINT) AS n_users,
      |  CAST(cohort_size AS BIGINT) AS cohort_size,
      |  CAST(n_users * 10000 // cohort_size AS BIGINT) AS retention_bp
      |FROM grid JOIN sizes USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Correlated subqueries, written in SQL because correlation is
    * SQL-native: a correlated scalar subquery (max supplier balance in
    * the customer's nation — max, not avg, so the scalar is exact and
    * order-insensitive cross-engine) and a correlated EXISTS. Catalyst
    * decorrelates both into joins (aggregate-then-join for the scalar,
    * left-semi for EXISTS) — asserted in PlanSpec — so at scale this
    * runs as two keyed joins, never a per-row subquery evaluation.
    * The SAME SQL string is the DuckDB oracle: true ANSI both ways.
    */
  val subqueriesSql: String =
    """SELECT c_custkey, round(c_acctbal, 2) AS acctbal
      |FROM customer c
      |WHERE c_acctbal > (SELECT max(s.s_acctbal) FROM supplier s
      |                   WHERE s.s_nationkey = c.c_nationkey)
      |  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  def subqueries(spark: SparkSession, dir: String): DataFrame =
    runWithTables(spark, dir, subqueriesSql, Seq("customer", "supplier", "orders"))

  /** Correlated IN + correlated NOT IN — the third leg of the subquery
    * triple, chosen to hit the NOT IN NULL-semantics trap: the inner
    * CASE emits NULL for a customer's urgent orders above the price
    * line, and per ANSI `x NOT IN (… NULL …)` is never TRUE — an
    * implementation that decorrelates NOT IN to a plain (non
    * null-aware) anti join would wrongly KEEP those customers. Catalyst
    * plans the IN as a left-semi join and the NOT IN as a null-aware
    * anti join (pinned in AdvancedSpec); both are keyed joins at scale,
    * never per-row subquery evaluation. Same ANSI string is the DuckDB
    * oracle.
    */
  val subqueriesInSql: String =
    """SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
      |FROM customer c
      |WHERE c_nationkey IN (SELECT s.s_nationkey FROM supplier s
      |                      WHERE s.s_acctbal > c.c_acctbal)
      |  AND c_custkey NOT IN (SELECT CASE WHEN o.o_totalprice > 400000
      |                                    THEN NULL ELSE o.o_custkey END
      |                        FROM orders o
      |                        WHERE o.o_custkey = c.c_custkey
      |                          AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  def subqueriesIn(spark: SparkSession, dir: String): DataFrame =
    runWithTables(spark, dir, subqueriesInSql, Seq("customer", "supplier", "orders"))

  /** LATERAL correlated subquery in FROM — per nation, its top-2
    * customers by account balance via `LATERAL (… ORDER BY … LIMIT 2)`.
    * Catalyst DECORRELATES the per-row subquery into a keyed join plus
    * ranking (never per-outer-row re-execution — the plan the same SQL
    * would cost on a row-at-a-time engine), so the shape scales like
    * any top-k-per-group. The identical ANSI string runs on DuckDB.
    */
  val lateralTopNSql: String =
    """SELECT n_name, c_custkey, round(c_acctbal, 2) AS acctbal,
      |  CAST(row_number() OVER (PARTITION BY n_name
      |    ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rnk
      |FROM nation,
      |  LATERAL (SELECT c_custkey, c_acctbal FROM customer
      |           WHERE c_nationkey = n_nationkey
      |           ORDER BY c_acctbal DESC, c_custkey LIMIT 2) top2
      |ORDER BY n_name, rnk""".stripMargin

  def lateralTopN(spark: SparkSession, dir: String): DataFrame =
    runWithTables(spark, dir, lateralTopNSql, Seq("nation", "customer"))

  /** Gaps-and-islands activity streaks: per user, the longest run of
    * CONSECUTIVE active days plus streak/active-day counts — the
    * classic sessionization-by-identity pattern (day − dense row
    * number is constant within a consecutive run, so the difference
    * IS the island key).
    *
    * Scale shape: the corpus-sized input collapses to DISTINCT
    * (user, day) first — a partial+final aggregate, ≤ 365·|users|
    * rows — and the ranking window runs over THAT bounded frame,
    * never the raw events (the [[graft.ops.TextAnalysis.zipfFit]]
    * window-above-aggregate discipline). Epoch-day integers keep the
    * island arithmetic and the oracle exact.
    */
  def streaks(spark: SparkSession, dir: String): DataFrame =
    streaks(Tables.events(spark, dir), "user_id", "ts")

  /** DataFrame-first form over any (key, timestamp) frame. */
  def streaks(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val days = events
      .select(col(keyCol).as("user_id"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy(col("user_id"))
  }

  /** Day-of-week seasonality profile per event type: the ISO-weekday
    * activity mix, each day's share of the type's volume in integer
    * basis points (floor division of exact BIGINT counts — no float
    * share can disagree cross-engine), and the peak day flagged. One
    * partial+final count aggregation to the bounded |types|×7 frame;
    * the per-type total and peak are windows OVER that frame, not the
    * events. The report a pipeline owner reads before trusting any
    * day-partitioned metric: a 9-to-5 weekday corpus and a weekend
    * spike need different alerting baselines.
    */
  def seasonality(spark: SparkSession, dir: String): DataFrame =
    seasonality(Tables.events(spark, dir), "event_type", "ts")

  /** DataFrame-first form over any (group, timestamp) frame. */
  def seasonality(events: DataFrame, groupCol: String, tsCol: String): DataFrame = {
    val d = events.select(col(groupCol).as("event_type"),
      (weekday(to_date(col(tsCol))) + lit(1)).cast("long").as("isodow"))
    val counts = d.groupBy(col("event_type"), col("isodow"))
      .agg(count(lit(1)).as("n"))
    val wTot = Window.partitionBy(col("event_type"))
    counts
      .withColumn("tot", sum(col("n")).over(wTot))
      .withColumn("mx", max(col("n")).over(wTot))
      .withColumn("peak_dow",
        min(when(col("n") === col("mx"), col("isodow"))).over(wTot))
      .select(col("event_type"), col("isodow"), col("n"),
        expr("10000 * n DIV tot").as("share_bp"),
        (col("n") === col("mx") && col("isodow") === col("peak_dow"))
          .as("is_peak"))
      .orderBy(col("event_type"), col("isodow"))
  }

  val seasonalitySql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS isodow
      |  FROM events),
      |c AS (
      |  SELECT event_type, isodow, CAST(count(*) AS BIGINT) AS n
      |  FROM d GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, isodow, n,
      |    sum(n) OVER (PARTITION BY event_type) AS tot,
      |    max(n) OVER (PARTITION BY event_type) AS mx
      |  FROM c),
      |p AS (
      |  SELECT *, min(CASE WHEN n = mx THEN isodow END)
      |    OVER (PARTITION BY event_type) AS peak_dow
      |  FROM w)
      |SELECT event_type, isodow, n,
      |  CAST(10000 * n // tot AS BIGINT) AS share_bp,
      |  (n = mx AND isodow = peak_dow) AS is_peak
      |FROM p ORDER BY event_type, isodow""".stripMargin

  /** RFM segmentation: every user scored 1–5 on Recency (days since
    * last event, lower is better), Frequency (event count), and
    * Monetary (milli-unit value sum), reported as segment sizes over
    * the ≤125-cell (r, f, m) grid. Deliberately NOT ntile() — the
    * textbook spelling funnels ALL users through one unpartitioned
    * sort. Instead the quintile thresholds come from ONE percentile
    * aggregation (a 1-row, 12-number frame), broadcast back, and each
    * user scores row-locally by counting thresholds exceeded — the
    * [[Mixing.outlierBands]] broadcast-band discipline, so nothing
    * corpus-sized ever sorts globally. Thresholds are rounded to 2
    * decimals on BOTH sides (integer metrics make a .005 collision
    * unrepresentable), the proven cross-engine percentile recipe.
    */
  def rfm(spark: SparkSession, dir: String): DataFrame =
    rfm(Tables.events(spark, dir), "user_id", "ts", "value")

  /** DataFrame-first form over any (key, timestamp, value) frame. */
  def rfm(events: DataFrame, keyCol: String, tsCol: String,
          valCol: String): DataFrame = {
    val e = events.select(col(keyCol).as("user_id"),
      datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"),
      round(col(valCol) * 1000).cast("long").as("v"))
    val users = e.groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("freq"),
        sum(col("v")).as("mon"))
    val anchor = users.agg(max(col("last_day")).as("anchor_day"))
    val scored = users.crossJoin(broadcast(anchor))
      .withColumn("rec", col("anchor_day") - col("last_day"))
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    val thrCols =
      qs.zipWithIndex.map { case (q, i) =>
        round(percentile(col("rec"), lit(q)), 2).as(s"r$i") } ++
      qs.zipWithIndex.map { case (q, i) =>
        round(percentile(col("freq"), lit(q)), 2).as(s"f$i") } ++
      qs.zipWithIndex.map { case (q, i) =>
        round(percentile(col("mon"), lit(q)), 2).as(s"m$i") }
    val thr = scored.agg(thrCols.head, thrCols.tail: _*)
    def score(m: Column, pre: String): Column =
      lit(1) + (0 to 3).map(i => when(m > col(s"$pre$i"), 1).otherwise(0))
        .reduce(_ + _)
    scored.crossJoin(broadcast(thr))
      .withColumn("r_score", lit(6) - score(col("rec"), "r"))
      .withColumn("f_score", score(col("freq"), "f"))
      .withColumn("m_score", score(col("mon"), "m"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("mon")).as("segment_mon_milli"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val rfmSql: String = {
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    val thrCols = (for ((pre, m) <- Seq("r" -> "rec", "f" -> "freq", "m" -> "mon");
                        (q, i) <- qs.zipWithIndex)
      yield s"round(quantile_cont($m, $q), 2) AS $pre$i").mkString(",\n      |    ")
    def sc(m: String, pre: String) =
      (0 to 3).map(i => s"(CASE WHEN $m > $pre$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
    s"""WITH e AS (
      |  SELECT user_id,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
      |    CAST(round(value * 1000) AS BIGINT) AS v
      |  FROM events),
      |u AS (
      |  SELECT user_id, max(day) AS last_day,
      |    CAST(count(*) AS BIGINT) AS freq, CAST(sum(v) AS BIGINT) AS mon
      |  FROM e GROUP BY 1),
      |s AS (
      |  SELECT user_id, freq, mon,
      |    (SELECT max(last_day) FROM u) - last_day AS rec
      |  FROM u),
      |t AS (
      |  SELECT
      |    $thrCols
      |  FROM s),
      |g AS (
      |  SELECT 6 - (1 + ${sc("rec", "r")}) AS r_score,
      |    1 + ${sc("freq", "f")} AS f_score,
      |    1 + ${sc("mon", "m")} AS m_score,
      |    mon
      |  FROM s, t)
      |SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(mon) AS BIGINT) AS segment_mon_milli
      |FROM g GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  /** CUSUM change-point detection per event type: the day the daily
    * value level shifted, found as the argmax of |cumulative deviation
    * from the series mean| — the classic offline CUSUM estimator for
    * a single level change, and the time-axis sibling of the
    * cross-source KS drift report. Arithmetic is EXACT: values
    * quantize to milli-unit BIGINTs, the center is the ROUNDED global
    * mean (one IEEE division + round both engines share bit-exactly),
    * so deviations, cumulative sums, and the argmax comparison are
    * pure integers — no float accumulation order can move the
    * detected day. Events reduce to a (type, day) daily frame first
    * (partial+final agg), the per-type totals broadcast back, and
    * BOTH windows (running sum, argmax rank) run keyed over the
    * bounded |types|×|days| frame — never over raw events.
    */
  def cusum(spark: SparkSession, dir: String): DataFrame =
    cusum(Tables.events(spark, dir), "event_type", "ts", "value")

  /** DataFrame-first form over any (group, timestamp, value) frame. */
  def cusum(events: DataFrame, groupCol: String, tsCol: String,
            valCol: String): DataFrame = {
    val e = events.select(col(groupCol).as("event_type"),
      datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"),
      round(col(valCol) * 1000).cast("long").as("v"))
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    val tot = daily.groupBy(col("event_type"))
      .agg(sum(col("sv")).as("s_all"), sum(col("n")).as("n_all"),
        count(lit(1)).as("n_days"))
      .withColumn("mean_milli",
        round(col("s_all").cast("double") / col("n_all")).cast("long"))
    val wSum = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wArg = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("cusum_milli")).desc, col("day"))
    daily.join(broadcast(tot.select(col("event_type"), col("mean_milli"),
        col("n_days"))), Seq("event_type"))
      .withColumn("cusum_milli",
        sum(col("sv") - col("n") * col("mean_milli")).over(wSum))
      .withColumn("rk", row_number().over(wArg))
      .filter(col("rk") === 1)
      .select(col("event_type"),
        date_add(lit("1970-01-01").cast("date"), col("day")).as("change_day"),
        col("cusum_milli"), col("mean_milli"), col("n_days"))
      .orderBy(col("event_type"))
  }

  val cusumSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
      |    CAST(round(value * 1000) AS BIGINT) AS v
      |  FROM events),
      |daily AS (
      |  SELECT event_type, day, CAST(sum(v) AS BIGINT) AS sv,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM e GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type,
      |    CAST(round(CAST(sum(sv) AS DOUBLE) / sum(n)) AS BIGINT)
      |      AS mean_milli,
      |    CAST(count(*) AS BIGINT) AS n_days
      |  FROM daily GROUP BY 1),
      |c AS (
      |  SELECT d.event_type, day, mean_milli, n_days,
      |    CAST(sum(sv - n * mean_milli) OVER (PARTITION BY d.event_type
      |      ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      AS cusum_milli
      |  FROM daily d JOIN tot t ON d.event_type = t.event_type),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY abs(cusum_milli) DESC, day) AS rk
      |  FROM c)
      |SELECT event_type, DATE '1970-01-01' + CAST(day AS INTEGER)
      |    AS change_day,
      |  cusum_milli, mean_milli, n_days
      |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin

  /** Trailing 7-day distinct active users per day — the sliding
    * COUNT(DISTINCT) every engagement dashboard needs and naive SQL
    * gets quadratically wrong (a RANGE window cannot deduplicate, a
    * per-day self-join rescans the corpus |days| times). Exact, with
    * NO distinct aggregation at all: dedupe to (user, day) pairs
    * (partial+final agg), ONE keyed window finds each pair's next
    * active day, then each pair fans out ONLY to the window-ends
    * where it is that user's latest activity — every (user, end) is
    * emitted exactly once by construction, so a plain count finishes
    * the job. Fan-out is bounded by the window length (≤7 rows per
    * pair); the 1-row max-day frame is a broadcast. At 100 TB the
    * heavy shuffle is the (user, day) dedup — keys are two longs, and
    * everything downstream is proportional to active-pairs × 7, not
    * to raw events.
    */
  def rollingDistinct(spark: SparkSession, dir: String): DataFrame =
    rollingDistinct(Tables.events(spark, dir), "user_id", "ts", 7)

  /** DataFrame-first form over any (key, timestamp) frame. */
  def rollingDistinct(events: DataFrame, keyCol: String, tsCol: String,
                      windowDays: Int): DataFrame = {
    val days = events
      .select(col(keyCol).as("user_id"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val spans = days.withColumn("nd", lead(col("day"), 1).over(w))
    val maxDay = days.agg(max(col("day")).as("max_day"))
    spans.crossJoin(broadcast(maxDay))
      .withColumn("w_end", explode(sequence(col("day"),
        least(col("day") + lit(windowDays - 1),
          coalesce(col("nd") - 1, col("day") + lit(windowDays - 1)),
          col("max_day")))))
      .groupBy(col("w_end"))
      .agg(count(lit(1)).as("active_users"))
      .select(date_add(lit("1970-01-01").cast("date"), col("w_end")).as("day"),
        col("active_users"))
      .orderBy(col("day"))
  }

  val rollingDistinctSql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
      |  FROM events),
      |n AS (
      |  SELECT user_id, day,
      |    lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nd,
      |    (SELECT max(day) FROM d) AS max_day
      |  FROM d),
      |e AS (
      |  SELECT user_id,
      |    unnest(generate_series(day,
      |      least(day + 6, coalesce(nd - 1, day + 6), max_day))) AS w_end
      |  FROM n)
      |SELECT DATE '1970-01-01' + CAST(w_end AS INTEGER) AS day,
      |  CAST(count(*) AS BIGINT) AS active_users
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  val streaksSql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
      |  FROM events),
      |i AS (
      |  SELECT user_id,
      |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
      |  FROM d),
      |s AS (SELECT user_id, island, count(*) AS len FROM i GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
      |  CAST(max(len) AS BIGINT) AS longest_streak,
      |  CAST(count(*) AS BIGINT) AS n_streaks
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Run `sql` with the named driver tables registered under
    * collision-free temp-view names. The ANSI string doubles as the
    * DuckDB oracle, so the canonical table names must survive in the
    * published SQL; Spark-side they are rewritten to per-call views so
    * two concurrent queries in one session cannot race on
    * `createOrReplaceTempView`. `spark.sql` analyzes eagerly, so the
    * views can be dropped before the DataFrame is consumed.
    */
  private def runWithTables(spark: SparkSession, dir: String, sql: String,
                            names: Seq[String]): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val rewritten = names.foldLeft(sql)((s, n) => s.replaceAll(s"\\b$n\\b", s"${n}_$tag"))
    names.foreach { n =>
      val df = n match {
        case "customer" => Tables.customer(spark, dir)
        case "supplier" => Tables.supplier(spark, dir)
        case "orders"   => Tables.orders(spark, dir)
        case "nation"   => Tables.nation(spark, dir)
        case other      => throw new IllegalArgumentException(s"unknown table $other")
      }
      df.createOrReplaceTempView(s"${n}_$tag")
    }
    try spark.sql(rewritten)
    finally names.foreach(n => spark.catalog.dropTempView(s"${n}_$tag"))
  }
}
