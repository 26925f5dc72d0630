package graft.ops

import graft.Tables
import graft.functions.TopK
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operational diagnostics for running this engine at scale. The
  * reference (`/root/reference/batch_processor.go:1-194`) has no
  * observability beyond the finalizer callback; a 100 TB deployment
  * needs to SEE the properties that decide plan strategy — key skew
  * first among them — before a job burns a day discovering them.
  */
object Diagnostics {

  private val TopKeys = 10

  /** Join-key skew profile: the top-N heaviest keys of a column plus
    * the global shape numbers a skew decision needs (row count, key
    * cardinality, max key weight, per-key skew ratio vs the uniform
    * mean). This is the measurement that decides between a plain
    * shuffle join, [[graft.functions.Skew]] salting, and AQE skew
    * splitting.
    *
    * Shape: one keyed partial+final count (the only corpus-sized
    * shuffle), then ONE global aggregation computes sum/count/max AND
    * the top-N keys through the bounded [[TopK]] partial aggregate in
    * the same pass — each map task ships ≤ N candidate keys, so the
    * profile costs one scan + one bounded fold at any corpus size.
    * Never a window: ranking the key-count frame with `row_number()`
    * would funnel every distinct key through one partition.
    */
  def skewProfile(spark: SparkSession, dir: String): DataFrame =
    skewProfile(Tables.lineitem(spark, dir), "l_suppkey", TopKeys)

  /** DataFrame-first form: profile any integral key column. */
  def skewProfile(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    require(topN >= 1, s"skewProfile: bad topN=$topN")
    val counts = df
      .groupBy(col(keyCol).cast("long").as("key"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_cnt"),
        TopK.topK(topN)(col("cnt").cast("double"), col("key")).as("top"))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        (col("pos") + 1).as("rank"),
        col("t.id").as("key"),
        col("t.score").cast("long").as("cnt"),
        col("n_rows"), col("n_keys"), col("max_cnt"),
        round(col("t.score") * col("n_keys") / col("n_rows"), 4).as("skew"))
      .orderBy(col("rank"))
  }

  val skewProfileSql: String =
    """WITH c AS (
      |  SELECT CAST(l_suppkey AS BIGINT) AS key, count(*) AS cnt
      |  FROM lineitem GROUP BY 1),
      |g AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(max(cnt) AS BIGINT) AS max_cnt
      |  FROM c),
      |t AS (
      |  SELECT key, CAST(cnt AS BIGINT) AS cnt,
      |    CAST(row_number() OVER (ORDER BY cnt DESC, key) AS INT) AS rank
      |  FROM c ORDER BY rank LIMIT 10)
      |SELECT rank, key, cnt, n_rows, n_keys, max_cnt,
      |  round(CAST(cnt AS DOUBLE) * n_keys / n_rows, 4) AS skew
      |FROM t CROSS JOIN g
      |ORDER BY rank""".stripMargin

  private val ProfileCols = Seq("l_orderkey", "l_quantity", "l_returnflag",
    "l_shipdate", "l_discount")

  /** Per-column table profile — the data-validation summary every
    * ingestion step should gate on (null fractions, exact
    * cardinalities, value bounds per column) before a 100 TB job
    * consumes the table. Shape: one single-distinct aggregate PER
    * COLUMN, unioned — on columnar storage each branch's scan is
    * pruned to exactly its one column, so k branches read the same
    * bytes as one k-column scan, while each `count(distinct c)`
    * keeps Spark's cheap two-stage single-distinct plan. The
    * alternative — fusing all k distincts into one aggregate — goes
    * through the Expand rewrite, which multiplies every row by k+1
    * BEFORE the partial agg and funnels all k distinct streams
    * through one exchange: measured 6.6× slower at sf0.1 (9.7 s →
    * 1.5 s for 5 columns). The Expand shape is still the right one
    * when the distincts share one GROUPED aggregation
    * ([[graft.ops.Relational]] multiDistinct); for a table-wide
    * global profile, per-column union wins.
    * Min/max are emitted as strings for a uniform schema: DOUBLE
    * columns go through DECIMAL(18,2) first, because double→string
    * formatting is engine-specific while decimal rendering is not.
    */
  def tableProfile(spark: SparkSession, dir: String): DataFrame =
    tableProfile(Tables.lineitem(spark, dir), ProfileCols)

  /** DataFrame-first form: profile the named columns of any frame. */
  def tableProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "tableProfile: no columns")
    def minMax(c: String) = {
      val isFloating = df.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => true
        case _ => false
      }
      if (isFloating)
        (min(col(c)).cast("decimal(18,2)").cast("string"),
          max(col(c)).cast("decimal(18,2)").cast("string"))
      else (min(col(c)).cast("string"), max(col(c)).cast("string"))
    }
    val perCol = cols.map { c =>
      val (mn, mx) = minMax(c)
      df.agg(count(lit(1)).as("n_rows"), count(col(c)).as("nn"),
          countDistinct(col(c)).as("nd"), mn.as("mn"), mx.as("mx"))
        .select(lit(c).as("col_name"), col("n_rows"),
          (col("n_rows") - col("nn")).as("n_null"),
          col("nd").as("n_distinct"), col("mn").as("min_s"),
          col("mx").as("max_s"))
    }
    perCol.reduce(_.unionAll(_)).orderBy(col("col_name"))
  }

  val tableProfileSql: String = {
    val selects = ProfileCols.map { c =>
      val isFloating = c == "l_quantity" || c == "l_discount"
      val mn = if (isFloating) s"CAST(CAST(min($c) AS DECIMAL(18,2)) AS VARCHAR)"
        else s"CAST(min($c) AS VARCHAR)"
      val mx = if (isFloating) s"CAST(CAST(max($c) AS DECIMAL(18,2)) AS VARCHAR)"
        else s"CAST(max($c) AS VARCHAR)"
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
      |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
      |  $mn AS min_s, $mx AS max_s
      |FROM lineitem"""
    }
    selects.mkString("", "\n      |UNION ALL\n      |", "\n      |ORDER BY col_name")
      .stripMargin
  }

  /** Data-contract validation — the gate a 100 TB ingestion runs
    * BEFORE a table is promoted: key uniqueness, referential
    * integrity, range/enum/null invariants, each reported as
    * (constraint, rows checked, rows violating, pass). The profiler
    * above describes a table; this one judges it against a contract.
    *
    * Shape: all row-local predicates on one table fuse into a SINGLE
    * aggregate over a SINGLE scan (conditional `count(when(...))`
    * measures — partial-aggregable, map-side combined), then `stack`
    * unpivots the 1-row battery into one row per constraint.
    * Uniqueness is `count - count(distinct key)` inside the same
    * battery. Referential integrity is the one contract a scan
    * cannot decide row-locally: each FK is a LEFT ANTI equi-join
    * (Catalyst broadcasts the parent side when it fits — at 100 TB
    * the orders→customer probe is exactly the dim-broadcast pattern)
    * counted to a 1-row frame. Never a window anywhere; the report
    * is a union of 1-row/|constraints|-row frames.
    */
  def constraintCheck(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val customer = Tables.customer(spark, dir)
    val report = rowLocalChecks(orders, "orders", Seq(
        "o_totalprice positive" -> (col("o_totalprice") <= 0),
        "o_orderstatus in {O,F,P}" -> !col("o_orderstatus").isin("O", "F", "P"),
        "o_custkey not null" -> col("o_custkey").isNull),
        uniqueKey = Some("o_orderkey"))
      .unionAll(rowLocalChecks(lineitem, "lineitem", Seq(
        "l_quantity in [1,50]" -> !col("l_quantity").between(1, 50),
        "l_discount in [0,0.1]" -> !col("l_discount").between(0, 0.1),
        "l_orderkey not null" -> col("l_orderkey").isNull)))
      .unionAll(rowLocalChecks(customer, "customer", Seq(
        "c_acctbal not null" -> col("c_acctbal").isNull),
        uniqueKey = Some("c_custkey")))
      .unionAll(fkCheck(orders, "o_custkey", customer, "c_custkey",
        "orders.o_custkey -> customer.c_custkey"))
      .unionAll(fkCheck(lineitem, "l_orderkey", orders, "o_orderkey",
        "lineitem.l_orderkey -> orders.o_orderkey"))
    report
      .withColumn("ok", col("n_violations") === 0L)
      .orderBy(col("constraint_name"))
  }

  /** Row-local contract battery: every (label, violation-predicate)
    * pair plus an optional unique-key check evaluate in ONE aggregate
    * over ONE scan of `df`. A NULL predicate result (SQL three-valued
    * logic, e.g. `NOT x IN (...)` on NULL x) counts as non-violating —
    * express nullability contracts as explicit `isNull` checks.
    */
  def rowLocalChecks(df: DataFrame, table: String,
      checks: Seq[(String, org.apache.spark.sql.Column)],
      uniqueKey: Option[String] = None): DataFrame = {
    require(checks.nonEmpty || uniqueKey.nonEmpty, "rowLocalChecks: no checks")
    val aggs = count(lit(1)).as("n") +:
      (checks.zipWithIndex.map { case ((_, bad), i) =>
        count(when(bad, 1)).as(s"v_$i")
      } ++ uniqueKey.map(k => countDistinct(col(k)).as("d")).toSeq)
    val stacked = checks.zipWithIndex.map { case ((label, _), i) =>
      s"'$table.$label', n, v_$i"
    } ++ uniqueKey.map(k => s"'$table.$k unique', n, n - d").toSeq
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${stacked.length}, ${stacked.mkString(", ")}) " +
        "AS (constraint_name, n_checked, n_violations)"))
  }

  /** Referential integrity: child rows whose `childKey` has no match
    * in `parent.parentKey`. NULL child keys are not orphans (pair
    * with an explicit not-null check when the contract demands one) —
    * the anti-join's null-rejecting equi-condition gives exactly that.
    */
  def fkCheck(child: DataFrame, childKey: String, parent: DataFrame,
      parentKey: String, label: String): DataFrame = {
    val orphans = child.select(col(childKey))
      .where(col(childKey).isNotNull)
      .join(parent.select(col(parentKey)),
        col(childKey) === col(parentKey), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
    child.agg(count(lit(1)).as("n_checked"))
      .crossJoin(orphans)
      .select(lit(label).as("constraint_name"), col("n_checked"),
        col("n_violations"))
  }

  /** Benford's-law expected first-digit frequencies, in integer
    * MICRO-units: `round(log10(1 + 1/d) · 1e6)`. Precomputed HERE
    * (once, in Scala) and embedded as literals in BOTH the Spark plan
    * and the oracle SQL — `log10` is a libm transcendental whose last
    * bits differ across engines, so neither side computes it at query
    * time.
    */
  private[graft] val BenfordMicro: Seq[(Int, Long)] =
    (1 to 9).map(d => d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6))

  /** Benford's-law first-digit audit on order totals — the classic
    * forensic data-quality screen: naturally-occurring amounts follow
    * `P(d) = log10(1 + 1/d)`; fabricated, truncated, or
    * unit-mangled data does not. Emits one row per leading digit with
    * observed count, observed and expected frequencies (micro-units),
    * the signed deviation, and the repeated maximum absolute
    * deviation (the audit headline number).
    *
    * Determinism: the leading digit comes from the STRING rendering
    * of `floor(amount)` as BIGINT — no float log/pow chain; expected
    * frequencies are the [[BenfordMicro]] integer literals; observed
    * frequencies quantize to micro-units before the deviation, so
    * every column is an exact BIGINT cross-engine.
    *
    * Scale shape: one row-local digit projection, one 9-ary
    * aggregation (partial, map-side combined), then windows over the
    * ≤9-row frame for the total and the max deviation. One scan, one
    * tiny shuffle.
    */
  def benford(spark: SparkSession, dir: String): DataFrame =
    benford(Tables.orders(spark, dir), "o_totalprice")

  /** DataFrame-first form: audit any positive-amount column.
    * The output is always the FULL nine-digit grid: a digit that never
    * occurs is the strongest possible Benford violation, so it must
    * appear with `observed = 0` and the full expected shortfall — a
    * grid built from observed groups alone would silently hide it.
    * The grid is a 9-row literal frame; joining the aggregated counts
    * onto it broadcasts a ≤9-row side, not a real shuffle.
    */
  def benford(df: DataFrame, amountCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val grid = BenfordMicro.toDF("digit", "exp_micro")
    val digits = df
      .where(col(amountCol) >= 1)
      .select(substring(floor(col(amountCol)).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("observed"))
    val wAll = Window.partitionBy()
    grid.join(digits.hint("broadcast"), Seq("digit"), "left")
      .withColumn("observed", coalesce(col("observed"), lit(0L)))
      .withColumn("total", sum(col("observed")).over(wAll))
      .withColumn("obs_micro",
        round(col("observed").cast("double") * 1e6 / col("total")).cast("long"))
      .withColumn("dev_micro", col("obs_micro") - col("exp_micro"))
      .withColumn("max_abs_dev_micro", max(abs(col("dev_micro"))).over(wAll))
      .select(col("digit"), col("observed"), col("total"), col("obs_micro"),
        col("exp_micro"), col("dev_micro"), col("max_abs_dev_micro"))
      .orderBy(col("digit"))
  }

  val benfordSql: String = {
    val expectedRows = BenfordMicro.map { case (d, m) =>
      s"($d, $m)"
    }.mkString(", ")
    s"""WITH digits AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
      |                     1, 1) AS INT) AS digit,
      |    count(*) AS observed
      |  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
      |exp_tbl(digit, exp_micro) AS (VALUES $expectedRows),
      |m AS (
      |  SELECT CAST(e.digit AS INT) AS digit,
      |    CAST(COALESCE(d.observed, 0) AS BIGINT) AS observed,
      |    CAST(sum(COALESCE(d.observed, 0)) OVER () AS BIGINT) AS total,
      |    CAST(e.exp_micro AS BIGINT) AS exp_micro
      |  FROM exp_tbl e LEFT JOIN digits d ON d.digit = e.digit),
      |q AS (
      |  SELECT digit, observed, total,
      |    CAST(round(CAST(observed AS DOUBLE) * 1e6 / total) AS BIGINT)
      |      AS obs_micro,
      |    exp_micro
      |  FROM m)
      |SELECT digit, observed, total, obs_micro, exp_micro,
      |  obs_micro - exp_micro AS dev_micro,
      |  CAST(max(abs(obs_micro - exp_micro)) OVER () AS BIGINT)
      |    AS max_abs_dev_micro
      |FROM q ORDER BY digit""".stripMargin
  }

  val constraintCheckSql: String =
    """WITH o AS (
      |  SELECT count(*) AS n, count(DISTINCT o_orderkey) AS d,
      |    count(*) FILTER (WHERE o_totalprice <= 0) AS bad_price,
      |    count(*) FILTER (WHERE NOT o_orderstatus IN ('O','F','P')) AS bad_status,
      |    count(*) FILTER (WHERE o_custkey IS NULL) AS null_cust
      |  FROM orders),
      |l AS (
      |  SELECT count(*) AS n,
      |    count(*) FILTER (WHERE NOT l_quantity BETWEEN 1 AND 50) AS bad_qty,
      |    count(*) FILTER (WHERE NOT l_discount BETWEEN 0 AND 0.1) AS bad_disc,
      |    count(*) FILTER (WHERE l_orderkey IS NULL) AS null_ok
      |  FROM lineitem),
      |c AS (
      |  SELECT count(*) AS n, count(DISTINCT c_custkey) AS d,
      |    count(*) FILTER (WHERE c_acctbal IS NULL) AS null_bal
      |  FROM customer),
      |u AS (
      |  SELECT 'orders.o_totalprice positive' AS constraint_name,
      |    n AS n_checked, bad_price AS n_violations FROM o
      |  UNION ALL SELECT 'orders.o_orderstatus in {O,F,P}', n, bad_status FROM o
      |  UNION ALL SELECT 'orders.o_custkey not null', n, null_cust FROM o
      |  UNION ALL SELECT 'orders.o_orderkey unique', n, n - d FROM o
      |  UNION ALL SELECT 'lineitem.l_quantity in [1,50]', n, bad_qty FROM l
      |  UNION ALL SELECT 'lineitem.l_discount in [0,0.1]', n, bad_disc FROM l
      |  UNION ALL SELECT 'lineitem.l_orderkey not null', n, null_ok FROM l
      |  UNION ALL SELECT 'customer.c_acctbal not null', n, null_bal FROM c
      |  UNION ALL SELECT 'customer.c_custkey unique', n, n - d FROM c
      |  UNION ALL SELECT 'orders.o_custkey -> customer.c_custkey',
      |    (SELECT count(*) FROM orders),
      |    (SELECT count(*) FROM orders od WHERE od.o_custkey IS NOT NULL
      |       AND NOT EXISTS (SELECT 1 FROM customer cu
      |                       WHERE cu.c_custkey = od.o_custkey))
      |  UNION ALL SELECT 'lineitem.l_orderkey -> orders.o_orderkey',
      |    (SELECT count(*) FROM lineitem),
      |    (SELECT count(*) FROM lineitem li WHERE li.l_orderkey IS NOT NULL
      |       AND NOT EXISTS (SELECT 1 FROM orders od
      |                       WHERE od.o_orderkey = li.l_orderkey)))
      |SELECT constraint_name, CAST(n_checked AS BIGINT) AS n_checked,
      |  CAST(n_violations AS BIGINT) AS n_violations,
      |  n_violations = 0 AS ok
      |FROM u ORDER BY constraint_name""".stripMargin

  /** Per-segment ordinary least squares of order value (whole dollars)
    * on order width (number of line items) — the exact-moment
    * complement of [[Relational.statsBattery]]'s float-path
    * `regr_slope`: here every moment (n, Σx, Σy, Σx², Σxy, Σy²) is an
    * exact integer sum (order-independent, so partition layout cannot
    * move the result), and only the final closed-form divisions run in
    * doubles — the same IEEE expression tree both engines evaluate on
    * identical inputs, reproducible to round-6.
    *
    * Scale posture: one fact-side aggregation per order (shuffle on
    * the natural join key), one shuffled equi-join to orders, one
    * broadcast-joined dim, then a k-row (|segments|) final aggregate.
    * The squared/cross moments accumulate in DECIMAL(38,0) — y² sums
    * pass 9.2e18 (the BIGINT ceiling) near SF1000, and a silent
    * wraparound would be unforgivable in a statistics operator.
    */
  def linReg(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x"))
    val xy = Tables.orders(spark, dir)
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("x"),
        round(col("o_totalprice")).cast("long").as("y"))
    linReg(xy, "segment", "x", "y")
  }

  /** DataFrame-first form over any (group, x, y) frame with integral
    * x/y columns.
    */
  def linReg(df: DataFrame, groupCol: String, xCol: String,
             yCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val x = col(xCol).cast("long"); val y = col(yCol).cast("long")
    val xd = x.cast(DecimalType(20, 0)); val yd = y.cast(DecimalType(20, 0))
    val m = df.groupBy(col(groupCol).as("segment")).agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(xd * xd).as("sxx"), sum(xd * yd).as("sxy"), sum(yd * yd).as("syy"))
    def d(name: String) = col(name).cast("double")
    // the three classical cross-moments; every engine-visible double
    // op below mirrors the oracle SQL's expression tree exactly
    val num = d("n") * d("sxy") - d("sx") * d("sy")
    val denx = d("n") * d("sxx") - d("sx") * d("sx")
    val deny = d("n") * d("syy") - d("sy") * d("sy")
    val slope = num / denx
    m.select(col("segment"), col("n").as("n_orders"),
        when(denx === 0d, lit(null)).otherwise(round(slope, 6)).as("slope"),
        when(denx === 0d, lit(null))
          .otherwise(round((d("sy") - slope * d("sx")) / d("n"), 2)).as("intercept"),
        when(denx === 0d || deny === 0d, lit(null))
          .otherwise(round(num * num / (denx * deny), 6)).as("r2"))
      .orderBy(col("segment"))
  }

  /** Log-log price elasticity of demand per brand: the OLS slope of
    * `ln(quantity)` on `ln(unit price)` — the economist's standard
    * constant-elasticity estimate (slope −2 ⇒ a 1% price rise cuts
    * demand 2%). Both logs quantize to integer MICRO-LNS per row, so
    * the whole fit rides [[linReg]]'s exact integer moments and the
    * elasticity is scale-free (the 10⁶ factors cancel in the slope).
    * One broadcast dim join + one keyed aggregation.
    */
  def priceElasticity(spark: SparkSession, dir: String): DataFrame = {
    val xy = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        round(log(col("l_extendedprice") / col("l_quantity")) * 1e6)
          .cast("long").as("x"),
        round(log(col("l_quantity")) * 1e6).cast("long").as("y"))
    linReg(xy, "brand", "x", "y")
      .select(col("segment").as("brand"), col("n_orders").as("n_lines"),
        col("slope").as("elasticity"), col("r2"))
      .orderBy(col("brand"))
  }

  val priceElasticitySql: String =
    """WITH xy AS (
      |  SELECT p_brand AS brand,
      |    CAST(round(ln(l_extendedprice / l_quantity) * 1e6) AS BIGINT) AS x,
      |    CAST(round(ln(l_quantity) * 1e6) AS BIGINT) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_quantity > 0 AND l_extendedprice > 0),
      |m AS (
      |  SELECT brand, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM xy GROUP BY brand)
      |SELECT brand, CAST(n AS BIGINT) AS n_lines,
      |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN NULL
      |    ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
      |  END AS elasticity,
      |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
      |    OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0 THEN NULL
      |    ELSE round(
      |      (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |  END AS r2
      |FROM m ORDER BY brand""".stripMargin

  val linRegSql: String =
    """WITH po AS (
      |  SELECT l_orderkey, count(*) AS x FROM lineitem GROUP BY 1),
      |xy AS (
      |  SELECT c_mktsegment AS segment, po.x AS x,
      |         CAST(round(o_totalprice) AS BIGINT) AS y
      |  FROM orders JOIN po ON o_orderkey = l_orderkey
      |  JOIN customer ON o_custkey = c_custkey),
      |m AS (
      |  SELECT segment, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      |  FROM xy GROUP BY segment),
      |d AS (
      |  SELECT segment, n,
      |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
      |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
      |    CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
      |  FROM m)
      |SELECT segment, CAST(n AS BIGINT) AS n_orders,
      |  CASE WHEN nd * sxxd - sxd * sxd = 0 THEN NULL
      |       ELSE round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6)
      |  END AS slope,
      |  CASE WHEN nd * sxxd - sxd * sxd = 0 THEN NULL
      |       ELSE round((syd - (nd * sxyd - sxd * syd)
      |                         / (nd * sxxd - sxd * sxd) * sxd) / nd, 2)
      |  END AS intercept,
      |  CASE WHEN nd * sxxd - sxd * sxd = 0 OR nd * syyd - syd * syd = 0
      |       THEN NULL
      |       ELSE round((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
      |                  / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6)
      |  END AS r2
      |FROM d ORDER BY segment""".stripMargin

  /** Welch's unequal-variance two-sample t-test between every pair of
    * event types on the event `value` column — the parametric sibling
    * of [[Mixing.mannWhitney]]. Values are quantized ONCE to exact
    * milli-units (round(value·1000) as BIGINT) so all moments are
    * order-independent integer sums; t, the Welch–Satterthwaite df and
    * the means then come from one fixed double expression tree over
    * those exact sums, identical in both engines.
    *
    * Scale posture: one corpus-sized keyed aggregation (k = |event
    * types| rows out), then a k² pair expansion of a k-row broadcast
    * frame — the quadratic blowup is over GROUP STATS, never rows.
    * Σv² accumulates in DECIMAL(38,0) (same rationale as [[linReg]]).
    */
  def welchTTest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_type"),
      round(col("value") * 1000).cast("long").as("vm"))
    welchTTest(e, "event_type", "vm")
  }

  /** DataFrame-first form over any (group, integral value) frame. */
  def welchTTest(df: DataFrame, keyCol: String, vCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val v = col(vCol).cast("long")
    val vd = v.cast(DecimalType(20, 0))
    val stats = df.groupBy(col(keyCol).as("t")).agg(
        count(lit(1)).as("n"), sum(v).as("s"), sum(vd * vd).as("ss"))
      // a 1-row group has no sample variance: (n-1)=0 would put an
      // engine-dependent inf/nan in the t — exclude it, documented
      .filter(col("n") >= 2)
    def side(sfx: String) = stats.select(
      col("t").as(s"type_$sfx"), col("n").as(s"n_$sfx"),
      col("s").as(s"s_$sfx"), col("ss").as(s"ss_$sfx"))
    def d(name: String) = col(name).cast("double")
    val pairs = side("a").join(broadcast(side("b")),
      col("type_a") < col("type_b"))
    // staged selects mirror the oracle's staged CTEs: identical
    // double expression trees → identical bits
    pairs
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        (d("s_a") / d("n_a")).as("ma"), (d("s_b") / d("n_b")).as("mb"),
        ((d("ss_a") - d("s_a") * d("s_a") / d("n_a")) / (d("n_a") - lit(1.0)))
          .as("va"),
        ((d("ss_b") - d("s_b") * d("s_b") / d("n_b")) / (d("n_b") - lit(1.0)))
          .as("vb"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("ma"), col("mb"),
        (col("va") / d("n_a")).as("sea"), (col("vb") / d("n_b")).as("seb"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        round(col("ma") / 1000.0, 4).as("mean_a"),
        round(col("mb") / 1000.0, 4).as("mean_b"),
        // both-samples-constant → 0 standard error: Spark's double
        // division would give ±Infinity/NaN where DuckDB gives NULL —
        // make the degenerate case NULL in BOTH engines
        when(col("sea") + col("seb") === 0d, lit(null))
          .otherwise(
            round((col("ma") - col("mb")) / sqrt(col("sea") + col("seb")), 4))
          .as("t_stat"),
        when(col("sea") + col("seb") === 0d, lit(null))
          .otherwise(
            round((col("sea") + col("seb")) * (col("sea") + col("seb")) /
              (col("sea") * col("sea") / (d("n_a") - lit(1.0)) +
               col("seb") * col("seb") / (d("n_b") - lit(1.0))), 2))
          .as("df"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val welchTTestSql: String =
    """WITH q AS (
      |  SELECT event_type AS t, CAST(round(value * 1000) AS BIGINT) AS vm
      |  FROM events),
      |m AS (
      |  SELECT t, count(*) AS n, sum(vm) AS s, sum(vm * vm) AS ss
      |  FROM q GROUP BY t HAVING count(*) >= 2),
      |p AS (
      |  SELECT a.t AS type_a, b.t AS type_b, a.n AS n_a, b.n AS n_b,
      |    CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE) AS ma,
      |    CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS mb,
      |    (CAST(a.ss AS DOUBLE)
      |       - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE))
      |      / (CAST(a.n AS DOUBLE) - 1.0) AS va,
      |    (CAST(b.ss AS DOUBLE)
      |       - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
      |      / (CAST(b.n AS DOUBLE) - 1.0) AS vb
      |  FROM m a JOIN m b ON a.t < b.t),
      |se AS (
      |  SELECT type_a, type_b, n_a, n_b, ma, mb,
      |    va / CAST(n_a AS DOUBLE) AS sea, vb / CAST(n_b AS DOUBLE) AS seb
      |  FROM p)
      |SELECT type_a, type_b, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b,
      |  round(ma / 1000.0, 4) AS mean_a, round(mb / 1000.0, 4) AS mean_b,
      |  CASE WHEN sea + seb = 0 THEN NULL
      |       ELSE round((ma - mb) / sqrt(sea + seb), 4) END AS t_stat,
      |  CASE WHEN sea + seb = 0 THEN NULL
      |       ELSE round((sea + seb) * (sea + seb)
      |        / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0)
      |           + seb * seb / (CAST(n_b AS DOUBLE) - 1.0)), 2) END AS df
      |FROM se ORDER BY type_a, type_b""".stripMargin

  /** Right-censoring horizon for [[kaplanMeier]]: a customer whose last
    * order falls within this many days of the dataset's end may still
    * be active — censored, not churned.
    */
  val ChurnCensorDays = 90

  /** Kaplan–Meier survival curve of customer lifetime (days between
    * first and last order), right-censored at [[ChurnCensorDays]]
    * before the dataset end — churn analysis as the product-limit
    * estimator, in EXACT integers: the survival product
    * S_i = ⌊S_{i−1}·(n_i−d_i)/n_i⌋ runs at micro-unit scale through
    * the same row-local fold discipline as [[Analytics.holtForecast]]
    * (truncating division, which Spark `DIV` and DuckDB `//` agree
    * on), so every curve point hash-matches the oracle's recursive
    * CTE. Risk sets come from one descending cumulative sum over the
    * |distinct-durations|-bounded grid — the "window above the
    * aggregate" pattern, never over customers.
    *
    * Scale posture: one keyed aggregate over orders (the only
    * corpus-sized shuffle), a 1-row max broadcast, then everything
    * runs on the bounded duration grid.
    */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame =
    kaplanMeier(Tables.orders(spark, dir), "o_custkey", "o_orderdate",
      ChurnCensorDays)

  /** The churn risk-set grid shared by [[kaplanMeier]] and
    * [[nelsonAalen]]: per subject lifetime (first→last event days,
    * right-censored `censorDays` before dataset end), then per
    * distinct duration the at-risk count (descending cumulative sum
    * over the BOUNDED duration grid — the one place an unpartitioned
    * window is correct here) and the event count. Returns
    * (t, n_risk, d_t) for event durations only.
    */
  private def churnRiskGrid(events: DataFrame, subjCol: String,
                            dateCol: String, censorDays: Int): DataFrame = {
    val per = events.groupBy(col(subjCol).as("k"))
      .agg(min(col(dateCol).cast("date")).as("f"),
        max(col(dateCol).cast("date")).as("l"))
    val mx = per.agg(max(col("l")).as("m"))
    val pc = per.crossJoin(broadcast(mx))
      .select(datediff(col("l"), col("f")).cast("long").as("t"),
        (col("l") <= date_sub(col("m"), censorDays)).cast("long").as("ev"))
    val grid = pc.groupBy(col("t"))
      .agg(count(lit(1)).as("m_t"), sum(col("ev")).as("d_t"))
    val riskW = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("n_risk", sum(col("m_t")).over(riskW))
      .filter(col("d_t") > 0)
      .select(col("t"), col("n_risk"), col("d_t"))
  }

  /** DataFrame-first form over any (subject, event date) frame. */
  def kaplanMeier(events: DataFrame, subjCol: String, dateCol: String,
                  censorDays: Int): DataFrame = {
    val ev = churnRiskGrid(events, subjCol, dateCol, censorDays)
    val fold =
      """aggregate(a,
        |  named_struct('s', CAST(1000000 AS BIGINT),
        |               'out', CAST(array() AS ARRAY<BIGINT>)),
        |  (acc, x) -> named_struct(
        |    's', (acc.s * (x.n_risk - x.d_t)) DIV x.n_risk,
        |    'out', concat(acc.out,
        |                  array((acc.s * (x.n_risk - x.d_t)) DIV x.n_risk))))
        |""".stripMargin
    ev.agg(sort_array(collect_list(struct(col("t"), col("n_risk"),
        col("d_t")))).as("a"))
      .select(col("a"), expr(fold).as("st"))
      .select(posexplode(col("a")), col("st.out").as("out"))
      .select(col("col.t").as("t_days"), col("col.n_risk").as("n_risk"),
        col("col.d_t").as("n_event"),
        expr("element_at(out, pos + 1)").as("surv_micro"))
      .orderBy(col("t_days"))
  }

  /** DuckDB twin of [[kaplanMeier]] — descending cumulative risk sets
    * plus the product-limit recursion, all-integer.
    */
  val kaplanMeierSql: String =
    s"""WITH RECURSIVE per AS (
       |  SELECT o_custkey, CAST(min(o_orderdate) AS DATE) AS f,
       |         CAST(max(o_orderdate) AS DATE) AS l
       |  FROM orders GROUP BY 1),
       |mx AS (SELECT max(l) AS m FROM per),
       |pc AS (
       |  SELECT CAST(l - f AS BIGINT) AS t,
       |         CASE WHEN l <= (SELECT m FROM mx) - $ChurnCensorDays
       |              THEN 1 ELSE 0 END AS ev
       |  FROM per),
       |grid AS (
       |  SELECT t, count(*) AS m_t, CAST(sum(ev) AS BIGINT) AS d_t
       |  FROM pc GROUP BY t),
       |g2 AS (
       |  SELECT t, d_t,
       |    CAST(sum(m_t) OVER (ORDER BY t DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_risk
       |  FROM grid),
       |ev AS (
       |  SELECT t, d_t, n_risk, row_number() OVER (ORDER BY t) AS i
       |  FROM g2 WHERE d_t > 0),
       |km AS (
       |  SELECT i, t, d_t, n_risk,
       |         CAST(1000000 * (n_risk - d_t) // n_risk AS BIGINT) AS s
       |  FROM ev WHERE i = 1
       |  UNION ALL
       |  SELECT e.i, e.t, e.d_t, e.n_risk,
       |         CAST(km.s * (e.n_risk - e.d_t) // e.n_risk AS BIGINT)
       |  FROM km JOIN ev e ON e.i = km.i + 1
       |)
       |SELECT t AS t_days, n_risk, d_t AS n_event, s AS surv_micro
       |FROM km ORDER BY t_days""".stripMargin

  /** Nelson–Aalen cumulative hazard over the same churn risk grid as
    * [[kaplanMeier]] — the additive estimator Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ
    * (Nelson 1972, Aalen 1978): where the product-limit curve answers
    * "what fraction survives past t", the cumulative hazard reads as
    * accumulated churn EXPOSURE and is the quantity hazard-ratio
    * models difference. Each step is quantized ONCE
    * (`d·1e6 DIV n_risk`, truncating — the engines' shared division)
    * and the cumulative sum of exact BIGINT steps needs no recursion
    * at all, so unlike [[kaplanMeier]]'s fold the oracle is a plain
    * window. Emits (t_days, n_risk, n_event, hazard_step_micro,
    * cum_hazard_micro) per event duration.
    *
    * Scale posture: identical to [[kaplanMeier]] — one subject
    * aggregate, bounded duration grid, bounded windows.
    */
  def nelsonAalen(spark: SparkSession, dir: String): DataFrame =
    nelsonAalen(Tables.orders(spark, dir), "o_custkey", "o_orderdate",
      ChurnCensorDays)

  /** DataFrame-first form over any (subject, event date) frame. */
  def nelsonAalen(events: DataFrame, subjCol: String, dateCol: String,
                  censorDays: Int): DataFrame = {
    val cumW = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    churnRiskGrid(events, subjCol, dateCol, censorDays)
      .withColumn("h", expr("d_t * 1000000 DIV n_risk"))
      .withColumn("cum_hazard_micro", sum(col("h")).over(cumW))
      .select(col("t").as("t_days"), col("n_risk"), col("d_t").as("n_event"),
        col("h").as("hazard_step_micro"), col("cum_hazard_micro"))
      .orderBy(col("t_days"))
  }

  /** DuckDB twin of [[nelsonAalen]] — same grid CTEs, plain cumulative
    * window over the quantized steps.
    */
  val nelsonAalenSql: String =
    s"""WITH per AS (
       |  SELECT o_custkey, CAST(min(o_orderdate) AS DATE) AS f,
       |         CAST(max(o_orderdate) AS DATE) AS l
       |  FROM orders GROUP BY 1),
       |mx AS (SELECT max(l) AS m FROM per),
       |pc AS (
       |  SELECT CAST(l - f AS BIGINT) AS t,
       |         CASE WHEN l <= (SELECT m FROM mx) - $ChurnCensorDays
       |              THEN 1 ELSE 0 END AS ev
       |  FROM per),
       |grid AS (
       |  SELECT t, count(*) AS m_t, CAST(sum(ev) AS BIGINT) AS d_t
       |  FROM pc GROUP BY t),
       |g2 AS (
       |  SELECT t, d_t,
       |    CAST(sum(m_t) OVER (ORDER BY t DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_risk
       |  FROM grid),
       |ev AS (
       |  SELECT t, d_t, n_risk, d_t * 1000000 // n_risk AS h
       |  FROM g2 WHERE d_t > 0)
       |SELECT t AS t_days, n_risk, d_t AS n_event,
       |  CAST(h AS BIGINT) AS hazard_step_micro,
       |  CAST(sum(h) OVER (ORDER BY t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_hazard_micro
       |FROM ev ORDER BY t_days""".stripMargin

  /** Log-rank test (Mantel 1966) — "do these two cohorts churn at the
    * same rate?", the inferential sibling of [[kaplanMeier]]'s
    * descriptive curve: at every event duration the observed group-A
    * events are compared against the hypergeometric expectation given
    * the pooled risk set, and the standardized sum is the one-degree
    * chi-square clinicians and retention analysts read. Here: customer
    * lifetime (first→last order days, right-censored [[ChurnCensorDays]]
    * before dataset end) for the AUTOMOBILE segment vs everyone else.
    *
    * Exactness: per event time t with pooled risk n, group-A risk n_a
    * and pooled events d, the expectation term E_t = d·n_a/n and
    * variance term V_t = d·n_a·n_b·(n−d)/(n²(n−1)) are each quantized
    * to integer micro-units by ONE truncating DIV on DECIMAL(38,0)
    * BEFORE the cross-time sum (order-free integer addition — the
    * engine's cross-engine determinism rule); group B's expectation is
    * the exact complement d·1e6 − E_t^A. The z / chi-square tail is ONE
    * shared double expression. d·n_a·n_b·(n−d)·1e6 ≤ n⁴·1e6 bounds the
    * DECIMAL(38,0) intermediate to n ≲ 1.8e8 subjects — past that,
    * coarsen durations (the [[Ranks.kruskalWallis]] quantized-measure
    * degradation).
    *
    * Scale posture: one keyed subject aggregate (the only corpus-sized
    * shuffle), a 1-row max broadcast, then everything runs on the
    * bounded duration×2 grid — the per-group descending risk cumsum is
    * a window PARTITIONED BY group over that bounded grid, never over
    * subjects.
    */
  def logRank(spark: SparkSession, dir: String): DataFrame =
    logRank(SegOrders(spark, dir)
        .select(col("o_custkey"), col("o_orderdate"),
          when(col("g") === "AUTOMOBILE", lit("AUTOMOBILE"))
            .otherwise(lit("OTHER")).as("grp")),
      "o_custkey", "o_orderdate", "grp", ChurnCensorDays)

  /** DataFrame-first form over any (subject, event date, group) frame;
    * `grpCol` must be constant per subject and binary-valued — the
    * lexicographically smaller group plays "A" in the z sign.
    */
  def logRank(events: DataFrame, subjCol: String, dateCol: String,
              grpCol: String, censorDays: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val per = events.groupBy(col(subjCol).as("k"), col(grpCol).as("grp"))
      .agg(min(col(dateCol).cast("date")).as("f"),
        max(col(dateCol).cast("date")).as("l"))
    val mx = per.agg(max(col("l")).as("m"))
    val pc = per.crossJoin(broadcast(mx))
      .select(col("grp"), datediff(col("l"), col("f")).cast("long").as("t"),
        (col("l") <= date_sub(col("m"), censorDays)).cast("long").as("ev"))
    val cell = pc.groupBy(col("t"), col("grp"))
      .agg(count(lit(1)).as("m_t"), sum(col("ev")).as("d_t"))
    // fill the duration×group grid so each group's descending risk
    // cumsum sees every pooled duration (both frames are bounded:
    // |distinct durations| × 2)
    val grid = cell.select(col("t")).distinct()
      .crossJoin(broadcast(cell.select(col("grp")).distinct()))
      .join(cell, Seq("t", "grp"), "left")
      .na.fill(0L, Seq("m_t", "d_t"))
    val riskW = Window.partitionBy(col("grp")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ga = grid.agg(min(col("grp")).as("ga"))
    val byT = grid.withColumn("n_risk", sum(col("m_t")).over(riskW))
      .crossJoin(broadcast(ga))
      .groupBy(col("t"))
      .agg(sum(when(col("grp") === col("ga"), col("n_risk"))).as("na"),
        sum(when(col("grp") === col("ga"), col("d_t"))).as("da"),
        sum(when(col("grp") =!= col("ga"), col("n_risk"))).as("nb"),
        sum(when(col("grp") =!= col("ga"), col("d_t"))).as("db"))
      .withColumn("n", col("na") + col("nb"))
      .withColumn("d", col("da") + col("db"))
      .filter(col("d") > 0)
    val tot = byT
      .withColumn("e_a", expr(
        "CAST(CAST(d AS DECIMAL(38,0)) * na * 1000000 DIV n AS DECIMAL(38,0))"))
      .withColumn("v_t", when(col("n") > 1, expr(
        "CAST(CAST(d AS DECIMAL(38,0)) * na * nb * (n - d) * 1000000" +
          " DIV (CAST(n AS DECIMAL(38,0)) * n * (n - 1)) AS DECIMAL(38,0))"))
        .otherwise(dec(lit(0))))
      .agg(sum(col("da")).as("o_a"), sum(col("db")).as("o_b"),
        sum(col("e_a")).as("ea_micro"),
        sum(dec(col("d")) * 1000000 - col("e_a")).as("eb_micro"),
        sum(col("v_t")).as("v_micro"))
    val perGrp = pc.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_subj"), sum(col("ev")).as("o_events"))
    perGrp.crossJoin(broadcast(tot.crossJoin(broadcast(ga))))
      .select(col("grp"), col("n_subj"), col("o_events"),
        when(col("grp") === col("ga"), col("ea_micro"))
          .otherwise(col("eb_micro")).cast("long").as("e_micro"),
        col("v_micro").cast("long").as("v_micro"),
        when(col("v_micro") <= 0, lit(null)).otherwise(round(
          (col("o_a").cast("double") * 1e6 - col("ea_micro").cast("double"))
            / (sqrt(col("v_micro").cast("double")) * 1e3), 4)).as("z"),
        when(col("v_micro") <= 0, lit(null)).otherwise(round(
          pow((col("o_a").cast("double") * 1e6 - col("ea_micro").cast("double"))
            / (sqrt(col("v_micro").cast("double")) * 1e3), 2), 4)).as("chi2"))
      .orderBy(col("grp"))
  }

  /** DuckDB twin of [[logRank]] — same grid fill, per-group descending
    * risk windows, HUGEINT term quantization, one shared double tail.
    */
  val logRankSql: String =
    s"""WITH per AS (
       |  SELECT o_custkey,
       |    CASE WHEN any_value(c_mktsegment) = 'AUTOMOBILE'
       |         THEN 'AUTOMOBILE' ELSE 'OTHER' END AS grp,
       |    CAST(min(o_orderdate) AS DATE) AS f,
       |    CAST(max(o_orderdate) AS DATE) AS l
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY o_custkey),
       |mx AS (SELECT max(l) AS m FROM per),
       |pc AS (
       |  SELECT grp, CAST(l - f AS BIGINT) AS t,
       |    CASE WHEN l <= (SELECT m FROM mx) - $ChurnCensorDays
       |         THEN 1 ELSE 0 END AS ev
       |  FROM per),
       |cell AS (
       |  SELECT t, grp, count(*) AS m_t, CAST(sum(ev) AS BIGINT) AS d_t
       |  FROM pc GROUP BY t, grp),
       |grid AS (
       |  SELECT tt.t, gg.grp, coalesce(cell.m_t, 0) AS m_t,
       |    coalesce(cell.d_t, 0) AS d_t
       |  FROM (SELECT DISTINCT t FROM cell) tt
       |  CROSS JOIN (SELECT DISTINCT grp FROM cell) gg
       |  LEFT JOIN cell ON cell.t = tt.t AND cell.grp = gg.grp),
       |ga AS (SELECT min(grp) AS ga FROM grid),
       |r AS (
       |  SELECT t, grp, d_t,
       |    CAST(sum(m_t) OVER (PARTITION BY grp ORDER BY t DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_risk
       |  FROM grid),
       |byt AS (
       |  SELECT t,
       |    sum(CASE WHEN grp = (SELECT ga FROM ga) THEN n_risk END) AS na,
       |    sum(CASE WHEN grp = (SELECT ga FROM ga) THEN d_t END) AS da,
       |    sum(CASE WHEN grp <> (SELECT ga FROM ga) THEN n_risk END) AS nb,
       |    sum(CASE WHEN grp <> (SELECT ga FROM ga) THEN d_t END) AS db
       |  FROM r GROUP BY t),
       |terms AS (
       |  SELECT da, db,
       |    (CAST(da + db AS HUGEINT) * na * 1000000) // (na + nb) AS e_a,
       |    CASE WHEN na + nb > 1 THEN
       |      (CAST(da + db AS HUGEINT) * na * nb * (na + nb - da - db)
       |        * 1000000)
       |      // (CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb - 1))
       |    ELSE 0 END AS v_t
       |  FROM byt WHERE da + db > 0),
       |tot AS (
       |  SELECT CAST(sum(da) AS BIGINT) AS o_a,
       |    sum(CAST(e_a AS HUGEINT)) AS ea_micro,
       |    sum(CAST(da + db AS HUGEINT) * 1000000 - e_a) AS eb_micro,
       |    CAST(sum(v_t) AS BIGINT) AS v_micro
       |  FROM terms),
       |pg AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n_subj,
       |    CAST(sum(ev) AS BIGINT) AS o_events
       |  FROM pc GROUP BY grp)
       |SELECT grp, n_subj, o_events,
       |  CAST(CASE WHEN grp = (SELECT ga FROM ga) THEN ea_micro
       |       ELSE eb_micro END AS BIGINT) AS e_micro,
       |  v_micro,
       |  CASE WHEN v_micro <= 0 THEN NULL ELSE
       |    round((CAST(o_a AS DOUBLE) * 1e6 - CAST(ea_micro AS DOUBLE))
       |      / (sqrt(CAST(v_micro AS DOUBLE)) * 1e3), 4) END AS z,
       |  CASE WHEN v_micro <= 0 THEN NULL ELSE
       |    round(pow((CAST(o_a AS DOUBLE) * 1e6 - CAST(ea_micro AS DOUBLE))
       |      / (sqrt(CAST(v_micro AS DOUBLE)) * 1e3), 2), 4) END AS chi2
       |FROM pg CROSS JOIN tot
       |ORDER BY grp""".stripMargin

  /** SPRT hypothesis pair for [[sprt]]: daily purchase share p₀ = 0.15
    * (null) vs p₁ = 0.20 (alternative), α = β = 0.05. The per-event
    * log-likelihood-ratio increments and Wald boundaries are
    * micro-nat LITERALS (ln(p₁/p₀), ln((1−p₁)/(1−p₀)), ±ln(19)) so
    * the whole path is exact integer arithmetic in both engines.
    */
  val SprtHitMicro = 287682L   // round(ln(0.20/0.15)·1e6)
  val SprtMissMicro = -60625L  // round(ln(0.80/0.85)·1e6)
  val SprtBoundMicro = 2944439L // round(ln((1−β)/α)·1e6) = ln 19

  /** Wald's sequential probability ratio test (1945) — the sequential
    * monitor that says WHEN the data suffice to stop: each day's
    * purchase/non-purchase counts add exact micro-nat log-likelihood
    * increments for "purchase share is p₁" against "it is p₀", and
    * the first crossing of the ±ln((1−β)/α) boundaries is the
    * earliest defensible decision day. The sequential sibling of
    * [[Evaluation.cuped]] (fixed-horizon experiment readout) and
    * [[cusum]] (change DETECTION — SPRT decides between two a-priori
    * hypotheses instead). Emits the full daily trajectory plus the
    * decision so the caller audits the path, not just the verdict.
    *
    * Exactness: increments and boundaries are shared literals; the
    * path is a cumulative BIGINT sum over the bounded day grid; the
    * decision day is min(day crossed), its verdict re-read by one
    * equality join — no floats anywhere.
    *
    * Scale posture: one day-keyed aggregate over events (the corpus
    * shuffle), then everything on the |days| grid — the cumsum window
    * is bounded, decisions are 1-row broadcasts.
    */
  def sprt(spark: SparkSession, dir: String): DataFrame =
    sprt(Tables.events(spark, dir).select(
      col("ts").cast("date").as("day"),
      (col("event_type") === "purchase").as("hit")), "day", "hit")

  /** DataFrame-first form over any (day, boolean hit) frame. */
  def sprt(df: DataFrame, dayCol: String, hitCol: String): DataFrame = {
    val g = df.select(col(dayCol).as("day"), col(hitCol).cast("boolean").as("h"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), count_if(col("h")).as("x"))
      .withColumn("llr_step_micro",
        col("x") * SprtHitMicro + (col("n") - col("x")) * SprtMissMicro)
    val cumW = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val path = g.withColumn("llr_cum_micro",
        sum(col("llr_step_micro")).over(cumW))
      .withColumn("state",
        when(col("llr_cum_micro") >= SprtBoundMicro, lit("accept_h1"))
          .when(col("llr_cum_micro") <= -SprtBoundMicro, lit("accept_h0"))
          .otherwise(lit("continue")))
    val d1 = path.agg(min(when(col("state") =!= "continue", col("day")))
      .as("decision_day"))
    val p2 = path.crossJoin(broadcast(d1))
    val d2 = p2.agg(coalesce(max(when(col("day") === col("decision_day"),
      col("state"))), lit("continue")).as("decision"))
    p2.crossJoin(broadcast(d2))
      .select(col("day"), col("n"), col("x"), col("llr_step_micro"),
        col("llr_cum_micro"), col("state"), col("decision_day"),
        col("decision"))
      .orderBy(col("day"))
  }

  /** DuckDB twin of [[sprt]] — same literal increments, plain cumsum
    * window, scalar-subquery decision.
    */
  val sprtSql: String =
    s"""WITH g AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
       |    CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
       |      AS x
       |  FROM events GROUP BY 1),
       |s AS (
       |  SELECT day, n, x,
       |    x * $SprtHitMicro + (n - x) * ($SprtMissMicro) AS llr_step_micro
       |  FROM g),
       |p AS (
       |  SELECT day, n, x, llr_step_micro,
       |    CAST(sum(llr_step_micro) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS llr_cum_micro
       |  FROM s),
       |st AS (
       |  SELECT *, CASE WHEN llr_cum_micro >= $SprtBoundMicro
       |      THEN 'accept_h1'
       |    WHEN llr_cum_micro <= -$SprtBoundMicro THEN 'accept_h0'
       |    ELSE 'continue' END AS state
       |  FROM p),
       |dd AS (
       |  SELECT min(day) FILTER (WHERE state <> 'continue') AS decision_day
       |  FROM st),
       |dc AS (
       |  SELECT coalesce(max(state) FILTER (WHERE day =
       |    (SELECT decision_day FROM dd)), 'continue') AS decision
       |  FROM st)
       |SELECT day, n, x, CAST(llr_step_micro AS BIGINT) AS llr_step_micro,
       |  llr_cum_micro, state, decision_day, decision
       |FROM st CROSS JOIN dd CROSS JOIN dc
       |ORDER BY day""".stripMargin

  /** Per-segment monthly series (segment, xi = months-since-epoch
    * index, n_orders, revenue cents) — the bounded frame behind
    * [[theilSen]] and [[kendallTau]]: one corpus-sized keyed month
    * aggregate (the [[Analytics.holtForecast]] shape) + one broadcast
    * dim join; ~|months|·|segments| rows out, so every pairwise
    * derivation downstream is row-bounded no matter the SF.
    */
  private def segmentMonthly(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("segment"),
        date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("c"))
      .select(col("segment"),
        (year(col("m")) * 12 + month(col("m"))).cast("long").as("xi"),
        col("n_orders"), col("c"))

  /** The shared monthly-series CTE for the two oracles below. */
  private val segmentMonthlySql: String =
    """mo AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(year(date_trunc('month', o_orderdate)) * 12
      |         + month(date_trunc('month', o_orderdate)) AS BIGINT) AS xi,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2)""".stripMargin

  /** Theil–Sen robust trend: the median of all pairwise slopes of
    * monthly revenue (cents) against calendar month index, per market
    * segment (Theil 1950, Sen 1968) — the estimator a single crazy
    * month cannot move, where [[linReg]]'s least-squares slope chases
    * the outlier. Gap months need no fill: every pairwise slope uses
    * the true calendar Δx.
    *
    * Determinism: each slope is quantized ONCE to integer micro-cents
    * per month, `(1e6·Δy) DIV Δx` with Δx &gt; 0 — truncation toward
    * zero, the division form Spark's `DIV` and DuckDB's `//` already
    * agree on (the [[Analytics.holtForecast]] verification). The
    * median runs on DOUBLED integers so the even-count midpoint is
    * exact in both engines ([[madOutliers]] discipline).
    *
    * Scale posture: the only corpus-sized work is the monthly
    * aggregate; the pair expansion is a self-join of the bounded
    * |months|·|segments| frame (≈3k pairs per segment at 80 months —
    * broadcast, never a fact self-join), and the median is an exact
    * percentile over those bounded groups.
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame =
    theilSen(segmentMonthly(spark, dir), "segment", "xi", "c")

  /** DataFrame-first form over a BOUNDED (group, x, y) series frame
    * with integral columns — callers own the boundedness contract
    * (the pair expansion is quadratic in the per-group series
    * length).
    */
  def theilSen(series: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    val s = series.select(col(groupCol).as("g"), col(xCol).cast("long").as("x"),
      col(yCol).cast("long").as("y"))
    val pairs = s.as("a")
      .join(broadcast(s.as("b")),
        col("a.g") === col("b.g") && col("a.x") < col("b.x"))
      .select(col("a.g").as("g"),
        expr("(1000000 * (b.y - a.y)) DIV (b.x - a.x)").as("sl"))
    val n = s.groupBy(col("g")).agg(count(lit(1)).as("n_months"))
    pairs.groupBy(col("g"))
      .agg(count(lit(1)).as("n_pairs"),
        percentile(col("sl") * 2L, lit(0.5)).cast("long").as("med2"))
      .join(n, Seq("g"))
      .select(col("g").as("segment"), col("n_months"), col("n_pairs"),
        col("med2").as("slope_micro2"),
        round(col("med2").cast("double") / 2e6, 4).as("slope_cents_per_month"))
      .orderBy(col("segment"))
  }

  /** Partial correlation of order price and line count CONTROLLING for
    * total ordered quantity, per market segment — the "is the raw
    * correlation just the confounder?" diagnostic: ρ(x,y|z) =
    * (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)). Price correlates with
    * item count mostly BECAUSE both ride total quantity; the partial
    * coefficient is what's left once z is held fixed.
    *
    * Determinism: one corpus aggregate accumulates all ten moments in
    * DECIMAL(38,0) ([[linReg]]'s exact-moment discipline — x² sums
    * pass the BIGINT ceiling near SF1000); the three pairwise r's and
    * the partial tail are ONE fixed IEEE expression tree both engines
    * evaluate on identical integers. NULL when any margin is
    * degenerate or a control correlation is ±1 (the partial is
    * undefined, not infinite).
    *
    * Scale posture: one per-order lineitem aggregate (count + quantity
    * in the same pass), one orders equi-join, one broadcast dim, one
    * k-row moment fold. Nothing else.
    */
  def partialCorr(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("y"),
        sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("z"))
    val rows = Tables.orders(spark, dir)
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"),
        col("y"), col("z"))
    partialCorr(rows, "segment", "x", "y", "z")
  }

  /** DataFrame-first form over any (group, x, y, z) integral frame. */
  def partialCorr(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String, zCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val (x, y, z) = (col(xCol).cast("long"), col(yCol).cast("long"),
      col(zCol).cast("long"))
    val m = df.groupBy(col(groupCol).as("segment")).agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"), sum(z).as("sz"),
      sum(dec(x) * dec(x)).as("sxx"), sum(dec(y) * dec(y)).as("syy"),
      sum(dec(z) * dec(z)).as("szz"), sum(dec(x) * dec(y)).as("sxy"),
      sum(dec(x) * dec(z)).as("sxz"), sum(dec(y) * dec(z)).as("syz"))
    def d(name: String) = col(name).cast("double")
    def cov(sab: String, sa: String, sb: String) =
      d("n") * d(sab) - d(sa) * d(sb)
    val (vx, vy, vz) = (cov("sxx", "sx", "sx"), cov("syy", "sy", "sy"),
      cov("szz", "sz", "sz"))
    val rxy = cov("sxy", "sx", "sy") / sqrt(vx * vy)
    val rxz = cov("sxz", "sx", "sz") / sqrt(vx * vz)
    val ryz = cov("syz", "sy", "sz") / sqrt(vy * vz)
    val denom = (lit(1d) - rxz * rxz) * (lit(1d) - ryz * ryz)
    m.select(col("segment"), col("n").as("n_orders"),
        when(vx <= 0d || vy <= 0d || vz <= 0d, lit(null))
          .otherwise(round(rxy, 6)).as("r_xy"),
        when(vx <= 0d || vy <= 0d || vz <= 0d, lit(null))
          .otherwise(round(rxz, 6)).as("r_xz"),
        when(vx <= 0d || vy <= 0d || vz <= 0d, lit(null))
          .otherwise(round(ryz, 6)).as("r_yz"),
        // nested guards: the OUTER margin check must decide before the
        // inner condition ever computes a correlation — under ANSI a
        // zero-variance division in the condition itself would throw
        when(vx <= 0d || vy <= 0d || vz <= 0d, lit(null))
          .otherwise(when(denom <= 0d, lit(null))
            .otherwise(round((rxy - rxz * ryz) / sqrt(denom), 6)))
          .as("partial_r"))
      .orderBy(col("segment"))
  }

  val partialCorrSql: String =
    """WITH po AS (
      |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS y,
      |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS z
      |  FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS x, y, z
      |  FROM orders JOIN po ON o_orderkey = l_orderkey
      |  JOIN customer ON o_custkey = c_custkey),
      |m AS (
      |  SELECT segment, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(z) AS BIGINT) AS sz,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(y AS HUGEINT) * y) AS syy,
      |    sum(CAST(z AS HUGEINT) * z) AS szz, sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * z) AS sxz, sum(CAST(y AS HUGEINT) * z) AS syz
      |  FROM r GROUP BY segment),
      |c AS (
      |  SELECT segment, n,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
      |    CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
      |      - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) AS vz,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
      |    CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE) AS cxz,
      |    CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE) AS cyz
      |  FROM m),
      |rr AS (
      |  SELECT segment, n, vx, vy, vz,
      |    cxy / sqrt(vx * vy) AS rxy,
      |    cxz / sqrt(vx * vz) AS rxz,
      |    cyz / sqrt(vy * vz) AS ryz
      |  FROM c)
      |SELECT segment, n AS n_orders,
      |  CASE WHEN vx <= 0 OR vy <= 0 OR vz <= 0 THEN NULL
      |       ELSE round(rxy, 6) END AS r_xy,
      |  CASE WHEN vx <= 0 OR vy <= 0 OR vz <= 0 THEN NULL
      |       ELSE round(rxz, 6) END AS r_xz,
      |  CASE WHEN vx <= 0 OR vy <= 0 OR vz <= 0 THEN NULL
      |       ELSE round(ryz, 6) END AS r_yz,
      |  CASE WHEN vx <= 0 OR vy <= 0 OR vz <= 0
      |         OR (1 - rxz * rxz) * (1 - ryz * ryz) <= 0 THEN NULL
      |       ELSE round((rxy - rxz * ryz)
      |                  / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
      |  END AS partial_r
      |FROM rr ORDER BY segment""".stripMargin

  val theilSenSql: String =
    s"""WITH $segmentMonthlySql,
       |p AS (
       |  SELECT a.segment AS g,
       |    (1000000 * (b.c - a.c)) // (b.xi - a.xi) AS sl
       |  FROM mo a JOIN mo b ON a.segment = b.segment AND a.xi < b.xi),
       |n AS (SELECT segment AS g, CAST(count(*) AS BIGINT) AS n_months
       |      FROM mo GROUP BY 1),
       |m AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(quantile_cont(2 * sl, 0.5) AS BIGINT) AS med2
       |  FROM p GROUP BY g)
       |SELECT m.g AS segment, n_months, n_pairs,
       |  med2 AS slope_micro2,
       |  round(CAST(med2 AS DOUBLE) / 2e6, 4) AS slope_cents_per_month
       |FROM m JOIN n ON m.g = n.g
       |ORDER BY segment""".stripMargin

  /** Kendall's τ-b rank correlation between monthly order volume and
    * monthly revenue, per market segment — the nonparametric
    * concordance complement of [[linReg]] (does revenue rise in the
    * months volume rises, regardless of BY HOW MUCH?), with the tie
    * correction volume counts need (equal-order months are common at
    * small SF). Concordant / discordant / tied pair counts are exact
    * integers from a canonical month-ordered pair expansion; only the
    * final τ-b = (C−D)/√((n₀−n₁)(n₀−n₂)) runs in doubles — one shared
    * expression tree, NULL when either tie term consumes the whole
    * pair budget.
    *
    * Scale posture: identical to [[theilSen]] — corpus work is the
    * monthly aggregate, the quadratic expansion only ever touches the
    * bounded series frame.
    */
  def kendallTau(spark: SparkSession, dir: String): DataFrame =
    kendallTau(segmentMonthly(spark, dir), "segment", "n_orders", "c")

  /** DataFrame-first form over a BOUNDED (group, x, y) frame; pairs
    * are canonicalized by an internal monotone row index so each
    * unordered pair counts once.
    */
  def kendallTau(series: DataFrame, groupCol: String, xCol: String,
                 yCol: String): DataFrame = {
    val s = series.select(col(groupCol).as("g"), col(xCol).cast("long").as("x"),
      col(yCol).cast("long").as("y"))
    val pairs = s.as("a")
      .join(broadcast(s.as("b")),
        col("a.g") === col("b.g") &&
          (col("a.x") < col("b.x") ||
            (col("a.x") === col("b.x") && col("a.y") < col("b.y"))))
    // the strict (x, y) lexicographic join admits each pair once but
    // silently drops fully-tied pairs (same x AND same y) — count them
    // separately from the tie census so n0 closes to n(n-1)/2
    val cls = pairs.select(col("a.g").as("g"),
        when((col("b.x") - col("a.x")) * (col("b.y") - col("a.y")) > 0, "c")
          .when((col("b.x") - col("a.x")) * (col("b.y") - col("a.y")) < 0, "d")
          .when(col("a.x") === col("b.x"), "tx").otherwise("ty").as("k"))
      .groupBy(col("g")).pivot("k", Seq("c", "d", "tx", "ty")).count()
      .na.fill(0L, Seq("c", "d", "tx", "ty"))
    val n = s.groupBy(col("g")).agg(count(lit(1)).as("n"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val n0 = expr("n * (n - 1) DIV 2")
    cls.join(n, Seq("g"))
      .select(col("g"), col("n"), col("c"), col("d").as("disc"),
        col("tx"), col("ty"), n0.as("n0"))
      // n1/n2 from the pair classes: ties in x = tx + fully-tied;
      // fully-tied = n0 - (c + d + tx + ty)
      .withColumn("nboth", col("n0") - col("c") - col("disc") - col("tx") - col("ty"))
      .withColumn("n1", col("tx") + col("nboth"))
      .withColumn("n2", col("ty") + col("nboth"))
      .select(col("g").as("segment"), col("n").as("n_months"),
        col("c").as("concordant"), col("disc").as("discordant"),
        col("tx").as("ties_x_only"), col("ty").as("ties_y_only"),
        when(col("n0") - col("n1") === 0 || col("n0") - col("n2") === 0,
          lit(null))
          .otherwise(round((d(col("c")) - d(col("disc"))) /
            sqrt(d(col("n0") - col("n1")) * d(col("n0") - col("n2"))), 6))
          .as("tau_b"))
      .orderBy(col("segment"))
  }

  val kendallTauSql: String =
    s"""WITH $segmentMonthlySql,
       |p AS (
       |  SELECT a.segment AS g,
       |    CASE WHEN (b.n_orders - a.n_orders) * (b.c - a.c) > 0 THEN 'c'
       |         WHEN (b.n_orders - a.n_orders) * (b.c - a.c) < 0 THEN 'd'
       |         WHEN a.n_orders = b.n_orders THEN 'tx' ELSE 'ty' END AS k
       |  FROM mo a JOIN mo b ON a.segment = b.segment
       |    AND (a.n_orders < b.n_orders
       |         OR (a.n_orders = b.n_orders AND a.c < b.c))),
       |cls AS (
       |  SELECT g,
       |    CAST(COALESCE(sum(CASE WHEN k = 'c' THEN 1 END), 0) AS BIGINT) AS c,
       |    CAST(COALESCE(sum(CASE WHEN k = 'd' THEN 1 END), 0) AS BIGINT) AS d,
       |    CAST(COALESCE(sum(CASE WHEN k = 'tx' THEN 1 END), 0) AS BIGINT) AS tx,
       |    CAST(COALESCE(sum(CASE WHEN k = 'ty' THEN 1 END), 0) AS BIGINT) AS ty
       |  FROM p GROUP BY g),
       |nn AS (SELECT segment AS g, CAST(count(*) AS BIGINT) AS n
       |       FROM mo GROUP BY 1),
       |t AS (
       |  SELECT cls.g, n, c, d, tx, ty, n * (n - 1) // 2 AS n0,
       |    n * (n - 1) // 2 - c - d - tx - ty AS nboth
       |  FROM cls JOIN nn ON cls.g = nn.g)
       |SELECT g AS segment, n AS n_months, c AS concordant, d AS discordant,
       |  tx AS ties_x_only, ty AS ties_y_only,
       |  CASE WHEN n0 - (tx + nboth) = 0 OR n0 - (ty + nboth) = 0 THEN NULL
       |       ELSE round((CAST(c AS DOUBLE) - d)
       |                  / sqrt(CAST(n0 - (tx + nboth) AS DOUBLE)
       |                         * CAST(n0 - (ty + nboth) AS DOUBLE)), 6)
       |  END AS tau_b
       |FROM t ORDER BY segment""".stripMargin

  /** Winsorized + trimmed statistics per group — the robust-mean pair
    * every outlier-contaminated metric column needs: values are
    * clamped (winsorized) or dropped (trimmed) at the group's
    * p05/p95. Boundaries are exact-percentile doubles rounded to
    * integer units, so the downstream means fold EXACT integers and
    * both engines agree bit-for-bit; only the final per-group means
    * divide. One keyed percentile pass (k rows, broadcast back) and
    * one keyed fold — no window, no sort of the raw rows.
    */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_mktsegment").as("g"),
      round(col("c_acctbal") * 100).cast("long").as("v"))
    winsorize(c, "g", "v", 0.05, 0.95)
  }

  /** DataFrame-first form over any (group, integral value) frame. */
  def winsorize(df: DataFrame, groupCol: String, vCol: String,
                pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"winsorize: bad percentile pair ($pLo, $pHi)")
    val base = df.select(col(groupCol).as("g"), col(vCol).cast("long").as("v"))
    val bounds = base.groupBy(col("g")).agg(
      round(percentile(col("v"), lit(pLo))).cast("long").as("lo"),
      round(percentile(col("v"), lit(pHi))).cast("long").as("hi"))
    base.join(broadcast(bounds), Seq("g"))
      .groupBy(col("g"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        count_if(col("v") < col("lo")).as("n_lo"),
        count_if(col("v") > col("hi")).as("n_hi"),
        sum(greatest(col("lo"), least(col("hi"), col("v")))).as("ws"),
        sum(when(col("v").between(col("lo"), col("hi")), col("v")))
          .as("ts"),
        count_if(col("v").between(col("lo"), col("hi"))).as("tn"))
      .select(col("g"), col("n"), col("lo"), col("hi"),
        col("n_lo"), col("n_hi"),
        round(col("ws").cast("double") / col("n").cast("double") / 100.0, 4)
          .as("winsor_mean"),
        when(col("tn") === 0, lit(null))
          .otherwise(round(
            col("ts").cast("double") / col("tn").cast("double") / 100.0, 4))
          .as("trim_mean"))
      .orderBy(col("g"))
  }

  /** Difference-in-differences — the 2×2 panel estimator
    * `(T_post − T_pre) − (C_post − C_pre)`, with the classic
    * unpooled standard error `√(Σ_cells v/n)` and a t statistic.
    * The four cells' moments are exact integers (cents,
    * DECIMAL(38,0) squares); one keyed aggregation, then a 4-row
    * frame pivots row-locally — no joins at all after the fold.
    * NULL t when any cell has n < 2 (no sample variance).
    */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).join(
        Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(
        (col("c_mktsegment") === "BUILDING").as("treated"),
        (col("o_orderdate") >= lit("1998-07-01").cast("timestamp"))
          .as("post"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
    diffInDiff(o, "treated", "post", "v")
  }

  /** DataFrame-first form over (boolean treated, boolean post,
    * integral outcome).
    */
  def diffInDiff(df: DataFrame, treatCol: String, postCol: String,
                 vCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val v = col(vCol).cast("long")
    val vd = v.cast(DecimalType(38, 0))
    val cells = df.select(col(treatCol).cast("boolean").as("t"),
        col(postCol).cast("boolean").as("p"), v.as("v"),
        (vd * vd).as("v2"))
      .groupBy(col("t"), col("p"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v2")).as("ss"))
    def cell(t: Boolean, p: Boolean, sfx: String) =
      Seq(sum(when(col("t") === t && col("p") === p, col("n"))).as(s"n_$sfx"),
        sum(when(col("t") === t && col("p") === p, col("s"))).as(s"s_$sfx"),
        sum(when(col("t") === t && col("p") === p, col("ss"))).as(s"ss_$sfx"))
    val aggs = cell(true, false, "tpre") ++ cell(true, true, "tpost") ++
      cell(false, false, "cpre") ++ cell(false, true, "cpost")
    val wide = cells.agg(aggs.head, aggs.tail: _*)
    def m(sfx: String) = d(s"s_$sfx") / d(s"n_$sfx")
    def va(sfx: String) =
      (d(s"ss_$sfx") - d(s"s_$sfx") * d(s"s_$sfx") / d(s"n_$sfx")) /
        (d(s"n_$sfx") - lit(1.0)) / d(s"n_$sfx")
    val minN = least(col("n_tpre"), col("n_tpost"), col("n_cpre"),
      col("n_cpost"))
    wide.select(
      col("n_tpre"), col("n_tpost"), col("n_cpre"), col("n_cpost"),
      round((m("tpost") - m("tpre")) / 100.0, 4).as("delta_treated"),
      round((m("cpost") - m("cpre")) / 100.0, 4).as("delta_control"),
      round(((m("tpost") - m("tpre")) - (m("cpost") - m("cpre"))) / 100.0, 4)
        .as("did"),
      when(minN.isNull || minN < 2, lit(null)).otherwise(
        round(((m("tpost") - m("tpre")) - (m("cpost") - m("cpre"))) /
          sqrt(va("tpre") + va("tpost") + va("cpre") + va("cpost")), 4))
        .as("t_stat"))
  }

  private def d(name: String): org.apache.spark.sql.Column =
    col(name).cast("double")

  val diffInDiffSql: String =
    """WITH j AS (
      |  SELECT (c_mktsegment = 'BUILDING') AS t,
      |    (o_orderdate >= TIMESTAMP '1998-07-01') AS p,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |c AS (
      |  SELECT t, p, count(*) AS n, sum(v) AS s,
      |    sum(CAST(v AS HUGEINT) * v) AS ss
      |  FROM j GROUP BY t, p),
      |w AS (
      |  SELECT
      |    CAST(sum(n) FILTER (t AND NOT p) AS BIGINT) AS n_tpre,
      |    CAST(sum(s) FILTER (t AND NOT p) AS BIGINT) AS s_tpre,
      |    sum(ss) FILTER (t AND NOT p) AS ss_tpre,
      |    CAST(sum(n) FILTER (t AND p) AS BIGINT) AS n_tpost,
      |    CAST(sum(s) FILTER (t AND p) AS BIGINT) AS s_tpost,
      |    sum(ss) FILTER (t AND p) AS ss_tpost,
      |    CAST(sum(n) FILTER (NOT t AND NOT p) AS BIGINT) AS n_cpre,
      |    CAST(sum(s) FILTER (NOT t AND NOT p) AS BIGINT) AS s_cpre,
      |    sum(ss) FILTER (NOT t AND NOT p) AS ss_cpre,
      |    CAST(sum(n) FILTER (NOT t AND p) AS BIGINT) AS n_cpost,
      |    CAST(sum(s) FILTER (NOT t AND p) AS BIGINT) AS s_cpost,
      |    sum(ss) FILTER (NOT t AND p) AS ss_cpost
      |  FROM c)
      |SELECT n_tpre, n_tpost, n_cpre, n_cpost,
      |  round((CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE)
      |    - CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE)) / 100.0, 4)
      |    AS delta_treated,
      |  round((CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE)
      |    - CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE)) / 100.0, 4)
      |    AS delta_control,
      |  round(((CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE)
      |    - CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE))
      |    - (CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE)
      |      - CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE))) / 100.0, 4)
      |    AS did,
      |  CASE WHEN least(n_tpre, n_tpost, n_cpre, n_cpost) < 2 THEN NULL
      |    ELSE round(((CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE)
      |      - CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE))
      |      - (CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE)
      |        - CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE)))
      |      / sqrt(
      |        (CAST(ss_tpre AS DOUBLE) - CAST(s_tpre AS DOUBLE)
      |          * CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE))
      |          / (CAST(n_tpre AS DOUBLE) - 1.0) / CAST(n_tpre AS DOUBLE)
      |        + (CAST(ss_tpost AS DOUBLE) - CAST(s_tpost AS DOUBLE)
      |          * CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE))
      |          / (CAST(n_tpost AS DOUBLE) - 1.0) / CAST(n_tpost AS DOUBLE)
      |        + (CAST(ss_cpre AS DOUBLE) - CAST(s_cpre AS DOUBLE)
      |          * CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE))
      |          / (CAST(n_cpre AS DOUBLE) - 1.0) / CAST(n_cpre AS DOUBLE)
      |        + (CAST(ss_cpost AS DOUBLE) - CAST(s_cpost AS DOUBLE)
      |          * CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE))
      |          / (CAST(n_cpost AS DOUBLE) - 1.0) / CAST(n_cpost AS DOUBLE)),
      |      4)
      |  END AS t_stat
      |FROM w""".stripMargin

  val winsorizeSql: String =
    """WITH q AS (
      |  SELECT c_mktsegment AS g,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS v
      |  FROM customer),
      |b AS (
      |  SELECT g,
      |    CAST(round(quantile_cont(v, 0.05)) AS BIGINT) AS lo,
      |    CAST(round(quantile_cont(v, 0.95)) AS BIGINT) AS hi
      |  FROM q GROUP BY g),
      |j AS (
      |  SELECT q.g, v, lo, hi FROM q JOIN b ON q.g = b.g),
      |a AS (
      |  SELECT g, lo, hi, count(*) AS n,
      |    CAST(count(*) FILTER (v < lo) AS BIGINT) AS n_lo,
      |    CAST(count(*) FILTER (v > hi) AS BIGINT) AS n_hi,
      |    CAST(sum(greatest(lo, least(hi, v))) AS BIGINT) AS ws,
      |    CAST(sum(v) FILTER (v BETWEEN lo AND hi) AS BIGINT) AS ts,
      |    CAST(count(*) FILTER (v BETWEEN lo AND hi) AS BIGINT) AS tn
      |  FROM j GROUP BY g, lo, hi)
      |SELECT g, n, lo, hi, n_lo, n_hi,
      |  round(CAST(ws AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4)
      |    AS winsor_mean,
      |  CASE WHEN tn = 0 THEN NULL
      |    ELSE round(CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE) / 100.0, 4)
      |  END AS trim_mean
      |FROM a ORDER BY g""".stripMargin

  /** Single change-point detection over the monthly revenue series —
    * the binary-segmentation base step (Scott & Knott 1974; the
    * building block PELT/BinSeg iterate): for every candidate split k
    * the score is the between-segment sum-of-squares gain
    * S_L²/n_L + S_R²/n_R − S²/n, and the argmax is the month where the
    * series' mean level most plausibly shifted. [[cusum]] monitors a
    * KNOWN target level; this finds the a-posteriori break with no
    * target. Emits every candidate split (audit trail) with its gain
    * and an `is_best` flag — earliest month wins ties so the pick is
    * reproducible.
    *
    * Exactness: monthly sums are exact BIGINT cents; each candidate's
    * three quotient terms quantize to milli-units by truncating
    * DECIMAL(38,0) DIV (Spark DIV and DuckDB `//` both truncate toward
    * zero, so the integers match bit-for-bit), and the reported /
    * compared gain is normalized per row — Δmean²-scaled, so the
    * OUTPUT stays in BIGINT range at any corpus size while the
    * DECIMAL(38,0) intermediates bound exactness at ~1e16 total cents
    * (1e14 dollars — two orders past a 100 TB TPC-H corpus).
    *
    * Scale posture: ONE corpus aggregation to the month census; every
    * window after it runs on the bounded month frame (~dozens of rows
    * regardless of corpus size). The unpartitioned windows are
    * post-aggregate — the [[Analytics]] bounded-frame discipline.
    */
  def changepoint(spark: SparkSession, dir: String): DataFrame =
    changepoint(
      Tables.orders(spark, dir).select(
        date_trunc("month", col("o_orderdate")).cast("date").as("m"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")),
      "m", "cents")

  /** DataFrame-first form over any (period, integral measure) frame. */
  def changepoint(df: DataFrame, periodCol: String, valCol: String): DataFrame = {
    val series = df.groupBy(col(periodCol).as("m"))
      .agg(sum(col(valCol)).as("s"), count(lit(1)).as("c"))
    val w = Window.orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = series.agg(sum(col("s")).as("ts"), sum(col("c")).as("tc"))
    val scored = series
      .withColumn("sl", sum(col("s")).over(w))
      .withColumn("nl", sum(col("c")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("nl") < col("tc")) // the last period splits nothing off
      .select(col("m"), col("nl").as("n_l"),
        (col("tc") - col("nl")).as("n_r"), col("sl").as("s_l"),
        // per-ROW gain (milli-cents² / row): the raw between-segment SS
        // grows ~ n·Δmean², past BIGINT at extreme corpus sizes, and
        // Spark's integral DIV RETURNS BIGINT — so each term divides by
        // its own n·N in ONE DIV, keeping every quotient Δmean²-scaled
        // (mean²·1000 ≤ ~2e17) and overflow-free at any N
        expr("CAST(CAST(sl AS DECIMAL(38,0)) * sl * 1000" +
          " DIV (CAST(nl AS DECIMAL(38,0)) * tc)" +
          " + CAST(ts - sl AS DECIMAL(38,0)) * (ts - sl) * 1000" +
          " DIV (CAST(tc - nl AS DECIMAL(38,0)) * tc)" +
          " - CAST(ts AS DECIMAL(38,0)) * ts * 1000" +
          " DIV (CAST(tc AS DECIMAL(38,0)) * tc) AS BIGINT)")
          .as("gain_milli"))
    scored
      .withColumn("is_best",
        row_number().over(
          Window.orderBy(col("gain_milli").desc, col("m"))) === 1)
      .orderBy(col("m"))
  }

  /** Count–min sketch rows (depth) and cells per row (width). 4×256
    * cells estimate any term's count within εN (ε = e/256) with
    * failure probability e⁻⁴ — 1 KB of counters per merge unit.
    */
  val CmsDepth = 4
  val CmsWidth = 256L

  /** Count–min sketch accuracy audit (Cormode &amp; Muthukrishnan
    * 2005) — the mergeable fixed-memory frequency sketch next to
    * [[graft.functions.MisraGries]] (deterministic heavy-hitter list)
    * and the HLL distinct sketch: hash each term into one cell per
    * row, point estimate = min over rows of its cells. CMS NEVER
    * undercounts (every collision adds), so `overcount ≥ 0` is a hard
    * invariant. The report scores the sketch against exact truth for
    * the top-k tokens — the error table a pipeline reads before
    * trusting CMS counts at full scale.
    *
    * Cross-engine determinism: row hashes are md5-derived (the one
    * hash family both engines compute identically — the
    * [[Sampling.contentSplit]] rule), so cells, estimates and
    * overcounts are exact integers on both sides — a fully
    * oracle-checkable sketch, unlike the xxhash64-family ones.
    *
    * Scale posture: one token census (the only corpus-sized shuffle),
    * one depth×width-bounded cell aggregate (≤ 1024 rows at any
    * corpus size — the sketch property), a TakeOrdered top-k and a
    * broadcast join of k·depth rows against the bounded cell frame.
    */
  def countMin(spark: SparkSession, dir: String): DataFrame =
    countMin(Tables.documents(spark, dir), "text", 20)

  /** The depth-indexed bucket columns of a term — one md5 row hash per
    * sketch row.
    */
  private def cmsBuckets = posexplode(array((0 until CmsDepth).map { j =>
    pmod(conv(substring(md5(
      concat(lit(s"$j:"), col("term"))), 1, 15), 16, 10).cast("long"),
      lit(CmsWidth))
  }: _*))

  /** The CMS cell grid (row_j, bucket, cell_cnt) of a corpus — the
    * sketch STATE itself, ≤ depth·width rows. Cell grids are MERGEABLE
    * by cell-wise sum (counts are associative), which is what lets a
    * streaming ingest maintain one grid per micro-batch and fold them
    * — the law MicroBatchSpec pins against [[countMin]]'s single-pass
    * grid.
    */
  def countMinCells(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("true_cnt"))
      .select(col("true_cnt"), cmsBuckets)
      .groupBy(col("pos").as("row_j"), col("col").as("bucket"))
      .agg(sum(col("true_cnt")).as("cell_cnt"))

  /** DataFrame-first form over any (text) frame; `k` = audited terms. */
  def countMin(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val census = docs
      .select(explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("true_cnt"))
    val cells = countMinCells(docs, textCol)
    val top = census
      .orderBy(col("true_cnt").desc, col("term")).limit(k)
      .select(col("term"), col("true_cnt"), cmsBuckets)
      .select(col("term"), col("true_cnt"), col("pos").as("row_j"),
        col("col").as("bucket"))
    broadcast(top).join(cells, Seq("row_j", "bucket"))
      .groupBy(col("term"), col("true_cnt"))
      .agg(min(col("cell_cnt")).as("cms_est"))
      .select(col("term"), col("true_cnt"), col("cms_est"),
        (col("cms_est") - col("true_cnt")).as("overcount"))
      .orderBy(col("true_cnt").desc, col("term"))
  }

  /** DuckDB twin of [[countMin]]: identical md5 row hashes, the same
    * bounded cell grid and min-of-cells estimate.
    */
  val countMinSql: String =
    s"""WITH t AS (
       |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
       |c AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS true_cnt
       |  FROM t GROUP BY term),
       |b AS (
       |  SELECT term, true_cnt, j,
       |    CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || term),
       |      1, 15)) AS BIGINT) % $CmsWidth AS bucket
       |  FROM c CROSS JOIN (
       |    SELECT unnest(range(0, $CmsDepth)) AS j)),
       |cells AS (
       |  SELECT j, bucket, CAST(sum(true_cnt) AS BIGINT) AS cell_cnt
       |  FROM b GROUP BY j, bucket),
       |top AS (
       |  SELECT term FROM c ORDER BY true_cnt DESC, term LIMIT 20),
       |est AS (
       |  SELECT b.term, b.true_cnt,
       |    CAST(min(cell_cnt) AS BIGINT) AS cms_est
       |  FROM b JOIN top USING (term) JOIN cells USING (j, bucket)
       |  GROUP BY b.term, b.true_cnt)
       |SELECT term, true_cnt, cms_est, cms_est - true_cnt AS overcount
       |FROM est ORDER BY true_cnt DESC, term""".stripMargin

  /** DuckDB twin of [[changepoint]]: identical month census, HUGEINT
    * truncating milli terms, the same earliest-month tie-break.
    */
  val changepointSql: String =
    """WITH series AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(s) AS BIGINT) AS ts, CAST(sum(c) AS BIGINT) AS tc
      |  FROM series),
      |cum AS (
      |  SELECT m,
      |    CAST(sum(s) OVER (ORDER BY m) AS BIGINT) AS sl,
      |    CAST(sum(c) OVER (ORDER BY m) AS BIGINT) AS nl
      |  FROM series),
      |scored AS (
      |  SELECT m, nl AS n_l, tc - nl AS n_r, sl AS s_l,
      |    CAST((CAST(sl AS HUGEINT) * sl * 1000)
      |        // (CAST(nl AS HUGEINT) * tc)
      |      + (CAST(ts - sl AS HUGEINT) * (ts - sl) * 1000)
      |        // (CAST(tc - nl AS HUGEINT) * tc)
      |      - (CAST(ts AS HUGEINT) * ts * 1000)
      |        // (CAST(tc AS HUGEINT) * tc) AS BIGINT)
      |      AS gain_milli
      |  FROM cum CROSS JOIN tot WHERE nl < tc)
      |SELECT m, n_l, n_r, s_l, gain_milli,
      |  row_number() OVER (ORDER BY gain_milli DESC, m) = 1 AS is_best
      |FROM scored ORDER BY m""".stripMargin

  /** Mann–Kendall trend test (1945/1975) per group over the monthly
    * revenue series — the NON-PARAMETRIC "is there a monotone trend?"
    * companion of [[Ranks.theilSen]]'s robust slope (MK answers "is
    * it there", Theil–Sen "how steep"): S = Σ_{i&lt;j} sign(x_j − x_i)
    * over time-ordered pairs, tie-corrected variance
    * 18·V = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), continuity-corrected
    * z = (S∓1)/√(V). S, 18V and every tie census are EXACT integers
    * off the bounded monthly frame; z is ONE shared double
    * expression, NULL when V = 0 (all values tied — no ordering
    * information). The trend label reads the S sign directly.
    *
    * Scale posture: corpus work is ONE (group, month) keyed
    * aggregate; the |months|²-per-group pair expansion runs on the
    * bounded post-aggregate frame (the [[Ranks.theilSen]] contract —
    * months are calendar-bounded, never data-bounded).
    */
  def mkTrend(spark: SparkSession, dir: String): DataFrame = {
    val monthly = SegOrders(spark, dir)
      .groupBy(col("g"), date_trunc("month", col("o_orderdate")).as("m"))
      .agg(sum(col("cents")).as("x"))
    mkTrend(monthly, "g", "m", "x")
  }

  /** DataFrame-first form over a bounded (group, period, integral
    * value) series frame.
    */
  def mkTrend(df: DataFrame, groupCol: String, periodCol: String,
              vCol: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    val s = df.select(col(groupCol).as("g"), col(periodCol).as("m"),
      col(vCol).cast("long").as("x"))
    val a = s.select(col("g"), col("m").as("m1"), col("x").as("x1"))
    val b = s.select(col("g"), col("m").as("m2"), col("x").as("x2"))
    val pairs = a.join(b, Seq("g")).filter(col("m1") < col("m2"))
      .groupBy(col("g"))
      .agg(sum(when(col("x2") > col("x1"), 1L)
        .when(col("x2") < col("x1"), -1L).otherwise(0L)).as("s_stat"))
    val n = s.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val ties = s.groupBy(col("g"), col("x")).agg(count(lit(1)).as("t"))
      .filter(col("t") >= 2)
      .groupBy(col("g"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
        .as("tsum"))
    n.join(pairs, Seq("g"))
      .join(ties, Seq("g"), "left").na.fill(0L, Seq("tsum"))
      .withColumn("var18",
        col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) - col("tsum"))
      .select(col("g"), col("n").as("n_months"), col("s_stat"),
        col("var18"),
        when(col("var18") <= 0, lit(null)).otherwise(
          when(col("s_stat") > 0,
            round((d(col("s_stat")) - 1.0)
              / sqrt(d(col("var18")) / 18.0), 4))
            .when(col("s_stat") < 0,
              round((d(col("s_stat")) + 1.0)
                / sqrt(d(col("var18")) / 18.0), 4))
            .otherwise(lit(0.0))).as("z"),
        when(col("s_stat") > 0, lit("up"))
          .when(col("s_stat") < 0, lit("down"))
          .otherwise(lit("flat")).as("trend"))
      .orderBy(col("g"))
  }

  /** Grubbs' test (1950) per segment over the monthly revenue series —
    * "is the single most extreme month a statistical outlier?":
    * G = max|x − x̄| / s with the suspect month identified. The
    * single-point complement of [[madOutliers]]' bulk flagging (MAD
    * flags everything past a robust fence; Grubbs scores exactly one
    * candidate against the NORMAL-theory spread). The p-value needs a
    * t quantile, so the op reports the statistic and suspect, not a
    * verdict (documented).
    *
    * Exactness: the argmax is the pure-integer cross-multiply
    * |n·x − Σx| (no division — ties break on the earlier month), the
    * moments are exact integers, and G is ONE shared double
    * expression; NULL when variance is 0.
    *
    * Scale posture: one (group, month) keyed aggregate; everything
    * after runs on the calendar-bounded frame.
    */
  def grubbs(spark: SparkSession, dir: String): DataFrame = {
    val cell = SegOrders(spark, dir)
      .groupBy(col("g"),
        date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .agg(sum(col("cents")).as("x"))
    grubbs(cell, "g", "m", "x")
  }

  /** DataFrame-first form over a bounded (group, period, integral
    * value) series frame.
    */
  def grubbs(df: DataFrame, groupCol: String, periodCol: String,
             vCol: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    val cell = df.select(col(groupCol).as("g"), col(periodCol).as("m"),
      col(vCol).cast("long").as("x"))
    val mo = cell.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("ss"))
    val dev = cell.join(broadcast(mo), Seq("g"))
      .withColumn("dv", abs(col("n") * col("x") - col("s")))
    val mx = dev.groupBy(col("g")).agg(max(col("dv")).as("mdev"))
    dev.join(broadcast(mx), Seq("g"))
      .filter(col("dv") === col("mdev"))
      .groupBy(col("g"), col("n"), col("s"), col("ss"), col("mdev"))
      .agg(min(col("m")).as("suspect_month"),
        expr("min_by(x, m)").as("suspect_cents"))
      .select(col("g"), col("n").as("n_periods"), col("suspect_month"),
        col("suspect_cents"),
        when(col("n") < 2
            || col("ss").cast("double") - d(col("s")) * col("s") / col("n")
               <= 0d, lit(null))
          .otherwise(round(
            (d(col("mdev")) / col("n"))
              / sqrt((col("ss").cast("double")
                - d(col("s")) * col("s") / col("n")) / (col("n") - 1)),
            4)).as("g_stat"))
      .orderBy(col("g"))
  }

  /** DuckDB twin of [[grubbs]] — same integer argmax and shared
    * double G.
    */
  val grubbsSql: String =
    """WITH cell AS (
      |  SELECT c_mktsegment AS g,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |mo AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT)
      |      AS s,
      |    sum(CAST(x AS HUGEINT) * x) AS ss
      |  FROM cell GROUP BY g),
      |dev AS (
      |  SELECT cell.g, m, x, n, s, ss, abs(n * x - s) AS dv
      |  FROM cell JOIN mo ON cell.g = mo.g),
      |mx AS (SELECT g, max(dv) AS mdev FROM dev GROUP BY g),
      |pick AS (
      |  SELECT dev.g, n, s, ss, mdev, min(m) AS suspect_month,
      |    min_by(x, m) AS suspect_cents
      |  FROM dev JOIN mx ON dev.g = mx.g AND dev.dv = mx.mdev
      |  GROUP BY dev.g, n, s, ss, mdev)
      |SELECT g, n AS n_periods, suspect_month, suspect_cents,
      |  CASE WHEN n < 2
      |      OR CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n <= 0
      |    THEN NULL
      |    ELSE round((CAST(mdev AS DOUBLE) / n)
      |      / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
      |        / (n - 1)), 4) END AS g_stat
      |FROM pick ORDER BY g""".stripMargin

  /** Poisson dispersion (variance-to-mean) test per event type over
    * the ZERO-FILLED daily calendar — "are arrivals Poisson, or do
    * they cluster?": the index-of-dispersion D = s²/c̄ reads 1 under a
    * Poisson process, &gt; 1 for bursty arrivals (the distributional
    * sibling of the [[burstiness]] coefficient's ±1 scale), and the
    * classical χ² = Σ(c − c̄)²/c̄ = (n·Σc² − (Σc)²)/Σc is EXACT
    * integer arithmetic end to end — both statistics are one
    * truncating DIV each, no double anywhere. Zero-filling matters:
    * skipping silent days would bias both toward uniformity
    * (documented; the grid is calendar-bounded). NULL when a type
    * never fires (Σc = 0) or the span is a single day.
    *
    * Scale posture: one (type, day) keyed census, a bounded
    * days×types grid fill, one |types|-row fold.
    */
  def poissonDispersion(spark: SparkSession, dir: String): DataFrame =
    poissonDispersion(Tables.events(spark, dir), "event_type", "ts")

  /** DataFrame-first form over any (category, timestamp) arrival
    * frame.
    */
  def poissonDispersion(df: DataFrame, typeCol: String,
                        tsCol: String): DataFrame = {
    val cen = df.select(col(typeCol).as("t"), to_date(col(tsCol)).as("d"))
      .groupBy(col("t"), col("d")).agg(count(lit(1)).as("c"))
    val span = cen.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val grid = cen.select(col("t")).distinct()
      .crossJoin(broadcast(span))
      .select(col("t"), explode(expr("sequence(lo, hi)")).as("d"))
      .join(cen, Seq("t", "d"), "left").na.fill(0L, Seq("c"))
    grid.groupBy(col("t").as("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("total"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("ss"))
      .select(col("event_type"), col("n_days"), col("total"),
        when(col("total") <= 0 || col("n_days") < 2, lit(null)).otherwise(
          expr("CAST((n_days * ss - CAST(total AS DECIMAL(38,0)) * total)" +
            " * 1000 DIV ((n_days - 1) * CAST(total AS DECIMAL(38,0)))" +
            " AS BIGINT)")).as("dispersion_milli"),
        when(col("total") <= 0, lit(null)).otherwise(
          expr("CAST((n_days * ss - CAST(total AS DECIMAL(38,0)) * total)" +
            " * 1000 DIV CAST(total AS DECIMAL(38,0)) AS BIGINT)"))
          .as("chi2_milli"))
      .orderBy(col("event_type"))
  }

  /** DuckDB twin of [[poissonDispersion]] — same zero-filled grid and
    * exact HUGEINT ratios.
    */
  val poissonDispersionSql: String =
    """WITH cen AS (
      |  SELECT event_type AS t, CAST(ts AS DATE) AS d,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT min(d) AS lo, max(d) AS hi FROM cen),
      |grid AS (
      |  SELECT tt.t, gd.d, coalesce(cen.c, 0) AS c
      |  FROM (SELECT DISTINCT t FROM cen) tt
      |  CROSS JOIN (SELECT unnest(generate_series(lo, hi,
      |    INTERVAL 1 DAY))::DATE AS d FROM span) gd
      |  LEFT JOIN cen ON cen.t = tt.t AND cen.d = gd.d),
      |m AS (
      |  SELECT t AS event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(c) AS BIGINT) AS total,
      |    sum(CAST(c AS HUGEINT) * c) AS ss
      |  FROM grid GROUP BY t)
      |SELECT event_type, n_days, total,
      |  CASE WHEN total <= 0 OR n_days < 2 THEN NULL ELSE
      |    CAST((n_days * ss - CAST(total AS HUGEINT) * total) * 1000
      |      // ((n_days - 1) * CAST(total AS HUGEINT)) AS BIGINT)
      |  END AS dispersion_milli,
      |  CASE WHEN total <= 0 THEN NULL ELSE
      |    CAST((n_days * ss - CAST(total AS HUGEINT) * total) * 1000
      |      // CAST(total AS HUGEINT) AS BIGINT)
      |  END AS chi2_milli
      |FROM m ORDER BY event_type""".stripMargin

  /** DuckDB twin of [[mkTrend]] — same exact pair/tie censuses and
    * shared double z.
    */
  val mkTrendSql: String =
    """WITH s AS (
      |  SELECT c_mktsegment AS g, date_trunc('month', o_orderdate) AS m,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT a.g,
      |    CAST(sum(CASE WHEN b.x > a.x THEN 1
      |      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM s a JOIN s b ON a.g = b.g AND a.m < b.m
      |  GROUP BY a.g),
      |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY g),
      |ti AS (
      |  SELECT g, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
      |  FROM (SELECT g, x, CAST(count(*) AS BIGINT) AS t
      |        FROM s GROUP BY g, x) q
      |  WHERE t >= 2 GROUP BY g),
      |v AS (
      |  SELECT n.g, n.n, p.s_stat,
      |    n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(ti.tsum, 0) AS var18
      |  FROM n JOIN p ON n.g = p.g LEFT JOIN ti ON n.g = ti.g)
      |SELECT g, n AS n_months, s_stat, var18,
      |  CASE WHEN var18 <= 0 THEN NULL
      |    WHEN s_stat > 0 THEN
      |      round((CAST(s_stat AS DOUBLE) - 1.0)
      |        / sqrt(CAST(var18 AS DOUBLE) / 18.0), 4)
      |    WHEN s_stat < 0 THEN
      |      round((CAST(s_stat AS DOUBLE) + 1.0)
      |        / sqrt(CAST(var18 AS DOUBLE) / 18.0), 4)
      |    ELSE 0.0 END AS z,
      |  CASE WHEN s_stat > 0 THEN 'up' WHEN s_stat < 0 THEN 'down'
      |    ELSE 'flat' END AS trend
      |FROM v ORDER BY g""".stripMargin
}
