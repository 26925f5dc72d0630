package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Decision-support analytics queries (SURVEY.md §7.3): the TPC-H
  * market-share / profit / returned-item shapes the round-4 relational
  * surface did not yet cover. Like the rest of [[Relational]], the
  * reference (`/root/reference/batch_processor.go:1-194`) supplies no
  * relational operators — these implement the driver north star over
  * the test tables, pure DataFrame API.
  *
  * Scale posture (100 TB): region/nation dims are explicitly broadcast;
  * part and supplier join the fact on their keys (shuffled equi-joins —
  * part is NOT broadcast: at TPC-H scale it is 200M rows/SF, far past
  * broadcastable, and AQE may still downgrade to broadcast at toy
  * scale); fact⋈fact (lineitem⋈orders) shuffles on the order key; all
  * money aggregates sum exact integer CENTS (each row rounds
  * deterministically; the BIGINT sum is order-independent), and ratios
  * divide the two exact sums at the very end.
  */
object Analytics {

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  /** `year(dateCol) === y` as a scan-pushable predicate. A function of
    * a column is never a translatable parquet filter, so the year()
    * form reads EVERY row group of a 100 TB date-sorted fact table;
    * for date/timestamp columns the half-open calendar range
    * `dateCol >= y-01-01 && dateCol < (y+1)-01-01` selects exactly the
    * same rows (year() and the literal bounds both evaluate in the
    * session timezone; NULLs fail both forms) and reaches
    * PushedFilters, where row-group min/max stats prune. Non-datetime
    * columns (string ordering is not calendar order) and years outside
    * the parseable literal range keep the year() form.
    */
  private[ops] def yearEquals(df: DataFrame, dateCol: String, y: Int): Column = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    val dt = df.schema.fields.find(_.name == dateCol).map(_.dataType)
    dt match {
      case Some(t @ (DateType | TimestampType | TimestampNTZType))
          if y >= 1 && y <= 9998 =>
        df.col(dateCol) >= lit(f"$y%04d-01-01").cast(t) &&
          df.col(dateCol) < lit(f"${y + 1}%04d-01-01").cast(t)
      case _ => year(df.col(dateCol)) === y
    }
  }

  /** Market share (TPC-H Q8 shape): within the ASIA customer market,
    * the share of revenue supplied from the EUROPE region, by order
    * year. Share-by-supplier-REGION rather than Q8's single nation so
    * the result is non-empty at every scale factor (the smallest corpus
    * covers 10 of 25 nations; regions are always complete). The share
    * divides two exact BIGINT cent-sums, so it is reproducible
    * cross-engine to the last double bit.
    */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val nr = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
    val suppNat = nr.select(col("n_nationkey").as("s_nk"), col("r_name").as("supp_region"))
    val custNat = nr.filter(col("r_name") === "ASIA")
      .select(col("n_nationkey").as("c_nk"))
    val vol = cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
    Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNat), col("s_nationkey") === col("s_nk"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNat), col("c_nationkey") === col("c_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(vol).as("total_cents"),
        sum(when(col("supp_region") === "EUROPE", vol).otherwise(lit(0L)))
          .as("europe_cents"))
      .withColumn("mkt_share",
        round(col("europe_cents").cast("double") / col("total_cents"), 6))
      .orderBy(col("o_year"))
  }

  val marketShareSql: String =
    """WITH t AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS vol,
      |    r1.r_name AS supp_region
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |  WHERE r2.r_name = 'ASIA'),
      |a AS (
      |  SELECT o_year, CAST(sum(vol) AS BIGINT) AS total_cents,
      |    CAST(sum(CASE WHEN supp_region = 'EUROPE' THEN vol ELSE 0 END) AS BIGINT)
      |      AS europe_cents
      |  FROM t GROUP BY o_year)
      |SELECT o_year, total_cents, europe_cents,
      |  round(CAST(europe_cents AS DOUBLE) / total_cents, 6) AS mkt_share
      |FROM a ORDER BY o_year""".stripMargin

  /** Product-type profit (TPC-H Q9 shape): profit by supplier nation ×
    * order year over 'widget' parts. The test tables carry no partsupp,
    * so supply cost is proxied as 60% of `p_retailprice` — the shape
    * (4-way fact⋈dim join tree under a two-key rollup) is what's being
    * exercised, per-row profit rounds to exact cents before the sum.
    */
  def productProfit(spark: SparkSession, dir: String): DataFrame = {
    val profit = cents(
      col("l_extendedprice") * (lit(1) - col("l_discount")) -
        col("p_retailprice") * lit(0.6) * col("l_quantity"))
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).filter(col("p_name").contains("widget")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(profit).as("profit_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("nation"), col("o_year"))
  }

  val productProfitSql: String =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
      |    - p_retailprice * 0.6 * l_quantity) * 100) AS BIGINT)) AS BIGINT)
      |    AS profit_cents,
      |  CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2
      |ORDER BY nation, o_year""".stripMargin

  /** Returned-item report (TPC-H Q10 shape): the 20 customers with the
    * highest revenue lost to returns in 1996. Filter pushes to the scan
    * (`l_returnflag = 'R'`, the order-date year band), the per-customer
    * aggregate is partial+final, and the top-20 runs as
    * `TakeOrderedAndProject` — a per-partition heap, never a global
    * sort. Tie-broken on the customer key so the cut is deterministic.
    */
  def returnedItems(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)

  /** Order-priority check (TPC-H Q4 shape): order counts per priority
    * over a half-year window, restricted to orders with at least one
    * returned line — the EXISTS is a LEFT-SEMI join (first match wins,
    * no fan-out, no distinct needed), planned as a hash semi-join on
    * the order key. (Q4's commit<receipt predicate needs columns the
    * test tables don't carry; the returned-line EXISTS exercises the
    * same shape.)
    */
  def orderPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .join(Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  val orderPrioritySql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Forecast-revenue change (TPC-H Q6 shape): one table, three
    * band predicates, one global sum — the pure pushdown showcase.
    * Every filter must reach the parquet scan (`PushedFilters`) so row
    * groups outside the bands never decompress; at 100 TB this query
    * is I/O-bound on exactly the rows it keeps. The one output row
    * sums exact integer cents.
    */
  def revenueForecast(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
      .agg(
        sum(cents(col("l_extendedprice") * col("l_discount"))).as("revenue_cents"),
        count(lit(1)).as("n_lines"))

  val revenueForecastSql: String =
    """SELECT
      |  CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents,
      |  CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Customer order-count distribution (TPC-H Q13 shape): how many
    * customers placed exactly k orders, INCLUDING k = 0 — the LEFT
    * join keeps order-less customers, the first aggregate counts
    * orders per customer (counting order keys, not rows, so the
    * no-order row counts 0), the second histograms the counts. Both
    * aggregates are partial+final; output is bounded by the maximum
    * order count per customer.
    */
  def custDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val custDistributionSql: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  val returnedItemsSql: String =
    """SELECT c_custkey, c_name, n_name, c_acctbal,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
      |    AS BIGINT) AS revenue_cents
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY c_custkey, c_name, n_name, c_acctbal
      |ORDER BY revenue_cents DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** Ship-lag priority counts (TPC-H Q12 shape): for lines that shipped
    * more than 60 days after their order date, count high- vs
    * low-priority orders per line status. (The tables carry no
    * `l_shipmode`/commit/receipt dates; `l_linestatus` stands in for
    * the mode and the ship lag for the late-commit predicate — the
    * shape is the same: fact⋈fact equi-join, a cross-table row-local
    * predicate that can NOT push below the join, a scan-pushable date
    * band that can, and a two-way conditional aggregate.)
    */
  def shipLag(spark: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
      .groupBy(col("l_linestatus").as("ship_class"))
      .agg(
        sum(when(high, lit(1L)).otherwise(lit(0L))).as("high_line_count"),
        sum(when(!high, lit(1L)).otherwise(lit(0L))).as("low_line_count"))
      .orderBy(col("ship_class"))
  }

  val shipLagSql: String =
    """SELECT l_linestatus AS ship_class,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60
      |GROUP BY l_linestatus
      |ORDER BY ship_class""".stripMargin

  /** Promotion revenue share (TPC-H Q14 shape): for one ship month, the
    * percentage of revenue from PROMO-type parts. lineitem⋈part is a
    * shuffled equi-join (part is fact-scale at TPC-H SFs, never
    * broadcast by design — AQE may still downgrade at toy scale); the
    * month band pushes to the lineitem scan so the join only sees the
    * month; the share divides two exact BIGINT cent-sums at the end.
    */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val vol = cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", vol).otherwise(lit(0L))).as("promo_cents"),
        sum(vol).as("total_cents"))
      .withColumn("promo_share_pct",
        round(lit(100.0) * col("promo_cents").cast("double") / col("total_cents"), 6))
  }

  val promoShareSql: String =
    """WITH t AS (
      |  SELECT CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS vol,
      |    p_type
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'),
      |a AS (
      |  SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN vol ELSE 0 END) AS BIGINT)
      |      AS promo_cents,
      |    CAST(sum(vol) AS BIGINT) AS total_cents
      |  FROM t)
      |SELECT promo_cents, total_cents,
      |  round(100.0 * CAST(promo_cents AS DOUBLE) / total_cents, 6) AS promo_share_pct
      |FROM a""".stripMargin

  /** Top supplier (TPC-H Q15 shape): the supplier(s) with the maximum
    * revenue over one quarter — a scalar-max subquery over an
    * aggregated view, joined back to keep ALL ties. The 1-row max is
    * derived from the same aggregate and broadcast back (the
    * [[Mixing.outlierBands]] aggregate-broadcast-back shape): the
    * quarter-banded fact scans twice, both scans pruned by the pushed
    * date band, and the query leaves NO cache residue — a
    * localCheckpoint would save the second scan but its blocks can
    * never be released while the result is live. Never a global
    * window over the corpus.
    */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("total_cents"))
    val mx = rev.agg(max(col("total_cents")).as("mx"))
    Tables.supplier(spark, dir)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(mx))
      .filter(col("total_cents") === col("mx"))
      .select(col("s_suppkey"), col("s_name"), col("total_cents"))
      .orderBy(col("s_suppkey"))
  }

  val topSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
      |      AS BIGINT) AS total_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_cents
      |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
      |WHERE total_cents = (SELECT max(total_cents) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** Disjunctive-predicate revenue (TPC-H Q19 shape): an OR of three
    * brand×size×quantity conjunct bands across the lineitem⋈part join.
    * The disjunction straddles both tables, so it cannot push below
    * the join as-is; the implementation adds the per-side ENVELOPE
    * filters it implies (brand ∈ the three brands, quantity/size in
    * the union band) so each scan prunes before shuffling — the
    * row-local OR then decides exactly. Oracle states the plain OR.
    */
  def disjunctivePred(spark: SparkSession, dir: String): DataFrame = {
    val bands =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 15)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 25)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 35))
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity").between(1, 35))
      .join(Tables.part(spark, dir)
          .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34") &&
            col("p_size").between(1, 35)),
        col("l_partkey") === col("p_partkey"))
      .filter(bands)
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"),
        count(lit(1)).as("n_lines"))
  }

  val disjunctivePredSql: String =
    """SELECT
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
      |    AS BIGINT) AS revenue_cents,
      |  CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 1 AND 15)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
      |       AND l_quantity BETWEEN 10 AND 25)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
      |       AND l_quantity BETWEEN 20 AND 35)""".stripMargin

  /** Small-quantity revenue (TPC-H Q17 shape): average yearly revenue
    * lost if small-quantity orders — lines below 20% of their part's
    * average quantity — were not taken. The correlated scalar subquery
    * (per-part avg over lineitem) is stated as ANSI SQL and Catalyst
    * DECORRELATES it into a per-part aggregate joined back on the part
    * key (pinned in AnalyticsSpec) — never a per-row re-execution.
    * Quantities are integer-valued doubles, so avg = exact-sum/count is
    * bit-identical cross-engine and the 0.2·avg threshold compare
    * cannot flip. Same ANSI string is the DuckDB oracle.
    */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame =
    runWithTables(spark, dir, smallQtyRevenueSql, Seq("lineitem", "part"))

  val smallQtyRevenueSql: String =
    """SELECT
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 7.0)
      |    AS BIGINT) AS avg_yearly_cents
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#23'
      |  AND l_quantity < (
      |    SELECT 0.2 * avg(l_quantity) FROM lineitem
      |    WHERE l_partkey = p_partkey)""".stripMargin

  private val LargeOrderQty = 300.0

  /** Large-volume customers (TPC-H Q18 shape): customers whose orders
    * exceed 300 total quantity. The HAVING-IN subquery is a grouped
    * aggregate over the fact, filtered, then LEFT-SEMI joined back to
    * the order key — the hot-order set is tiny, the semi join never
    * fans out, and the outer 3-way join only sees qualifying orders.
    * Quantity sums are exact (integer-valued doubles → BIGINT).
    */
  def largeOrders(spark: SparkSession, dir: String): DataFrame = {
    val hot = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .filter(col("qty") > LargeOrderQty)
      .select(col("l_orderkey").as("hot_okey"))
    Tables.orders(spark, dir)
      .join(hot, col("o_orderkey") === col("hot_okey"), "left_semi")
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_date"),
        cents(col("o_totalprice")).as("total_cents"))
      .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
      .orderBy(col("total_cents").desc, col("o_orderkey"))
  }

  val largeOrdersSql: String =
    """SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
      |  CAST(sum(l_quantity) AS BIGINT) AS total_qty
      |FROM customer
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
      |GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY total_cents DESC, o_orderkey""".stripMargin

  /** Waiting suppliers (TPC-H Q21 shape): for finalized multi-supplier
    * orders, the supplier whose line shipped LAST — it held the order
    * up. One correlated EXISTS (another supplier participated: planned
    * as a LEFT-SEMI self-join on the order key) and one correlated
    * NOT EXISTS (nobody else shipped later: a LEFT-ANTI self-join with
    * the extra non-equi shipdate predicate riding the equi-join key).
    * The late-line band (ship lag > 365 days) prunes the probe side
    * before either self-join. Top-20 by wait count, deterministically
    * tie-broken. Same ANSI string is the DuckDB oracle; AnalyticsSpec
    * pins the semi+anti plan and recounts via an independent
    * window-max derivation.
    */
  def waitingSuppliers(spark: SparkSession, dir: String): DataFrame =
    runWithTables(spark, dir, waitingSuppliersSql,
      Seq("supplier", "lineitem", "orders", "nation"))

  val waitingSuppliersSql: String =
    """SELECT s_name, n_name,
      |  CAST(count(*) AS BIGINT) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F'
      |  AND CAST(l1.l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 365 DAY
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY s_name, n_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** Idle high-balance customers (TPC-H Q22 shape): per market segment,
    * customers whose balance exceeds the global positive-balance
    * average and who placed no order in the trailing window. The global
    * scalar is a 1-row (sum_cents, n) aggregate broadcast back, and the
    * above-average test multiplies through — cents·n > sum — so it is
    * INTEGER-exact (an avg-of-doubles threshold could flip a borderline
    * customer cross-engine). The no-recent-orders test is a LEFT-ANTI
    * join against the date-pruned orders scan.
    */
  def idleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .withColumn("bal_cents", cents(col("c_acctbal")))
    val stats = cust.filter(col("c_acctbal") > 0)
      .agg(sum(col("bal_cents")).as("s"), count(lit(1)).as("n"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-07-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust
      .crossJoin(broadcast(stats))
      .filter(col("bal_cents") * col("n") > col("s"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal_cents")).as("totacctbal_cents"))
      .orderBy(col("c_mktsegment"))
  }

  val idleCustomersSql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents, c_acctbal
      |  FROM customer),
      |s AS (
      |  SELECT CAST(sum(bal_cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      |  FROM c WHERE c_acctbal > 0)
      |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
      |  CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
      |FROM c, s
      |WHERE bal_cents * n > s
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey
      |      AND o_orderdate >= TIMESTAMP '2000-07-01')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  private val LorenzBins = 10

  /** Revenue-concentration (Lorenz/Pareto) report: at a fixed
    * [[LorenzBins]]+1-point grid of per-customer revenue thresholds,
    * the share of customers at-or-above each threshold and the share
    * of total revenue they hold — the "do 20% of customers carry 80%
    * of revenue" table, computed WITHOUT the global ntile sort the
    * textbook decile formulation needs (a windowless shape matters: an
    * unpartitioned ntile funnels every customer through one task,
    * PlanSpec's cardinal sin, while this is two aggregates and a
    * 1-row broadcast at any scale — the [[graft.ops.Mixing.sourceDrift]]
    * grid discipline applied to concentration).
    *
    * Exactness: revenue sums integer cents; the grid points are
    * identical IEEE doubles in both engines; shares divide exact
    * BIGINTs and round once.
    */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame =
    revenueConcentration(Tables.orders(spark, dir), "o_custkey", "o_totalprice")

  /** DataFrame-first form over any (key, amount) frame. */
  def revenueConcentration(orders: DataFrame, keyCol: String,
                           amountCol: String): DataFrame = {
    val perCust = orders
      .select(col(keyCol).as("k"), cents(col(amountCol)).as("rc"))
      .groupBy(col("k")).agg(sum(col("rc")).as("rev"))
    val mm = perCust.agg(min(col("rev")), max(col("rev"))).head()
    if (mm.isNullAt(0))
      return orders.sparkSession.emptyDataFrame
        .select(lit(0).as("bin"), lit(0.0).as("threshold_cents"),
          lit(0L).as("n_above"), lit(0.0).as("cust_share"),
          lit(0.0).as("rev_share")).limit(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    def t(i: Int) = lit(lo) + (lit(hi) - lit(lo)) * lit(i) / lit(LorenzBins.toDouble)
    val aggs = Seq(count(lit(1)).as("n_cust"), sum(col("rev")).as("total")) ++
      (0 to LorenzBins).flatMap(i => Seq(
        sum((col("rev").cast("double") >= t(i)).cast("long")).as(s"n_$i"),
        sum(when(col("rev").cast("double") >= t(i), col("rev"))
          .otherwise(lit(0L))).as(s"r_$i")))
    val one = perCust.agg(aggs.head, aggs.tail: _*)
    val bins = (0 to LorenzBins).map(i => struct(
      lit(i).as("bin"), t(i).as("threshold_cents"),
      col(s"n_$i").as("n_above"),
      round(col(s"n_$i").cast("double") / col("n_cust"), 4).as("cust_share"),
      round(col(s"r_$i").cast("double") / col("total"), 4).as("rev_share")))
    one.select(explode(array(bins: _*)).as("b"))
      .select(col("b.bin"), col("b.threshold_cents"), col("b.n_above"),
        col("b.cust_share"), col("b.rev_share"))
      .orderBy(col("bin"))
  }

  val revenueConcentrationSql: String =
    s"""WITH pc AS (
      |  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY o_custkey),
      |mm AS (SELECT CAST(min(rev) AS BIGINT) AS lo, CAST(max(rev) AS BIGINT) AS hi,
      |              CAST(count(*) AS BIGINT) AS n_cust,
      |              CAST(sum(rev) AS BIGINT) AS total FROM pc),
      |grid AS (
      |  SELECT i, lo + (hi - lo) * i / ${LorenzBins.toDouble} AS t, n_cust, total
      |  FROM mm CROSS JOIN generate_series(0, $LorenzBins) AS g(i))
      |SELECT CAST(i AS INT) AS bin, t AS threshold_cents,
      |  CAST(sum(CASE WHEN CAST(rev AS DOUBLE) >= t THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |  round(CAST(sum(CASE WHEN CAST(rev AS DOUBLE) >= t THEN 1 ELSE 0 END) AS DOUBLE)
      |        / any_value(n_cust), 4) AS cust_share,
      |  round(CAST(sum(CASE WHEN CAST(rev AS DOUBLE) >= t THEN rev ELSE 0 END) AS DOUBLE)
      |        / any_value(total), 4) AS rev_share
      |FROM pc CROSS JOIN grid
      |GROUP BY i, t
      |ORDER BY bin""".stripMargin

  /** Run `sql` with the named driver tables registered under
    * collision-free temp-view names (same contract as
    * `Advanced.runWithTables`: the published ANSI string keeps the
    * canonical table names for the DuckDB oracle; Spark-side they are
    * rewritten per-call so concurrent queries cannot race on
    * `createOrReplaceTempView`).
    */
  private val ItemsetMinSup = 2
  private val ItemsetTopK = 50

  /** Market-basket frequent item PAIRS with confidence and lift —
    * association-rule mining over order baskets (Agrawal et al.,
    * "Mining Association Rules", SIGMOD 1993; the pair level is the
    * workhorse of co-occurrence recommendation).
    *
    * Scale shape: pair derivation is deliberately NOT a fact self-join
    * (which would scan and shuffle lineitem twice). Baskets collapse to
    * one sorted item array per order — a single keyed aggregate — and
    * the i&lt;j pair expansion is ROW-LOCAL over that array, bounded by
    * basket size squared (TPC-H baskets hold ≤ 7 items, so ≤ 21 pairs
    * per order at any corpus size). Pair counts cut to the top
    * [[ItemsetTopK]] via TakeOrdered (never a global sort), and only
    * that bounded frame broadcasts into the item-support joins; the
    * |parts|-sized support side streams. Confidence and lift divide
    * exact BIGINT counts once at the end — cross-engine bit-identical.
    */
  def freqItemsets(spark: SparkSession, dir: String): DataFrame =
    freqItemsets(Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")

  /** DataFrame-first form. */
  def freqItemsets(lines: DataFrame, orderCol: String, itemCol: String,
                   minSup: Int = ItemsetMinSup, k: Int = ItemsetTopK): DataFrame = {
    val b = lines.select(col(orderCol).as("ok"), col(itemCol).as("pk")).distinct()
    val pairs = b.groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("tk"))
      .filter(size(col("tk")) >= 2)
      // fan the basket frame to session width before the QUADRATIC
      // explode (the Graph.pairCensusOf discipline): AQE sizes the
      // basket agg's read by BYTES, but each partition anchors a task
      // whose pair work is quadratic in basket size. The basket frame
      // is one linear pass's output — a round-robin of it is ~free
      // next to the explode it widens. Unlike pairCensusOf it does not
      // probe the width first: every pairCensusOf caller has already
      // materialized its basket frame, so the probe is a driver-side
      // read, while this basket frame is lazy and a probe would run
      // its AQE stages as jobs at construction (the reason
      // Tables.spreadScan's probe is passive).
      .repartition(lines.sparkSession.sessionState.conf
        .numShufflePartitions)
      // two-stage explode: anchor index first, then only the i-suffix
      // slice — never the full n²/2 pair array in one buffer
      .select(col("tk"), explode(expr("sequence(0, size(tk) - 2)")).as("i"))
      .select(explode(expr(
        "transform(sequence(i + 1, size(tk) - 1), j -> named_struct('a', tk[i], 'b', tk[j]))"))
        .as("p"))
      .select(col("p.a").as("part_a"), col("p.b").as("part_b"))
    val pc = pairs.groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minSup)
      .orderBy(col("pair_cnt").desc, col("part_a"), col("part_b"))
      .limit(k)
    val items = b.groupBy(col("pk")).agg(count(lit(1)).as("item_cnt"))
    val n = b.agg(countDistinct(col("ok")).as("n_orders"))
    val withA = items.join(broadcast(pc), col("pk") === col("part_a"))
      .select(col("part_a"), col("part_b"), col("pair_cnt"),
        col("item_cnt").as("cnt_a"))
    items.withColumnRenamed("pk", "pk_b")
      .withColumnRenamed("item_cnt", "cnt_b")
      .join(broadcast(withA), col("pk_b") === col("part_b"))
      .crossJoin(broadcast(n))
      .select(col("part_a"), col("part_b"), col("pair_cnt"),
        col("cnt_a"), col("cnt_b"),
        round(col("pair_cnt").cast("double") / col("cnt_a"), 4).as("conf_ab"),
        round((col("pair_cnt") * col("n_orders")).cast("double") /
          (col("cnt_a") * col("cnt_b")), 4).as("lift"))
      .orderBy(col("pair_cnt").desc, col("part_a"), col("part_b"))
  }

  val freqItemsetsSql: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |p AS (
      |  SELECT a.pk AS part_a, c.pk AS part_b, count(*) AS pair_cnt
      |  FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
      |  GROUP BY 1, 2),
      |top AS (
      |  SELECT part_a, part_b, pair_cnt,
      |    row_number() OVER (ORDER BY pair_cnt DESC, part_a, part_b) AS rn
      |  FROM p WHERE pair_cnt >= $ItemsetMinSup),
      |i AS (SELECT pk, count(*) AS cnt FROM b GROUP BY pk),
      |n AS (SELECT count(*) AS n_orders FROM (SELECT DISTINCT ok FROM b))
      |SELECT part_a, part_b, CAST(pair_cnt AS BIGINT) AS pair_cnt,
      |  CAST(ia.cnt AS BIGINT) AS cnt_a, CAST(ib.cnt AS BIGINT) AS cnt_b,
      |  round(CAST(pair_cnt AS DOUBLE) / ia.cnt, 4) AS conf_ab,
      |  round(CAST(pair_cnt * n_orders AS DOUBLE) / (ia.cnt * ib.cnt), 4) AS lift
      |FROM top
      |JOIN i ia ON part_a = ia.pk
      |JOIN i ib ON part_b = ib.pk
      |CROSS JOIN n
      |WHERE rn <= $ItemsetTopK
      |ORDER BY pair_cnt DESC, part_a, part_b""".stripMargin

  /** Skyline (Pareto frontier) query — multi-objective retrieval: the
    * orders NOT DOMINATED on (order date, total price), i.e. no other
    * order is at least as late AND at least as expensive with one
    * strict. The classic "best trade-offs" operator (Börzsönyi et al.,
    * "The Skyline Operator", ICDE 2001).
    *
    * Scale shape — never the naive quadratic NOT-EXISTS self-join: for
    * a 2-D skyline, dominance collapses along one axis first. One
    * keyed aggregate reduces the corpus to (date, max price) — a
    * |dates|-bounded frame — the frontier test is a strict cummax over
    * LATER dates on that bounded frame (one window, never over raw
    * orders), and surviving (date, price) frontier points semi-join
    * back to pull every tied order. Prices compare in exact integer
    * cents so a double round-trip can't flip a frontier membership.
    */
  def skyline(spark: SparkSession, dir: String): DataFrame =
    skyline(Tables.orders(spark, dir), "o_orderkey", "o_orderdate", "o_totalprice")

  /** DataFrame-first form: frontier of (maximize dateCol, maximize priceCol). */
  def skyline(orders: DataFrame, idCol: String, dateCol: String,
              priceCol: String): DataFrame = {
    val o = orders.select(col(idCol).as("id"), col(dateCol).as("d"),
      cents(col(priceCol)).as("pc"))
    val perDate = o.groupBy(col("d")).agg(max(col("pc")).as("pmax"))
    val laterMax = org.apache.spark.sql.expressions.Window.orderBy(col("d").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val frontier = perDate
      .withColumn("later_max", max(col("pmax")).over(laterMax))
      .filter(col("later_max").isNull || col("pmax") > col("later_max"))
      .select(col("d").as("fd"), col("pmax"))
    o.join(broadcast(frontier),
        col("d") === col("fd") && col("pc") === col("pmax"))
      .select(col("id").as("o_orderkey"), col("d").as("o_orderdate"),
        (col("pc").cast("double") / 100).as("price"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
  }

  val skylineSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderdate AS d,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc
      |  FROM orders),
      |m AS (SELECT d, max(pc) AS pmax FROM o GROUP BY d),
      |f AS (
      |  SELECT d, pmax, max(pmax) OVER (ORDER BY d DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS later_max
      |  FROM m)
      |SELECT o.o_orderkey, o.d AS o_orderdate,
      |  CAST(o.pc AS DOUBLE) / 100 AS price
      |FROM o JOIN f ON o.d = f.d AND o.pc = f.pmax
      |WHERE f.later_max IS NULL OR f.pmax > f.later_max
      |ORDER BY o_orderdate, o_orderkey""".stripMargin

  /** Period-over-period growth — the classic BI reporting rollup:
    * monthly revenue with month-over-month and year-over-year growth
    * ratios. Revenue sums exact integer cents (order-independent);
    * the growth columns are each ONE division of two exact BIGINTs
    * rounded once, so they are cross-engine bit-identical — note
    * deliberately NOT integer `div` for the ratio: Spark's `div`
    * truncates toward zero while DuckDB's `//` floors, and negative
    * growth would land on different integers. Prior periods are
    * CALENDAR-exact: self-joins on `month = add_months(month, -1/-12)`
    * over the |months|-bounded post-aggregate frame (broadcast, never
    * the fact table) — a `lag(12)` over month rows would silently
    * pair the wrong months the moment any calendar month has no
    * orders. Months with no prior-period row carry NULL growth (no
    * fabricated zero).
    */
  def revenueGrowth(spark: SparkSession, dir: String): DataFrame =
    revenueGrowth(Tables.orders(spark, dir), "o_orderdate", "o_totalprice")

  /** DataFrame-first form. */
  def revenueGrowth(orders: DataFrame, dateCol: String,
                    priceCol: String): DataFrame = {
    val monthly = orders
      .select(date_trunc("month", col(dateCol)).cast("date").as("month"),
        cents(col(priceCol)).as("pc"))
      .groupBy(col("month"))
      .agg(sum(col("pc")).as("revenue_cents"), count(lit(1)).as("n_orders"))
    def prior(as: String) = broadcast(monthly.select(
      col("month").as(s"${as}_month"), col("revenue_cents").as(as)))
    monthly
      .join(prior("prev_m"),
        col("month") === add_months(col("prev_m_month"), 1), "left")
      .join(prior("prev_y"),
        col("month") === add_months(col("prev_y_month"), 12), "left")
      .select(col("month"), col("revenue_cents"), col("n_orders"),
        round((col("revenue_cents") - col("prev_m")).cast("double") /
          col("prev_m"), 4).as("mom_growth"),
        round((col("revenue_cents") - col("prev_y")).cast("double") /
          col("prev_y"), 4).as("yoy_growth"))
      .orderBy(col("month"))
  }

  val revenueGrowthSql: String =
    """WITH m AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS revenue_cents,
      |    count(*) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT m.month, m.revenue_cents, m.n_orders,
      |  round(CAST(m.revenue_cents - pm.revenue_cents AS DOUBLE)
      |    / pm.revenue_cents, 4) AS mom_growth,
      |  round(CAST(m.revenue_cents - py.revenue_cents AS DOUBLE)
      |    / py.revenue_cents, 4) AS yoy_growth
      |FROM m
      |LEFT JOIN m pm ON pm.month = CAST(m.month - INTERVAL 1 MONTH AS DATE)
      |LEFT JOIN m py ON py.month = CAST(m.month - INTERVAL 12 MONTH AS DATE)
      |ORDER BY m.month""".stripMargin

  /** Holt's linear-trend (double exponential smoothing) revenue
    * forecast, α=0.2 β=0.3, ENTIRELY in integer cents: the recurrence
    *   l_t = ⌊(2·y_t + 8·(l_{t−1}+b_{t−1})) / 10⌋
    *   b_t = ⌊(3·(l_t − l_{t−1}) + 7·b_{t−1}) / 10⌋
    * runs as a row-local `aggregate` fold over the |months|-bounded
    * sorted series (the q_hof_battery sequential-fold discipline), so
    * DuckDB replays it as a recursive CTE and hash-matches the state,
    * the 3-month-ahead forecasts l_T + h·b_T, AND the in-sample
    * absolute-error total. The ⌊·⌋ here is TRUNCATION toward zero, not
    * floor: a crashing trend makes numerators negative, and Spark's
    * `DIV` and DuckDB's `//` BOTH truncate (verified: `-7 // 10` is 0
    * in DuckDB, not −1) — so plain integer division is the one form
    * the two engines already agree on, and it is the documented
    * semantics of this op.
    * Initialization (textbook): l₂=y₂, b₂=y₂−y₁; updates and the
    * absolute-error total run from t=3 (the series needs ≥ 2 observed
    * months). Gap months are skipped, not
    * zero-filled — the recurrence steps over OBSERVED months in
    * calendar order (zero-fill would teach the trend a crash that
    * never happened; document-level gap handling is [[revenueGrowth]]'s
    * calendar-exact join).
    *
    * Scale posture: the corpus-sized work is ONE keyed month aggregate;
    * everything after runs on a bounded frame collapsed to a single
    * row — the same bounded-collect contract as the PCA/IVF stats.
    */
  def holtForecast(spark: SparkSession, dir: String): DataFrame =
    holtForecast(Tables.orders(spark, dir), "o_orderdate", "o_totalprice")

  /** The Holt double-exponential state fold over the sorted month
    * array `a` — shared by [[holtForecast]] and [[forecastEval]].
    */
  private[ops] val HoltStateFold: String = {
    def fdiv10(x: String) = s"(($x) DIV 10)"
    val lt = fdiv10("2 * x.c + 8 * (acc.lp + acc.bp)")
    val bt = fdiv10(s"3 * ($lt - acc.lp) + 7 * acc.bp")
    s"""aggregate(
       |  slice(a, 3, greatest(size(a) - 2, 0)),
       |  named_struct('lp', a[1].c, 'bp', a[1].c - a[0].c,
       |               'sae', CAST(0 AS BIGINT)),
       |  (acc, x) -> named_struct(
       |    'lp', $lt,
       |    'bp', $bt,
       |    'sae', acc.sae + abs(x.c - (acc.lp + acc.bp))))""".stripMargin
  }

  /** DataFrame-first form; series must have ≥ 2 observed months. */
  def holtForecast(orders: DataFrame, dateCol: String,
                   priceCol: String): DataFrame = {
    val fold = HoltStateFold
    orders
      .select(date_trunc("month", col(dateCol)).cast("date").as("m"),
        cents(col(priceCol)).as("pc"))
      .groupBy(col("m")).agg(sum(col("pc")).as("c"))
      .agg(sort_array(collect_list(struct(col("m"), col("c")))).as("a"))
      .select(expr(fold).as("st"),
        expr("element_at(a, size(a)).m").as("last_m"),
        expr("CAST(greatest(size(a) - 2, 0) AS BIGINT)").as("n_fit"))
      .select(explode(expr("sequence(1, 3)")).as("h"),
        col("st"), col("last_m"), col("n_fit"))
      .select(col("h").cast("int").as("h"),
        add_months(col("last_m"), col("h")).as("forecast_month"),
        (col("st.lp") + col("h") * col("st.bp")).as("forecast_cents"),
        col("st.lp").as("level_cents"), col("st.bp").as("trend_cents"),
        col("st.sae").as("sae_cents"), col("n_fit"))
      .orderBy(col("h"))
  }

  /** DuckDB twin: the identical recurrence as a recursive CTE (the
    * nested subquery computes l_t once so b_t can reference it; `//`
    * floors negatives exactly like the Spark pmod form).
    */
  /** Classical additive seasonal decomposition of the monthly revenue
    * series: trend = the centered 2×12 moving average (half-weight
    * end months — the textbook even-window form), seasonal = the
    * month-of-year mean of the detrended series, residual = the
    * rest. Everything stays EXACT integers in milli-cents: the
    * 24-denominator trend and the per-month seasonal means are
    * quantized by single truncating divisions, so both engines emit
    * identical rows. Months without a full ±6 window carry no trend
    * and are excluded (the standard edge loss — 6 months each end).
    *
    * Scale posture: one keyed month aggregate (the only corpus
    * shuffle); all windows act on the |months|-bounded frame.
    */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame =
    seasonalDecompose(Tables.orders(spark, dir), "o_orderdate", "o_totalprice")

  /** DataFrame-first form; needs ≥ 13 observed months for any output
    * and assumes a gap-free monthly calendar (document: the test
    * series is gap-free; for gappy series gap-fill first).
    */
  def seasonalDecompose(orders: DataFrame, dateCol: String,
                        priceCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("m"))
    val mo = orders
      .select(date_trunc("month", col(dateCol)).cast("date").as("m"),
        cents(col(priceCol)).as("pc"))
      .groupBy(col("m")).agg(sum(col("pc")).as("c"))
    val trended = mo
      // 2×12 MA ×24: ends half-weighted → c₋₆ + 2·Σ₋₅..₊₅ + c₊₆
      .withColumn("t24",
        lag(col("c"), 6).over(w) + lead(col("c"), 6).over(w) +
          lit(2L) * sum(col("c")).over(w.rowsBetween(-5, 5)))
      .filter(col("t24").isNotNull) // full-window months only
      .withColumn("trend_milli", expr("t24 * 1000 div 24"))
      .withColumn("detr_milli", col("c") * 1000L - col("trend_milli"))
      .withColumn("moy", month(col("m")))
    val seasonal = trended.groupBy(col("moy"))
      .agg(expr("sum(detr_milli) div count(1)").as("seasonal_milli"))
    trended.join(broadcast(seasonal), Seq("moy"))
      .select(col("m"), col("c").as("revenue_cents"),
        col("trend_milli"), col("seasonal_milli"),
        (col("c") * 1000L - col("trend_milli") - col("seasonal_milli"))
          .as("resid_milli"))
      .orderBy(col("m"))
  }

  val seasonalDecomposeSql: String =
    """WITH mo AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS c
      |  FROM orders GROUP BY 1),
      |t AS (
      |  SELECT m, c,
      |    lag(c, 6) OVER (ORDER BY m) + lead(c, 6) OVER (ORDER BY m)
      |      + 2 * sum(c) OVER (ORDER BY m ROWS BETWEEN 5 PRECEDING
      |                         AND 5 FOLLOWING) AS t24
      |  FROM mo),
      |d AS (
      |  SELECT m, c, (t24 * 1000) // 24 AS trend_milli,
      |    c * 1000 - (t24 * 1000) // 24 AS detr_milli,
      |    month(m) AS moy
      |  FROM t WHERE t24 IS NOT NULL),
      |s AS (
      |  SELECT moy,
      |    CAST(sum(detr_milli) // count(*) AS BIGINT) AS seasonal_milli
      |  FROM d GROUP BY moy)
      |SELECT m, c AS revenue_cents,
      |  CAST(trend_milli AS BIGINT) AS trend_milli, seasonal_milli,
      |  CAST(c * 1000 - trend_milli - seasonal_milli AS BIGINT)
      |    AS resid_milli
      |FROM d JOIN s USING (moy)
      |ORDER BY m""".stripMargin

  /** Forecast-accuracy report for the Holt model: MASE against the
    * one-step naive (the Hyndman–Koehler 2006 denominator — MASE < 1
    * means the model beats "tomorrow equals today") and against the
    * seasonal-12 naive, from EXACT integer error sums: the Holt
    * in-sample absolute-error sum falls out of the same state fold
    * the forecaster runs ([[HoltStateFold]]), the naive sums are
    * row-local folds over the sorted month array, and each MASE is
    * ONE division of exact integer cross-products. Seasonal columns
    * are NULL when the series is shorter than a season (never a
    * divide-by-zero).
    *
    * Scale posture: identical to [[holtForecast]] — one keyed month
    * aggregate, then a single-row bounded frame.
    */
  def forecastEval(spark: SparkSession, dir: String): DataFrame =
    forecastEval(Tables.orders(spark, dir), "o_orderdate", "o_totalprice")

  /** DataFrame-first form; series must have ≥ 3 observed months. */
  def forecastEval(orders: DataFrame, dateCol: String,
                   priceCol: String): DataFrame =
    orders
      .select(date_trunc("month", col(dateCol)).cast("date").as("m"),
        cents(col(priceCol)).as("pc"))
      .groupBy(col("m")).agg(sum(col("pc")).as("c"))
      .agg(sort_array(collect_list(struct(col("m"), col("c")))).as("a"))
      .select(expr(HoltStateFold).as("st"),
        expr("CAST(size(a) AS BIGINT)").as("n_months"),
        expr("CAST(greatest(size(a) - 2, 0) AS BIGINT)").as("n_fit"),
        expr("""aggregate(sequence(1, size(a) - 1), CAST(0 AS BIGINT),
                (acc, i) -> acc + abs(a[i].c - a[i-1].c))""").as("nae1"),
        expr("""CASE WHEN size(a) > 12 THEN
                  aggregate(sequence(12, size(a) - 1), CAST(0 AS BIGINT),
                    (acc, i) -> acc + abs(a[i].c - a[i-12].c))
                ELSE NULL END""").as("nae12"))
      .select(col("n_months"), col("n_fit"),
        col("st.sae").as("sae_cents"),
        expr("st.sae div greatest(n_fit, 1)").as("mae_holt_cents"),
        expr("nae1 div (n_months - 1)").as("mae_naive_cents"),
        when(col("nae1") === 0, lit(null)).otherwise(
          round(col("st.sae").cast("double") * (col("n_months") - 1)
            / (col("nae1").cast("double") * greatest(col("n_fit"), lit(1L))),
            4)).as("mase"),
        expr("CASE WHEN nae12 IS NULL THEN NULL " +
          "ELSE nae12 div (n_months - 12) END").as("mae_snaive_cents"),
        when(col("nae12").isNull || col("nae12") === 0, lit(null)).otherwise(
          round(col("st.sae").cast("double") * (col("n_months") - 12)
            / (col("nae12").cast("double") * greatest(col("n_fit"), lit(1L))),
            4)).as("mase_seasonal"))

  val forecastEvalSql: String =
    """WITH RECURSIVE mo AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS c
      |  FROM orders GROUP BY 1),
      |idx AS (SELECT m, c, row_number() OVER (ORDER BY m) AS i FROM mo),
      |nn AS (SELECT count(*) AS n FROM idx),
      |hw AS (
      |  SELECT 2 AS i,
      |         (SELECT c FROM idx WHERE i = 2) AS lp,
      |         (SELECT c FROM idx WHERE i = 2)
      |           - (SELECT c FROM idx WHERE i = 1) AS bp,
      |         CAST(0 AS BIGINT) AS sae
      |  UNION ALL
      |  SELECT s.i, s.lt, (3 * (s.lt - s.lp) + 7 * s.bp) // 10,
      |         s.sae + abs(s.c - (s.lp + s.bp))
      |  FROM (
      |    SELECT hw.i + 1 AS i, idx.c AS c, hw.lp AS lp, hw.bp AS bp,
      |           hw.sae AS sae,
      |           (2 * idx.c + 8 * (hw.lp + hw.bp)) // 10 AS lt
      |    FROM hw JOIN idx ON idx.i = hw.i + 1
      |  ) s
      |),
      |fin AS (SELECT sae FROM hw WHERE i = (SELECT n FROM nn)),
      |nv AS (
      |  SELECT
      |    CAST(sum(abs(c - prev)) FILTER (prev IS NOT NULL) AS BIGINT)
      |      AS nae1,
      |    CAST(sum(abs(c - prev12)) FILTER (prev12 IS NOT NULL) AS BIGINT)
      |      AS nae12,
      |    CAST(count(*) FILTER (prev12 IS NOT NULL) AS BIGINT) AS n12
      |  FROM (
      |    SELECT c, lag(c) OVER (ORDER BY i) AS prev,
      |           lag(c, 12) OVER (ORDER BY i) AS prev12
      |    FROM idx))
      |SELECT CAST(n AS BIGINT) AS n_months,
      |  CAST(greatest(n - 2, 0) AS BIGINT) AS n_fit,
      |  CAST(sae AS BIGINT) AS sae_cents,
      |  CAST(sae // greatest(n - 2, 1) AS BIGINT) AS mae_holt_cents,
      |  CAST(nae1 // (n - 1) AS BIGINT) AS mae_naive_cents,
      |  CASE WHEN nae1 = 0 THEN NULL
      |    ELSE round(CAST(sae AS DOUBLE) * (n - 1)
      |      / (CAST(nae1 AS DOUBLE) * greatest(n - 2, 1)), 4) END AS mase,
      |  CASE WHEN n12 = 0 THEN NULL
      |    ELSE CAST(nae12 // n12 AS BIGINT) END AS mae_snaive_cents,
      |  CASE WHEN n12 = 0 OR nae12 = 0 THEN NULL
      |    ELSE round(CAST(sae AS DOUBLE) * n12
      |      / (CAST(nae12 AS DOUBLE) * greatest(n - 2, 1)), 4)
      |  END AS mase_seasonal
      |FROM fin, nn, nv""".stripMargin

  val holtForecastSql: String =
    """WITH RECURSIVE mo AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS c
      |  FROM orders GROUP BY 1),
      |idx AS (SELECT m, c, row_number() OVER (ORDER BY m) AS i FROM mo),
      |nn AS (SELECT count(*) AS n, max(m) AS last_m FROM idx),
      |hw AS (
      |  SELECT 2 AS i,
      |         (SELECT c FROM idx WHERE i = 2) AS lp,
      |         (SELECT c FROM idx WHERE i = 2)
      |           - (SELECT c FROM idx WHERE i = 1) AS bp,
      |         CAST(0 AS BIGINT) AS sae
      |  UNION ALL
      |  SELECT s.i, s.lt, (3 * (s.lt - s.lp) + 7 * s.bp) // 10,
      |         s.sae + abs(s.c - (s.lp + s.bp))
      |  FROM (
      |    SELECT hw.i + 1 AS i, idx.c AS c, hw.lp AS lp, hw.bp AS bp,
      |           hw.sae AS sae,
      |           (2 * idx.c + 8 * (hw.lp + hw.bp)) // 10 AS lt
      |    FROM hw JOIN idx ON idx.i = hw.i + 1
      |  ) s
      |),
      |fin AS (SELECT lp, bp, sae FROM hw WHERE i = (SELECT n FROM nn))
      |SELECT CAST(h AS INT) AS h,
      |  CAST((SELECT last_m FROM nn) + h * INTERVAL 1 MONTH AS DATE)
      |    AS forecast_month,
      |  CAST(lp + h * bp AS BIGINT) AS forecast_cents,
      |  CAST(lp AS BIGINT) AS level_cents, CAST(bp AS BIGINT) AS trend_cents,
      |  CAST(sae AS BIGINT) AS sae_cents,
      |  (SELECT CAST(greatest(n - 2, 0) AS BIGINT) FROM nn) AS n_fit
      |FROM fin, (SELECT unnest(generate_series(1, 3)) AS h) hh
      |ORDER BY h""".stripMargin

  /** ABC–XYZ inventory classification of parts — the planner's
    * standard two-axis grid (e.g. Silver/Pyke/Peterson, "Inventory
    * Management and Production Planning"): ABC by cumulative revenue
    * share (A = the head that makes the first 80 % of revenue, B to
    * 95 %, C the tail), XYZ by demand variability (coefficient of
    * variation of MONTHLY shipped quantity incl. zero-demand months:
    * X &lt; 0.5, Y &lt; 1, Z the erratic rest). Nine classes, each with
    * its part count, exact revenue cents and exact ppm revenue share.
    *
    * Determinism — both cuts are EXACT INTEGER comparisons:
    *  - ABC at the VALUE level via [[Ranks.weightedPrefix]]:
    *    `higher(v)` = revenue of strictly-richer parts; A ⟺
    *    5·higher &lt; 4·total, B ⟺ 20·higher &lt; 19·total — tie
    *    groups (equal-revenue parts) classify identically, no
    *    row-position cumsum, no float shares;
    *  - XYZ by cross-multiplied moments: with S = Σq, Q = Σq²_m over
    *    the M-month calendar, CV &lt; t ⟺ (M·Q − S²) &lt; t²·S², so
    *    X ⟺ 4(MQ − S²) &lt; S² and Y ⟺ MQ − S² &lt; S² — no sqrt,
    *    no division anywhere before the final ppm quantization.
    *
    * Scale posture: one (part, month) aggregate + one part rollup on
    * the same key (the only corpus shuffles), the bounded two-level
    * census scan for the revenue prefix, a value-keyed class join and
    * a 9-row fold. Parts that never shipped aren't classified (no
    * demand history — document, don't invent).
    */
  def abcXyz(spark: SparkSession, dir: String): DataFrame =
    abcXyz(Tables.lineitem(spark, dir), "l_partkey", "l_quantity",
      "l_extendedprice", "l_shipdate")

  /** DataFrame-first form over any (item, quantity, price, date)
    * movement frame.
    */
  def abcXyz(lineitem: DataFrame, partCol: String, qtyCol: String,
             priceCol: String, shipDateCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val li = lineitem
      .select(col(partCol).as("pk"),
        expr(s"CAST(round($qtyCol) AS BIGINT)").as("q"),
        expr(s"CAST(round($priceCol * 100) AS BIGINT)").as("rc"),
        date_trunc("month", col(shipDateCol)).cast("date").as("m"))
    val months = li.agg(countDistinct(col("m")).as("mm"))
    val pm = li.groupBy(col("pk"), col("m"))
      .agg(sum(col("q")).as("qm"), sum(col("rc")).as("rcm"))
    val parts = pm.groupBy(col("pk"))
      .agg(sum(col("qm")).as("s"), sum(col("qm") * col("qm")).as("q2"),
        sum(col("rcm")).as("rev"))
      .crossJoin(broadcast(months))
      .withColumn("vnum", col("mm") * col("q2") - col("s") * col("s"))
      .withColumn("xyz",
        when(lit(4L) * col("vnum") < col("s") * col("s"), "X")
          .when(col("vnum") < col("s") * col("s"), "Y").otherwise("Z"))
    val census = parts.groupBy(col("rev").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .select(lit("ALL").as("g"), col("v"), col("cnt"),
        (col("v").cast(DecimalType(38, 0)) * col("cnt")).as("wt"))
    val tot = census.agg(sum(col("wt")).as("totw"))
    val abc = Ranks.weightedPrefix(census, 1L << 16)
      .crossJoin(broadcast(tot))
      .select(col("v").as("rev"),
        when(lit(5) * (col("totw") - col("ltw") - col("wt")) <
          lit(4) * col("totw"), "A")
          .when(lit(20) * (col("totw") - col("ltw") - col("wt")) <
            lit(19) * col("totw"), "B").otherwise("C").as("abc"))
    parts.join(abc, Seq("rev"))
      .groupBy(col("abc"), col("xyz"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("revenue_cents"))
      .crossJoin(broadcast(tot))
      .select(col("abc"), col("xyz"), col("n_parts"), col("revenue_cents"),
        expr("CAST(CAST(revenue_cents AS DECIMAL(38,0)) * 1000000 DIV totw AS BIGINT)")
          .as("revenue_ppm"))
      .orderBy(col("abc"), col("xyz"))
  }

  /** DuckDB twin of [[abcXyz]] — identical integer cuts, census
    * window for the revenue prefix, HUGEINT share arithmetic.
    */
  val abcXyzSql: String =
    """WITH li AS (
      |  SELECT l_partkey AS pk, CAST(round(l_quantity) AS BIGINT) AS q,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS rc,
      |    CAST(date_trunc('month', l_shipdate) AS DATE) AS m
      |  FROM lineitem),
      |mm AS (SELECT CAST(count(DISTINCT m) AS BIGINT) AS mm FROM li),
      |pm AS (
      |  SELECT pk, m, CAST(sum(q) AS BIGINT) AS qm,
      |    CAST(sum(rc) AS BIGINT) AS rcm
      |  FROM li GROUP BY pk, m),
      |parts AS (
      |  SELECT pk, CAST(sum(qm) AS BIGINT) AS s,
      |    CAST(sum(qm * qm) AS BIGINT) AS q2,
      |    CAST(sum(rcm) AS BIGINT) AS rev
      |  FROM pm GROUP BY pk),
      |px AS (
      |  SELECT pk, rev,
      |    CASE WHEN 4 * (mm * q2 - s * s) < s * s THEN 'X'
      |         WHEN mm * q2 - s * s < s * s THEN 'Y' ELSE 'Z' END AS xyz
      |  FROM parts CROSS JOIN mm),
      |cen AS (
      |  SELECT rev AS v, CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(rev AS HUGEINT) * count(*) AS wt
      |  FROM parts GROUP BY rev),
      |rk AS (
      |  SELECT v, wt, sum(wt) OVER (ORDER BY v) - wt AS ltw FROM cen),
      |tw AS (SELECT sum(wt) AS totw FROM cen),
      |abc AS (
      |  SELECT v AS rev,
      |    CASE WHEN 5 * (totw - ltw - wt) < 4 * totw THEN 'A'
      |         WHEN 20 * (totw - ltw - wt) < 19 * totw THEN 'B'
      |         ELSE 'C' END AS abc
      |  FROM rk CROSS JOIN tw)
      |SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
      |  CAST(sum(rev) AS BIGINT) AS revenue_cents,
      |  CAST(CAST(sum(rev) AS HUGEINT) * 1000000
      |       // (SELECT totw FROM tw) AS BIGINT) AS revenue_ppm
      |FROM px JOIN abc USING (rev)
      |GROUP BY abc, xyz
      |ORDER BY abc, xyz""".stripMargin

  private def runWithTables(spark: SparkSession, dir: String, sql: String,
                            names: Seq[String]): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val rewritten = names.foldLeft(sql)((s, n) => s.replaceAll(s"\\b$n\\b", s"${n}_$tag"))
    names.foreach(n =>
      Tables.table(spark, dir, n).createOrReplaceTempView(s"${n}_$tag"))
    try spark.sql(rewritten)
    finally names.foreach(n => spark.catalog.dropTempView(s"${n}_$tag"))
  }

  /** Base / comparison years for the shipped [[priceIndex]] query —
    * fixed dials like [[Diagnostics.ChurnCensorDays]]; both years are
    * fully covered by the test corpus (1995–2001).
    */
  val PriceIndexBaseYear = 1995
  val PriceIndexCompYear = 1996

  /** Classical price indexes between two years over the MATCHED
    * basket (parts shipped in BOTH years — entries/exits excluded,
    * documented): Laspeyres Σp₁q₀/Σp₀q₀ (base-weighted), Paasche
    * Σp₁q₁/Σp₀q₁ (current-weighted) and Fisher's ideal √(L·P). Item
    * prices are unit values (period revenue / period quantity), so
    * Σp₀q₀ and Σp₁q₁ are EXACTLY the period revenues in cents and the
    * two cross terms p₁q₀, p₀q₁ are each ONE truncating DIV to
    * integer milli-cents per item before the order-free cross-item
    * sum — L and P come out in exact basis points, Fisher is one
    * shared double sqrt over their product. rev·qty·1000 bounds
    * DECIMAL(38,0) to ~10¹⁷ rows per item-year — unreachable.
    *
    * Scale posture: two year-pruned item-keyed aggregates (the year
    * filters push to the scan), one item-keyed equi-join, one 1-row
    * fold. No broadcast of the item dimension (200M rows/SF at TPC-H
    * scale).
    */
  def priceIndex(spark: SparkSession, dir: String): DataFrame =
    priceIndex(Tables.lineitem(spark, dir), "l_partkey", "l_shipdate",
      "l_extendedprice", "l_quantity", PriceIndexBaseYear,
      PriceIndexCompYear)

  /** DataFrame-first form over any (item, date, price, quantity)
    * movement frame.
    */
  def priceIndex(df: DataFrame, itemCol: String, dateCol: String,
                 priceCol: String, qtyCol: String, baseYear: Int,
                 compYear: Int): DataFrame = {
    def yearAgg(y: Int, rev: String, q: String) = df
      .filter(yearEquals(df, dateCol, y))
      .groupBy(col(itemCol).as("item"))
      .agg(sum(expr(s"CAST(round($priceCol * 100) AS BIGINT)")).as(rev),
        sum(expr(s"CAST(round($qtyCol) AS BIGINT)")).as(q))
    val m = yearAgg(baseYear, "rev0", "q0")
      .join(yearAgg(compYear, "rev1", "q1"), Seq("item"))
      .filter(col("q0") > 0 && col("q1") > 0)
    m.select(col("rev0"), col("rev1"),
        expr("CAST(CAST(rev1 AS DECIMAL(38,0)) * q0 * 1000 DIV q1" +
          " AS DECIMAL(38,0))").as("tl"),
        expr("CAST(CAST(rev0 AS DECIMAL(38,0)) * q1 * 1000 DIV q0" +
          " AS DECIMAL(38,0))").as("tp"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("rev0")).as("rev0_cents"), sum(col("rev1")).as("rev1_cents"),
        sum(col("tl")).as("sl"), sum(col("tp")).as("sp"))
      .select(col("n_items"), col("rev0_cents"), col("rev1_cents"),
        expr("CAST(sl * 10000 DIV (CAST(rev0_cents AS DECIMAL(38,0))" +
          " * 1000) AS BIGINT)").as("laspeyres_bp"),
        expr("CAST(CAST(rev1_cents AS DECIMAL(38,0)) * 10000000" +
          " DIV sp AS BIGINT)").as("paasche_bp"))
      .withColumn("fisher_bp", round(sqrt(
        col("laspeyres_bp").cast("double")
          * col("paasche_bp").cast("double")), 2))
  }

  /** Return period (blocks) for [[gumbelReturn]]'s headline level. */
  val GumbelReturnPeriod = 12

  /** Gumbel extreme-value fit over monthly block maxima of daily
    * revenue, with the T = [[GumbelReturnPeriod]]-block return level —
    * "how big a day should we provision for once a year?": the
    * capacity-planning complement of [[Ranks.tailRisk]]'s
    * within-sample VaR (extreme-value theory extrapolates BEYOND the
    * observed quantiles, which order statistics cannot). Method of
    * moments (documented — not ML, which needs iteration):
    * β = s·√6/π, μ = x̄ − γβ (Euler–Mascheroni γ), return level
    * x_T = μ − β·ln(−ln(1 − 1/T)).
    *
    * Exactness: daily sums and monthly maxima are exact integer
    * cents; n, Σx, Σx² (DECIMAL(38,0)) fold exactly; everything after
    * is ONE shared double expression tree off those three integers
    * (the [[Diagnostics.linReg]] discipline), so both engines emit
    * identical doubles. NULL when fewer than 2 blocks or zero
    * variance.
    *
    * Scale posture: one day-keyed aggregate, one month-keyed max,
    * one 1-row moment fold — the block frame is calendar-bounded.
    */
  def gumbelReturn(spark: SparkSession, dir: String): DataFrame =
    gumbelReturn(Tables.orders(spark, dir), "o_orderdate", "o_totalprice",
      GumbelReturnPeriod)

  /** DataFrame-first form over any (date, amount) frame. */
  def gumbelReturn(df: DataFrame, dateCol: String, priceCol: String,
                   returnPeriod: Int): DataFrame = {
    val daily = df
      .select(to_date(col(dateCol)).as("d"),
        expr(s"CAST(round($priceCol * 100) AS BIGINT)").as("pc"))
      .groupBy(col("d")).agg(sum(col("pc")).as("x"))
    val blocks = daily
      .groupBy(date_trunc("month", col("d")).as("m"))
      .agg(max(col("x")).as("bx"))
    blocks
      .agg(count(lit(1)).as("n"), sum(col("bx")).as("s"),
        sum(expr("CAST(bx AS DECIMAL(38,0)) * bx")).as("ss"),
        max(col("bx")).as("observed_max_cents"))
      .select(col("n"), col("observed_max_cents"),
        when(col("n") < 2, lit(null)).otherwise(
          expr("""CAST(s AS DOUBLE) / n""")).as("mean_cents_d"),
        when(col("n") < 2, lit(null)).otherwise(expr(
          """sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
            |  / (n - 1)) * sqrt(6.0) / pi()""".stripMargin)).as("beta_d"))
      .select(col("n").as("n_blocks"), col("observed_max_cents"),
        when(col("beta_d").isNull || col("beta_d") <= 0, lit(null))
          .otherwise(round(col("mean_cents_d")
            - lit(0.5772156649015329) * col("beta_d"), 2)).as("mu_cents"),
        when(col("beta_d").isNull || col("beta_d") <= 0, lit(null))
          .otherwise(round(col("beta_d"), 2)).as("beta_cents"),
        when(col("beta_d").isNull || col("beta_d") <= 0, lit(null))
          .otherwise(round(col("mean_cents_d")
            - lit(0.5772156649015329) * col("beta_d")
            - col("beta_d") * log(-log(lit(1.0)
              - lit(1.0) / returnPeriod)), 2)).as("return_level_cents"))
  }

  /** DuckDB twin of [[gumbelReturn]] — identical integer moments and
    * shared double tail (γ and the MoM constants are literals).
    */
  val gumbelReturnSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS x
       |  FROM orders GROUP BY 1),
       |blocks AS (
       |  SELECT date_trunc('month', d) AS m, max(x) AS bx
       |  FROM daily GROUP BY 1),
       |mo AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(bx) AS BIGINT) AS s,
       |    sum(CAST(bx AS HUGEINT) * bx) AS ss,
       |    max(bx) AS observed_max_cents
       |  FROM blocks),
       |t AS (
       |  SELECT n, observed_max_cents,
       |    CASE WHEN n < 2 THEN NULL
       |      ELSE CAST(s AS DOUBLE) / n END AS mean_cents_d,
       |    CASE WHEN n < 2 THEN NULL
       |      ELSE sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
       |        / (n - 1)) * sqrt(6.0) / pi() END AS beta_d
       |  FROM mo)
       |SELECT n AS n_blocks, observed_max_cents,
       |  CASE WHEN beta_d IS NULL OR beta_d <= 0 THEN NULL
       |    ELSE round(mean_cents_d - 0.5772156649015329 * beta_d, 2)
       |  END AS mu_cents,
       |  CASE WHEN beta_d IS NULL OR beta_d <= 0 THEN NULL
       |    ELSE round(beta_d, 2) END AS beta_cents,
       |  CASE WHEN beta_d IS NULL OR beta_d <= 0 THEN NULL
       |    ELSE round(mean_cents_d - 0.5772156649015329 * beta_d
       |      - beta_d * ln(-ln(1.0 - 1.0 / $GumbelReturnPeriod)), 2)
       |  END AS return_level_cents
       |FROM t""".stripMargin

  /** DuckDB twin of [[priceIndex]] — same matched basket, HUGEINT
    * cross terms and shared double Fisher.
    */
  val priceIndexSql: String =
    s"""WITH b AS (
       |  SELECT l_partkey AS item,
       |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
       |      AS BIGINT) AS rev0,
       |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q0
       |  FROM lineitem WHERE year(l_shipdate) = $PriceIndexBaseYear
       |  GROUP BY l_partkey),
       |c AS (
       |  SELECT l_partkey AS item,
       |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
       |      AS BIGINT) AS rev1,
       |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q1
       |  FROM lineitem WHERE year(l_shipdate) = $PriceIndexCompYear
       |  GROUP BY l_partkey),
       |m AS (
       |  SELECT rev0, rev1,
       |    (CAST(rev1 AS HUGEINT) * q0 * 1000) // q1 AS tl,
       |    (CAST(rev0 AS HUGEINT) * q1 * 1000) // q0 AS tp
       |  FROM b JOIN c USING (item) WHERE q0 > 0 AND q1 > 0),
       |t AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_items,
       |    CAST(sum(rev0) AS BIGINT) AS rev0_cents,
       |    CAST(sum(rev1) AS BIGINT) AS rev1_cents,
       |    sum(tl) AS sl, sum(tp) AS sp
       |  FROM m)
       |SELECT n_items, rev0_cents, rev1_cents,
       |  CAST(sl * 10000 // (CAST(rev0_cents AS HUGEINT) * 1000)
       |    AS BIGINT) AS laspeyres_bp,
       |  CAST(CAST(rev1_cents AS HUGEINT) * 10000000 // sp AS BIGINT)
       |    AS paasche_bp,
       |  round(sqrt(CAST(CAST(sl * 10000
       |      // (CAST(rev0_cents AS HUGEINT) * 1000) AS BIGINT) AS DOUBLE)
       |    * CAST(CAST(CAST(rev1_cents AS HUGEINT) * 10000000 // sp
       |      AS BIGINT) AS DOUBLE)), 2) AS fisher_bp
       |FROM t""".stripMargin
}
