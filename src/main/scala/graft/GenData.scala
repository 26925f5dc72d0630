package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor data generator for SCALE-PROOF runs (build tooling,
  * not part of the library surface): emits the ten test tables with
  * the SAME schemas as the driver's fixtures (FIXTURES.md §2) and
  * distribution-matched shapes, at ANY scale factor — the driver only
  * ships sf ≤ 0.1, and "designed for 100 TB" claims need at least one
  * measured growth ratio on data 10× the bench SF (VERDICT r10 item 1).
  *
  * Methodology note (why this is sound evidence): growth ratios are
  * computed between two outputs of THIS generator (e.g. gen0.1 →
  * gen1), never across generators, so unknowable details of the
  * driver's RNG cancel out; the generator's realism is separately
  * calibrated by diffing gen0.1's workload-relevant statistics
  * (row counts, dup/near-dup group counts, lines-per-order, token
  * length deciles, value moments) against the driver's sf0.1 — the
  * match is recorded in DEPLOY.md §6.
  *
  * Distribution shapes matched from the driver fixtures at sf0.1
  * (measured, not assumed — see DEPLOY.md §6 for the diff):
  *  - documents: 10–100 uniform tokens from the fixed 31-word pool;
  *    lang en≈41% / others ≈15%; source = src(doc_id%20); ~0.2%
  *    exact-dup and ~5% near-dup docs (tail-edited copies of a
  *    uniformly random earlier doc — same 200-char prefix, slightly
  *    different length, the minhash-family workload driver);
  *  - embeddings: 64-dim N(0, 0.132) floats, label = hash%10 (the
  *    driver corpus has NO cluster structure — measured same/cross
  *    label cohesion both ≈ 0);
  *  - events: 30 days of µs-resolution timestamps, users = hash %
  *    (customers/10), 5 uniform event types, value ~ Exp(mean 50)
  *    rounded to cents, props = {"k": hash%100};
  *  - TPC-H-ish star: statuses/priorities/segments uniform over the
  *    observed domains, acctbal uniform −1000..10000, retailprice =
  *    900 + 0.1·partkey (the driver's exact formula), 1–7 lines per
  *    order (mean ≈ 4), quantity 1–50, discount 0–0.10 and tax
  *    0–0.08 in cents, shipdate = orderdate ± ~2400 days (the
  *    driver's wide lag), extendedprice = quantity × retailprice.
  *
  * Everything derives from `xxhash64(id, salt)` — layout- and
  * partitioning-independent, deterministic across runs, no RNG state.
  * Each table lands as ONE parquet FILE `<out>/<table>.parquet`
  * (coalesce + move) so DuckDB-side tooling (`tools/check_oracle.py`)
  * reads gen dirs exactly like driver dirs.
  */
object GenData {

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Uniform [0,1) from a salted row hash (µ-resolution). */
  private def u01(salt: String, idCol: String = "id"): String =
    s"(pmod(xxhash64($idCol, '$salt'), 1000000) + 0.5) / 1000000.0"

  private def writeOne(df: DataFrame, out: String, table: String): Unit = {
    val tmp = s"$out/_tmp_$table"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    // Files.list returns a stream holding a directory handle — close it
    def ls(dir: String): Array[String] = {
      val s = Files.list(Paths.get(dir))
      try s.toArray.map(_.toString) finally s.close()
    }
    val part = ls(tmp)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
    require(part.length == 1, s"expected 1 part file for $table, got ${part.length}")
    Files.move(Paths.get(part(0)), Paths.get(s"$out/$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // drop the tmp dir remnants
    ls(tmp).foreach(p => Files.deleteIfExists(Paths.get(p)))
    Files.deleteIfExists(Paths.get(tmp))
    println(s"[gendata] wrote $out/$table.parquet (${df.columns.length} cols)")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfStr, out) = args
    val sf = sfStr.toDouble
    require(sf > 0, s"bad sf $sf")
    val spark = GraftSession.fromEnv("graft-gendata")
    new java.io.File(out).mkdirs()
    generate(spark, sf, out)
    spark.stop()
  }

  def generate(spark: SparkSession, sf: Double, out: String): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nEvents = n(1000000)
    val nDocs = n(50000)
    val nUsers = n(15000)

    writeOne(spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(typedlit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST")), col("id").cast("int") + 1).as("r_name")),
      out, "region")

    writeOne(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), out, "nation")

    writeOne(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      expr("CAST(pmod(xxhash64(id, 'cnat'), 25) AS INT)").as("c_nationkey"),
      expr(s"CAST(round(-1000 + ${u01("cbal")} * 11000, 2) AS DOUBLE)").as("c_acctbal"),
      expr("element_at(array('AUTOMOBILE','BUILDING','FURNITURE'," +
        "'HOUSEHOLD','MACHINERY'), CAST(pmod(xxhash64(id, 'cseg'), 5) AS INT) + 1)")
        .as("c_mktsegment")), out, "customer")

    writeOne(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      expr("CAST(pmod(xxhash64(id, 'snat'), 25) AS INT)").as("s_nationkey"),
      expr(s"CAST(round(-1000 + ${u01("sbal")} * 11000, 2) AS DOUBLE)").as("s_acctbal")),
      out, "supplier")

    writeOne(spark.range(nPart).select(
      col("id").as("p_partkey"),
      expr("concat(element_at(array('large','hot','blue','red','green'," +
        "'small','dim','shiny'), CAST(pmod(xxhash64(id, 'padj'), 8) AS INT) + 1)," +
        " ' ', element_at(array('ring','bolt','screw','nut','washer','gear'," +
        "'cog','pin'), CAST(pmod(xxhash64(id, 'pnoun'), 8) AS INT) + 1))")
        .as("p_name"),
      expr("concat('Brand#', pmod(xxhash64(id, 'pbrand'), 25))").as("p_brand"),
      expr("element_at(array('STANDARD','SMALL','MEDIUM','LARGE','ECONOMY'," +
        "'PROMO'), CAST(pmod(xxhash64(id, 'ptype'), 6) AS INT) + 1)").as("p_type"),
      expr("CAST(1 + pmod(xxhash64(id, 'psize'), 50) AS INT)").as("p_size"),
      expr("CAST(round(900 + 0.1 * id, 2) AS DOUBLE)").as("p_retailprice")), out, "part")

    // orderdate is a pure function of the order key so lineitem can
    // re-derive it without a join
    val orderDate = "date_add(DATE '1995-01-01'," +
      " CAST(pmod(xxhash64(id, 'odate'), 2405) AS INT))"
    writeOne(spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      expr(s"pmod(xxhash64(id, 'ocust'), $nCust)").as("o_custkey"),
      expr("element_at(array('F','O','P'), CAST(pmod(xxhash64(id, 'ostat'), 3) AS INT) + 1)")
        .as("o_orderstatus"),
      expr(s"CAST(round(1000 + ${u01("oprice")} * 499000, 2) AS DOUBLE)").as("o_totalprice"),
      expr(s"CAST($orderDate AS TIMESTAMP)").as("o_orderdate"),
      expr("element_at(array('1-URGENT','2-HIGH','3-MEDIUM'," +
        "'4-NOT SPECIFIED','5-LOW'), CAST(pmod(xxhash64(id, 'oprio'), 5) AS INT) + 1)")
        .as("o_orderpriority")), out, "orders")

    // 1-7 lines per order (mean 4), per-line hashes keyed on (order, line)
    writeOne(spark.range(nOrders)
      .select(col("id"),
        explode(expr("sequence(1, CAST(1 + pmod(xxhash64(id, 'onl'), 7) AS INT))"))
          .as("l_linenumber"))
      .select(
        col("id").as("l_orderkey"),
        expr(s"pmod(xxhash64(id, l_linenumber, 'lpart'), $nPart)").as("l_partkey"),
        expr(s"pmod(xxhash64(id, l_linenumber, 'lsupp'), $nSupp)").as("l_suppkey"),
        col("l_linenumber").cast("int").as("l_linenumber"),
        expr("CAST(1 + pmod(xxhash64(id, l_linenumber, 'lqty'), 50) AS DOUBLE)")
          .as("l_quantity"),
        expr("CAST(round((1 + pmod(xxhash64(id, l_linenumber, 'lqty'), 50)) * " +
          s"(900 + 0.1 * pmod(xxhash64(id, l_linenumber, 'lpart'), $nPart)), 2) AS DOUBLE)")
          .as("l_extendedprice"),
        expr("CAST(pmod(xxhash64(id, l_linenumber, 'ldisc'), 11) / 100.0 AS DOUBLE)").as("l_discount"),
        expr("CAST(pmod(xxhash64(id, l_linenumber, 'ltax'), 9) / 100.0 AS DOUBLE)").as("l_tax"),
        expr("element_at(array('A','N','R'), " +
          "CAST(pmod(xxhash64(id, l_linenumber, 'lrf'), 3) AS INT) + 1)")
          .as("l_returnflag"),
        expr("element_at(array('F','O'), " +
          "CAST(pmod(xxhash64(id, l_linenumber, 'lls'), 2) AS INT) + 1)")
          .as("l_linestatus"),
        expr(s"CAST(date_add($orderDate, " +
          "CAST(pmod(xxhash64(id, l_linenumber, 'lship'), 4897) AS INT) - 2400)" +
          " AS TIMESTAMP)").as("l_shipdate")),
      out, "lineitem")

    writeOne(spark.range(nEvents).select(
      col("id").as("event_id"),
      expr("timestamp_micros(CAST(1704067200000000 AS BIGINT) + " +
        "pmod(xxhash64(id, 'ets'), CAST(2592000000000 AS BIGINT)))").as("ts"),
      expr(s"pmod(xxhash64(id, 'euser'), $nUsers)").as("user_id"),
      expr("element_at(array('click','error','purchase','signup','view'), " +
        "CAST(pmod(xxhash64(id, 'etype'), 5) AS INT) + 1)").as("event_type"),
      expr(s"round(-50 * ln(${u01("eval")}), 2)").as("value"),
      expr("concat('{\"k\": ', pmod(xxhash64(id, 'ek'), 100), '}')").as("props")),
      out, "events")

    // documents: content seed cs picks whose token stream a doc renders;
    // exact dups copy an earlier doc's stream wholesale, near dups copy
    // it but re-roll the last two tokens and wiggle the length by ±1
    val vocabArr = Vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    val dLen = (x: String) => s"(10 + CAST(pmod(xxhash64($x, 'dlen'), 91) AS INT))"
    val tok = (x: String, j: String) =>
      s"element_at($vocabArr, CAST(pmod(xxhash64($x, $j, 'dtok'), 31) AS INT) + 1)"
    writeOne(spark.range(nDocs)
      .withColumn("udup", expr(u01("dsel")))
      // partner must itself be a NON-dup id, or the planted copy would
      // duplicate the partner's id-keyed token stream while the
      // partner's own rendered text came from a different seed (its
      // own partner) — deflating the realized dup rates ~5%. A doc p
      // is a dup iff p >= 100 AND pmod(xxhash64(p,'dsel'),1e6) < 55000
      // (the integer form of udup < 0.055); take the first of six
      // salted uniform draws that is a non-dup (P[all six dups] ≈
      // 0.055^6 ≈ 3e-8), falling back to pmod(draw, 100) — ids < 100
      // are never dups — so the choice is total and deterministic.
      .withColumn("pcands", expr(
        "transform(sequence(0, 5), j -> pmod(xxhash64(id, j, 'dpartner'), greatest(id, 1)))"))
      .withColumn("partner", expr(
        """coalesce(
          |  get(filter(pcands, p ->
          |    p < 100 OR pmod(xxhash64(p, 'dsel'), 1000000) >= 55000), 0),
          |  pmod(pcands[0], 100))""".stripMargin))
      .withColumn("is_exact", expr("id >= 100 AND udup < 0.002"))
      .withColumn("is_near", expr("id >= 100 AND udup >= 0.002 AND udup < 0.055"))
      .withColumn("cs", expr("CASE WHEN is_exact OR is_near THEN partner ELSE id END"))
      .withColumn("nt", expr(
        s"""greatest(10, ${dLen("cs")} + CASE WHEN is_near
           |  THEN CAST(pmod(xxhash64(id, 'dn'), 3) AS INT) - 1 ELSE 0 END)"""
          .stripMargin))
      .select(
        col("id").as("doc_id"),
        expr(s"""array_join(transform(sequence(0, nt - 1), j ->
           |  CASE WHEN is_near AND j >= nt - 2
           |    THEN ${tok("id", "j")} ELSE ${tok("cs", "j")} END), ' ')"""
          .stripMargin).as("text"),
        expr(s"""CASE WHEN ${u01("dlang")} < 0.412 THEN 'en'
           |  WHEN ${u01("dlang")} < 0.559 THEN 'de'
           |  WHEN ${u01("dlang")} < 0.707 THEN 'es'
           |  WHEN ${u01("dlang")} < 0.855 THEN 'fr' ELSE 'zh' END"""
          .stripMargin).as("lang"),
        expr("concat('src', pmod(id, 20))").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      out, "documents")

    generateEmbeddings(spark, sf, out)
  }

  /** The embeddings table alone — exposed so the gen-sf1 ANN recall
    * spec can materialize its 20k-vector corpus in seconds instead of
    * paying the full star-schema generation it doesn't read.
    */
  def generateEmbeddings(spark: SparkSession, sf: Double, out: String): Unit = {
    val nEmb = math.max(1L, math.round(20000 * sf))
    // embeddings: 64-dim N(0, 0.132) via Box-Muller on salted hashes
    val g = "sqrt(-2 * ln((pmod(xxhash64(id, j, 'eg1'), 1000000) + 0.5) / 1000000.0))" +
      " * cos(2 * pi() * (pmod(xxhash64(id, j, 'eg2'), 1000000) + 0.5) / 1000000.0)"
    writeOne(spark.range(nEmb).select(
      col("id").as("vec_id"),
      expr(s"transform(sequence(0, 63), j -> CAST($g * 0.132 AS FLOAT))")
        .as("embedding"),
      expr("CAST(pmod(xxhash64(id, 'elabel'), 10) AS INT)").as("label")),
      out, "embeddings")
  }
}
