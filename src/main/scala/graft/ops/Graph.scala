package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relationship graphs derived from the
  * fact tables. The reference (`/root/reference/batch_processor.go:1-194`)
  * has no graph surface; this implements the driver north star's
  * "iterative compute done Spark-first" requirement with an operator
  * whose RESULT is still oracle-checkable: a fixed-iteration PageRank
  * carried out entirely in scaled BIGINT arithmetic, so DuckDB can
  * replay the identical computation and hash-match every rank value —
  * most iterative operators (k-means, BPE, label propagation) are
  * rows-only by nature; this one is deliberately designed not to be.
  *
  * Determinism design: ranks are BIGINTs at a fixed 1e12 scale; every
  * per-edge contribution is one integer division (`pr DIV outdeg`),
  * the damping multiply is `(85 * sum) DIV 100`, and BIGINT sums are
  * order-independent — so there is no floating-point accumulation
  * anywhere and both engines truncate the same positive quotients.
  * (Spark's `DIV` and DuckDB's `//` both truncate toward zero —
  * verified, `-7 // 10` is 0 in DuckDB — and every operand here is
  * positive anyway.)
  *
  * Scale posture (100 TB): this is textbook distributed PageRank — the
  * edge list is the big frame and it is touched once per iteration by
  * an equi-join on `src` followed by an aggregation on `dst` (two
  * shuffles per round, both on graph keys, never a collect). The
  * edge+degree frame is persisted ONCE and reused by all rounds; the
  * rank frame (|V| rows, far smaller than |E|) is `localCheckpoint`ed
  * on a configurable cadence to cut lineage — an unbounded chain of
  * rounds would embed N copies of the join/agg cascade in the plan,
  * which is what kills iterative jobs at scale (same discipline as
  * [[Dedup.clusterPairs]]). Iteration count is FIXED (not
  * convergence-tested) so the job graph is statically known and the
  * oracle can unroll it.
  */
object Graph {

  /** Rank fixed-point scale: ranks sum to ~1e12 across the graph. */
  val Scale = 1000000000000L
  /** Fixed iteration count — unrolled identically in the oracle SQL. */
  val Iterations = 5

  /** PageRank over the bipartite customer↔supplier purchase graph:
    * an (undirected) edge per distinct (customer, supplier) pair that
    * appears on an order line. Node encoding keeps the two key spaces
    * disjoint without strings: customer c → node 2c, supplier s →
    * node 2s+1. Returns the top 20 nodes by final rank
    * (node_type, entity_id, rank_scaled), tie-broken by type then id.
    */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    pageRank(purchaseEdges(spark, dir), Iterations)
      .select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("node DIV 2").as("entity_id"),
        col("pr").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node_type"), col("entity_id"))
      .limit(20)
  }

  /** DataFrame-first form over any directed (src, dst) edge frame; the
    * graph is symmetrized before iterating (PageRank on the undirected
    * graph). Returns (node, pr) for every node with ≥ 1 edge —
    * isolated vertices never enter (they'd hold exactly the teleport
    * mass and contribute nothing; a caller that wants them appends
    * them afterwards, the [[Dedup.clusterPairs]] singleton pattern).
    *
    * `checkpointEvery` sets the lineage-cut cadence: rounds between
    * cuts chain lazily into ONE job (AQE plans the whole segment, no
    * per-round materialization of the rank frame), and every K-th
    * round `localCheckpoint`s to stop the plan growing without bound.
    * The default cuts once at the end — right for a handful of rounds;
    * a long walk (say 50 rounds) should cut every ~5.
    */
  def pageRank(directedEdges: DataFrame, iterations: Int,
               checkpointEvery: Int = Int.MaxValue): DataFrame = {
    // ONE pass builds the whole iteration input: symmetrize with a
    // row-local explode (a union of a frame with its own swap would
    // scan the caller's edge derivation — a fact-fact join + distinct —
    // once per branch), then attach out-degrees with a window on the
    // same src shuffle. The persisted frame keeps that hash
    // partitioning, so every round's rank join reuses it and only the
    // |V|-row rank side moves.
    val adj = directedEdges
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("ed"))
      .select(col("ed.src").as("src"), col("ed.dst").as("dst"))
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
    Cached.hold(adj) {
      val nodes = adj.select(col("src")).distinct()
      val n = nodes.count()
      require(n > 0, "pageRank: empty edge frame")
      // teleport mass per node, floored once — both constants are
      // driver-side Scala Long arithmetic (exact, positive)
      val teleport = Scale * 15L / (100L * n)
      var ranks = nodes.select(col("src").as("node"), lit(Scale / n).as("pr"))
      for (i <- 1 to iterations) {
        ranks = adj
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst"), expr("pr DIV outdeg").as("c"))
          .groupBy(col("dst"))
          .agg(sum(col("c")).as("s"))
          .select(col("dst").as("node"),
            (lit(teleport) + expr("(85 * s) DIV 100")).as("pr"))
        if (i % checkpointEvery == 0 || i == iterations)
          ranks = Cached.checkpoint(ranks) // materialize + cut lineage
      }
      ranks
    }
  }

  /** Per-customer supplier-basket cap for [[coPurchase]]: pair fan-out
    * is quadratic in basket size, so a power customer (a bot, a
    * reseller) with 10k suppliers would emit 50M pair rows on its own;
    * capped baskets bound every row's expansion at maxBasket²/2 and the
    * dropped whales are the caller-visible difference (documented, and
    * mirrored in the oracle's HAVING).
    */
  val CoPurchaseMaxBasket = 128
  /** Noise floor: a pair must share ≥ this many customers to rank. */
  val CoPurchaseMinShared = 5

  /** Item-item collaborative-filtering similarity over the purchase
    * graph: the top-20 supplier pairs by Jaccard similarity of their
    * customer sets (cosine alongside). The classic "customers who
    * bought from A also bought from B" signal, computed exactly:
    * shared-customer counts come from a row-local sorted-basket i&lt;j
    * pair expansion (never a fact self-join — the
    * [[Analytics.freqItemsets]] discipline, here with the basket cap
    * because customer baskets are unbounded where order baskets
    * aren't), degrees from the same capped baskets so the Jaccard
    * denominator is consistent, and both similarities are ONE double
    * division of exact BIGINTs — deterministic ordering, so the
    * top-20 cut is cross-engine stable (ties broken by the pair key).
    */
  def coPurchase(spark: SparkSession, dir: String): DataFrame =
    scoreCoPurchase(cappedBaskets(spark, dir),
      // census rows already carry the ≥ CoPurchaseMinShared floor
      strongPairCensus(spark, dir)
        .select(col("s_a"), col("s_b"), col("n").as("shared_cust")),
      20,
      // the supplier catalog is a bounded dimension — broadcast is safe
      broadcastDegrees = true)

  /** DataFrame-first form over any (customer, item) incidence frame.
    * `broadcastDegrees` defaults to false — the item catalog's size is
    * the caller's knowledge; AQE decides unless the caller vouches the
    * degree frame fits a broadcast.
    */
  def coPurchase(edges: DataFrame, custCol: String, itemCol: String,
                 maxBasket: Int = CoPurchaseMaxBasket,
                 minShared: Int = CoPurchaseMinShared,
                 k: Int = 20,
                 broadcastDegrees: Boolean = false): DataFrame = {
    val ecols = edges.select(col(custCol).as("c"), col(itemCol).as("s"))
    // cap BEFORE collecting: filtering on size(collect_set(...)) would
    // still materialize a whale's full item array in the aggregation
    // buffer — at corpus scale that is an executor OOM, not a filter.
    // The census + semi-join keeps every collect_set buffer ≤ maxBasket.
    val keep = ecols.groupBy(col("c"))
      .agg(countDistinct(col("s")).as("k"))
      .filter(col("k") <= maxBasket)
      .select(col("c"))
    // capped baskets feed pairs AND degrees, so the upstream edge
    // derivation runs once. Size-1 baskets stay: they emit no pairs but
    // their customer belongs in the Jaccard denominator (dropping them
    // would inflate every similarity that touches a loyal customer base).
    val baskets = ecols.join(keep, Seq("c"), "left_semi")
      .groupBy(col("c")).agg(sort_array(collect_set(col("s"))).as("items"))
    Cached.hold(ecols, baskets) {
      // same shuffle strategy as [[pairCensusOf]] (measured there):
      // raw pairs repartitioned by key into cardinality-sized
      // partitions + ONE complete aggregate — map-side combine buys
      // almost nothing when the pair-key domain is quadratic in the
      // catalog (multiplicity ≈ 2) and its giant per-task hash spills
      val shared = baskets
        .filter(size(col("items")) >= 2)
        .select(col("items"),
          explode(expr("sequence(0, size(items) - 2)")).as("i"))
        .select(explode(expr(
          "transform(sequence(i + 1, size(items) - 1), j -> named_struct('a', items[i], 'b', items[j]))"))
          .as("p"))
        .select(col("p.a").as("s_a"), col("p.b").as("s_b"))
        .repartition(pairParts(edges.sparkSession, pairVolume(baskets)),
          col("s_a"), col("s_b"))
        .groupBy(col("s_a"), col("s_b")).agg(count(lit(1)).as("shared_cust"))
        .filter(col("shared_cust") >= minShared)
      scoreCoPurchase(baskets, shared, k, broadcastDegrees)
    }
  }

  /** The Jaccard/cosine scoring stage over capped baskets and the
    * shared-customer pair frame — shared by both [[coPurchase]] forms.
    * Ends in a ≤ k-row localCheckpoint, so callers may release their
    * upstream caches immediately.
    *
    * `broadcastDegrees` gates the broadcast hint on the item-degree
    * frame: the shipped supplier-dimension query passes true (the
    * catalog is a bounded dim — |suppliers| rows), but the generic
    * DataFrame-first form defaults to FALSE and lets AQE pick the
    * strategy — an LLM-pipeline caller with a 100M-item catalog must
    * not have a driver-OOM broadcast forced on it by a hint.
    */
  private def scoreCoPurchase(baskets: DataFrame, shared: DataFrame,
                              k: Int, broadcastDegrees: Boolean): DataFrame = {
    val deg = baskets
      .select(explode(col("items")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("d"))
    def hint(df: DataFrame): DataFrame =
      if (broadcastDegrees) broadcast(df) else df
    val dd = col("shared_cust").cast("double")
    val scored = shared
      .join(hint(deg.select(col("s").as("s_a"), col("d").as("deg_a"))),
        Seq("s_a"))
      .join(hint(deg.select(col("s").as("s_b"), col("d").as("deg_b"))),
        Seq("s_b"))
      .withColumn("jacc",
        dd / (col("deg_a") + col("deg_b") - col("shared_cust")).cast("double"))
      .withColumn("cos", dd / sqrt((col("deg_a") * col("deg_b")).cast("double")))
      .orderBy(col("jacc").desc, col("s_a"), col("s_b"))
      .limit(k)
    // ≤ k rows; frees the basket cache safely
    Cached.checkpoint(scored)
      .select(col("s_a"), col("s_b"), col("shared_cust"),
        col("deg_a"), col("deg_b"),
        round(col("jacc"), 6).as("jaccard"), round(col("cos"), 6).as("cosine"))
  }

  /** Power-of-two degree-distribution histogram of the purchase graph,
    * per node type — the shape diagnostic that decides the graph ops'
    * physical strategy (a heavy-tailed degree distribution is what
    * makes basket caps, posting caps and skew salting necessary; this
    * op MEASURES the tail instead of assuming it). Buckets are the
    * largest power of two ≤ degree, computed by an integer CASE chain
    * — never floor(log2(d)): log(8)/log(2) is 2.9999999999999996 in
    * doubles, and a power-of-two degree landing one bucket low in only
    * ONE engine is exactly the kind of drift the exact discipline
    * exists to prevent. One aggregation over the symmetrized edge
    * list, then a |buckets|×2-bounded count — nothing corpus-sized
    * leaves the first shuffle.
    */
  def degreeProfile(spark: SparkSession, dir: String): DataFrame = {
    val edges = purchaseEdges(spark, dir)
    val und = edges
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("ed"))
      .select(col("ed.src").as("src"))
    und.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(
        when(col("src") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr(DegreeBucketCase).as("bucket_lo"),
        col("degree"))
      .groupBy(col("node_type"), col("bucket_lo"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("degree")).as("sum_degree"))
      .orderBy(col("node_type"), col("bucket_lo"))
  }

  /** Descending power-of-two CASE chain shared verbatim by both
    * engines (first match = largest power of two ≤ degree).
    */
  private val DegreeBucketCase: String =
    "CASE " + (30 to 0 by -1)
      .map(k => s"WHEN degree >= ${1L << k} THEN ${1L << k}")
      .mkString(" ") + " END"

  val degreeProfileSql: String =
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |),
       |e AS (
       |  SELECT src FROM e0
       |  UNION ALL
       |  SELECT dst AS src FROM e0
       |),
       |deg AS (SELECT src, count(*) AS degree FROM e GROUP BY src)
       |SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |         AS node_type,
       |       $DegreeBucketCase AS bucket_lo,
       |       count(*) AS n_nodes,
       |       CAST(sum(degree) AS BIGINT) AS sum_degree
       |FROM deg
       |GROUP BY 1, 2
       |ORDER BY node_type, bucket_lo""".stripMargin

  /** DuckDB twin of [[coPurchase]] — the self-join formulation over the
    * SAME capped customer set produces the identical pair multiset the
    * sorted-basket expansion does.
    */
  val coPurchaseSql: String =
    """WITH e AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |),
      |bc AS (SELECT c FROM e GROUP BY c HAVING count(*) <= 128),
      |ee AS (SELECT e.c, e.s FROM e JOIN bc ON e.c = bc.c),
      |sc AS (
      |  SELECT a.s AS s_a, b.s AS s_b, count(*) AS shared_cust
      |  FROM ee a JOIN ee b ON a.c = b.c AND a.s < b.s
      |  GROUP BY a.s, b.s HAVING count(*) >= 5
      |),
      |deg AS (SELECT s, count(*) AS d FROM ee GROUP BY s),
      |j AS (
      |  SELECT s_a, s_b, shared_cust, da.d AS deg_a, db.d AS deg_b,
      |    CAST(shared_cust AS DOUBLE)
      |      / CAST(da.d + db.d - shared_cust AS DOUBLE) AS jacc,
      |    CAST(shared_cust AS DOUBLE)
      |      / sqrt(CAST(da.d * db.d AS DOUBLE)) AS cos
      |  FROM sc JOIN deg da ON sc.s_a = da.s JOIN deg db ON sc.s_b = db.s
      |)
      |SELECT s_a, s_b, shared_cust, deg_a, deg_b,
      |  round(jacc, 6) AS jaccard, round(cos, 6) AS cosine
      |FROM j
      |ORDER BY jacc DESC, s_a, s_b
      |LIMIT 20""".stripMargin

  /** The shared oracle-side iteration: deg/nn/r0 plus `iters` unrolled
    * rounds as chained CTEs over an edge CTE named `e`, every
    * arithmetic step (`//` truncating division, BIGINT sums) mirroring
    * the Spark recurrence bit-for-bit.
    */
  private def pageRankRoundsSql(iters: Int): String = {
    def round(k: Int) =
      s"""r$k AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |         CAST((SELECT (1000000000000 * 15) // (100 * n) FROM nn)
         |           + (85 * sum(r${k - 1}.pr // deg.outdeg)) // 100
         |           AS BIGINT) AS pr
         |  FROM e
         |  JOIN r${k - 1} ON e.src = r${k - 1}.node
         |  JOIN deg ON deg.src = e.src
         |  GROUP BY e.dst
         |)""".stripMargin
    s"""deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS MATERIALIZED (
       |  SELECT deg.src AS node, (SELECT 1000000000000 // n FROM nn) AS pr
       |  FROM deg
       |),
       |${(1 to iters).map(round).mkString(",\n")}""".stripMargin
  }

  /** DuckDB twin of [[pageRank]]. */
  val pageRankSql: String = {
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM e0
       |  UNION ALL
       |  SELECT dst AS src, src AS dst FROM e0
       |),
       |${pageRankRoundsSql(Iterations)}
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |         AS node_type,
       |       node // 2 AS entity_id,
       |       pr AS rank_scaled
       |FROM r$Iterations
       |ORDER BY rank_scaled DESC, node_type ASC, entity_id ASC
       |LIMIT 20""".stripMargin
  }

  /** Fixed round count for [[entityComponents]]: min-label propagation
    * reaches the exact component labeling once rounds ≥ the largest
    * component diameter; with fewer rounds the output is still the
    * well-defined (and oracle-identical) R-round labeling. 8 covers
    * every entity graph the blocked levenshtein pairing produces here
    * ([[GraphSpec]] pins round-8 = round-9 stability on the corpus).
    */
  val ComponentRounds = 8

  /** Oracle-checked connected components over the [[Dedup.recordLinkage]]
    * duplicate-pair graph: every part name labeled with the
    * lexicographically smallest name reachable through levenshtein-≤3
    * links — the entity-resolution step AFTER pair detection, as a
    * deterministic fixed-round min-label propagation (the
    * [[Dedup.clusterPairs]] recurrence, but with a static round count
    * and no driver-side convergence loop, so DuckDB unrolls it and
    * hash-matches every label — components for sketch-free graphs are
    * NOT rows-only).
    *
    * Scale posture: identical to [[Dedup.clusterPairs]] — per round one
    * equi-join + one min-aggregate on the label frame, all keyed by
    * name; the pair graph is block-bounded by construction. The label
    * frame is |distinct names|, far below the record count.
    */
  def entityComponents(spark: SparkSession, dir: String): DataFrame =
    entityComponents(Tables.part(spark, dir), "p_name",
      maxDist = 3, maxBlock = 1000, rounds = ComponentRounds)

  /** DataFrame-first form over any named-record frame. */
  def entityComponents(records: DataFrame, nameCol: String, maxDist: Int,
                       maxBlock: Int, rounds: Int): DataFrame = {
    val pairs = Dedup.recordLinkage(records, nameCol, maxDist, maxBlock)
      .select(col("name_a"), col("name_b"))
    val names = records.select(col(nameCol).as("name")).distinct()
    // symmetrized pair edges + a self-loop per name: singletons and
    // blocked-out names keep themselves as their own entity.
    // localCheckpoint (not persist): a plain persist keeps the FULL
    // lineage — the blocked levenshtein join plan — inside every round
    // stage's task binary, and with 8 chained rounds the suite paid
    // seconds of pure task DESERIALIZATION (graft.Profile: 1.3–5.7 s
    // deser per 64-task round stage, run ≤ 0.1 s). The eager cut
    // replaces that lineage with a LogicalRDD; the repartition keys the
    // checkpoint by the propagation join key so every round reuses the
    // partitioning instead of re-exchanging the edge frame. Checkpoint
    // blocks are freed by the ContextCleaner once `adj` is unreachable
    // (the bfsReach per-hop discipline).
    val adj = Cached.checkpoint(pairs.select(col("name_a").as("x"), col("name_b").as("y"))
      .unionByName(pairs.select(col("name_b").as("x"), col("name_a").as("y")))
      .unionByName(names.select(col("name").as("x"), col("name").as("y")))
      .repartition(col("y")))
    locally {
      var labels = names.select(col("name"), col("name").as("lbl"))
      for (i <- 1 to rounds) {
        labels = adj
          .join(labels.select(col("name").as("y"), col("lbl")), Seq("y"))
          .groupBy(col("x")).agg(min(col("lbl")).as("lbl"))
          .select(col("x").as("name"), col("lbl"))
        if (i == rounds) labels = Cached.checkpoint(labels)
      }
      // CONVERGENCE GUARD (Spark-side only — output unchanged): run ONE
      // extra propagation round and assert it changes nothing. The fixed
      // round count exists so DuckDB can unroll the recurrence, but it
      // is an assumption about component diameter: a duplicate chain
      // longer than the round budget would otherwise SILENTLY split one
      // entity into several. One extra join + aggregate on the
      // |names|-row label frame turns that silent wrong answer into a
      // loud failure naming the fix (raise `rounds`).
      val nUnconverged = adj
        .join(labels.select(col("name").as("y"), col("lbl")), Seq("y"))
        .groupBy(col("x")).agg(min(col("lbl")).as("lbl2"))
        .join(labels.select(col("name").as("x"), col("lbl")), Seq("x"))
        .filter(col("lbl2") =!= col("lbl"))
        .count()
      require(nUnconverged == 0L,
        s"entityComponents: min-label propagation not converged after " +
          s"$rounds rounds ($nUnconverged labels still changing) — a " +
          s"component's diameter exceeds the round budget; raise `rounds` " +
          s"(and the oracle's unroll) or split the input")
      labels
        .select(col("name"), col("lbl").as("entity"),
          (col("name") === col("lbl")).as("is_canonical"))
        .orderBy(col("name"))
    }
  }

  /** DuckDB twin of [[entityComponents]] — the blocked levenshtein pair
    * CTE plus [[ComponentRounds]] unrolled min-label rounds.
    */
  val entityComponentsSql: String = {
    def round(k: Int) =
      s"""l$k AS (
         |  SELECT adj.x AS name, min(l${k - 1}.lbl) AS lbl
         |  FROM adj JOIN l${k - 1} ON adj.y = l${k - 1}.name
         |  GROUP BY adj.x
         |)""".stripMargin
    s"""WITH names AS (
       |  SELECT p_name AS name, split_part(p_name, ' ', 1) AS block
       |  FROM part GROUP BY 1, 2),
       |ok AS (SELECT block FROM names GROUP BY block HAVING count(*) <= 1000),
       |pr AS (
       |  SELECT a.name AS name_a, b.name AS name_b
       |  FROM names a
       |  JOIN ok USING (block)
       |  JOIN names b ON a.block = b.block AND a.name < b.name
       |  WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 3),
       |alln AS (SELECT DISTINCT name FROM names),
       |adj AS (
       |  SELECT name_a AS x, name_b AS y FROM pr
       |  UNION ALL SELECT name_b AS x, name_a AS y FROM pr
       |  UNION ALL SELECT name AS x, name AS y FROM alln),
       |l0 AS (SELECT name, name AS lbl FROM alln),
       |${(1 to ComponentRounds).map(round).mkString(",\n")}
       |SELECT name, lbl AS entity, name = lbl AS is_canonical
       |FROM l$ComponentRounds
       |ORDER BY name""".stripMargin
  }

  /** Word co-occurrence floor for [[textRank]]: an adjacent word pair
    * must repeat ≥ this often corpus-wide to become a graph edge —
    * the noise floor that keeps one-off typo adjacencies out of the
    * vocabulary graph (and bounds |E| by the frequent-pair count).
    */
  val TextRankMinCooc = 3

  /** TextRank keyword extraction: the [[pageRank]] recurrence run over
    * the word co-occurrence graph — nodes are vocabulary words, edges
    * are adjacent-word pairs repeating ≥ [[TextRankMinCooc]] times
    * corpus-wide (binary, undirected — the classical formulation).
    * Because the iteration is the same scaled-BIGINT arithmetic, the
    * top-20 keywords are STILL oracle-checkable — a property no
    * float-damped TextRank has.
    *
    * Scale posture: the pair derivation is row-local (indexed
    * transform over each token array, the [[Analytics.freqItemsets]]
    * shape), the only corpus-sized shuffle is the pair count keyed by
    * the pair itself, and the iteration then runs on the
    * |frequent-pairs|-bounded graph — vocabulary graphs grow with
    * vocabulary (sublinear in corpus size), not with the corpus.
    */
  def textRank(spark: SparkSession, dir: String): DataFrame =
    textRank(Tables.documents(spark, dir), "text")

  /** DataFrame-first form over any corpus with a space-tokenized text
    * column.
    */
  def textRank(docs: DataFrame, textCol: String,
               minCooc: Int = TextRankMinCooc, k: Int = 20): DataFrame = {
    val pairs = docs
      .select(split(col(textCol), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(t) - 2),
          |  i -> named_struct('a', t[i], 'b', t[i + 1]))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("src"),
        greatest(col("a"), col("b")).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= minCooc)
      .select(col("src"), col("dst"))
    pageRank(pairs, Iterations)
      .orderBy(col("pr").desc, col("node"))
      .limit(k)
      .select(col("node").as("term"), col("pr").as("rank_scaled"))
  }

  /** DuckDB twin of [[textRank]] — identical tokenization (space
    * split), identical pair floor, identical iteration unroll.
    */
  val textRankSql: String =
    s"""WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
       |p AS (
       |  SELECT unnest([t[i + 1] || ' ' || t[i + 2]
       |                 FOR i IN generate_series(0, len(t) - 2)]) AS pr2
       |  FROM tk WHERE len(t) >= 2
       |),
       |e1 AS (
       |  SELECT least(string_split(pr2, ' ')[1], string_split(pr2, ' ')[2]) AS s,
       |         greatest(string_split(pr2, ' ')[1], string_split(pr2, ' ')[2]) AS d
       |  FROM p
       |  WHERE string_split(pr2, ' ')[1] <> string_split(pr2, ' ')[2]
       |),
       |ew AS (
       |  SELECT s AS src, d AS dst, count(*) AS w
       |  FROM e1 GROUP BY s, d HAVING count(*) >= $TextRankMinCooc
       |),
       |e AS (
       |  SELECT src, dst FROM ew
       |  UNION ALL
       |  SELECT dst AS src, src AS dst FROM ew
       |),
       |${pageRankRoundsSql(Iterations)}
       |SELECT node AS term, pr AS rank_scaled
       |FROM r$Iterations
       |ORDER BY rank_scaled DESC, term ASC
       |LIMIT 20""".stripMargin

  /** Fixed hop count for [[bfsReach]] — unrolled identically in the
    * oracle SQL.
    */
  val BfsHops = 4

  /** Fixed-round breadth-first reachability from the highest-degree
    * node of the bipartite purchase graph — the small-world
    * diagnostic ("how much of the graph is within k hops of the
    * biggest hub") and the third Pregel-style pattern alongside
    * [[pageRank]] (value propagation) and [[entityComponents]]
    * (label convergence): FRONTIER EXPANSION with a visited set.
    *
    * Exactly [[BfsHops]] rounds, so the job graph is static and the
    * DuckDB oracle unrolls the identical frontier/visited recurrence
    * as chained CTEs — hop membership is set algebra on exact keys,
    * no floats anywhere, every row hash-matches. Seed choice is
    * deterministic: max degree, ties to the smallest node id.
    *
    * Scale posture: each round is one equi-join of the persisted,
    * pre-partitioned edge frame against the (≤|V|-row) frontier plus
    * one anti-join against the visited frame — the textbook
    * distributed BFS; both frames are eagerly `localCheckpoint`ed per
    * round so the plan never re-embeds earlier rounds and AQE can
    * size each round's shuffle from the true frontier cardinality.
    * Output is ≤ hops+1 rows.
    */
  def bfsReach(spark: SparkSession, dir: String): DataFrame =
    bfsReach(purchaseEdges(spark, dir), BfsHops)

  /** DataFrame-first form over any directed (src, dst) edge frame;
    * symmetrized before walking (BFS on the undirected graph).
    */
  def bfsReach(directedEdges: DataFrame, hops: Int): DataFrame = {
    require(hops >= 1, s"bfsReach: hops must be >= 1, got $hops")
    // same one-pass symmetrize-and-persist discipline as [[pageRank]]:
    // the edge frame keeps its src hash partitioning across rounds
    val e = directedEdges
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("ed"))
      .select(col("ed.src").as("src"), col("ed.dst").as("dst"))
    Cached.hold(e) {
      val seed = Cached.checkpoint(e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("src"))
        .limit(1)
        .select(col("src").as("n"))) // 1 row
      var frontier = seed
      var visited = seed
      var levels = seed.withColumn("hop", lit(0))
      for (k <- 1 to hops) {
        // ≤|V| rows; cuts the round's lineage
        val next = Cached.checkpoint(e
          .join(frontier.withColumnRenamed("n", "src"), Seq("src"))
          .select(col("dst").as("n")).distinct()
          .join(visited, Seq("n"), "left_anti"))
        frontier = next
        // visited = union of the ALREADY-checkpointed frontiers — a
        // k-way union of LogicalRDDs stays O(hops) plan nodes, so
        // checkpointing it separately bought nothing and cost one extra
        // eager job per hop (iterative queries pay every job barrier as
        // tail-latency exposure — measured on the r13 box, where
        // per-task hiccups multiply through sequential stages)
        visited = visited.union(next)
        levels = levels.union(next.withColumn("hop", lit(k)))
      }
      // node encoding as in [[pageRank]]: even = customer, odd = supplier
      levels.groupBy(col("hop"))
        .agg(count(lit(1)).as("n_nodes"),
          sum((col("n") % 2 === 0).cast("long")).as("n_customers"),
          sum((col("n") % 2 === 1).cast("long")).as("n_suppliers"))
        .select(col("hop").cast("int").as("hop"), col("n_nodes"),
          col("n_customers"), col("n_suppliers"))
        .orderBy(col("hop"))
    }
  }

  /** DuckDB twin of [[bfsReach]] — the same seed rule and the same
    * frontier \ visited recurrence unrolled [[BfsHops]] times.
    */
  val bfsReachSql: String = {
    def round(k: Int) =
      s"""f$k AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS n
         |  FROM e JOIN f${k - 1} ON e.src = f${k - 1}.n
         |  WHERE e.dst NOT IN (SELECT n FROM v${k - 1})
         |),
         |v$k AS MATERIALIZED (SELECT n FROM v${k - 1} UNION SELECT n FROM f$k)""".stripMargin
    val levels = (0 to BfsHops)
      .map(k => s"SELECT $k AS hop, n FROM f$k").mkString("\n  UNION ALL ")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM e0
       |  UNION ALL
       |  SELECT dst AS src, src AS dst FROM e0
       |),
       |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       |f0 AS (
       |  SELECT src AS n FROM deg ORDER BY d DESC, src LIMIT 1
       |),
       |v0 AS (SELECT n FROM f0),
       |${(1 to BfsHops).map(round).mkString(",\n")},
       |lv AS (
       |  $levels
       |)
       |SELECT CAST(hop AS INT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(sum(CASE WHEN n % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_customers,
       |  CAST(sum(CASE WHEN n % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_suppliers
       |FROM lv
       |GROUP BY hop
       |ORDER BY hop""".stripMargin
  }

  /** Triangle counting + local clustering coefficient over the
    * co-purchase supplier graph (an edge per supplier pair sharing ≥
    * [[CoPurchaseMinShared]] capped-basket customers — the same graph
    * [[coPurchase]] scores, here analyzed structurally: triangles are
    * the community-cohesion signal, the clustering coefficient the
    * per-node "how clique-like is this supplier's neighborhood"
    * diagnostic).
    *
    * The analyzed graph is the [[TriangleEdgeCap]]-strongest BACKBONE
    * of the co-purchase graph: pairs ranked by shared-customer count
    * (ties to ids) and cut to the top |E| — co-purchase graphs over
    * dense catalogs degenerate toward completeness (this corpus's
    * does: every supplier pair shares ≥ [[CoPurchaseMinShared]]
    * customers), where triangle volume is Θ(|V|³) and means nothing;
    * clustering structure lives in the strong ties. The cap is a
    * deterministic TakeOrdered, so the subgraph — and every count —
    * is reproducible cross-engine.
    *
    * Scale posture: the classic degree-ordered orientation (Chiba &
    * Nishizeki 1985; the standard MapReduce formulation is Suri &
    * Vassilvitskii, WWW 2011) — each undirected edge is directed from
    * its (degree, id)-smaller endpoint to the larger, which bounds
    * every node's OUT-degree by O(√|E|), so the wedge self-join fans
    * out to at most O(|E|^{3/2}) candidate wedges TOTAL regardless of
    * hub skew (a raw neighbor self-join on an h-degree hub emits
    * h²/2 wedges; orientation caps that at |E|). With the backbone
    * cap that is ≤ cap^{3/2} wedges at ANY corpus size. Each triangle
    * is enumerated exactly once, at its orientation-minimal vertex.
    * All joins are equi-joins on graph keys; per-node counts are one
    * aggregate; the final cut is a TakeOrdered top-k. Nothing
    * corpus-sized is collected — the persisted frames are the capped
    * backbone and its |V|-row degree frame.
    *
    * Determinism: counts are exact BIGINTs; the clustering coefficient
    * divides exact integers in ONE shared double expression
    * (`CAST(2·T AS DOUBLE) / (d·(d−1))`, round 6) so the DuckDB
    * oracle hash-matches; nodes with degree &lt; 2 have no defined
    * coefficient and carry NULL in both engines.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOverBackbone(
      // census rows already carry the ≥ CoPurchaseMinShared floor
      strongPairCensus(spark, dir)
        .orderBy(col("n").desc, col("s_a"), col("s_b"))
        .limit(TriangleEdgeCap)
        .select(col("s_a"), col("s_b")), 20)

  /** Edge budget for [[triangles]]' backbone: the wedge join touches
    * at most cap^{3/2} rows no matter how dense the co-purchase
    * relation gets.
    */
  val TriangleEdgeCap = 5000

  /** Shared derivation of the strongest-ties co-purchase BACKBONE:
    * capped-basket pair counting (the [[coPurchase]] census+semi-join
    * + row-local i&lt;j expansion — see the scale notes there), pairs
    * floored at `minShared` shared customers, ranked by tie strength
    * (count desc, ids) and cut to the top `edgeCap` — the
    * deterministic TakeOrdered that keeps every structural analysis
    * ([[triangles]], [[kCore]], [[adamicAdar]]) bounded no matter how
    * dense the co-purchase relation gets. Returns the canonical
    * (s_a &lt; s_b) edge list, NOT persisted — callers persist.
    */
  private[ops] def copurchaseBackbone(edges: DataFrame, custCol: String,
                                      itemCol: String, maxBasket: Int,
                                      minShared: Int, edgeCap: Int): DataFrame = {
    val ecols = edges.select(col(custCol).as("c"), col(itemCol).as("s"))
    val keep = ecols.groupBy(col("c"))
      .agg(countDistinct(col("s")).as("k"))
      .filter(col("k") <= maxBasket)
      .select(col("c"))
    ecols.join(keep, Seq("c"), "left_semi")
      .groupBy(col("c")).agg(sort_array(collect_set(col("s"))).as("items"))
      .filter(size(col("items")) >= 2)
      .select(col("items"),
        explode(expr("sequence(0, size(items) - 2)")).as("i"))
      .select(explode(expr(
        "transform(sequence(i + 1, size(items) - 1), j -> named_struct('a', items[i], 'b', items[j]))"))
        .as("p"))
      .select(col("p.a").as("s_a"), col("p.b").as("s_b"))
      .groupBy(col("s_a"), col("s_b")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minShared)
      .orderBy(col("n").desc, col("s_a"), col("s_b"))
      .limit(edgeCap) // deterministic strongest-ties backbone
      .select(col("s_a"), col("s_b"))
  }

  /** The backbone CTE chain shared verbatim by every structural
    * oracle ([[trianglesSql]], [[kCoreSql]], [[adamicAdarSql]]):
    * defines `und` (canonical s_a &lt; s_b backbone edges) over the
    * purchase tables.
    */
  private def backboneSqlCtes: String =
    s"""e AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |),
       |bc AS (SELECT c FROM e GROUP BY c HAVING count(*) <= $CoPurchaseMaxBasket),
       |ee AS (SELECT e.c, e.s FROM e JOIN bc ON e.c = bc.c),
       |sc AS MATERIALIZED (
       |  SELECT a.s AS s_a, b.s AS s_b, count(*) AS n
       |  FROM ee a JOIN ee b ON a.c = b.c AND a.s < b.s
       |  GROUP BY 1, 2 HAVING count(*) >= $CoPurchaseMinShared
       |),
       |rn AS (
       |  SELECT s_a, s_b,
       |    row_number() OVER (ORDER BY n DESC, s_a, s_b) AS rn
       |  FROM sc
       |),
       |und AS MATERIALIZED (SELECT s_a, s_b FROM rn WHERE rn <= $TriangleEdgeCap)""".stripMargin

  /** DataFrame-first form over any (customer, item) incidence frame. */
  def triangles(edges: DataFrame, custCol: String, itemCol: String,
                maxBasket: Int = CoPurchaseMaxBasket,
                minShared: Int = CoPurchaseMinShared,
                edgeCap: Int = TriangleEdgeCap,
                k: Int = 20): DataFrame =
    trianglesOverBackbone(copurchaseBackbone(edges, custCol, itemCol,
      maxBasket, minShared, edgeCap), k)

  /** The counting stage over an already-derived canonical
    * (s_a &lt; s_b) backbone edge list — shared by both [[triangles]]
    * forms (the dir form feeds the memoized [[strongPairCensus]] cut).
    */
  private def trianglesOverBackbone(backbone: DataFrame, k: Int): DataFrame = {
    val und = backbone // canonical (s_a < s_b) edge list — read 3× below
    val deg = und
      .select(explode(array(col("s_a"), col("s_b"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("d")) // |V| rows
    Cached.hold(und, deg) {
      val aFirst = col("d_a") < col("d_b") ||
        (col("d_a") === col("d_b") && col("s_a") < col("s_b"))
      val o = und
        .join(deg.select(col("s").as("s_a"), col("d").as("d_a")), Seq("s_a"))
        .join(deg.select(col("s").as("s_b"), col("d").as("d_b")), Seq("s_b"))
        .select(when(aFirst, col("s_a")).otherwise(col("s_b")).as("u"),
          when(aFirst, col("s_b")).otherwise(col("s_a")).as("v"))
      // oriented copy — both sides of the wedge join; the ≤ k-row
      // checkpoint frees all three caches safely
      Cached.derive(o) {
        // unordered wedge at u kept once via id-order on the far ends;
        // the closing edge check hits `und` in canonical form directly
        // because vb < vc already holds
        val tri = o.select(col("u"), col("v").as("vb"))
          .join(o.select(col("u"), col("v").as("vc")), Seq("u"))
          .filter(col("vb") < col("vc"))
          .join(und, col("vb") === col("s_a") && col("vc") === col("s_b"))
          .select(col("u"), col("vb"), col("vc"))
        val pn = tri
          .select(explode(array(col("u"), col("vb"), col("vc"))).as("s"))
          .groupBy(col("s")).agg(count(lit(1)).as("t"))
        deg.join(pn, Seq("s"), "left")
          .select(col("s"), col("d").cast("long").as("degree"),
            coalesce(col("t"), lit(0L)).cast("long").as("triangles"))
          .withColumn("clustering",
            when(col("degree") >= 2,
              round((lit(2L) * col("triangles")).cast("double") /
                (col("degree") * (col("degree") - 1)), 6)))
          .orderBy(col("triangles").desc, col("s"))
          .limit(k)
      }
    }
  }

  /** DuckDB twin of [[triangles]] — same capped pair derivation as
    * [[coPurchaseSql]], same strongest-ties backbone cut, same
    * (degree, id) orientation, same single double division for the
    * coefficient.
    */
  val trianglesSql: String =
    s"""WITH $backboneSqlCtes,
       |deg AS MATERIALIZED (
       |  SELECT s, count(*) AS d
       |  FROM (SELECT s_a AS s FROM und UNION ALL SELECT s_b AS s FROM und)
       |  GROUP BY s
       |),
       |o AS MATERIALIZED (
       |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND s_a < s_b)
       |              THEN s_a ELSE s_b END AS u,
       |         CASE WHEN da.d < db.d OR (da.d = db.d AND s_a < s_b)
       |              THEN s_b ELSE s_a END AS v
       |  FROM und JOIN deg da ON und.s_a = da.s JOIN deg db ON und.s_b = db.s
       |),
       |tri AS MATERIALIZED (
       |  SELECT o1.u AS u, o1.v AS vb, o2.v AS vc
       |  FROM o o1
       |  JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v
       |  JOIN und ON und.s_a = o1.v AND und.s_b = o2.v
       |),
       |pn AS (
       |  SELECT s, count(*) AS t
       |  FROM (SELECT u AS s FROM tri
       |        UNION ALL SELECT vb AS s FROM tri
       |        UNION ALL SELECT vc AS s FROM tri)
       |  GROUP BY s
       |)
       |SELECT deg.s AS s, CAST(deg.d AS BIGINT) AS degree,
       |  CAST(COALESCE(pn.t, 0) AS BIGINT) AS triangles,
       |  CASE WHEN deg.d >= 2
       |       THEN round(CAST(2 * COALESCE(pn.t, 0) AS DOUBLE)
       |                  / (deg.d * (deg.d - 1)), 6) END AS clustering
       |FROM deg LEFT JOIN pn ON deg.s = pn.s
       |ORDER BY triangles DESC, s
       |LIMIT 20""".stripMargin

  /** Fixed full hub→authority iterations for [[hits]] — unrolled
    * identically in the oracle SQL.
    */
  val HitsIterations = 3

  /** HITS (Kleinberg 1999) hubs &amp; authorities over the bipartite
    * customer→supplier purchase graph — the second eigenvector-style
    * centrality alongside [[pageRank]], and the one that exploits the
    * bipartite structure directly: customers are pure hubs ("who
    * samples the supplier base broadly and well"), suppliers pure
    * authorities ("who is endorsed by the strongest hubs"), with the
    * two scores defined mutually: a(s) = Σ_{c→s} h(c),
    * h(c) = Σ_{c→s} a(s).
    *
    * Determinism: the classical L2 normalization is replaced by L1
    * normalization in scaled fixed point — after every half-step the
    * score vector is rescaled to sum ≈ [[Scale]] by
    * `CAST(raw AS DECIMAL(38,0)) * Scale DIV total` — one integral
    * divide per node, truncating, so both engines carry identical
    * BIGINTs (the rescale changes nothing semantically: HITS scores
    * are defined up to a positive factor). The DECIMAL(38,0) widening
    * is load-bearing twice: `raw · Scale` reaches ~1e24, and the
    * normalizer `total = Σ_nodes raw` is itself accumulated in
    * DECIMAL(38,0) because Σ deg(c)·a(s) can pass 2^63 once a hub
    * supplier serves ~10M customers. Spark's `DIV` and DuckDB's `//`
    * agree on decimal/HUGEINT operands (verified: same quotient for a
    * 10^24-scale dividend).
    *
    * Scale posture: identical to [[pageRank]] — the distinct (c, s)
    * edge frame is persisted once and joined per half-step against the
    * node-sized score frame; each normalize is a 1-row aggregate
    * broadcast back. Score frames are `localCheckpoint`ed once per
    * full iteration so the lazy plan never re-embeds earlier rounds.
    */
  def hits(spark: SparkSession, dir: String): DataFrame =
    hits(purchaseEdges(spark, dir)
      .select(expr("src DIV 2").as("c"), expr("dst DIV 2").as("s")),
      HitsIterations)

  /** L1-rescale a (key, raw) frame to sum ≈ [[Scale]]: one decimal
    * integral divide per row against the broadcast 1-row total.
    */
  private def l1Rescale(df: DataFrame, keyCol: String,
                        outCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tot = df.agg(sum(col("raw").cast(DecimalType(38, 0))).as("tot"))
    df.crossJoin(broadcast(tot))
      .select(col(keyCol),
        expr(s"CAST(CAST(raw AS DECIMAL(38,0)) * $Scale DIV tot AS BIGINT)")
          .as(outCol))
  }

  /** DataFrame-first form over a bipartite (c, s) edge frame (already
    * distinct). Returns the top-10 authorities and top-10 hubs:
    * (role, entity_id, score_scaled).
    */
  def hits(bipartiteEdges: DataFrame, iterations: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // TWO key-partitioned persisted copies of the edge frame, not one
    // unpartitioned copy: every authority half-step joins edges on c,
    // every hub half-step on s — pre-hashing each copy ONCE removes the
    // per-half-step edge exchange entirely (2 exchanges total instead
    // of 2·iterations; the join reuses the cached HashPartitioning).
    // The rank side carries a SHUFFLE_HASH hint so the build side is
    // the ≤|V|-row score frame, never the edge frame: measured at
    // sf0.1, the planner's estimate of the checkpointed score frame is
    // UNKNOWN (LogicalRDD) while the cached edge frame compresses
    // under the broadcast threshold, so it BROADCAST the |E|-row edge
    // frame and streamed the 1-partition score frame — the whole
    // 500k-row join+aggregate serialized on one core, ~0.4 s per
    // half-step (graft.Profile). At 100 TB that inversion is an OOM,
    // not a slowdown; the hint pins the only build side that scales.
    val e0 = bipartiteEdges.select(col("c"), col("s"))
    val eByC = e0.repartition(col("c"))
    val eByS = e0.repartition(col("s"))
    Cached.hold(eByC, eByS) {
      // per-customer out-degree, materialized once: the authority
      // normalizer below is derived from it, which is what lets a whole
      // iteration run as ONE job (see loop comment). eByC is already
      // hashed by c, so the aggregate needs no exchange of its own.
      val degC = Cached.checkpoint(eByC.groupBy(col("c")).agg(count(lit(1)).as("dc")))
      val nc = degC.count()
      require(nc > 0, "hits: empty edge frame")
      var hubs = degC.select(col("c"), lit(Scale / nc).as("h"))
      var auths = e0.sparkSession.emptyDataFrame
      for (_ <- 1 to iterations) {
        // authority half-step: raw(s) = Σ h over inlinks. Its L1
        // normalizer needs NO edge pass: Σ_s araw(s) = Σ_(c,s)∈E h(c)
        // = Σ_c h(c)·deg(c) — a |V|-row join against the degree
        // checkpoint. That identity is what collapses each iteration
        // to ONE materialization job with exactly two edge joins
        // inside (the naive per-half-step checkpoint form pays two
        // jobs; checkpointing rescaled frames pays four edge joins —
        // l1Rescale reads its input twice. Measured across all three
        // shapes at sf0.1, this one wins).
        val atot = hubs.join(degC, Seq("c"))
          .agg(sum(col("h").cast(DecimalType(38, 0)) * col("dc")).as("tot"))
        val araw = eByC.join(hubs.hint("shuffle_hash"), Seq("c"))
          .groupBy(col("s")).agg(sum(col("h")).as("raw"))
        auths = araw.crossJoin(broadcast(atot))
          .select(col("s"),
            expr(s"CAST(CAST(raw AS DECIMAL(38,0)) * $Scale DIV tot AS BIGINT)")
              .as("a"))
        // hub half-step: raw(c) = Σ a over outlinks — the one
        // materialization of the iteration; both edge joins (araw's
        // and this one) run inside this job, lineage cuts here
        val hraw = Cached.checkpoint(eByS.join(auths.hint("shuffle_hash"), Seq("s"))
          .groupBy(col("c")).agg(sum(col("a")).as("raw")))
        // hub normalizer reads only the ≤|V|-row checkpoint
        hubs = l1Rescale(hraw, "c", "h")
      }
      // the final auths chain re-runs one edge join at output time —
      // its hubs input is a cheap rescale over the last-but-one hraw
      // checkpoint, nothing compounds
      auths.orderBy(col("a").desc, col("s")).limit(10)
        .select(lit("authority").as("role"), col("s").as("entity_id"),
          col("a").as("score_scaled"))
        .unionByName(
          hubs.orderBy(col("h").desc, col("c")).limit(10)
            .select(lit("hub").as("role"), col("c").as("entity_id"),
              col("h").as("score_scaled")))
        .orderBy(col("role"), col("score_scaled").desc, col("entity_id"))
    }
  }

  /** DuckDB twin of [[hits]] — the same L1-rescaled half-steps
    * unrolled [[HitsIterations]] times in HUGEINT arithmetic.
    */
  val hitsSql: String = {
    def norm(src: String, key: String, out: String, dst: String) =
      s"""${dst}t AS (SELECT sum(CAST(raw AS HUGEINT)) AS tot FROM $src),
         |$dst AS MATERIALIZED (
         |  SELECT $key,
         |    CAST(CAST(raw AS HUGEINT) * $Scale // tot AS BIGINT) AS $out
         |  FROM $src CROSS JOIN ${dst}t
         |)""".stripMargin
    def round(k: Int) =
      s"""a${k}r AS MATERIALIZED (
         |  SELECT s, sum(h) AS raw FROM e JOIN h${k - 1} USING (c) GROUP BY s
         |),
         |${norm(s"a${k}r", "s", "a", s"a$k")},
         |h${k}r AS MATERIALIZED (
         |  SELECT c, sum(a) AS raw FROM e JOIN a$k USING (s) GROUP BY c
         |),
         |${norm(s"h${k}r", "c", "h", s"h$k")}""".stripMargin
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |),
       |cu AS (SELECT DISTINCT c FROM e),
       |nc AS (SELECT count(*) AS n FROM cu),
       |h0 AS (SELECT c, (SELECT $Scale // n FROM nc) AS h FROM cu),
       |${(1 to HitsIterations).map(round).mkString(",\n")}
       |SELECT role, entity_id, score_scaled FROM (
       |  (SELECT 'authority' AS role, s AS entity_id, a AS score_scaled
       |   FROM a$HitsIterations ORDER BY a DESC, s LIMIT 10)
       |  UNION ALL
       |  (SELECT 'hub' AS role, c AS entity_id, h AS score_scaled
       |   FROM h$HitsIterations ORDER BY h DESC, c LIMIT 10))
       |ORDER BY role, score_scaled DESC, entity_id""".stripMargin
  }

  /** Degree floor for [[kCore]]'s peel. */
  val KCoreK = 8
  /** Fixed peel rounds — unrolled identically in the oracle SQL. */
  val KCoreRounds = 6

  /** Fixed-round k-core peeling of the bipartite purchase graph: each
    * round drops every node whose CURRENT degree is below
    * [[KCoreK]] and keeps only edges with both endpoints surviving —
    * after enough rounds the remaining subgraph is the k-core, the
    * standard "dense engaged nucleus" extraction (and the fourth
    * Pregel-style pattern here: SUBGRAPH CONTRACTION, alongside value
    * propagation, label convergence and frontier expansion). With a
    * FIXED round budget the job graph is static, the output is the
    * well-defined R-round peel whether or not it has converged, and
    * the DuckDB oracle unrolls the identical recurrence. Emits one
    * row per round (round 0 = the input graph): surviving node/edge
    * census split by side, plus a `converged` flag — true once a
    * round's peel removed nothing (census identical to the previous
    * round), so a truncated peel can never be silently read as the
    * true k-core. Both engines derive the flag from the same census
    * rows (one lag over the rounds+1-row frame), so it stays
    * oracle-checked.
    *
    * Scale posture: each round is one degree aggregate over the
    * current edge frame plus two semi-joins against the (≤|V|-row)
    * keep set, all keyed on graph keys; the shrinking edge frame is
    * eagerly `localCheckpoint`ed per round (the [[bfsReach]]
    * discipline) so AQE sizes every round from the true surviving
    * cardinality and the plan never re-embeds earlier peels. Output
    * is rounds+1 rows.
    */
  def kCore(spark: SparkSession, dir: String): DataFrame =
    kCore(purchaseEdges(spark, dir), KCoreK, KCoreRounds)

  /** DataFrame-first form over a canonical one-row-per-edge frame
    * (src even = customer, dst odd = supplier under the shared node
    * encoding; any disjoint src/dst key spaces work).
    */
  def kCore(undirectedEdges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, s"kCore: rounds must be >= 1, got $rounds")
    // every round's DEGREE frame powers both the peel decision and the
    // round's census (n_edges = Σdeg DIV 2 — each edge counted at both
    // endpoints), so each round is ONE pass over the edge frame plus a
    // |V|-row fold, not separate node- and edge-census scans
    def degOf(edges: DataFrame): DataFrame = edges
      .select(explode(array(col("src"), col("dst"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    def census(deg: DataFrame, r: Int): DataFrame =
      deg.agg(count(lit(1)).as("n_nodes"),
        coalesce(sum((col("n") % 2 === 0).cast("long")), lit(0L))
          .as("n_customers"),
        coalesce(sum((col("n") % 2 === 1).cast("long")), lit(0L))
          .as("n_suppliers"),
        coalesce(expr("CAST(sum(d) DIV 2 AS BIGINT)"), lit(0L)).as("n_edges"))
        .select(lit(r).as("round"), col("n_nodes"), col("n_customers"),
          col("n_suppliers"), col("n_edges"))
    var edges = Cached.checkpoint(undirectedEdges.select(col("src"), col("dst")))
    // deg stays LAZY on top of the checkpointed edge frame: each reader
    // (keep filter, census) re-derives it with one explode+agg pass over
    // the checkpoint — cheaper than a second per-round materialization
    // job, and the round's lineage still cuts at the edge checkpoint
    // (measured: dropping the deg checkpoint saves one job per round
    // with no recompute blow-up, since nothing chains through deg)
    var deg = degOf(edges)
    var out = census(deg, 0)
    for (r <- 1 to rounds) {
      val keep = deg.filter(col("d") >= k).select(col("n"))
      // shrinking frame; cuts the round's lineage
      edges = Cached.checkpoint(edges
        .join(keep.select(col("n").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("n").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
      deg = degOf(edges)
      out = out.unionByName(census(deg, r))
    }
    // converged ⇔ this round's peel removed nothing: node AND edge
    // census identical to the previous round (round 0 is the input —
    // false by definition). One lag window over the rounds+1-row frame.
    val w = Window.orderBy(col("round"))
    out
      .withColumn("converged",
        col("round") > 0 &&
          col("n_nodes") === lag(col("n_nodes"), 1).over(w) &&
          col("n_edges") === lag(col("n_edges"), 1).over(w))
      .orderBy(col("round"))
  }

  /** DuckDB twin of [[kCore]] — the same degree/keep/contract
    * recurrence unrolled [[KCoreRounds]] times.
    */
  val kCoreSql: String = {
    // every e$r is referenced ~6× (degree census, contraction, round
    // summary) — MATERIALIZED stops the CTE inlining that would
    // otherwise re-expand the whole peel chain per reference
    // (exponentially many base-table scans by round 6)
    def round(r: Int) =
      s"""d$r AS MATERIALIZED (
         |  SELECT n, count(*) AS d
         |  FROM (SELECT src AS n FROM e${r - 1}
         |        UNION ALL SELECT dst AS n FROM e${r - 1})
         |  GROUP BY n
         |),
         |k$r AS MATERIALIZED (SELECT n FROM d$r WHERE d >= $KCoreK),
         |e$r AS MATERIALIZED (
         |  SELECT src, dst FROM e${r - 1}
         |  WHERE src IN (SELECT n FROM k$r) AND dst IN (SELECT n FROM k$r)
         |)""".stripMargin
    def census(r: Int) =
      s"""SELECT $r AS round,
         |  CAST(count(DISTINCT n) AS BIGINT) AS n_nodes,
         |  CAST(COALESCE(sum(CASE WHEN pn % 2 = 0 THEN 1 END), 0) AS BIGINT)
         |    AS n_customers,
         |  CAST(COALESCE(sum(CASE WHEN pn % 2 = 1 THEN 1 END), 0) AS BIGINT)
         |    AS n_suppliers,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges
         |FROM (SELECT DISTINCT n, n % 2 AS pn
         |      FROM (SELECT src AS n FROM e$r UNION ALL SELECT dst FROM e$r))
         |""".stripMargin
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |),
       |${(1 to KCoreRounds).map(round).mkString(",\n")}
       |SELECT *,
       |  round > 0 AND n_nodes = lag(n_nodes) OVER (ORDER BY round)
       |    AND n_edges = lag(n_edges) OVER (ORDER BY round) AS converged
       |FROM (
       |${(0 to KCoreRounds).map(census).mkString("UNION ALL\n")})
       |ORDER BY round""".stripMargin
  }

  /** Adamic–Adar link prediction over the BIPARTITE purchase graph:
    * suppliers a, b are scored by their shared customers, each
    * weighted inversely by how promiscuous that customer is —
    * AA(a,b) = Σ_{c ∈ N(a)∩N(b)} 1/ln(deg c). A customer shared with
    * everyone says little; a selective shared customer says a lot —
    * the classical link-prediction baseline (Adamic &amp; Adar 2003),
    * and the degree-weighted refinement of [[coPurchase]]'s raw
    * shared-customer counts (the two rankings genuinely differ when
    * hub customers dominate a pair's overlap).
    *
    * Determinism: 1/ln(deg) is quantized per CUSTOMER to integer
    * micro-units (`round(1e6 / ln(d))`, one shared double expression
    * — the [[Mixing.mutualInfo]] micro-nat discipline), so the pair
    * score is an exact BIGINT sum, order-independent, and the top-k
    * cut hash-matches cross-engine (ties to the pair key). Only
    * customers with ≥ 2 suppliers form wedges, so ln is never 0.
    *
    * Scale posture: identical to [[coPurchase]] — wedges come from a
    * row-local i&lt;j expansion of the CAPPED sorted baskets (census +
    * semi-join keeps every collect_set buffer ≤ maxBasket; the weight
    * is a function of the basket the pair came from, so it rides the
    * same row), the only corpus-sized shuffle is the pair aggregate
    * keyed by the pair itself, and the [[CoPurchaseMinShared]] floor
    * plus top-k TakeOrdered bound the output.
    */
  def adamicAdar(spark: SparkSession, dir: String): DataFrame =
    // census rows already carry the ≥ CoPurchaseMinShared floor
    strongPairCensus(spark, dir)
      .select(col("s_a"), col("s_b"), col("n").as("common_customers"),
        col("aa_micro"))
      .orderBy(col("aa_micro").desc, col("s_a"), col("s_b"))
      .limit(20)

  /** DataFrame-first form over any (customer, item) incidence frame. */
  def adamicAdar(edges: DataFrame, custCol: String, itemCol: String,
                 maxBasket: Int = CoPurchaseMaxBasket,
                 minShared: Int = CoPurchaseMinShared,
                 k: Int = 20): DataFrame = {
    val ecols = edges.select(col(custCol).as("c"), col(itemCol).as("s"))
    val keep = ecols.groupBy(col("c"))
      .agg(countDistinct(col("s")).as("k"))
      .filter(col("k") <= maxBasket)
      .select(col("c"))
    ecols.join(keep, Seq("c"), "left_semi")
      .groupBy(col("c")).agg(sort_array(collect_set(col("s"))).as("items"))
      .filter(size(col("items")) >= 2)
      // the weight is row-local: deg(c) IS this basket's size
      .select(expr("CAST(round(1e6 / ln(CAST(size(items) AS DOUBLE))) AS BIGINT)")
          .as("w_micro"),
        col("items"),
        explode(expr("sequence(0, size(items) - 2)")).as("i"))
      .select(col("w_micro"), explode(expr(
        "transform(sequence(i + 1, size(items) - 1), j -> named_struct('a', items[i], 'b', items[j]))"))
        .as("p"))
      .select(col("p.a").as("s_a"), col("p.b").as("s_b"), col("w_micro"))
      .groupBy(col("s_a"), col("s_b"))
      .agg(count(lit(1)).as("common_customers"),
        sum(col("w_micro")).as("aa_micro"))
      .filter(col("common_customers") >= minShared)
      .orderBy(col("aa_micro").desc, col("s_a"), col("s_b"))
      .limit(k)
  }

  /** DuckDB twin of [[adamicAdar]] — the wedge enumeration as a
    * capped-basket self-join at the shared customer, same per-customer
    * micro quantization of 1/ln(basket size).
    */
  val adamicAdarSql: String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |),
       |bc AS (
       |  SELECT c, count(*) AS d FROM e GROUP BY c
       |  HAVING count(*) <= $CoPurchaseMaxBasket
       |),
       |wz AS (
       |  SELECT a.s AS s_a, b.s AS s_b,
       |    CAST(round(1e6 / ln(CAST(bc.d AS DOUBLE))) AS BIGINT) AS w_micro
       |  FROM e a
       |  JOIN e b ON a.c = b.c AND a.s < b.s
       |  JOIN bc ON a.c = bc.c
       |)
       |SELECT s_a, s_b, CAST(count(*) AS BIGINT) AS common_customers,
       |  CAST(sum(w_micro) AS BIGINT) AS aa_micro
       |FROM wz GROUP BY s_a, s_b
       |HAVING count(*) >= $CoPurchaseMinShared
       |ORDER BY aa_micro DESC, s_a, s_b
       |LIMIT 20""".stripMargin

  // ── Shared memoized purchase-graph frames ───────────────────────
  // Every (spark, dir) graph query derives from the same three frames;
  // before the memo each of the seven structural queries re-ran the
  // lineitem⨝orders join (+ distinct) and three of them re-ran the
  // full capped-basket pair aggregation — the round-7 bench's entire
  // tail. Same design as [[Similarity.signedCorpus]]: eagerly
  // localCheckpointed ONCE per (session, dir, data-version),
  // auto-invalidated on data rewrite, released via
  // [[releaseGraphMemo]]/[[clearGraphMemo]] (the bench clears per
  // round so medians still time the real work).

  private val edgeMemo = new DatasetMemo("lineitem.parquet")
  private val basketMemo = new DatasetMemo("lineitem.parquet")
  private val pairMemo = new DatasetMemo("lineitem.parquet")

  /** Distinct encoded purchase edges (src = 2·custkey even,
    * dst = 2·suppkey+1 odd) — the input of [[pageRank]], [[bfsReach]],
    * [[kCore]], [[degreeProfile]] and (decoded) [[hits]].
    */
  private[ops] def purchaseEdges(spark: SparkSession, dir: String): DataFrame =
    edgeMemo.getOrCompute(spark, dir)(
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct().localCheckpoint(true))

  /** Capped sorted baskets (c, items) over the distinct edge frame —
    * identical to each op's inline derivation (collect_set dedups, so
    * distinct input changes nothing) with the census+semi-join cap.
    */
  private[ops] def cappedBaskets(spark: SparkSession, dir: String): DataFrame =
    basketMemo.getOrCompute(spark, dir) {
      val e = purchaseEdges(spark, dir)
        .select(expr("src DIV 2").as("c"), expr("dst DIV 2").as("s"))
      val keep = e.groupBy(col("c")).agg(count(lit(1)).as("k"))
        .filter(col("k") <= CoPurchaseMaxBasket).select(col("c"))
      e.join(keep, Seq("c"), "left_semi")
        .groupBy(col("c")).agg(sort_array(collect_set(col("s"))).as("items"))
        .localCheckpoint(true)
    }

  /** The capped-basket pair census (s_a &lt; s_b, n = shared
    * customers, aa_micro = Σ round(1e6/ln basket-size)) — ONE row-local
    * expansion + ONE pair aggregation serving [[coPurchase]] (n),
    * [[adamicAdar]] (n + aa_micro) and [[triangles]]'/[[modularity]]'s
    * backbone cut.
    *
    * CONTRACT (in the name): rows are pre-filtered at
    * `n ≥ CoPurchaseMinShared` — every consumer applies exactly that
    * floor, so the floor lives BEFORE the checkpoint. A consumer
    * needing unfiltered counts or a lower floor must derive its own
    * census via [[pairCensusOf]]; reading this memo would silently
    * under-return. This is what keeps the memo O(strong
    * pairs) instead of O(distinct pairs): at gen-sf3 the unfiltered
    * census is 263M rows (a ~20 GiB deserialized checkpoint that
    * saturated the storage pool and destabilized every other cached
    * frame in the session — measured, r12), the ≥5 census is 951k
    * rows (~30 MiB). The aggregate still pays the full pair-volume
    * shuffle (that IS the census); only the RETAINED result is cut.
    */
  private[ops] def strongPairCensus(spark: SparkSession, dir: String): DataFrame =
    pairMemo.getOrCompute(spark, dir) {
      val baskets = cappedBaskets(spark, dir)
      pairCensusOf(baskets, pairVolume(baskets))
        .filter(col("n") >= CoPurchaseMinShared)
        .localCheckpoint(true)
    }

  /** Exact pair count Σ k·(k−1)/2 off the basket-size census — one
    * aggregate over a |customers|-row frame (milliseconds), used to
    * size the census shuffle BEFORE paying for the explode.
    */
  private def pairVolume(baskets: DataFrame): Long = {
    val r = baskets.agg(coalesce(sum(expr(
      "CAST(size(items) AS BIGINT) * (size(items) - 1) DIV 2")), lit(0L)))
      .head()
    r.getLong(0)
  }

  /** Width for the pair-census shuffle: distinct-pair cardinality
    * approaches min(pair volume, catalog²/2), so size partitions by
    * KEY COUNT (~250k keys each — hash tables that never fall back to
    * sort-spill), floored at the session default and capped at 4096.
    */
  private def pairParts(spark: SparkSession, nPairs: Long): Int =
    math.max(spark.sessionState.conf.numShufflePartitions,
      math.min(4096L, nPairs / 250000L + 1L).toInt)

  /** The census body over any capped (c, items) basket frame.
    *
    * Aggregation strategy, measured at gen-sf1 (117M pair rows, ~50M
    * DISTINCT pairs — a 10k-item catalog makes pair multiplicity ≈ 2):
    * the default partial+final plan builds a multi-million-entry hash
    * per map task that falls back to sort-spill while buying only a
    * ~2× row reduction — 55 s; repartitioning the RAW pair stream by
    * key into cardinality-sized partitions and running ONE complete
    * aggregate per partition is 9.7 s (5.7×). Map-side combine is the
    * right default only when keys REPEAT; a census whose key domain
    * is quadratic in the catalog is exactly where it inverts.
    */
  private def pairCensusOf(baskets: DataFrame, nPairs: Long): DataFrame = {
    val spark = baskets.sparkSession
    // Fan the basket frame out to the session shuffle width before the
    // QUADRATIC explode when it arrives narrower: the basket frame is
    // materialized by every caller (checkpointed by [[cappedBaskets]],
    // persisted+counted by the generic [[coPurchase]] — which is what
    // makes the partition probe a driver-side read, not a job), and its
    // width was sized by AQE for the BYTES of the basket agg (~1 MB per
    // task), while each of its partitions anchors a task of a stage
    // whose work is quadratic in basket size. Measured at sf0.1: the
    // census map stage ran 14 tasks / 28.6 s CPU / wall 2.5 s on 32
    // cores; the basket frame itself is ~5 MB, so the extra round-robin
    // exchange costs ~nothing here. At cluster scale callers size
    // numShufflePartitions ≥ any AQE-coalesced width, and a basket
    // frame that already arrives at full width skips the fan-out
    // entirely (no shuffle added).
    val width = spark.sessionState.conf.numShufflePartitions
    val fanned =
      if (baskets.rdd.getNumPartitions < width) baskets.repartition(width)
      else baskets
    fanned
      .filter(size(col("items")) >= 2)
      // pairs ride as ONE packed BIGINT (items are sorted, ids fit
      // 32 bits by the key-domain contract) — ~20% off the hot
      // aggregate vs a 2-field struct key (no per-pair struct
      // allocation, cheaper hash), unpacked after the shuffle.
      // TWO-STAGE explode: materializing the full n²/2 pair array
      // per basket (flatten-of-nested-transform) allocates the
      // whole quadratic buffer at once; exploding the anchor index
      // first keeps each allocation to one i-suffix slice
      .select(
        expr("CAST(round(1e6 / ln(CAST(size(items) AS DOUBLE))) AS BIGINT)")
          .as("w_micro"),
        col("items"),
        explode(expr("sequence(0, size(items) - 2)")).as("i"))
      .select(col("w_micro"),
        explode(expr(
          "transform(sequence(i + 1, size(items) - 1), j -> items[i] * 4294967296L + items[j])"))
          .as("pk"))
      .repartition(pairParts(spark, nPairs), col("pk"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n"), sum(col("w_micro")).as("aa_micro"))
      .select(expr("pk DIV 4294967296").as("s_a"),
        expr("pmod(pk, 4294967296)").as("s_b"), col("n"), col("aa_micro"))
  }

  /** Release the memoized purchase-graph frames for (session, dir). */
  def releaseGraphMemo(spark: SparkSession, dir: String): Unit = {
    pairMemo.release(spark, dir)
    basketMemo.release(spark, dir)
    edgeMemo.release(spark, dir)
  }

  /** Newman modularity of a node partition over the co-purchase
    * backbone — the number that says whether a given community
    * labeling (here: the supplier's nation) actually concentrates
    * edges inside communities: Q = Σ_c [ e_c/m − (d_c/2m)² ], the
    * within-community edge fraction minus its expectation under the
    * degree-preserving null model (Newman &amp; Girvan 2004). Q &gt; 0
    * means nations trade in blocs; Q ≈ 0 means the partition explains
    * nothing. This is the EVALUATION half of community detection —
    * detection itself is [[entityComponents]]-style propagation; a
    * judge of ANY labeling is what a pipeline needs to compare
    * candidate partitions.
    *
    * Exactness: e_c, d_c, m are exact integers off the deterministic
    * backbone ([[strongPairCensus]] cut — count-desc TakeOrdered, the
    * [[triangles]] edge set); each community's contribution quantizes
    * by two truncating BIGINT DIVs (positive terms, so Spark DIV and
    * DuckDB `//` agree) BEFORE the cross-community sum. d_c² ≤ (2m)²
    * with m ≤ [[TriangleEdgeCap]], so nothing approaches the BIGINT
    * ceiling regardless of corpus size.
    *
    * Scale posture: the backbone is cap-bounded (≤ edgeCap rows) and
    * BROADCAST to the supplier dimension — never the reverse (the
    * dimension is corpus-sized at 100 TB); communities/degrees are
    * ≤ 2·edgeCap-row aggregates.
    */
  def modularity(spark: SparkSession, dir: String): DataFrame =
    modularity(
      // census rows already carry the ≥ CoPurchaseMinShared floor
      strongPairCensus(spark, dir)
        .orderBy(col("n").desc, col("s_a"), col("s_b"))
        .limit(TriangleEdgeCap)
        .select(col("s_a"), col("s_b")),
      Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("node"),
          col("s_nationkey").cast("long").as("community")))

  /** DataFrame-first form: `backbone` is a canonical (s_a &lt; s_b)
    * edge list (e.g. [[copurchaseBackbone]]), `labels` a (node,
    * community) frame covering every endpoint.
    */
  def modularity(backbone: DataFrame, labels: DataFrame): DataFrame = {
    val und = backbone.select(col("s_a"), col("s_b"))
    val m = und.agg(count(lit(1)).as("m"))
    val lbl = labels.select(col("node"), col("community"))
    // backbone side broadcast: it is cap-bounded; labels are not
    val la = broadcast(und).join(lbl, col("s_a") === col("node"))
      .drop("node").withColumnRenamed("community", "ca")
    val labeled = broadcast(la).join(lbl, col("s_b") === col("node"))
      .drop("node").withColumnRenamed("community", "cb")
    val within = labeled.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("e_within"))
    val deg = labeled
      .select(explode(array(col("ca"), col("cb"))).as("community"))
      .groupBy(col("community")).agg(count(lit(1)).as("d_total"))
    val nodes = broadcast(und
        .select(explode(array(col("s_a"), col("s_b"))).as("node"))
        .distinct())
      .join(lbl, Seq("node"))
      .groupBy(col("community")).agg(count(lit(1)).as("n_nodes"))
    val per = deg.join(within, Seq("community"), "left")
      .na.fill(0L, Seq("e_within"))
      .join(nodes, Seq("community"))
      .crossJoin(broadcast(m))
      .withColumn("q_contrib_micro",
        expr("e_within * 1000000 DIV m" +
          " - d_total * d_total * 1000000 DIV (4 * m * m)"))
    val q = per.agg(sum(col("q_contrib_micro")).as("q_micro"))
    per.crossJoin(broadcast(q))
      .select(col("community"), col("n_nodes"), col("e_within"),
        col("d_total"), col("q_contrib_micro"), col("q_micro"))
      .orderBy(col("community"))
  }

  /** DuckDB twin of [[modularity]]: the shared backbone CTEs, the
    * same grid-filled per-community terms and truncating DIVs.
    */
  val modularitySql: String =
    s"""WITH $backboneSqlCtes,
       |lbl AS (
       |  SELECT s_suppkey AS node, CAST(s_nationkey AS BIGINT) AS community
       |  FROM supplier),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |lab AS MATERIALIZED (
       |  SELECT la.community AS ca, lb.community AS cb
       |  FROM und JOIN lbl la ON und.s_a = la.node
       |           JOIN lbl lb ON und.s_b = lb.node),
       |w AS (
       |  SELECT ca AS community, CAST(count(*) AS BIGINT) AS e_within
       |  FROM lab WHERE ca = cb GROUP BY 1),
       |d AS (
       |  SELECT community, CAST(count(*) AS BIGINT) AS d_total
       |  FROM (SELECT ca AS community FROM lab
       |        UNION ALL SELECT cb AS community FROM lab)
       |  GROUP BY 1),
       |nn AS (
       |  SELECT community, CAST(count(*) AS BIGINT) AS n_nodes
       |  FROM (SELECT DISTINCT node FROM (
       |          SELECT s_a AS node FROM und
       |          UNION ALL SELECT s_b AS node FROM und))
       |  JOIN lbl USING (node) GROUP BY 1),
       |per AS MATERIALIZED (
       |  SELECT d.community, nn.n_nodes, COALESCE(w.e_within, 0) AS e_within,
       |    d.d_total,
       |    COALESCE(w.e_within, 0) * 1000000 // m
       |      - d.d_total * d.d_total * 1000000 // (4 * m * m)
       |      AS q_contrib_micro
       |  FROM d LEFT JOIN w ON d.community = w.community
       |  JOIN nn ON d.community = nn.community CROSS JOIN mm),
       |q AS (SELECT CAST(sum(q_contrib_micro) AS BIGINT) AS q_micro FROM per)
       |SELECT community, n_nodes, e_within, d_total,
       |  CAST(q_contrib_micro AS BIGINT) AS q_contrib_micro, q_micro
       |FROM per CROSS JOIN q
       |ORDER BY community""".stripMargin

  /** Drop every memoized purchase-graph frame across sessions/dirs. */
  def clearGraphMemo(): Unit = {
    pairMemo.clear(); basketMemo.clear(); edgeMemo.clear()
  }

  /** Retained RDD ids — for the cache-lifecycle contract tests. */
  private[graft] def graphMemoRddIds(spark: SparkSession,
                                     dir: String): Set[Int] =
    edgeMemo.rddIds(spark, dir) ++ basketMemo.rddIds(spark, dir) ++
      pairMemo.rddIds(spark, dir)
}
