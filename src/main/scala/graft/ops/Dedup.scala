package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table (driver north
  * star: training-data pipeline at 100 TB).
  *
  * Shape shared by the approximate variants (MinHash-LSH, SimHash,
  * n-gram Jaccard): per-document *sketches* are computed in a single
  * scan-speed projection; candidate pairs come from equality joins on
  * LSH bucket keys (never an O(n²) cross join); candidates are then
  * verified with the exact measure. Bucket-size caps guard against
  * degenerate keys (the classic LSH skew failure at scale).
  *
  * Cache lifecycle: sketch frames are persisted only while the SMALL
  * verified-pair set is eagerly `localCheckpoint`ed, then unpersisted —
  * chaining dedup ops never accumulates SQL caches, and the checkpoint
  * cuts lineage for downstream iteration. The plan contracts
  * (PlanSpec) read the join shapes from the plans those checkpoints
  * execute.
  *
  * Each operator emits a per-document summary (`|documents|` rows,
  * never empty) rather than bare pairs, so the result is stable on
  * corpora with few or no duplicates.
  *
  * Library API: every operator has a DataFrame-first form taking the
  * corpus and its id/text column names (outputs use the canonical
  * `doc_id` name); the `(spark, dir)` forms are thin wrappers binding
  * the driver-contract `documents` table.
  */
object Dedup {

  /** Exact dedup: hash-aggregate on a 128-bit digest of the text, NOT
    * the text itself — the shuffle key weighs 16 bytes per row instead
    * of the whole document, so at 100 TB the exchange moves ~the id
    * column, not the corpus. (Partial aggregation also collapses
    * within-partition duplicates before the exchange either way; the
    * digest key is what fixes the worst case where duplicates are
    * spread across partitions.) The DuckDB oracle groups by the RAW
    * text, so the green row is also a cross-engine proof that
    * digest-keying preserves the exact grouping.
    */
  def dedupExact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    dedupExact(Tables.documents(spark, dir), "doc_id", "text")

  val dedupExactSql: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin

  /** Record linkage (entity resolution) by blocked fuzzy join: find
    * DISTINCT entity names that are edit-distance-near, with the
    * record count each name carries — "blue bolt" ↔ "blue rod" is a
    * probable data-entry variant; the counts say which spelling is
    * canonical. Three scale disciplines stack: (1) the quadratic
    * match runs at the VOCABULARY level — records collapse to
    * (name, count) first, so 100 TB of rows become |names| candidates;
    * (2) candidates come from a blocking-key equi-join (first token),
    * never a cross join; (3) blocks above `maxBlock` are dropped from
    * pairing with the [[lshCandidates]] cap discipline — a degenerate
    * block ("inc" in every company name) would otherwise re-create the
    * quadratic blow-up blocking exists to prevent. Levenshtein runs
    * only inside surviving blocks, on name pairs, and both engines
    * share its unit-cost semantics.
    */
  def recordLinkage(spark: SparkSession, dir: String): DataFrame =
    recordLinkage(Tables.part(spark, dir), "p_name", maxDist = 3, maxBlock = 1000)

  /** DataFrame-first form over any named-record frame. */
  def recordLinkage(records: DataFrame, nameCol: String, maxDist: Int,
                    maxBlock: Int): DataFrame = {
    val names = records.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("n_records"))
      .withColumn("block", split(col("name"), " ").getItem(0))
    val sizes = names.groupBy(col("block"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBlock)
    val blocked = names.join(sizes.select("block"), Seq("block"))
    val a = blocked.select(col("block"), col("name").as("name_a"),
      col("n_records").as("n_a"))
    val b = blocked.select(col("block"), col("name").as("name_b"),
      col("n_records").as("n_b"))
    a.join(b, Seq("block"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist").between(1, maxDist))
      .select(col("name_a"), col("name_b"), col("dist").cast("long"),
        col("n_a"), col("n_b"))
      .orderBy(col("dist"), col("name_a"), col("name_b"))
  }

  val recordLinkageSql: String =
    """WITH names AS (
      |  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_records,
      |    split_part(p_name, ' ', 1) AS block
      |  FROM part GROUP BY 1),
      |ok AS (
      |  SELECT block FROM names GROUP BY block HAVING count(*) <= 1000)
      |SELECT a.name AS name_a, b.name AS name_b,
      |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
      |  a.n_records AS n_a, b.n_records AS n_b
      |FROM names a
      |JOIN ok USING (block)
      |JOIN names b ON a.block = b.block AND a.name < b.name
      |WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 3
      |ORDER BY dist, name_a, name_b""".stripMargin

  /** Assumed per-field match probability for [[fellegiSunter]] — the
    * classical unsupervised default (m ≈ 0.95: true duplicate pairs
    * agree on a well-kept field 95% of the time). Without labeled
    * pairs m cannot be estimated from data (that's the EM extension);
    * u CAN be, and u is where the discriminative power lives.
    */
  val FsM = 0.95

  /** Fellegi–Sunter probabilistic record linkage (JASA 1969) — the
    * principled scoring layer above [[recordLinkage]]'s edit-distance
    * pairing: each candidate pair gets a log-likelihood-ratio weight
    * Σ_fields ln(m/u) [agree] / ln((1−m)/(1−u)) [disagree], where the
    * u-probability (chance agreement between two RANDOM records) is
    * estimated EXACTLY from the field's value census:
    * u = Σ_v n_v(n_v−1) / (N(N−1)). A rare-value agreement (brand
    * shared by 2 records) thus outweighs a common-value one (container
    * shared by half the table) — the thing plain field-count scoring
    * cannot do.
    *
    * Determinism: per-field agree/disagree weights are TWO micro-nat
    * integers rounded once from exact integer ratios (1-row frames,
    * DECIMAL(38,0) censuses); a pair's score is an order-free integer
    * sum of bounded field terms. Degenerate fields carry weight 0 on
    * both branches: u = 1 (constant field) and u = 0 (all-distinct
    * field) are non-informative rather than ±∞. Top-20 by
    * (score, keys) via TakeOrdered.
    *
    * Scale shape: u estimation is one census aggregate per field
    * (bounded field list); candidate pairs come from the
    * [[recordLinkage]] blocking — capped blocks, never a cross join —
    * and the comparison vector is row-local codegen.
    */
  def fellegiSunter(spark: SparkSession, dir: String): DataFrame =
    fellegiSunter(Tables.part(spark, dir), "p_partkey", "p_name",
      Seq("p_brand", "p_type", "p_size"),
      maxBlock = 1000, topN = 20)

  /** DataFrame-first form: `fields` are the comparison columns
    * (stringified; NULL-safe equality), blocking on `nameCol`'s first
    * TWO tokens — record-level pairing needs a finer key than
    * [[recordLinkage]]'s name-level first token (8 first-token blocks
    * here would pass `maxBlock` and silently zero the candidate set
    * one SF up; two tokens give 64 blocks that stay under the cap
    * through the driver's largest SF).
    */
  def fellegiSunter(records: DataFrame, keyCol: String, nameCol: String,
                    fields: Seq[String], maxBlock: Int,
                    topN: Int): DataFrame = {
    require(fields.nonEmpty, "fellegiSunter: need at least one field")
    // Conditional fan-out of a narrow bare-scan input (no-op on wide or
    // already-shuffled inputs — Tables.spreadScan's passive probe): the
    // blocked pair join is broadcast-shaped at small |records|, so the
    // whole pair explosion + scoring chain collapses into the SCAN
    // stage, whose width is the row-group count — measured at sf0.1 as
    // ONE 1.1 s task on 32 cores (the query's entire cost).
    val recs = Tables.spreadScan(records)
      .select(col(keyCol).as("k") +: col(nameCol).as("nm") +:
        fields.map(f => col(f).cast("string").as(f)): _*)
      .withColumn("block", concat_ws(" ",
        split(col("nm"), " ").getItem(0), split(col("nm"), " ").getItem(1)))
    // per-field agree/disagree micro-weights off ONE shared census
    // pass: the (field, value) explode is row-local and the censuses
    // for every field ride a single aggregate + 1-row pivot — the
    // per-field-job form paid |fields| scheduler round-trips for the
    // same exact integers (measured: job overhead, not data, dominated)
    val wRows = recs
      .select(explode(array(fields.map(f =>
        struct(lit(f).as("f"), col(f).as("v"))): _*)).as("x"))
      .groupBy(col("x.f").as("f"), col("x.v").as("v"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("f"))
      .agg(sum(col("c").cast("decimal(38,0)")
        * (col("c") - 1).cast("decimal(38,0)")).as("nu"),
        sum(col("c")).as("nr"))
      .select(col("f"),
        expr("CASE WHEN nu <= 0 OR nu >= CAST(nr AS DECIMAL(38,0)) * (nr - 1)" +
          " THEN CAST(0 AS BIGINT)" +
          s" ELSE CAST(round(ln($FsM * (CAST(nr AS DOUBLE) * (nr - 1))" +
          " / CAST(nu AS DOUBLE)) * 1e6) AS BIGINT) END").as("wa"),
        expr("CASE WHEN nu <= 0 OR nu >= CAST(nr AS DECIMAL(38,0)) * (nr - 1)" +
          " THEN CAST(0 AS BIGINT)" +
          s" ELSE CAST(round(ln(${1 - FsM} * (CAST(nr AS DOUBLE) * (nr - 1))" +
          " / (CAST(nr AS DOUBLE) * (nr - 1) - CAST(nu AS DOUBLE))) * 1e6)" +
          " AS BIGINT) END").as("wd"))
    val weights = wRows.groupBy()
      .agg(max(when(col("f") === fields.head, col("wa")))
          .as(s"wa_${fields.head}"),
        fields.tail.flatMap(f => Seq(
          max(when(col("f") === f, col("wa"))).as(s"wa_$f"),
          max(when(col("f") === f, col("wd"))).as(s"wd_$f"))) :+
          max(when(col("f") === fields.head, col("wd")))
            .as(s"wd_${fields.head}"): _*)
    val sizes = recs.groupBy(col("block"))
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") <= maxBlock)
    // Width-pin the blocked frame by the block key BEFORE the pair
    // self-join: the join's work is quadratic per block while its
    // input BYTES are tiny, so AQE's bytes-based coalescing otherwise
    // hands the whole pair explosion + scoring to ONE task (measured
    // at sf0.1: a single 1.06 s task was the query's whole cost after
    // every other stage was fanned — and pinning only one side is not
    // enough, AQE may flip the build side and stream the other).
    // REPARTITION_BY_NUM is exempt from coalescing; whichever side
    // streams is wide, and a cluster-scale sort-merge join reuses the
    // hash partitioning on BOTH sides with no extra exchange.
    val blocked = recs.join(sizes.select("block"), Seq("block"))
      .repartition(
        records.sparkSession.sessionState.conf.numShufflePartitions,
        col("block"))
    val a = blocked.select(col("block") +: col("k").as("k_a") +:
      fields.map(f => col(f).as(s"${f}_a")): _*)
    val b = blocked.select(col("block") +: col("k").as("k_b") +:
      fields.map(f => col(f).as(s"${f}_b")): _*)
    val agreeCols = fields.map(f =>
      col(s"${f}_a") <=> col(s"${f}_b") as s"agree_$f")
    val scoreCol = fields.map(f => when(col(s"${f}_a") <=> col(s"${f}_b"),
        col(s"wa_$f")).otherwise(col(s"wd_$f")))
      .reduce(_ + _).as("score_micro")
    // SHUFFLE_HASH, not broadcast: a broadcast pair join ships the
    // ENTIRE blocked record set to every executor (at corpus scale an
    // OOM, not a plan choice), and at the small end AQE's local
    // shuffle reader collapses a broadcast probe side back to the
    // SCAN's task width — undoing the width pin above (measured: the
    // whole pair stage re-serialized onto one task). The shuffle join
    // keeps the block-hash distribution requirement, so both sides
    // reuse the pinned exchange and the pair work runs at session
    // width; per-partition build state is bounded by the maxBlock cap.
    a.join(b.hint("shuffle_hash"), Seq("block"))
      .filter(col("k_a") < col("k_b"))
      .crossJoin(broadcast(weights))
      .select(Seq(col("k_a"), col("k_b")) ++ agreeCols :+ scoreCol: _*)
      .orderBy(col("score_micro").desc, col("k_a"), col("k_b"))
      .limit(topN)
  }

  /** DuckDB twin of [[fellegiSunter]]: identical censuses, micro
    * weights and blocking cut.
    */
  val fellegiSunterSql: String = {
    val fields = Seq("p_brand", "p_type", "p_size")
    val wCtes = fields.map { f =>
      s"""w_$f AS (
         |  SELECT CASE WHEN nu <= 0 OR nu >= CAST(nr AS HUGEINT) * (nr - 1)
         |      THEN CAST(0 AS BIGINT)
         |    ELSE CAST(round(ln(0.95 * (CAST(nr AS DOUBLE) * (nr - 1))
         |      / CAST(nu AS DOUBLE)) * 1e6) AS BIGINT) END AS wa,
         |    CASE WHEN nu <= 0 OR nu >= CAST(nr AS HUGEINT) * (nr - 1)
         |      THEN CAST(0 AS BIGINT)
         |    ELSE CAST(round(ln(0.05 * (CAST(nr AS DOUBLE) * (nr - 1))
         |      / (CAST(nr AS DOUBLE) * (nr - 1) - CAST(nu AS DOUBLE))) * 1e6)
         |      AS BIGINT) END AS wd
         |  FROM (SELECT sum(CAST(c AS HUGEINT) * (c - 1)) AS nu,
         |          CAST(sum(c) AS BIGINT) AS nr
         |        FROM (SELECT CAST($f AS VARCHAR) AS v, count(*) AS c
         |              FROM part GROUP BY 1)))""".stripMargin
    }.mkString(",\n")
    val agrees = fields.map(f =>
      s"a.$f IS NOT DISTINCT FROM b.$f AS agree_$f").mkString(",\n  ")
    val score = fields.map(f =>
      s"(CASE WHEN a.$f IS NOT DISTINCT FROM b.$f THEN w_$f.wa ELSE w_$f.wd END)")
      .mkString(" + ")
    val wJoin = fields.map(f => s"CROSS JOIN w_$f").mkString(" ")
    s"""WITH recs AS MATERIALIZED (
       |  SELECT p_partkey AS k,
       |    trim(split_part(p_name, ' ', 1) || ' '
       |      || split_part(p_name, ' ', 2)) AS block,
       |    CAST(p_brand AS VARCHAR) AS p_brand,
       |    CAST(p_type AS VARCHAR) AS p_type,
       |    CAST(p_size AS VARCHAR) AS p_size
       |  FROM part),
       |$wCtes,
       |ok AS (SELECT block FROM recs GROUP BY block
       |       HAVING count(*) <= 1000)
       |SELECT a.k AS k_a, b.k AS k_b,
       |  $agrees,
       |  CAST($score AS BIGINT) AS score_micro
       |FROM recs a JOIN ok USING (block)
       |JOIN recs b ON a.block = b.block AND a.k < b.k
       |$wJoin
       |ORDER BY score_micro DESC, k_a, k_b
       |LIMIT 20""".stripMargin
  }

  /** Scale-risk profile of the linkage family's BLOCKING — the
    * [[editJoinProfile]] pre-flight, for [[recordLinkage]] /
    * [[fellegiSunter]]: those ops DROP blocks above `maxBlock` (the
    * right posture — a degenerate block re-creates the quadratic
    * blow-up blocking exists to prevent), but a dropped block's
    * records silently leave the candidate set, and when the default
    * key saturates at scale the op returns an empty pair set that
    * reads as "no duplicates". This census makes that failure mode a
    * NUMBER, from one cheap aggregate over the same blocked frame the
    * join would build. One row, all exact integers:
    *
    *  - `n_records` / `n_blocks` / `max_block` — the blocked frame's
    *    shape (`mean_block_milli` = records per block ×1000,
    *    truncating DIV; NULL on an empty frame);
    *  - `dropped_blocks` — blocks above `maxBlock` (each drops ALL
    *    its records from pairing);
    *  - `covered_records` and `coverage_milli` — records that still
    *    participate, absolute and ×1000 share (NULL when no records).
    *    Coverage ≈ 1000 is healthy; a collapsing value means the key
    *    is too coarse for this corpus — re-key finer (the
    *    [[fellegiSunter]] two-token vs one-token move) BEFORE trusting
    *    an empty linkage result;
    *  - `cand_pairs` — Σ bsz·(bsz−1)/2 over surviving blocks: the
    *    exact number of levenshtein/score comparisons the join will
    *    pay, readable before paying any of them.
    *
    * Scale posture: one block-keyed count + one global aggregate —
    * the same first stage the linkage join itself runs; nothing here
    * adds a pass the join would not pay. The guarded overloads of
    * [[recordLinkage]]/[[fellegiSunter]] run exactly this census and
    * refuse loudly when coverage falls below an opt-in floor.
    */
  def blockingProfile(spark: SparkSession, dir: String): DataFrame =
    blockingProfile(
      fsBlocked(Tables.part(spark, dir), "p_name"), "block", maxBlock = 1000)

  /** DataFrame-first form: profiles `blockCol` as a blocking key over
    * `records` (pass the DISTINCT-names frame to profile
    * [[recordLinkage]]'s name-level blocking; the raw record frame
    * with the two-token key for [[fellegiSunter]]'s).
    */
  def blockingProfile(records: DataFrame, blockCol: String,
                      maxBlock: Int): DataFrame = {
    require(maxBlock >= 1, s"blockingProfile: maxBlock must be >= 1, got $maxBlock")
    records.groupBy(col(blockCol).as("block"))
      .agg(count(lit(1)).as("bsz"))
      .agg(coalesce(sum(col("bsz")), lit(0L)).as("n_records"),
        count(lit(1)).as("n_blocks"),
        coalesce(max(col("bsz")), lit(0L)).as("max_block"),
        coalesce(sum(when(col("bsz") > maxBlock, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("dropped_blocks"),
        coalesce(sum(when(col("bsz") <= maxBlock, col("bsz")).otherwise(lit(0L))),
          lit(0L)).as("covered_records"),
        coalesce(sum(when(col("bsz") <= maxBlock,
          expr("bsz * (bsz - 1) DIV 2")).otherwise(lit(0L))), lit(0L))
          .as("cand_pairs"))
      .select(col("n_records"), col("n_blocks"), col("max_block"),
        when(col("n_blocks") > 0, expr("n_records * 1000 DIV n_blocks"))
          .as("mean_block_milli"),
        col("dropped_blocks"), col("covered_records"),
        when(col("n_records") > 0, expr("covered_records * 1000 DIV n_records"))
          .as("coverage_milli"),
        col("cand_pairs"))
  }

  /** The [[fellegiSunter]] blocked record frame (two-token name key)
    * — shared with [[blockingProfile]] so the profile measures
    * EXACTLY the blocking the scorer pairs on.
    */
  private def fsBlocked(records: DataFrame, nameCol: String): DataFrame =
    records.withColumn("block", concat_ws(" ",
      split(col(nameCol), " ").getItem(0), split(col(nameCol), " ").getItem(1)))

  /** DuckDB twin of [[blockingProfile]] — same two-token key, same
    * truncating-DIV milli ratios.
    */
  val blockingProfileSql: String =
    """WITH recs AS (
      |  SELECT trim(split_part(p_name, ' ', 1) || ' '
      |    || split_part(p_name, ' ', 2)) AS block
      |  FROM part),
      |s AS (SELECT block, CAST(count(*) AS BIGINT) AS bsz FROM recs GROUP BY 1)
      |SELECT CAST(coalesce(sum(bsz), 0) AS BIGINT) AS n_records,
      |  CAST(count(*) AS BIGINT) AS n_blocks,
      |  CAST(coalesce(max(bsz), 0) AS BIGINT) AS max_block,
      |  CASE WHEN count(*) > 0
      |    THEN CAST(sum(bsz) * 1000 // count(*) AS BIGINT) END AS mean_block_milli,
      |  CAST(coalesce(sum(CASE WHEN bsz > 1000 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    AS dropped_blocks,
      |  CAST(coalesce(sum(CASE WHEN bsz <= 1000 THEN bsz ELSE 0 END), 0) AS BIGINT)
      |    AS covered_records,
      |  CASE WHEN coalesce(sum(bsz), 0) > 0
      |    THEN CAST(sum(CASE WHEN bsz <= 1000 THEN bsz ELSE 0 END) * 1000
      |      // sum(bsz) AS BIGINT) END AS coverage_milli,
      |  CAST(coalesce(sum(CASE WHEN bsz <= 1000 THEN bsz * (bsz - 1) // 2
      |    ELSE 0 END), 0) AS BIGINT) AS cand_pairs
      |FROM s""".stripMargin

  /** The loud-saturation census behind the guarded linkage overloads:
    * runs [[blockingProfile]]'s coverage aggregate over the frame the
    * op will pair on and REFUSES (the [[editJoin]] `maxHotSegDocs`
    * discipline: fail the whole job rather than silently emit an
    * empty result) when fewer than `floorMilli` ‰ of records sit in
    * surviving blocks. An EMPTY frame passes (coverage of nothing is
    * vacuously whole).
    */
  private def requireBlockingCoverage(blocked: DataFrame, maxBlock: Int,
                                      floorMilli: Long, op: String): Unit = {
    val r = blocked.groupBy(col("block")).agg(count(lit(1)).as("bsz"))
      .agg(coalesce(sum(col("bsz")), lit(0L)),
        coalesce(sum(when(col("bsz") <= maxBlock, col("bsz"))
          .otherwise(lit(0L))), lit(0L)),
        coalesce(max(col("bsz")), lit(0L)))
      .head()
    val (n, cov, mx) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val covMilli = if (n > 0) cov * 1000 / n else 1000L
    require(covMilli >= floorMilli,
      s"$op: blocking coverage collapsed — only $cov of $n records " +
        s"($covMilli‰) sit in blocks <= maxBlock=$maxBlock (largest " +
        s"block: $mx records); an empty pair set from this run would be " +
        "SATURATION, not absence of duplicates. Run blockingProfile for " +
        "the full census, re-key with a finer blocking key, or lower " +
        "minCoverageMilli deliberately")
  }

  /** [[recordLinkage]] with an OPT-IN coverage guard: the blocking
    * census (one cheap aggregate over the distinct-names frame the op
    * pairs on) runs FIRST and the op fails loudly when fewer than
    * `minCoverageMilli` ‰ of names survive the `maxBlock` cut —
    * instead of returning an empty result that reads as "no
    * duplicates". Pass 0 for the unguarded form.
    */
  def recordLinkage(records: DataFrame, nameCol: String, maxDist: Int,
                    maxBlock: Int, minCoverageMilli: Long): DataFrame = {
    if (minCoverageMilli > 0L)
      requireBlockingCoverage(
        records.select(col(nameCol).as("name")).distinct()
          .withColumn("block", split(col("name"), " ").getItem(0)),
        maxBlock, minCoverageMilli, "recordLinkage")
    recordLinkage(records, nameCol, maxDist, maxBlock)
  }

  /** [[fellegiSunter]] with the same OPT-IN coverage guard, over the
    * two-token record-level blocking the scorer pairs on.
    */
  def fellegiSunter(records: DataFrame, keyCol: String, nameCol: String,
                    fields: Seq[String], maxBlock: Int, topN: Int,
                    minCoverageMilli: Long): DataFrame = {
    if (minCoverageMilli > 0L)
      requireBlockingCoverage(fsBlocked(records, nameCol), maxBlock,
        minCoverageMilli, "fellegiSunter")
    fellegiSunter(records, keyCol, nameCol, fields, maxBlock, topN)
  }

  /** EM hyper-parameters for [[fellegiSunterEm]] — fixed iteration
    * count (static job graph, DuckDB-unrollable: the [[Graph.pageRank]]
    * discipline) and deterministic micro-unit initializers (m₀ = 0.9,
    * p₀ = 0.01; u₀ comes from the exact value census).
    */
  val FsEmIters = 20
  val FsEmInitM = 900000L
  val FsEmInitP = 10000L

  /** Fellegi–Sunter with DATA-ESTIMATED m-probabilities — the EM
    * extension [[fellegiSunter]]'s fixed m = [[FsM]] documents as its
    * calibration gap (Winkler 1988's unsupervised EM fit of the 1969
    * model). The latent two-class mixture is fit on the AGREEMENT-
    * PATTERN census: every blocked candidate pair collapses to its
    * comparison vector γ ∈ {0,1}^F, so the E/M steps run on ≤ 2^F
    * grid rows no matter how many pairs the corpus produces — the
    * entire iterative part is driver-side integer arithmetic on a
    * bounded grid (the one `.collect()` is ≤ 2^F + F rows by
    * construction). EM estimates m and the match prevalence p ONLY;
    * u stays pinned at the exact chance-agreement census (Winkler's
    * fixed-u practice) — re-estimating u opens the degenerate local
    * optimum where the match class collapses onto the all-agree
    * pattern (m → 1), observed on planted corpora.
    *
    * Determinism (cross-engine): ALL EM state is micro-unit integers.
    * Each E-step weight is `num·1e6 DIV (num+alt)` with num/alt exact
    * products of micro-probabilities (≤ 1e30 — inside DECIMAL(38,0) /
    * HUGEINT / BigInt); each M-step re-estimate is one truncating DIV;
    * every quantity is clamped to [1, 999999] micro so no branch can
    * divide by zero or hit a log singularity. Spark (driver BigInt)
    * and DuckDB (HUGEINT CTE chain, [[fellegiSunterEmSql]]) run the
    * IDENTICAL recurrence — truncating division on positive integers
    * agrees — so the hash-compare is exact except the two final ln()
    * weight roundings, the same accepted float seam as
    * [[fellegiSunter]]'s census weights.
    *
    * Label-switching note: EM on a two-class mixture is identifiable
    * only up to class swap; the m₀ = 0.9 > u₀ initialization anchors
    * the "match" class to the agree-heavy component, the standard
    * convention.
    *
    * Output: one row per field — (field, n_pairs, p_micro [match
    * prevalence], m_micro, u_micro [EM estimates], wa_micro, wd_micro
    * [the resulting agree/disagree log-likelihood-ratio weights]) —
    * ready to replace the fixed-m weights in a rescoring pass.
    */
  def fellegiSunterEm(spark: SparkSession, dir: String): DataFrame =
    fellegiSunterEm(Tables.part(spark, dir), "p_partkey", "p_name",
      Seq("p_brand", "p_type", "p_size"), maxBlock = 1000)

  /** DataFrame-first form. `fields` is capped at 6 (the grid is 2^F —
    * the bounded-driver-state contract).
    */
  def fellegiSunterEm(records: DataFrame, keyCol: String, nameCol: String,
                      fields: Seq[String], maxBlock: Int): DataFrame = {
    require(fields.nonEmpty, "fellegiSunterEm: need at least one field")
    require(fields.size <= 6,
      s"fellegiSunterEm: the EM grid is 2^F rows — got F=${fields.size} > 6")
    val spark = records.sparkSession
    val nF = fields.size
    // same conditional narrow-scan fan-out as [[fellegiSunter]]
    val recs = Tables.spreadScan(records)
      .select(col(keyCol).as("k") +: col(nameCol).as("nm") +:
        fields.map(f => col(f).cast("string").as(f)): _*)
      .withColumn("block", concat_ws(" ",
        split(col("nm"), " ").getItem(0), split(col("nm"), " ").getItem(1)))
    // exact chance-agreement census per field (u₀, micro, clamped) —
    // one aggregate pass, F rows back to the driver
    val uRows = recs
      .select(explode(array(fields.map(f =>
        struct(lit(f).as("f"), col(f).as("v"))): _*)).as("x"))
      .groupBy(col("x.f").as("f"), col("x.v").as("v"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("f"))
      .agg(sum(col("c").cast("decimal(38,0)")
        * (col("c") - 1).cast("decimal(38,0)")).as("nu"),
        sum(col("c")).as("nr"))
      .select(col("f"),
        expr("CAST(least(999999, greatest(1, nu * 1000000" +
          " DIV (CAST(nr AS DECIMAL(38,0)) * (nr - 1)))) AS BIGINT)").as("u0"))
      .collect()
    val u0ByField = uRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    // agreement-pattern census over the blocked pairs — the ONLY
    // pair-volume pass; comes back as ≤ 2^F rows
    val sizes = recs.groupBy(col("block"))
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") <= maxBlock)
    // width pin + shuffle join, for [[fellegiSunter]]'s reasons: the
    // pair census is quadratic per block on tiny bytes
    val blocked = recs.join(sizes.select("block"), Seq("block"))
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("block"))
    val a = blocked.select(col("block") +: col("k").as("k_a") +:
      fields.map(f => col(f).as(s"${f}_a")): _*)
    val b = blocked.select(col("block") +: col("k").as("k_b") +:
      fields.map(f => col(f).as(s"${f}_b")): _*)
    val gCols = fields.zipWithIndex.map { case (f, i) =>
      (col(s"${f}_a") <=> col(s"${f}_b")).as(s"g$i") }
    val pats: Array[(IndexedSeq[Boolean], Long)] =
      a.join(b.hint("shuffle_hash"), Seq("block"))
        .filter(col("k_a") < col("k_b"))
        .select(gCols: _*)
        .groupBy((0 until nF).map(i => col(s"g$i")): _*)
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => ((0 until nF).map(r.getBoolean), r.getLong(nF)))
    // ── driver EM on the grid, exact integers ──
    val M = BigInt(1000000)
    def clamp(x: BigInt): BigInt = x.max(BigInt(1)).min(BigInt(999999))
    var p = BigInt(FsEmInitP)
    val m = Array.fill(nF)(BigInt(FsEmInitM))
    val u = fields.map(f => BigInt(u0ByField(f))).toArray
    // u is HELD at the exact census estimate (Winkler's practice): the
    // non-match class is overwhelmingly the chance-agreement population,
    // which the census measures exactly — and letting EM re-estimate u
    // opens the degenerate local optimum where the "match" class
    // collapses onto the all-agree pattern (m → 1, observed on planted
    // corpora; the DedupSpec planted-recovery test pins the fixed-u fit
    // landing near the true corruption rate instead)
    for (_ <- 1 to FsEmIters if pats.nonEmpty) {
      val ws = pats.map { case (g, n) =>
        val num = (0 until nF).foldLeft(p)((acc, i) =>
          acc * (if (g(i)) m(i) else M - m(i)))
        val alt = (0 until nF).foldLeft(M - p)((acc, i) =>
          acc * (if (g(i)) u(i) else M - u(i)))
        (g, BigInt(n), clamp(num * M / (num + alt)))
      }
      val sn = ws.map(_._2).sum
      val snw = ws.map(t => t._2 * t._3).sum
      p = clamp(snw / sn)
      for (i <- 0 until nF)
        m(i) = clamp(ws.filter(_._1(i)).map(t => t._2 * t._3).sum * M / snw)
    }
    val nPairs = pats.map(_._2).sum
    val out = fields.zipWithIndex.map { case (f, i) =>
      val (mi, ui) = (m(i).toLong, u(i).toLong)
      org.apache.spark.sql.Row(f, nPairs, p.toLong, mi, ui,
        math.round(math.log(mi.toDouble / ui.toDouble) * 1e6),
        math.round(math.log((1000000.0 - mi) / (1000000.0 - ui)) * 1e6))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("field",
        org.apache.spark.sql.types.StringType, nullable = false)) ++
      Seq("n_pairs", "p_micro", "m_micro", "u_micro", "wa_micro", "wd_micro")
        .map(org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        out.sortBy(_.getString(0))).asJava, schema)
  }

  /** DuckDB twin of [[fellegiSunterEm]] — the identical micro-integer
    * EM recurrence unrolled [[FsEmIters]] times as chained CTEs in
    * HUGEINT arithmetic (every clamp, product and truncating `//` in
    * the same order the driver loop applies them).
    */
  val fellegiSunterEmSql: String = {
    val fields = Seq("p_brand", "p_type", "p_size")
    val nF = fields.size
    val uCtes = fields.zipWithIndex.map { case (f, i) =>
      s"""uc_$i AS MATERIALIZED (
         |  SELECT LEAST(999999, GREATEST(1,
         |    coalesce(sum(CAST(c AS HUGEINT) * (c - 1)), 0) * 1000000
         |      // (CAST(nrt.nr AS HUGEINT) * (nrt.nr - 1)))) AS u
         |  FROM (SELECT CAST($f AS VARCHAR) AS v, count(*) AS c
         |        FROM part GROUP BY 1) cen
         |  CROSS JOIN (SELECT count(*) AS nr FROM part) nrt
         |  GROUP BY nrt.nr)""".stripMargin
    }.mkString(",\n")
    val gSel = fields.zipWithIndex.map { case (f, i) =>
      s"CASE WHEN a.$f IS NOT DISTINCT FROM b.$f THEN 1 ELSE 0 END AS g$i"
    }.mkString(",\n    ")
    val gList = (0 until nF).map(i => s"g$i").mkString(", ")
    def emStep(k: Int): String = {
      val prev = if (k == 1) "it0" else s"it${k - 1}"
      val numTerms = (0 until nF).map(i =>
        s"(CASE WHEN g$i = 1 THEN m$i ELSE 1000000 - m$i END)").mkString(" * ")
      val altTerms = (0 until nF).map(i =>
        s"(CASE WHEN g$i = 1 THEN u$i ELSE 1000000 - u$i END)").mkString(" * ")
      // empty-grid fallback = carry the previous iteration's value, the
      // exact semantics of the driver loop's `if pats.nonEmpty` guard;
      // u is NOT re-estimated (held at the it0 census values — the
      // fixed-u Winkler fit, see the operator scaladoc)
      val mUpd = (0 until nF).map(i =>
        s"""LEAST(999999, GREATEST(1, coalesce(
           |      sum(CASE WHEN g$i = 1 THEN n * w ELSE 0 END) * 1000000
           |        // nullif(sum(n * w), 0), (SELECT m$i FROM $prev)))) AS m$i"""
          .stripMargin).mkString(",\n    ")
      val uUpd = (0 until nF).map(i =>
        s"(SELECT u$i FROM $prev) AS u$i").mkString(",\n    ")
      s"""e$k AS MATERIALIZED (
         |  SELECT $gList, n,
         |    LEAST(999999, GREATEST(1, (num * 1000000) // (num + alt))) AS w
         |  FROM (
         |    SELECT pat.*, $prev.p * $numTerms AS num,
         |      (1000000 - $prev.p) * $altTerms AS alt,
         |      ${(0 until nF).map(i => s"$prev.m$i, $prev.u$i").mkString(", ")}
         |    FROM pat CROSS JOIN $prev)),
         |it$k AS MATERIALIZED (
         |  SELECT
         |    LEAST(999999, GREATEST(1, coalesce(
         |      sum(n * w) // nullif(sum(n), 0), (SELECT p FROM $prev)))) AS p,
         |    $mUpd,
         |    $uUpd
         |  FROM e$k)""".stripMargin
    }
    val finalRows = fields.zipWithIndex.map { case (f, i) =>
      s"""SELECT '$f' AS field,
         |  (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM pat) AS n_pairs,
         |  CAST(p AS BIGINT) AS p_micro,
         |  CAST(m$i AS BIGINT) AS m_micro, CAST(u$i AS BIGINT) AS u_micro,
         |  CAST(round(ln(CAST(m$i AS DOUBLE) / CAST(u$i AS DOUBLE)) * 1e6)
         |    AS BIGINT) AS wa_micro,
         |  CAST(round(ln((1000000 - CAST(m$i AS DOUBLE))
         |    / (1000000 - CAST(u$i AS DOUBLE))) * 1e6) AS BIGINT) AS wd_micro
         |FROM it$FsEmIters""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH recs AS MATERIALIZED (
       |  SELECT p_partkey AS k,
       |    trim(split_part(p_name, ' ', 1) || ' '
       |      || split_part(p_name, ' ', 2)) AS block,
       |    CAST(p_brand AS VARCHAR) AS p_brand,
       |    CAST(p_type AS VARCHAR) AS p_type,
       |    CAST(p_size AS VARCHAR) AS p_size
       |  FROM part),
       |$uCtes,
       |ok AS (SELECT block FROM recs GROUP BY block
       |       HAVING count(*) <= 1000),
       |pat AS MATERIALIZED (
       |  SELECT $gList, CAST(count(*) AS HUGEINT) AS n
       |  FROM (
       |    SELECT $gSel
       |    FROM recs a JOIN ok USING (block)
       |    JOIN recs b ON a.block = b.block AND a.k < b.k)
       |  GROUP BY $gList),
       |it0 AS MATERIALIZED (
       |  SELECT CAST($FsEmInitP AS HUGEINT) AS p,
       |    ${(0 until nF).map(i =>
           s"CAST($FsEmInitM AS HUGEINT) AS m$i, uc_$i.u AS u$i").mkString(",\n    ")}
       |  FROM ${(0 until nF).map(i => s"uc_$i").mkString(", ")}),
       |${(1 to FsEmIters).map(emStep).mkString(",\n")}
       |$finalRows
       |ORDER BY field""".stripMargin
  }

  /** Incremental exact dedup — the daily-ingest production shape:
    * dedup a NEW increment against the digest INDEX of the
    * already-ingested corpus, without ever re-reading the old corpus
    * text (at 100 TB the index is a persisted digest table; here it is
    * derived on the fly). Every increment row is classified:
    * `dup_of_index` (already ingested), `dup_in_increment` (another
    * increment row with the same digest has the smaller id — the
    * canonical one survives), or `new`.
    *
    * Shape: the index side is one digest-distinct aggregate; the
    * increment census is one digest-keyed `min` aggregate (the
    * [[graft.ops.Curation.spanDedup]] canonical-pick — partial-agg,
    * never a window); classification is a digest equi-join against
    * both — all shuffles are digest-keyed, nothing quadratic, and md5
    * keeps the oracle exact cross-engine.
    */
  def dedupIncremental(oldDocs: DataFrame, newDocs: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val oldD = oldDocs.select(md5(col(textCol)).as("digest")).distinct()
      .withColumn("in_index", lit(1))
    val newD = newDocs.select(col(idCol).as("doc_id"), md5(col(textCol)).as("digest"))
    val census = newD.groupBy(col("digest")).agg(min(col("doc_id")).as("canon"))
    newD
      .join(census, Seq("digest"))
      .join(oldD, Seq("digest"), "left")
      .select(col("doc_id"), col("digest"),
        when(col("in_index").isNotNull, "dup_of_index")
          .when(col("doc_id") =!= col("canon"), "dup_in_increment")
          .otherwise("new").as("status"))
      .orderBy(col("doc_id"))
  }

  /** Driver form: even doc_ids play the ingested corpus, odd ones the
    * arriving increment.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dedupIncremental(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
  }

  val dedupIncrementalSql: String =
    """WITH oldd AS (
      |  SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 2 = 0),
      |newd AS (
      |  SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 2 = 1),
      |c AS (SELECT digest, min(doc_id) AS canon FROM newd GROUP BY digest)
      |SELECT doc_id, n.digest,
      |  CASE WHEN o.digest IS NOT NULL THEN 'dup_of_index'
      |       WHEN doc_id <> canon THEN 'dup_in_increment'
      |       ELSE 'new' END AS status
      |FROM newd n JOIN c USING (digest) LEFT JOIN oldd o ON n.digest = o.digest
      |ORDER BY doc_id""".stripMargin

  /** doc_id + distinct hashed word-3-gram shingles (array<long>).
    * Hashing shingles to longs up front keeps every downstream join and
    * set operation on fixed-width values instead of strings.
    */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                          ngram: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      // native one-pass shingling in the ENGINE-NEUTRAL md5-lower-64
      // family (Md5ShingleHash64): same set semantics as the xxhash64
      // `shingle_hash` kernel, but recomputable outside Spark — which is
      // what lets every consumer of this sketch pipeline (minhash
      // summary/clusters/incremental/containment/source-overlap) carry a
      // full DuckDB hash-checked oracle instead of a rows-only check
      .select(col(idCol).as("doc_id"),
        expr(s"md5_shingle_hash64(split($textCol, ' '), $ngram)").as("shset"))
  }

  /** Exact Jaccard on hashed shingle sets for a candidate pair, from
    * the single fused intersection count (elements are distinct, so
    * |A∪B| = |A|+|B|−|A∩B|) — no intersection/union arrays are ever
    * materialized ([[graft.functions.SetIntersectCount]]).
    */
  private def jaccard(a: Column, b: Column): Column = {
    val c = call_function("set_intersect_count", a, b)
    c.cast("double") / (size(a) + size(b) - c)
  }

  /** Candidate pairs from equality self-join on (bucketCol id, hash),
    * with a bucket-size cap dropping degenerate buckets (boilerplate
    * content at scale would otherwise make one bucket quadratic).
    *
    * The (bucket, doc) assignments are persisted — the self-join reads
    * them twice, and without that each side would re-run the whole
    * upstream sketch pipeline — the distinct pair set (small) is
    * checkpointed eagerly, and the assignment cache is dropped before
    * returning.
    */
  private[ops] def lshCandidates(buckets: DataFrame, maxBucket: Int): DataFrame =
    cappedPairs(buckets, bucketSizes(buckets), maxBucket)

  /** As [[lshCandidates]], but ALSO returns the docs whose buckets were
    * dropped by the cap — bucket sizes are computed once and shared by
    * the cap filter and the dropped-doc detection.
    */
  private[ops] def lshCandidatesWithDropped(buckets: DataFrame,
                                            maxBucket: Int): (DataFrame, DataFrame) = {
    val sizes = bucketSizes(buckets)
    // persisted because it is read twice (cap filter + dropped
    // detection); small: one row per bucket
    Cached.hold(sizes) {
      val pairs = cappedPairs(buckets, sizes, maxBucket)
      val over = sizes.filter(col("bsz") > maxBucket)
        .select(col("bucket_id"), col("bucket_hash"))
      (pairs, Cached.checkpoint(
        buckets.join(over, Seq("bucket_id", "bucket_hash")).select(col("doc_id")).distinct()))
    }
  }

  /** Bucket sizes via partial+final hash agg + equi-join, NOT a window
    * count over the bucket key: some blocking schemes (e.g. n-gram
    * Jaccard's lang × length-bucket) have FEW, HUGE buckets, and a
    * window would funnel each whole bucket through one task — the agg
    * combines map-side and the join back is keyed and AQE-skew-safe.
    */
  private def bucketSizes(buckets: DataFrame): DataFrame =
    buckets.groupBy(col("bucket_id"), col("bucket_hash"))
      .agg(count(lit(1)).as("bsz"))

  /** The capped self-join: distinct (doc_a < doc_b) pairs sharing a
    * bucket of at most `maxBucket` docs, checkpointed.
    */
  private def cappedPairs(buckets: DataFrame, sizes: DataFrame, maxBucket: Int): DataFrame = {
    val keep = sizes.filter(col("bsz") <= maxBucket)
      .select(col("bucket_id"), col("bucket_hash"))
    val capped = buckets
      .join(keep, Seq("bucket_id", "bucket_hash"))
      .select(col("bucket_id"), col("bucket_hash"), col("doc_id"))
    Cached.derive(capped) {
      capped.as("x").join(capped.as("y"),
          col("x.bucket_id") === col("y.bucket_id") &&
          col("x.bucket_hash") === col("y.bucket_hash") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
    }
  }

  /** Left-join a per-doc pair summary back onto the full doc list so the
    * output always has one row per document.
    */
  private def perDocSummaryUnsorted(docs: DataFrame, pairs: DataFrame, simCol: String,
                                    threshold: Double,
                                    roundSim: Boolean = true): DataFrame = {
    val directed = pairs.select(col("doc_a").as("doc_id"), col(simCol))
      .unionByName(pairs.select(col("doc_b").as("doc_id"), col(simCol)))
    // round(…, 4) guards arbitrary-ratio doubles (Jaccard, cosine)
    // against cross-engine last-bit drift; similarities that are exact
    // binary fractions (SimHash's k/64) skip it — rounding EXACT ties
    // (e.g. 42/64 = 0.65625) is where engines disagree (HALF_UP vs
    // half-even), the opposite of the guard's purpose
    val maxSim = if (roundSim) round(max(col(simCol)), 4) else max(col(simCol))
    val agg = directed.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col(simCol) >= threshold, 1L).otherwise(0L)).as("n_dups"),
      maxSim.as("max_sim"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_candidates", "n_dups"))
      .na.fill(0.0, Seq("max_sim"))
  }

  private def perDocSummary(docs: DataFrame, pairs: DataFrame, simCol: String,
                            threshold: Double,
                            roundSim: Boolean = true): DataFrame =
    perDocSummaryUnsorted(docs, pairs, simCol, threshold, roundSim)
      .orderBy(col("doc_id"))

  /** MinHash-LSH candidate pairs with exact-Jaccard scores — computed
    * ONCE per (session, dataset) and shared by the per-doc summary
    * ([[dedupMinhash]]) and the cluster builder ([[nearDupClusters]]):
    * the result is an eagerly checkpointed small pair set, so the
    * second consumer pays a block read, not a sketch-pipeline rerun.
    */
  private val pairsMemo = new DatasetMemo("documents.parquet")

  private[ops] def minhashVerifiedPairs(spark: SparkSession, dir: String): DataFrame =
    pairsMemo.getOrCompute(spark, dir)(
      minhashVerifiedPairs(Tables.documents(spark, dir), "doc_id", "text"))

  /** Release the memoized verified-pair set for (session, dir):
    * unpersists its checkpointed RDD blocks and drops the memo entry.
    * Call when done with a dataset in a long-lived session. (Data
    * CHANGES are handled automatically — the memo tracks a file-level
    * data version and recomputes on mismatch — so this is purely a
    * storage-release API.)
    */
  def releasePairs(spark: SparkSession, dir: String): Unit =
    pairsMemo.release(spark, dir)

  /** Drop every memoized pair set across all sessions/datasets. */
  def clearPairsMemo(): Unit = pairsMemo.clear()

  /** Checkpointed-RDD ids retained by the memo for (session, dir) —
    * exposed for the cache-lifecycle contract tests.
    */
  private[graft] def memoRddIds(spark: SparkSession, dir: String): Set[Int] =
    pairsMemo.rddIds(spark, dir)

  /** 16-band × 4-row LSH buckets from the 64-minhash signature of each
    * doc's shingle set — the shared candidate generator for
    * [[minhashVerifiedPairs]] and [[dedupIncrementalNear]]. Native
    * codegen'd MinHash (one fused shingles×64 loop,
    * [[graft.functions.MinHashMod64]]) in the multiply-mod-2^64 family;
    * band keys are md5-lower-64 digests of each band's slot CSV
    * ([[graft.functions.MinhashBandKeys]]) — 8-byte exchange keys (the
    * digest-shuffle discipline: 16 band rows per document cross the
    * shuffle as longs, not ~85-byte strings) that a DuckDB oracle
    * rebuilds exactly via `md5_number_lower(array_to_string(…))`,
    * where the previous `xxhash64(b, sig…)` compaction was Spark-only.
    */
  private[ops] def minhashBandBuckets(sets: DataFrame): DataFrame = {
    // reuse a pre-computed (possibly cached) signature column when the
    // caller carries one — nearDupEval scores with the same sig and
    // must not pay the fused minhash loop twice
    val sigged = if (sets.columns.contains("sig")) sets
      else sets.withColumn("sig", expr("minhash_mod64(shset, 64)"))
    sigged
      .select(col("doc_id"), posexplode(expr("minhash_band_keys(sig, 4)")))
      .withColumnRenamed("pos", "bucket_id")
      .withColumnRenamed("col", "bucket_hash")
  }

  /** MinHash + LSH near-dup pair generation: 64 minhashes from the
    * engine-neutral multiply-mod-2^64 family over md5-lower-64 shingle
    * hashes → 16 bands × 4 rows → band-bucket join → exact Jaccard
    * verification. Only candidate pairs (≪ n²) ever touch the verify
    * join. Output: (doc_a, doc_b, jacc). The whole pipeline is
    * recomputable in DuckDB ([[minhashVerSqlCtes]]), so every consumer
    * carries a full hash-checked oracle; recovery laws additionally
    * pinned by DedupSpec.
    */
  def minhashVerifiedPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol)
    Cached.derive(sets) {
      lshCandidates(minhashBandBuckets(sets), maxBucket = 100)
        .join(sets.select(col("doc_id").as("doc_a"), col("shset").as("sa")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("shset").as("sb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), jaccard(col("sa"), col("sb")).as("jacc"))
    }
  }

  /** MinHash calibration report — the near-dup family's analogue of
    * the ANN recall report: for every LSH candidate pair, compare the
    * SKETCH's Jaccard estimate (matching signature slots / 64) against
    * the EXACT shingle Jaccard, bucketed by exact-similarity decile.
    * This is the measurement that justifies (or indicts) the 16×4
    * banding and 64-hash signature in production: estimator bias and
    * spread per similarity band, plus how many candidates each band
    * contributes. All scores are integer basis points (slot counts and
    * set sizes are exact ints; one floor division per figure) so the
    * report is deterministic and layout-invariant.
    *
    * Scale shape: candidates come from the same capped band-bucket
    * equi-join as [[minhashVerifiedPairs]] (never all pairs); the
    * signature is computed once per doc; the output is a ≤ 10-row
    * grid.
    *
    * Hash family: md5-lower-64 shingle hashes + the multiply-mod-2^64
    * MinHash family ([[graft.functions.MinHashMod64]]) — the SAME
    * engine-neutral sketch the pair-production path
    * ([[minhashVerifiedPairs]]) runs, so this report calibrates exactly
    * the signatures production uses, and the DuckDB twin
    * ([[nearDupEvalSql]]) runs the identical sketch in HUGEINT.
    */
  def nearDupEval(spark: SparkSession, dir: String): DataFrame =
    nearDupEval(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form. */
  def nearDupEval(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sets = shingleSets(docs, idCol, textCol)
      .withColumn("sig", expr("minhash_mod64(shset, 64)"))
    Cached.derive(sets) {
      val cand = lshCandidates(minhashBandBuckets(sets), maxBucket = 100)
      val scored = cand
        .join(sets.select(col("doc_id").as("doc_a"), col("shset").as("sa"),
          col("sig").as("siga")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("shset").as("sb"),
          col("sig").as("sigb")), Seq("doc_b"))
        .select(
          expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), v -> v)) * 10000L div 64")
            .as("est_bp"),
          (floor(jaccard(col("sa"), col("sb")) * 10000).cast("long")).as("exact_bp"))
        .select(col("est_bp"), col("exact_bp"),
          least(expr("exact_bp div 1000"), lit(9L)).as("decile"),
          abs(col("est_bp") - col("exact_bp")).as("abs_err"))
      scored.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(est_bp) div count(1)").as("avg_est_bp"),
          expr("sum(exact_bp) div count(1)").as("avg_exact_bp"),
          expr("sum(abs_err) div count(1)").as("avg_abs_err_bp"))
        .orderBy(col("decile")) // ≤10-row grid
    }
  }

  /** Shared DuckDB CTE chain rebuilding the engine-neutral MinHash-LSH
    * candidate pipeline exactly as Spark runs it ([[shingleSets]] →
    * [[minhashBandBuckets]] → [[lshCandidates]]): md5-lower-64 shingle
    * hashes, the 64 multiply-mod-2^64 MinHash slots (multipliers from
    * the same golden-ratio formula, exact in HUGEINT), 16×4 CSV
    * banding, the 100-bucket cap, and the distinct a<b candidate set.
    * Emits CTEs `t, sh, seeds, hs, mins, sig, bk, sizes, keep, cand` —
    * the shared prefix of every minhash-family oracle below.
    */
  private def minhashCandSqlCtes: String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sh AS (
       |${shsetSqlExpr("")}),
       |seeds AS (
       |  SELECT j, ((((2 * j + 1)::HUGEINT * 11400714819323198485::HUGEINT)
       |    % 4611686018427387904::HUGEINT) | 1::HUGEINT) AS a
       |  FROM range(64) r(j)),
       |hs AS (
       |  SELECT doc_id,
       |    CAST(h AS HUGEINT)
       |      + CASE WHEN h < 0 THEN 18446744073709551616::HUGEINT
       |             ELSE 0::HUGEINT END AS hu
       |  FROM (SELECT doc_id, unnest(shset) AS h FROM sh)),
       |mins AS (
       |  SELECT doc_id, j,
       |    min((a * hu) % 18446744073709551616::HUGEINT) AS m
       |  FROM hs CROSS JOIN seeds GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id, list(CAST(CASE
       |      WHEN m >= 9223372036854775808::HUGEINT
       |        THEN m - 18446744073709551616::HUGEINT
       |      ELSE m END AS BIGINT) ORDER BY j) AS sig
       |  FROM mins GROUP BY doc_id),
       |bk AS (
       |  SELECT doc_id, b AS bucket_id,
       |    CAST(CASE
       |      WHEN md5_number_lower(array_to_string(sig[4*b+1:4*b+4], ','))
       |        >= 9223372036854775808::HUGEINT
       |      THEN CAST(md5_number_lower(array_to_string(sig[4*b+1:4*b+4], ','))
       |        AS HUGEINT) - 18446744073709551616::HUGEINT
       |      ELSE CAST(md5_number_lower(array_to_string(sig[4*b+1:4*b+4], ','))
       |        AS HUGEINT) END AS BIGINT) AS bucket_hash
       |  FROM sig CROSS JOIN range(16) r(b)),
       |sizes AS (SELECT bucket_id, bucket_hash, count(*) AS bsz
       |          FROM bk GROUP BY 1, 2),
       |keep AS (SELECT bucket_id, bucket_hash FROM sizes WHERE bsz <= 100),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bk x JOIN keep USING (bucket_id, bucket_hash)
       |  JOIN bk y ON x.bucket_id = y.bucket_id
       |    AND x.bucket_hash = y.bucket_hash AND x.doc_id < y.doc_id)""".stripMargin

  /** `ver` CTE: exact-Jaccard verification of `cand` — the DuckDB twin
    * of [[minhashVerifiedPairs]]'s output (doc_a, doc_b, jacc).
    */
  private[ops] def minhashVerSqlCtes: String =
    s"""$minhashCandSqlCtes,
       |ver AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
       |      / (len(a.shset) + len(b.shset)
       |         - len(list_intersect(a.shset, b.shset))) AS jacc
       |  FROM cand JOIN sh a ON a.doc_id = doc_a
       |  JOIN sh b ON b.doc_id = doc_b)""".stripMargin

  /** DuckDB twin of [[nearDupEval]] — the shared sketch CTEs plus the
    * integer basis-point estimator grid.
    */
  val nearDupEvalSql: String =
    s"""WITH $minhashCandSqlCtes,
       |scored AS (
       |  SELECT
       |    (list_sum(list_transform(range(1, 65),
       |       i -> CASE WHEN ga.sig[i] = gb.sig[i] THEN 1 ELSE 0 END))
       |     * 10000) // 64 AS est_bp,
       |    CAST(floor((CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
       |      / (len(a.shset) + len(b.shset)
       |         - len(list_intersect(a.shset, b.shset)))) * 10000) AS BIGINT)
       |      AS exact_bp
       |  FROM cand JOIN sh a ON a.doc_id = doc_a
       |  JOIN sh b ON b.doc_id = doc_b
       |  JOIN sig ga ON ga.doc_id = doc_a
       |  JOIN sig gb ON gb.doc_id = doc_b)
       |SELECT LEAST(exact_bp // 1000, 9) AS decile,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(est_bp) // count(*) AS BIGINT) AS avg_est_bp,
       |  CAST(sum(exact_bp) // count(*) AS BIGINT) AS avg_exact_bp,
       |  CAST(sum(abs(est_bp - exact_bp)) // count(*) AS BIGINT)
       |    AS avg_abs_err_bp
       |FROM scored GROUP BY 1 ORDER BY decile""".stripMargin

  /** DuckDB twin of [[dedupMinhash]] — verified pairs from the shared
    * sketch CTEs, then the per-doc candidate/dup/max-sim summary
    * left-joined onto the full corpus (the [[perDocSummary]] shape).
    */
  val dedupMinhashSql: String =
    s"""WITH $minhashVerSqlCtes,
       |directed AS (
       |  SELECT doc_a AS doc_id, jacc FROM ver
       |  UNION ALL SELECT doc_b AS doc_id, jacc FROM ver),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
       |    CAST(sum(CASE WHEN jacc >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dups,
       |    round(max(jacc), 4) AS max_sim
       |  FROM directed GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(n_candidates, 0) AS n_candidates,
       |  coalesce(n_dups, 0) AS n_dups,
       |  coalesce(max_sim, 0.0) AS max_sim
       |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB twin of [[nearDupClusters]] — duplicate edges (Jaccard ≥
    * 0.7) from the shared sketch CTEs, connected components via a
    * recursive reachability CTE (fixpoint = Spark's min-label
    * propagation fixpoint: every doc labeled by the smallest id it can
    * reach), singleton clusters filled from the corpus.
    */
  val nearDupClustersSql: String =
    s"""WITH RECURSIVE $minhashVerSqlCtes,
       |e0 AS (SELECT doc_a, doc_b FROM ver WHERE jacc >= 0.7),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM e0
       |  UNION SELECT doc_b AS a, doc_a AS b FROM e0),
       |nodes AS (SELECT DISTINCT a FROM edges),
       |reach AS (
       |  SELECT a, a AS b FROM nodes
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |lab AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a)
       |SELECT d.doc_id,
       |  coalesce(l.cluster, d.doc_id) AS cluster,
       |  CAST(CASE WHEN coalesce(l.cluster, d.doc_id) = d.doc_id
       |       THEN 1 ELSE 0 END AS INT) AS is_canonical
       |FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB twin of [[dedupIncrementalNear]] — the corpus split by id
    * parity into index (even) and increment (odd) sides, band rows per
    * side with BOTH-side bucket caps, the vs-index probe join and the
    * within-increment self-join, exact-Jaccard verification, and the
    * three-way status per new document.
    */
  val dedupIncrementalNearSql: String =
    s"""WITH $minhashCandSqlCtes,
       |oldb AS (SELECT * FROM bk WHERE doc_id % 2 = 0),
       |newb AS (SELECT * FROM bk WHERE doc_id % 2 = 1),
       |keepo AS (SELECT bucket_id, bucket_hash FROM oldb
       |          GROUP BY 1, 2 HAVING count(*) <= 100),
       |keepn AS (SELECT bucket_id, bucket_hash FROM newb
       |          GROUP BY 1, 2 HAVING count(*) <= 100),
       |cando AS (
       |  SELECT DISTINCT n.doc_id, o.doc_id AS old_id
       |  FROM newb n JOIN keepn USING (bucket_id, bucket_hash)
       |  JOIN keepo USING (bucket_id, bucket_hash)
       |  JOIN oldb o ON o.bucket_id = n.bucket_id
       |    AND o.bucket_hash = n.bucket_hash),
       |vsidx AS (
       |  SELECT DISTINCT c.doc_id FROM cando c
       |  JOIN sh a ON a.doc_id = c.doc_id
       |  JOIN sh b ON b.doc_id = c.old_id
       |  WHERE CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
       |    / (len(a.shset) + len(b.shset)
       |       - len(list_intersect(a.shset, b.shset))) >= 0.7),
       |candn AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM newb x JOIN keepn USING (bucket_id, bucket_hash)
       |  JOIN newb y ON x.bucket_id = y.bucket_id
       |    AND x.bucket_hash = y.bucket_hash AND x.doc_id < y.doc_id),
       |vsinc AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM candn
       |  JOIN sh a ON a.doc_id = doc_a
       |  JOIN sh b ON b.doc_id = doc_b
       |  WHERE CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
       |    / (len(a.shset) + len(b.shset)
       |       - len(list_intersect(a.shset, b.shset))) >= 0.7)
       |SELECT d.doc_id,
       |  CASE WHEN v.doc_id IS NOT NULL THEN 'near_dup_of_index'
       |       WHEN w.doc_id IS NOT NULL THEN 'near_dup_in_increment'
       |       ELSE 'new' END AS status
       |FROM documents d
       |LEFT JOIN vsidx v ON v.doc_id = d.doc_id
       |LEFT JOIN vsinc w ON w.doc_id = d.doc_id
       |WHERE d.doc_id % 2 = 1
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB twin of [[containmentPairs]] — md5-lower-64 shingle sets,
    * bottom-8 signed-order probes vs the df-capped (≤ 100) inverted
    * shingle index, exact containment/Jaccard on candidates, pairs at
    * rounded C ≥ 0.8.
    */
  val containmentPairsSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sh AS (
       |${shsetSqlExpr("")}),
       |probes AS (
       |  SELECT doc_id, unnest(list_sort(shset)[1:8]) AS shg FROM sh),
       |inv AS (SELECT doc_id AS doc_o, unnest(shset) AS shg FROM sh),
       |keepg AS (SELECT shg FROM inv GROUP BY shg HAVING count(*) <= 100),
       |cand AS (
       |  SELECT DISTINCT least(p.doc_id, i.doc_o) AS doc_a,
       |    greatest(p.doc_id, i.doc_o) AS doc_b
       |  FROM probes p JOIN keepg USING (shg) JOIN inv i USING (shg)
       |  WHERE p.doc_id <> i.doc_o),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(a.shset, b.shset)) AS BIGINT) AS n_common,
       |    CAST(len(a.shset) AS BIGINT) AS n_a,
       |    CAST(len(b.shset) AS BIGINT) AS n_b
       |  FROM cand JOIN sh a ON a.doc_id = doc_a
       |  JOIN sh b ON b.doc_id = doc_b)
       |SELECT doc_a, doc_b, n_common, n_a, n_b,
       |  round(CAST(n_common AS DOUBLE) / least(n_a, n_b), 4) AS containment,
       |  round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 4) AS jacc
       |FROM scored
       |WHERE round(CAST(n_common AS DOUBLE) / least(n_a, n_b), 4) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Per-document MinHash near-dup summary over any corpus frame. */
  def dedupMinhash(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.7): DataFrame =
    perDocSummary(docs.select(col(idCol).as("doc_id")),
      minhashVerifiedPairs(docs, idCol, textCol), "jacc", threshold)

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    perDocSummary(Tables.documents(spark, dir).select(col("doc_id")),
      minhashVerifiedPairs(spark, dir), "jacc", 0.7)

  private val IncNearTau = 0.7

  /** Incremental NEAR-duplicate classification — [[dedupIncremental]]'s
    * daily-ingest flow upgraded from exact digests to MinHash near-dups:
    * each arriving document is classified `near_dup_of_index` (a
    * verified Jaccard ≥ `tau` match in the already-ingested corpus),
    * `near_dup_in_increment` (greedy keep-first within the increment —
    * a SMALLER-id near-dup arrived in the same batch), or `new`. This
    * is the production shape for crawl ingestion: the index side is
    * sketched once (band buckets are exactly what a persisted LSH index
    * table stores), and the increment probes it with equi-joins — the
    * old corpus text is never re-shingled per ingest in a real
    * deployment (here both sides sketch from text for self-containment;
    * the join topology is the deployment's).
    *
    * Scale shape: BOTH sides of the vs-index probe join are
    * bucket-capped exactly like [[lshCandidates]] — a degenerate
    * boilerplate bucket on EITHER side would otherwise fan the join
    * out |new-in-bucket| × |old-in-bucket| (the same quadratic hazard
    * the self-join path caps); new-vs-index and new-vs-new candidates
    * both flow through (bucket, hash) equi-joins; verification is
    * exact Jaccard on the candidates only. The shingle sets AND the
    * band-bucket frames are persisted — each is read by 2+ downstream
    * joins, and without the memo every read would re-run the minhash
    * signature pass (the expensive part of the sketch). Engine-neutral
    * md5/mod64 sketch → full DuckDB oracle
    * ([[dedupIncrementalNearSql]]); planted cross-batch near-dups
    * pinned in DedupSpec.
    */
  def dedupIncrementalNear(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dedupIncrementalNear(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", IncNearTau)
  }

  /** DataFrame-first form over any (id, text) index/increment frames. */
  def dedupIncrementalNear(oldDocs: DataFrame, newDocs: DataFrame,
                           idCol: String, textCol: String,
                           tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"dedupIncrementalNear: bad tau=$tau")
    val oldSets = shingleSets(oldDocs, idCol, textCol)
    val newSets = shingleSets(newDocs, idCol, textCol)
    val oldB = minhashBandBuckets(oldSets)
    val newB = minhashBandBuckets(newSets)
    Cached.derive(oldSets, newSets, oldB, newB) {
      // bucket caps on BOTH probe sides, computed like lshCandidates':
      // agg + keyed join, never a window over the bucket key
      def keepSmall(b: DataFrame): DataFrame =
        b.groupBy(col("bucket_id"), col("bucket_hash"))
          .agg(count(lit(1)).as("bsz")).filter(col("bsz") <= 100)
          .select(col("bucket_id"), col("bucket_hash"))
      val candOld = newB
        .join(keepSmall(newB), Seq("bucket_id", "bucket_hash"))
        .join(keepSmall(oldB), Seq("bucket_id", "bucket_hash"))
        .join(oldB.select(col("bucket_id"), col("bucket_hash"),
          col("doc_id").as("old_id")), Seq("bucket_id", "bucket_hash"))
        .select(col("doc_id"), col("old_id")).distinct()
      val vsIndex = candOld
        .join(newSets.select(col("doc_id"), col("shset").as("sn")), Seq("doc_id"))
        .join(oldSets.select(col("doc_id").as("old_id"), col("shset").as("so")), Seq("old_id"))
        .filter(jaccard(col("sn"), col("so")) >= tau)
        .select(col("doc_id")).distinct()
        .withColumn("of_index", lit(true))
      // within-increment: standard capped self-join candidates, greedy
      // keep-first (a smaller-id near-dup marks the larger id)
      val candNew = lshCandidates(newB, maxBucket = 100)
      val vsIncrement = candNew
        .join(newSets.select(col("doc_id").as("doc_a"), col("shset").as("sa")), Seq("doc_a"))
        .join(newSets.select(col("doc_id").as("doc_b"), col("shset").as("sb")), Seq("doc_b"))
        .filter(jaccard(col("sa"), col("sb")) >= tau)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("in_increment", lit(true))
      newSets.select(col("doc_id"))
        .join(vsIndex, Seq("doc_id"), "left")
        .join(vsIncrement, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("of_index"), "near_dup_of_index")
            .when(col("in_increment"), "near_dup_in_increment")
            .otherwise("new").as("status"))
        .orderBy(col("doc_id")) // small: one (id, status) row per new doc
    }
  }

  private val ContainTau = 0.8

  /** Asymmetric containment detection: pairs where the SMALLER shingle
    * set is mostly inside the larger — C = |A∩B| / min(|A|,|B|) — the
    * quote/excerpt/boilerplate-wrapper case symmetric Jaccard dedup
    * structurally misses (a doc embedded verbatim in one 3× its length
    * has J ≈ 0.33, far under any dedup threshold, but C = 1.0).
    *
    * Candidates come from a CONTAINMENT-ORIENTED scheme, not Jaccard
    * banding: every document probes with its bottom-k smallest hashed
    * shingles (a deterministic uniform k-sample of its set, since the
    * hashes are uniform) against an inverted shingle→doc index. If
    * C = |A∩B|/|A| then each probe of A independently lands in B with
    * probability ≈ C, so a true pair at tau = 0.8 is missed with
    * probability (1−tau)^k ≈ 3e-6 at k = 8 — INDEPENDENT of the size
    * ratio. This is exactly the case Jaccard-tuned 16×4 banding is
    * structurally blind to: a tweet verbatim inside a book has J → 0
    * (no band can agree) but C = 1.0, and its bottom-k probes all hit.
    * Quadratic guard: posting lists with document frequency above a
    * cap are dropped from the index (an ultra-common boilerplate
    * shingle is no evidence of containment anyway — the same
    * stopword-key discipline as the LSH bucket caps). Index size is
    * O(total shingles) — linear, the same order as the shingle sets
    * themselves; the probe side is k rows per document. Containment is
    * then verified EXACTLY on each candidate's hashed shingle sets via
    * the fused `set_intersect_count`. Output: verified pairs at
    * C ≥ `tau`, one row per (id-ordered) pair. Engine-neutral
    * md5-lower-64 shingles → full DuckDB oracle
    * ([[containmentPairsSql]]); planted subset recovery — including
    * the extreme tweet-inside-book ratio — pinned in DedupSpec.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(spark, dir), "doc_id", "text", ContainTau)

  private val ContainBottomK = 8
  private val ContainPostingCap = 100
  private val ContainMinCoverageMilli = 500L

  /** DataFrame-first form over any (id, text) frame. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       tau: Double): DataFrame =
    containmentPairs(docs, idCol, textCol, tau, ngram = 3)

  /** Width-dialed form: `ngram` words per shingle. The escape hatch the
    * coverage guard points at — on a corpus that saturates the default
    * 3-gram space (token-pool-bounded or boilerplate-heavy text, where
    * every posting list blows the df cap and recall collapses), widening
    * the shingle grows the gram space exponentially and restores
    * coverage at the price of missing containments shorter than `ngram`
    * words. Measured at gen-sf10: 3-grams saturate (coverage 0, the
    * guard refuses); 5-grams on the SAME corpus hold coverage ≈ 1.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       tau: Double, ngram: Int): DataFrame = {
    require(ngram >= 1, s"containmentPairs: bad ngram=$ngram")
    require(tau > 0 && tau <= 1, s"containmentPairs: bad tau=$tau")
    val sets = shingleSets(docs, idCol, textCol, ngram)
    Cached.hold(sets) {
      // probe side: bottom-k smallest shingle hashes per doc (k rows/doc)
      val probes = sets.select(col("doc_id"),
        explode(slice(array_sort(col("shset")), 1, ContainBottomK)).as("sh"))
      // index side: inverted shingle→doc index, boilerplate posting
      // lists capped by document frequency (agg + keyed join — the
      // lshCandidates cap discipline, never a window)
      val inv = sets.select(col("doc_id").as("doc_o"), explode(col("shset")).as("sh"))
      val census = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      // small: flagged pairs only — the checkpoint frees the sets +
      // census caches
      Cached.derive(census) {
        // Probe-coverage pre-flight (first observed at gen-sf3: a
        // 31-word token pool fully saturates the 3-gram space, every
        // posting list exceeds the df cap, and the operator silently
        // returned 0 pairs at 0 recall). A probe only finds its
        // containing document if its shingle survives the cap, so
        // kept_mass/mass IS the per-probe hit probability — when it
        // collapses, the bottom-k guarantee ((1−tau·cov)^k misses) is
        // void and running the join would be silent garbage. Refuse
        // loudly instead; the figures come from the census the join
        // needs anyway.
        val r = census.agg(
          coalesce(sum(col("df")), lit(0L)).as("mass"),
          coalesce(sum(when(col("df") <= ContainPostingCap, col("df"))
            .otherwise(lit(0L))), lit(0L)).as("kept")).head()
        val (mass, kept) = (r.getLong(0), r.getLong(1))
        val covMilli = if (mass == 0L) 1000L else kept * 1000L / mass
        require(covMilli >= ContainMinCoverageMilli,
          s"containmentPairs: only $covMilli/1000 of shingle mass survives " +
            s"the df<=$ContainPostingCap posting cap ($kept of $mass rows) — " +
            "the corpus has saturated its shingle vocabulary (boilerplate-" +
            "heavy or tiny token pool), so bottom-k probes cannot reach the " +
            "index and containment recall silently collapses; run " +
            "containmentProfile for the census, widen the shingle (the " +
            s"ngram overload — ${ngram + 2} words per gram grows the space " +
            "exponentially), or fall back to substringDedup/exact dedup " +
            "on this corpus")
        val keep = census.filter(col("df") <= ContainPostingCap)
          .select(col("sh"))
        val cand = probes
          .join(keep, Seq("sh"))
          .join(inv, Seq("sh"))
          .filter(col("doc_id") =!= col("doc_o"))
          .select(least(col("doc_id"), col("doc_o")).as("doc_a"),
            greatest(col("doc_id"), col("doc_o")).as("doc_b"))
          .distinct()
        cand
          .join(sets.select(col("doc_id").as("doc_a"), col("shset").as("sa")), Seq("doc_a"))
          .join(sets.select(col("doc_id").as("doc_b"), col("shset").as("sb")), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            call_function("set_intersect_count", col("sa"), col("sb")).as("n_common"),
            size(col("sa")).cast("long").as("n_a"),
            size(col("sb")).cast("long").as("n_b"))
          .withColumn("containment",
            round(col("n_common").cast("double") / least(col("n_a"), col("n_b")), 4))
          .withColumn("jacc", round(col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")), 4))
          .filter(col("containment") >= tau)
          .orderBy(col("doc_a"), col("doc_b"))
      }
    }
  }

  /** Pre-flight index-coverage census for [[containmentPairs]] — the
    * [[similarityJoinProfile]] role for the containment index. The
    * operator's recall rests on bottom-k probes hitting the df-capped
    * inverted index; on a vocabulary-saturating corpus (measured at
    * gen-sf3: a 31-word token pool fully saturates the 3-gram space at
    * 31³ = 29,791 grams, every posting list blows the df ≤ 100 cap,
    * and coverage is exactly 0) the index silently empties and the
    * operator would return 0 pairs at 0 recall — which is why
    * [[containmentPairs]] refuses below 0.5 coverage and points here.
    * One row, all exact integers (no float rounding to diverge
    * between engines):
    *  - `n_docs`, `shingle_rows` (distinct 3-gram rows over the
    *    corpus — the index size), `vocab` (realized 3-gram
    *    vocabulary; watch it approach the token-pool bound),
    *  - `kept_vocab` / `kept_mass` (grams / rows surviving the
    *    df ≤ cap posting filter), `hot_df` (largest posting list),
    *  - `coverage_milli` = kept_mass × 1000 ÷ shingle_rows — the
    *    per-probe hit probability in milli-units; the headline dial
    *    (1000 = full recall guarantee, < 500 = the join refuses).
    *
    * Scale shape: gram explode is row-local; the census is one
    * gram-keyed partial aggregate; figures assemble across 1-row
    * broadcasts. Grams are compared as STRINGS here (engine-neutral
    * by construction); the operator's hashed census differs only by
    * md5 collisions.
    */
  def containmentProfile(spark: SparkSession, dir: String): DataFrame =
    containmentProfile(Tables.documents(spark, dir), "doc_id", "text",
      ContainPostingCap)

  /** DataFrame-first form; same shingle/cap contract as
    * [[containmentPairs]].
    */
  def containmentProfile(docs: DataFrame, idCol: String, textCol: String,
                         cap: Int): DataFrame =
    containmentProfile(docs, idCol, textCol, cap, ngram = 3)

  /** Width-dialed form — price the index [[containmentPairs]]' ngram
    * overload would build before running it.
    */
  def containmentProfile(docs: DataFrame, idCol: String, textCol: String,
                         cap: Int, ngram: Int): DataFrame = {
    require(cap > 0, s"containmentProfile: bad cap=$cap")
    require(ngram >= 1, s"containmentProfile: bad ngram=$ngram")
    val grams = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      .select(col("doc_id"),
        explode(when(size(col("tk")) >= ngram,
          expr(s"transform(sequence(0, size(tk) - $ngram), " +
            s"i -> concat_ws(' ', slice(tk, i + 1, $ngram)))"))
          .otherwise(array(concat_ws(" ", col("tk"))))).as("g"))
      .distinct()
    val census = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    Cached.derive(census) {
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val figures = census.agg(
        coalesce(sum(col("df")), lit(0L)).as("shingle_rows"),
        count(lit(1)).as("vocab"),
        sum(when(col("df") <= cap, lit(1L)).otherwise(lit(0L))).as("kept_vocab"),
        sum(when(col("df") <= cap, col("df")).otherwise(lit(0L))).as("kept_mass"),
        max(col("df")).as("hot_df"))
      nDocs.crossJoin(broadcast(figures))
        .select(col("n_docs"), col("shingle_rows"), col("vocab"),
          coalesce(col("kept_vocab"), lit(0L)).as("kept_vocab"),
          coalesce(col("kept_mass"), lit(0L)).as("kept_mass"),
          coalesce(col("hot_df"), lit(0L)).as("hot_df"),
          when(col("shingle_rows") === 0, lit(null).cast("long"))
            .otherwise(expr("kept_mass * 1000 DIV shingle_rows"))
            .as("coverage_milli")) // 1-row figure
    }
  }

  /** DuckDB twin of [[containmentProfile]] — identical string 3-grams
    * (distinct per doc), df census, cap arithmetic, and integer
    * milli-coverage.
    */
  val containmentProfileSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(tk) >= 3 THEN
      |        list_transform(range(1, len(tk) - 1),
      |          i -> array_to_string(tk[i:i+2], ' '))
      |      ELSE [array_to_string(tk, ' ')] END) AS g
      |    FROM t)),
      |df AS (SELECT g, count(*) AS df FROM g GROUP BY g),
      |figures AS (
      |  SELECT (SELECT count(*) FROM documents) AS n_docs,
      |    coalesce((SELECT sum(df) FROM df), 0) AS shingle_rows,
      |    (SELECT count(*) FROM df) AS vocab,
      |    coalesce((SELECT sum(CASE WHEN df <= 100 THEN 1 ELSE 0 END) FROM df), 0) AS kept_vocab,
      |    coalesce((SELECT sum(CASE WHEN df <= 100 THEN df ELSE 0 END) FROM df), 0) AS kept_mass,
      |    coalesce((SELECT max(df) FROM df), 0) AS hot_df)
      |SELECT CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(shingle_rows AS BIGINT) AS shingle_rows,
      |  CAST(vocab AS BIGINT) AS vocab,
      |  CAST(kept_vocab AS BIGINT) AS kept_vocab,
      |  CAST(kept_mass AS BIGINT) AS kept_mass,
      |  CAST(hot_df AS BIGINT) AS hot_df,
      |  CASE WHEN shingle_rows = 0 THEN NULL
      |    ELSE CAST(kept_mass * 1000 // shingle_rows AS BIGINT) END AS coverage_milli
      |FROM figures""".stripMargin

  // ── Persisted containment index ───────────────────────────────────

  /** Build the containment index for the corpus under `dir` as MANAGED
    * bucketed-sorted tables (the [[graft.ops.Similarity.writeAnnIndex]]
    * discipline applied to [[containmentPairs]]) — the corpus-wide
    * shingling, df census, and probe selection paid ONCE at build time,
    * so each arriving increment classifies against the corpus without
    * re-reading any old text:
    *
    *  - `<table>_shsets` — (doc_id, shset), bucketed + sorted by doc_id
    *    (every verification join on idx_id reads shuffle-free);
    *  - `<table>_inv` — the df-capped inverted shingle→doc index,
    *    bucketed by sh (the increment-probe join's key);
    *  - `<table>_probes` — each indexed doc's bottom-k probe shingles,
    *    bucketed by sh: this is what makes the INDEX→increment
    *    direction recoverable (an indexed tweet inside a NEW book needs
    *    probes from the tweet — the smaller side — and those must come
    *    from the index, not the increment);
    *  - `<table>_meta` — ONE row stamping corpus dir + file-level data
    *    version (the [[DatasetMemo]] fingerprint), the build `ngram`,
    *    and the build-time `coverage_milli`. Dir-aware readers REQUIRE
    *    a matching stamp: a stale containment index silently misses
    *    every containment involving re-written corpus text.
    *
    * The build REFUSES on a saturated vocabulary (same coverage floor
    * and remedy as [[containmentPairs]] — widen `ngram`): persisting an
    * index that cannot answer queries would just defer the silent-zero
    * failure to every future increment.
    */
  def writeContainmentIndex(spark: SparkSession, dir: String, table: String,
                            buckets: Int = 8, ngram: Int = 3): Unit = {
    require(ngram >= 1, s"writeContainmentIndex: bad ngram=$ngram")
    // owner-side overwrite hygiene (the writeAnnIndex contract): clear
    // both catalog entries and leftover warehouse locations
    for (s <- Seq("shsets", "inv", "probes", "meta")) {
      val t = s"${table}_$s"
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(wh)) fs.delete(wh, true)
    }
    val sets = shingleSets(Tables.documents(spark, dir), "doc_id", "text", ngram)
    Cached.hold(sets) {
      val inv = sets.select(col("doc_id"), explode(col("shset")).as("sh"))
      val census = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      Cached.hold(census) {
        val r = census.agg(
          coalesce(sum(col("df")), lit(0L)).as("mass"),
          coalesce(sum(when(col("df") <= ContainPostingCap, col("df"))
            .otherwise(lit(0L))), lit(0L)).as("kept")).head()
        val (mass, kept) = (r.getLong(0), r.getLong(1))
        val covMilli = if (mass == 0L) 1000L else kept * 1000L / mass
        require(covMilli >= ContainMinCoverageMilli,
          s"writeContainmentIndex: only $covMilli/1000 of shingle mass " +
            s"survives the df<=$ContainPostingCap posting cap at ngram=" +
            s"$ngram — the corpus has saturated this shingle vocabulary; " +
            "an index built here could not answer any query. Run " +
            s"containmentProfile, and rebuild with a wider ngram (e.g. " +
            s"${ngram + 2})")
        graft.sources.IO.writeBucketed(sets, s"${table}_shsets", buckets,
          Seq("doc_id"), Seq("doc_id"))
        val keep = census.filter(col("df") <= ContainPostingCap).select(col("sh"))
        graft.sources.IO.writeBucketed(
          inv.join(keep, Seq("sh")).select(col("sh"), col("doc_id")),
          s"${table}_inv", buckets, Seq("sh"), Seq("sh", "doc_id"))
        graft.sources.IO.writeBucketed(
          sets.select(col("doc_id"),
            explode(slice(array_sort(col("shset")), 1, ContainBottomK)).as("sh"))
            .select(col("sh"), col("doc_id")),
          s"${table}_probes", buckets, Seq("sh"), Seq("sh", "doc_id"))
        // freshness stamp LAST: a build that dies mid-write leaves no
        // stamp (inconsistent tables fail the reader loudly) — never a
        // fresh stamp over half-written tables
        val spark2 = spark
        import spark2.implicits._
        Seq((dir, pairsMemo.dataVersion(spark, dir), ngram, covMilli))
          .toDF("corpus_dir", "corpus_version", "ngram", "coverage_milli")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(s"${table}_meta")
      }
    }
  }

  /** Classify an arriving increment against the stored containment
    * index — the incremental twin of [[containmentPairs]] (the
    * `dedupIncremental` flow at containment granularity): which new
    * documents are excerpts of the corpus, and which corpus documents
    * are excerpts of a new one, WITHOUT re-shingling or re-pairing the
    * old corpus. Candidates come from BOTH probe directions:
    *
    *  1. increment probes × stored inverted index — finds new docs
    *     contained in indexed ones (guarantee from the new/smaller
    *     side's bottom-k);
    *  2. stored probes × the increment's own df-capped inverted index —
    *     finds indexed docs contained in new ones (guarantee from the
    *     indexed/smaller side's bottom-k, served from the `_probes`
    *     table: k rows per corpus doc, scanned shuffle-free against a
    *     broadcast-sized increment index).
    *
    * Exact verification on each candidate's shingle sets (stored
    * `_shsets` joined on its bucketed key + the increment's in-session
    * sets). Output: one row per (new_id, idx_id) pair at C ≥ `tau`,
    * with the same n_common/n_new/n_idx/containment/jacc columns as the
    * batch op. Batch↔incremental parity is spec-pinned: on corpus ∪
    * increment, the batch op's cross pairs equal this op's output.
    */
  def containmentFromIndex(spark: SparkSession, table: String,
                           newDocs: DataFrame, idCol: String, textCol: String,
                           tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"containmentFromIndex: bad tau=$tau")
    val meta = spark.table(s"${table}_meta").head()
    val ngram = meta.getAs[Int]("ngram")
    val newSets = shingleSets(newDocs, idCol, textCol, ngram)
    // small: flagged pairs only — the checkpoint frees the increment cache
    Cached.derive(newSets) {
      val storedSets = spark.table(s"${table}_shsets")
      val storedInv = spark.table(s"${table}_inv")
      val storedProbes = spark.table(s"${table}_probes")
      val newInv = newSets.select(col("doc_id").as("new_id"),
        explode(col("shset")).as("sh"))
      val newKeep = newInv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= ContainPostingCap).select(col("sh"))
      val newProbes = newSets.select(col("doc_id").as("new_id"),
        explode(slice(array_sort(col("shset")), 1, ContainBottomK)).as("sh"))
      val c1 = newProbes.join(storedInv, Seq("sh"))
        .select(col("new_id"), col("doc_id").as("idx_id"))
      val c2 = storedProbes.join(newInv.join(newKeep, Seq("sh")), Seq("sh"))
        .select(col("new_id"), col("doc_id").as("idx_id"))
      c1.union(c2).distinct()
        .join(newSets.select(col("doc_id").as("new_id"), col("shset").as("sn")),
          Seq("new_id"))
        .join(storedSets.select(col("doc_id").as("idx_id"), col("shset").as("si")),
          Seq("idx_id"))
        .select(col("new_id"), col("idx_id"),
          call_function("set_intersect_count", col("sn"), col("si")).as("n_common"),
          size(col("sn")).cast("long").as("n_new"),
          size(col("si")).cast("long").as("n_idx"))
        .withColumn("containment",
          round(col("n_common").cast("double") / least(col("n_new"), col("n_idx")), 4))
        .withColumn("jacc", round(col("n_common").cast("double") /
          (col("n_new") + col("n_idx") - col("n_common")), 4))
        .filter(col("containment") >= tau)
        .orderBy(col("new_id"), col("idx_id"))
    }
  }

  /** Freshness-CHECKED form: requires the stored index's corpus stamp
    * to match `dir`'s current data version before serving — a stale
    * containment index silently misses every containment involving
    * rewritten corpus text. The table-only overload above is the
    * documented force escape for deliberately frozen snapshots.
    */
  def containmentFromIndex(spark: SparkSession, dir: String, table: String,
                           newDocs: DataFrame, idCol: String, textCol: String,
                           tau: Double): DataFrame = {
    val metaT = s"${table}_meta"
    require(spark.catalog.tableExists(metaT),
      s"containment index '$table' has no freshness stamp ($metaT " +
        "missing) — rebuild it with writeContainmentIndex, or read via " +
        "the table-only overload if you own corpus/index consistency " +
        "yourself")
    val m = spark.table(metaT)
      .select(col("corpus_dir"), col("corpus_version")).head()
    val cur = pairsMemo.dataVersion(spark, dir)
    require(m.getString(1) == cur,
      s"containment index '$table' is STALE: built from ${m.getString(0)} " +
        s"at corpus version ${m.getString(1)}, but $dir is now at version " +
        s"$cur — a stale index silently misses containments. Rebuild with " +
        "writeContainmentIndex, or read via the table-only overload to " +
        "force a deliberately frozen snapshot")
    containmentFromIndex(spark, table, newDocs, idCol, textCol, tau)
  }

  /** Canonical-document selection for exact duplicates: keep the
    * lowest doc_id of every identical-text group — the "filter the
    * corpus" half of dedup (the summaries above are the "report"
    * half). Shape: a digest-keyed `groupBy(md5(text)).agg(min(id))`
    * census plus a LEFT SEMI join back on the id. Deliberately NOT a
    * window over the text column: a window shuffles the full document
    * text as the partition key AND sorts within groups; the census is
    * partial-aggregable (map-side combine collapses duplicates before
    * the exchange) and its shuffle key is a 16-byte digest. The
    * semi-join shuffles on the narrow id column only. PlanSpec pins
    * the no-window contract. Idempotent by construction (DedupSpec
    * pins it): once each text appears once, every row is its own
    * group minimum.
    */
  def canonicalize(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val keep = docs
      .groupBy(md5(col(textCol)).as("__digest"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  def dedupCanonical(spark: SparkSession, dir: String): DataFrame =
    canonicalize(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  val dedupCanonicalSql: String =
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
      |ORDER BY doc_id""".stripMargin

  /** Duplicate-aware training weights — the SOFT alternative to hard
    * dedup (keep every copy, downweight each by its cluster size so a
    * document duplicated a thousand times contributes one document's
    * worth of gradient). Weight = 1e6/n_copies in integer PPM (floor),
    * so the report is cross-engine exact; a cluster's total weight is
    * within (n_copies−1) ppm of exactly 1.0.
    *
    * Scale shape: the same digest discipline as [[dedupExact]] /
    * [[canonicalize]] — one census aggregate keyed on the 16-byte
    * md5 digest, one digest-keyed equi-join back; no window, nothing
    * text-keyed crosses an exchange.
    */
  def dedupWeight(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val census = docs
      .groupBy(md5(col(textCol)).as("__digest"))
      .agg(count(lit(1)).as("n_copies"))
    docs.select(col(idCol).as("doc_id"), md5(col(textCol)).as("__digest"))
      .join(census, "__digest")
      .select(col("doc_id"), col("n_copies"),
        expr("1000000L div n_copies").as("weight_ppm"))
      .orderBy(col("doc_id"))
  }

  def dedupWeight(spark: SparkSession, dir: String): DataFrame =
    dedupWeight(Tables.documents(spark, dir), "doc_id", "text")

  val dedupWeightSql: String =
    """WITH c AS (SELECT text, count(*) AS n FROM documents GROUP BY text)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_copies,
      |  CAST(1000000 // n AS BIGINT) AS weight_ppm
      |FROM documents JOIN c USING (text)
      |ORDER BY doc_id""".stripMargin

  /** Near-duplicate cluster formation: connected components over the
    * MinHash-verified similarity graph (Jaccard ≥ 0.7), via iterative
    * min-label propagation — each round, every doc takes the minimum
    * label among itself and its neighbors; fixpoint = each cluster
    * labeled by its smallest doc_id. Distributed throughout: per round
    * one join + one aggregation; the only driver-side value is the
    * converged? counter. Rounds are bounded by the graph diameter
    * (near-dup clusters are tiny; the 20-round cap is a safety net,
    * convergence is checked each round). Every round's label frame is
    * eagerly `localCheckpoint`ed: the checkpoint both materializes the
    * round (one action) and CUTS THE LINEAGE — without it, round N's
    * plan contains N copies of the join/agg and the whole sketch
    * pipeline, which is what kills iterative algorithms at scale.
    * The pair graph comes from the shared memoized
    * [[minhashVerifiedPairs]] — already checkpointed, so this op never
    * recomputes the sketch pipeline when [[dedupMinhash]] ran first.
    * Output: (doc_id, cluster, is_canonical) for every document.
    */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterPairs(
      minhashVerifiedPairs(spark, dir).filter(col("jacc") >= 0.7),
      Tables.documents(spark, dir).select(col("doc_id")))

  /** DataFrame-first form over any (id, text) corpus (no memoization —
    * caller owns the frame's lifecycle).
    */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.7): DataFrame =
    clusterPairs(
      minhashVerifiedPairs(docs, idCol, textCol).filter(col("jacc") >= threshold),
      docs.select(col(idCol).as("doc_id")))

  /** Connected components over ANY duplicate-pair frame — the cluster
    * builder is independent of which sketch produced the edges. `pairs`
    * needs (doc_a, doc_b) columns; `docs` needs doc_id (the universe,
    * for singleton clusters).
    */
  def clusterPairs(pairFrame: DataFrame, docs: DataFrame): DataFrame = {
    val pairs = pairFrame.select(col("doc_a"), col("doc_b"))
    // only docs with at least one edge enter the iteration — isolated
    // docs (the vast majority of a real corpus) are appended as
    // singleton clusters afterwards, so per-round work scales with the
    // duplicate-graph size, not the corpus size
    val adj = Cached.checkpoint(pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .unionByName(pairs.select(col("doc_a"), col("doc_a").as("doc_b"))) // self-loops
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_b"))) // (both ends)
      .distinct())
    var labels = Cached.checkpoint(adj.select(col("doc_a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster")))
    var converged = false
    var round = 0
    while (!converged && round < 20) {
      // materializes the round + cuts lineage
      val next = Cached.checkpoint(adj
        .join(labels.select(col("doc_id").as("doc_b"), col("cluster")), Seq("doc_b"))
        .groupBy(col("doc_a")).agg(min(col("cluster")).as("cluster"))
        .select(col("doc_a").as("doc_id"), col("cluster"))
        .join(labels.withColumnRenamed("cluster", "old"), Seq("doc_id")))
      val changed = next.filter(col("cluster") =!= col("old")).count()
      labels = next.select(col("doc_id"), col("cluster"))
      converged = changed == 0
      round += 1
    }
    if (!converged)
      // a silent partial result would violate the operator's contract
      // (labels = smallest cluster member); diameter-20 components mean
      // chained near-dups — surface it instead of truncating quietly
      throw new IllegalStateException(
        s"nearDupClusters: label propagation did not converge within $round rounds " +
          "(similarity graph has a component of diameter > 20); raise the round cap")
    labels
      .unionByName(docs.join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("cluster")))
      .withColumn("is_canonical", (col("doc_id") === col("cluster")).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup: 64-bit weighted-bit signature over token hashes
    * (md5-lower-64 per token, multiplicity kept — frequency-weighted);
    * pigeonhole blocking on 4×16-bit chunks (any pair at Hamming
    * distance ≤ 3 must agree on ≥ 1 chunk); verification = bit_count of
    * XOR. Similarities are exact binary fractions (k/64), emitted
    * UNROUNDED — bit-identical across engines, which is what makes the
    * full DuckDB oracle ([[dedupSimhashSql]]) possible where a rounded
    * tie (42/64 = .65625) would split on rounding mode. Recovery
    * invariants pinned by DedupSpec.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    dedupSimhash(Tables.documents(spark, dir), "doc_id", "text")

  def dedupSimhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sk = docs
      .select(col(idCol).as("doc_id"),
        expr(s"md5_hash64_each(split($textCol, ' '))").as("hs"))
      // native codegen'd signature: one fused tokens×64 loop
      .withColumn("simhash", expr("simhash64(hs)"))
      .select(col("doc_id"), col("simhash"))
    val verified = Cached.derive(sk) {
      val buckets = sk.select(col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, 3), c -> shiftright(simhash, 16*c) & 65535)")))
        .withColumnRenamed("pos", "bucket_id")
        .withColumnRenamed("col", "bucket_hash")
      lshCandidates(buckets, maxBucket = 100)
        .join(sk.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), Seq("doc_a"))
        .join(sk.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), Seq("doc_b"))
        // similarity in [0,1]: 1 − hamming/64, so the shared ≥-threshold
        // summary logic applies (hamming ≤ 3 ⇔ sim ≥ 0.953)
        .select(col("doc_a"), col("doc_b"),
          (lit(1.0) - expr("bit_count(ha ^ hb)") / lit(64.0)).as("sim"))
    }
    // doc list from the raw corpus (column-pruned), NOT the signature
    // frame — the per-doc summary must not recompute signatures after
    // the cache is dropped
    perDocSummary(docs.select(col(idCol).as("doc_id")),
      verified, "sim", 1.0 - 3.0 / 64, roundSim = false)
  }

  /** DuckDB twin of [[dedupSimhash]] — per-token md5-lower-64 hashes,
    * the 64-bit majority-vote signature rebuilt in exact HUGEINT
    * arithmetic (bit j set ⟺ Σ±1 over token-hash bit j > 0), the same
    * 4×16-bit pigeonhole blocking with the 100-bucket cap, Hamming
    * verification via `bit_count(xor(…))`, and the per-doc summary
    * with UNROUNDED exact-64th similarities.
    */
  val dedupSimhashSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |hs AS (
       |  SELECT doc_id,
       |    CAST(md5_number_lower(tok) AS HUGEINT) AS hu
       |  FROM (SELECT doc_id, unnest(tk) AS tok FROM t)),
       |bits AS (SELECT j, (1::HUGEINT << CAST(j AS INT)) AS p FROM range(64) r(j)),
       |votes AS (
       |  SELECT doc_id, j,
       |    sum(CASE WHEN (hu // p) % 2 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM hs CROSS JOIN bits GROUP BY 1, 2),
       |simu AS (
       |  SELECT v.doc_id,
       |    sum(CASE WHEN v.s > 0 THEN b.p ELSE 0::HUGEINT END) AS su
       |  FROM votes v JOIN bits b USING (j) GROUP BY 1),
       |sk AS (
       |  SELECT doc_id, su,
       |    CAST(CASE WHEN su >= 9223372036854775808::HUGEINT
       |      THEN su - 18446744073709551616::HUGEINT ELSE su END AS BIGINT)
       |      AS simhash
       |  FROM simu),
       |bk AS (
       |  SELECT doc_id, c AS bucket_id,
       |    CAST((su // (1::HUGEINT << CAST(16 * c AS INT))) % 65536 AS BIGINT)
       |      AS bucket_hash
       |  FROM sk CROSS JOIN range(4) r(c)),
       |sizes AS (SELECT bucket_id, bucket_hash, count(*) AS bsz
       |          FROM bk GROUP BY 1, 2),
       |keep AS (SELECT bucket_id, bucket_hash FROM sizes WHERE bsz <= 100),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bk x JOIN keep USING (bucket_id, bucket_hash)
       |  JOIN bk y ON x.bucket_id = y.bucket_id
       |    AND x.bucket_hash = y.bucket_hash AND x.doc_id < y.doc_id),
       |ver AS (
       |  SELECT doc_a, doc_b,
       |    1.0 - CAST(bit_count(xor(a.simhash, b.simhash)) AS DOUBLE) / 64.0
       |      AS sim
       |  FROM cand JOIN sk a ON a.doc_id = doc_a
       |  JOIN sk b ON b.doc_id = doc_b),
       |directed AS (
       |  SELECT doc_a AS doc_id, sim FROM ver
       |  UNION ALL SELECT doc_b AS doc_id, sim FROM ver),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
       |    CAST(sum(CASE WHEN sim >= 0.953125 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dups,
       |    max(sim) AS max_sim
       |  FROM directed GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(n_candidates, 0) AS n_candidates,
       |  coalesce(n_dups, 0) AS n_dups,
       |  coalesce(max_sim, 0.0) AS max_sim
       |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Embedding-cosine near-dup: documents whose embedding vectors are
    * nearly parallel (cosine ≥ 0.95) are duplicate candidates. The
    * candidate set comes from the same sign-random-projection LSH
    * banding as the ANN path ([[Similarity]]) — equality join on band
    * buckets, never an O(n²) cross join — then exact cosine verification
    * with the codegen'd `vec_dot`. Per-document summary like the other
    * variants. Rows-only check (hyperplane family is engine-side);
    * invariants pinned by DedupSpec.
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val pairs = Similarity.cosineCandidatePairs(spark, dir)
    perDocSummary(docs,
      pairs.select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("sim")),
      "sim", 0.95)
  }

  /** DataFrame-first form over any (id, vector) corpus. */
  def dedupEmbedding(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95): DataFrame = {
    val pairs = Similarity.cosineCandidatePairs(corpus, idCol, vecCol)
    perDocSummary(corpus.select(col(idCol).as("doc_id")),
      pairs.select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("sim")),
      "sim", threshold)
  }

  /** Exact n-gram Jaccard dedup with content-banded blocking:
    * candidates share (lang, length bucket, one of their 3 smallest
    * shingle hashes). The content band is the scale-safety fix over
    * plain (lang, length) blocking: lang × length has FIXED cardinality,
    * so at 100× corpus scale every bucket blows past the cap and gets
    * dropped — recall silently collapses to zero. Banding on the
    * min-shingles makes bucket count grow with corpus content (MinHash
    * principle: docs with Jaccard ≥ J share their min shingle w.p. ≈ J,
    * and ≥1 of bottom-3 with much higher probability; exact duplicates
    * share all three), so buckets stay bounded as the corpus grows.
    *
    * Degradation is VISIBLE, not silent: the output carries a per-doc
    * `in_dropped_bucket` flag marking membership in any over-cap
    * (discarded) bucket — a monitoring query over the flag tells a
    * pipeline owner exactly how much recall the cap cost.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    dedupNgramJaccard(Tables.documents(spark, dir), "doc_id", "text",
      "lang", "n_chars")

  /** DataFrame-first form: `blockCol` and `sizeCol` define the blocking
    * key (candidates must share block, length bucket, and a content
    * band).
    */
  def dedupNgramJaccard(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, sizeCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // one scan-speed projection carrying sketch + blocking metadata —
    // NOT shingleSets ⋈ meta, which would shuffle the corpus on doc_id.
    // Hash family is md5-lower-64 ([[graft.functions.Md5ShingleHash64]])
    // rather than xxhash64: engine-neutral (DuckDB's md5_number_lower),
    // which upgrades this query from rows-only to a full hash-checked
    // oracle — the docFingerprint promotion precedent, here for the
    // whole near-dup pipeline (sketch, banding, verification).
    val sets = docs.select(col(idCol).as("doc_id"),
      expr(s"md5_shingle_hash64(split($textCol, ' '), 3)").as("shset"),
      col(blockCol).as("lang"),
      expr(s"CAST($sizeCol DIV 50 AS INT)").as("lenb"))
    val (verified, droppedDocs) = Cached.hold(sets) {
      // one bucket per bottom-3 shingle hash: content grows the key
      // space; lang+length still restrict candidates to plausible
      // pairs. Bucket keys are plain strings (lang, lenb:hash) — an
      // equality join needs no re-hash, and the oracle twin builds the
      // identical keys.
      val buckets = sets.select(
        col("lang").as("bucket_id"),
        explode(expr("transform(slice(array_sort(shset), 1, 3), " +
          "b -> concat(cast(lenb AS string), ':', cast(b AS string)))"))
          .as("bucket_hash"),
        col("doc_id"))
      val (cand, droppedDocs) =
        lshCandidatesWithDropped(buckets, maxBucket = 1000)
      (Cached.checkpoint(cand
        .join(sets.select(col("doc_id").as("doc_a"), col("shset").as("sa")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("shset").as("sb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), jaccard(col("sa"), col("sb")).as("jacc"))),
        droppedDocs)
    }
    // visibility half of the bucket cap: a capped LSH scheme that
    // silently discards huge buckets reports zero duplicates for
    // their members — flag them instead of letting recall collapse
    // invisibly at scale
    val dropped = droppedDocs.withColumn("in_dropped_bucket", lit(1))
    perDocSummaryUnsorted(sets.select(col("doc_id")), verified, "jacc", 0.7)
      .join(dropped, Seq("doc_id"), "left")
      .na.fill(0, Seq("in_dropped_bucket"))
      .orderBy(col("doc_id"))
  }

  /** Shared DuckDB fragment: per-doc distinct 3-gram shingle hashes in
    * the md5-lower-64 family as signed BIGINTs — bit-for-bit
    * [[graft.functions.Md5ShingleHash64]] (`md5_number_lower` is the
    * same LE-bytes-8..15 u64; the CASE re-centers to signed). Expects
    * a `t(doc_id, …, tk)` CTE with `tk = string_split(text, ' ')`.
    */
  private def shsetSqlExpr(extraCols: String): String =
    s"""  SELECT doc_id,$extraCols
       |    list_distinct(list_transform(
       |      CASE WHEN len(tk) >= 3 THEN
       |        list_transform(range(1, len(tk) - 1),
       |          i -> array_to_string(tk[i:i+2], ' '))
       |      ELSE [array_to_string(tk, ' ')] END,
       |      s -> CAST(CASE
       |        WHEN md5_number_lower(s) >= 9223372036854775808::HUGEINT
       |          THEN CAST(md5_number_lower(s) AS HUGEINT)
       |            - 18446744073709551616::HUGEINT
       |        ELSE CAST(md5_number_lower(s) AS HUGEINT) END AS BIGINT)))
       |      AS shset
       |  FROM t""".stripMargin

  /** DuckDB twin of [[dedupNgramJaccard]] — same md5-lower-64 shingle
    * sets, same (lang, lenb:bottom-3-hash) banding, same 1000-bucket
    * cap, exact Jaccard on candidates, per-doc summary with the
    * dropped-bucket visibility flag.
    */
  val dedupNgramJaccardSql: String =
    s"""WITH t AS (SELECT doc_id, lang, n_chars // 50 AS lenb,
       |             string_split(text, ' ') AS tk FROM documents),
       |sh AS (
       |${shsetSqlExpr(" lang, lenb,")}),
       |bk AS (
       |  SELECT lang AS bucket_id,
       |    CAST(lenb AS VARCHAR) || ':' || CAST(b AS VARCHAR) AS bucket_hash,
       |    doc_id
       |  FROM (SELECT lang, lenb, doc_id,
       |          unnest(list_sort(shset)[1:3]) AS b FROM sh)),
       |sizes AS (SELECT bucket_id, bucket_hash, count(*) AS bsz
       |          FROM bk GROUP BY 1, 2),
       |keep AS (SELECT bucket_id, bucket_hash FROM sizes WHERE bsz <= 1000),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bk x JOIN keep USING (bucket_id, bucket_hash)
       |  JOIN bk y ON x.bucket_id = y.bucket_id
       |    AND x.bucket_hash = y.bucket_hash AND x.doc_id < y.doc_id),
       |ver AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
       |      / (len(a.shset) + len(b.shset)
       |         - len(list_intersect(a.shset, b.shset))) AS jacc
       |  FROM cand JOIN sh a ON a.doc_id = doc_a
       |  JOIN sh b ON b.doc_id = doc_b),
       |directed AS (
       |  SELECT doc_a AS doc_id, jacc FROM ver
       |  UNION ALL SELECT doc_b AS doc_id, jacc FROM ver),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
       |    CAST(sum(CASE WHEN jacc >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dups,
       |    round(max(jacc), 4) AS max_sim
       |  FROM directed GROUP BY 1),
       |over_docs AS (
       |  SELECT DISTINCT doc_id FROM bk
       |  JOIN sizes USING (bucket_id, bucket_hash) WHERE bsz > 1000)
       |SELECT d.doc_id,
       |  coalesce(n_candidates, 0) AS n_candidates,
       |  coalesce(n_dups, 0) AS n_dups,
       |  coalesce(max_sim, 0.0) AS max_sim,
       |  CAST(CASE WHEN o.doc_id IS NULL THEN 0 ELSE 1 END AS INT)
       |    AS in_dropped_bucket
       |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
       |LEFT JOIN over_docs o ON o.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private val SnmWindow = 4      // each doc vs its 3 sort predecessors
  private val SnmKeyLen = 16     // sort-key prefix of the normalized text
  private val SnmBlockLen = 2    // rank-stitching block prefix

  /** Sorted-neighborhood near-dup blocking (Hernández & Stolfo 1995):
    * sort the corpus by a normalized-prefix key and compare each
    * document only against its `window−1` sort predecessors — the
    * classic deterministic alternative to hash-banded LSH blocking,
    * and the only near-dup family member with an EXACT relational
    * definition (so this one is DuckDB-oracle-checked, where the
    * minhash/simhash entries are rows-only by sketch nature). A pair
    * is a duplicate when token-set Jaccard ≥ 1/2, tested in exact
    * integer arithmetic (`3·|∩| ≥ |A|+|B|` ⟺ J ≥ 1/2 — no doubles).
    *
    * Scale shape: the global sort rank is TWO-LEVEL — a bounded
    * block census (prefix of the sort key, ≤ ~1.3k blocks) carries
    * cumulative offsets, and `row_number` runs only WITHIN blocks, so
    * no single-partition global window ever materializes (the
    * documented ban — see `canonicalize`). Candidate generation is an
    * EQUI-join on rank (each doc explodes into `window−1` probe
    * ranks); pair volume is exactly `(window−1)·n`, independent of
    * skew. Lexicographic consistency: ordering by (block, key, id)
    * equals ordering by (key, id) because the block is a key prefix.
    */
  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame =
    sortedNeighborhood(Tables.documents(spark, dir), "doc_id", "text",
      SnmWindow, SnmKeyLen, SnmBlockLen, 1, 2)

  /** Normalized (doc_id, norm, toks) projection shared by the SNM
    * passes.
    */
  private def snmBase(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col(textCol)),
          "[^a-z0-9 ]", ""), " +", " ")).as("norm"))
      .select(col("doc_id"), col("norm"),
        array_distinct(filter(split(col("norm"), " "),
          t => length(t) > 0)).as("toks"))

  /** One SNM pass: rank by `key` (two-level — bounded block-offset
    * frame + in-block row_number, the window's partition key is the
    * key's `blockLen` prefix), then emit each window candidate pair
    * with its exact token-intersection counts. Returns
    * (a_id, b_id, inter, stot) with a ranked strictly before b.
    */
  private def snmPairs(base: DataFrame, key: Column, window: Int,
                       blockLen: Int): DataFrame = {
    val keyed = base.select(col("doc_id"), col("toks"), key.as("key"))
      .withColumn("blk", substring(col("key"), 1, blockLen))
    val offsets = keyed.groupBy(col("blk")).agg(count(lit(1)).as("bc"))
      .withColumn("off",
        sum(col("bc")).over(Window.orderBy(col("blk"))) - col("bc"))
      .select(col("blk"), col("off"))
    val ranked = keyed.join(broadcast(offsets), Seq("blk"))
      .withColumn("rk",
        row_number().over(
          Window.partitionBy(col("blk")).orderBy(col("key"), col("doc_id")))
          .cast("long") + col("off"))
      .select(col("doc_id"), col("rk"), col("toks"))
    val probes = ranked.select(
      col("doc_id").as("a_id"), col("toks").as("a_toks"),
      explode(sequence(col("rk") + 1, col("rk") + (window - 1))).as("nr"))
    probes.join(
        ranked.select(col("rk").as("nr"), col("doc_id").as("b_id"),
          col("toks").as("b_toks")), Seq("nr"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_toks"), col("b_toks"))).as("inter"),
        (size(col("a_toks")) + size(col("b_toks"))).as("stot"))
  }

  /** DataFrame-first form; `thrNum/thrDen` is the exact rational
    * Jaccard threshold.
    */
  def sortedNeighborhood(docs: DataFrame, idCol: String, textCol: String,
                         window: Int, keyLen: Int, blockLen: Int,
                         thrNum: Int, thrDen: Int): DataFrame = {
    require(window >= 2, s"sortedNeighborhood: window=$window")
    require(blockLen >= 1 && blockLen <= keyLen,
      s"sortedNeighborhood: blockLen=$blockLen vs keyLen=$keyLen")
    require(thrNum >= 0 && thrDen >= 1,
      s"sortedNeighborhood: threshold $thrNum/$thrDen")
    // eager cut for the same reasons as [[snmMultipass]]'s base: block
    // joins push isnotnull(substring(norm, …)) through the corpus
    // fan-out, re-running the regexp chain single-task per subtree copy
    val base = Cached.checkpoint(snmBase(docs, idCol, textCol))
    val pairs = snmPairs(base, substring(col("norm"), 1, keyLen),
      window, blockLen)
    val perDoc = pairs.groupBy(col("b_id"))
      .agg(count(lit(1)).as("n_cand"),
        min(when(col("inter") * (thrNum + thrDen) >= col("stot") * thrNum,
          col("a_id"))).as("dup_of"))
    base.select(col("doc_id"))
      .join(perDoc, col("doc_id") === col("b_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("dup_of"), col("dup_of").isNull.as("kept"))
      .orderBy(col("doc_id"))
  }

  val sortedNeighborhoodSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, substring(norm, 1, 16) AS key,
      |    list_distinct(list_filter(string_split(norm, ' '),
      |      x -> x <> '')) AS toks
      |  FROM b),
      |r AS (
      |  SELECT doc_id, toks,
      |    row_number() OVER (ORDER BY key, doc_id) AS rk
      |  FROM t),
      |p AS (
      |  SELECT a.doc_id AS a_id, bb.doc_id AS b_id,
      |    len(list_intersect(a.toks, bb.toks)) AS inter,
      |    len(a.toks) + len(bb.toks) AS stot
      |  FROM r a JOIN r bb ON bb.rk - a.rk BETWEEN 1 AND 3),
      |g AS (
      |  SELECT b_id, count(*) AS n_cand,
      |    min(CASE WHEN 3 * inter >= stot THEN a_id END) AS dup_of
      |  FROM p GROUP BY b_id)
      |SELECT t.doc_id,
      |  CAST(coalesce(n_cand, 0) AS BIGINT) AS n_cand,
      |  dup_of, (dup_of IS NULL) AS kept
      |FROM t LEFT JOIN g ON t.doc_id = g.b_id
      |ORDER BY t.doc_id""".stripMargin

  /** MULTI-PASS sorted-neighborhood — the production form (Hernández
    * & Stolfo run several passes with different sort keys precisely
    * because one key's sort can separate a true duplicate pair): a
    * second pass keyed on the NEXT `keyLen` characters catches pairs
    * whose prefixes diverge (a prepended header, a corrupted first
    * line) but whose bodies agree. Candidate pairs from all passes
    * are oriented by doc id (keeper = smaller id — pass-independent,
    * so the verdict cannot depend on which pass found the pair),
    * deduplicated exactly, and judged by the same integer Jaccard
    * test. Still fully oracle-checked; pair volume stays ≤
    * `passes·(window−1)·n` at any skew.
    */
  def snmMultipass(spark: SparkSession, dir: String): DataFrame =
    snmMultipass(Tables.documents(spark, dir), "doc_id", "text",
      SnmWindow, SnmKeyLen, SnmBlockLen, 1, 2)

  /** DataFrame-first form; pass 1 keys on `norm[1..keyLen]`, pass 2
    * on `norm[keyLen+1..2·keyLen]`.
    */
  def snmMultipass(docs: DataFrame, idCol: String, textCol: String,
                   window: Int, keyLen: Int, blockLen: Int,
                   thrNum: Int, thrDen: Int): DataFrame = {
    require(window >= 2, s"snmMultipass: window=$window")
    require(thrNum >= 0 && thrDen >= 1,
      s"snmMultipass: threshold $thrNum/$thrDen")
    // Materialize the normalized base ONCE: it feeds both passes and
    // the final per-doc join (3 subtree copies otherwise), and — the
    // sharper reason — each pass's block join pushes an
    // `isnotnull(substring(norm, …))` filter down THROUGH the corpus
    // fan-out exchange, dragging the whole regexp+tokenize chain into
    // the scan stage, which for a single-row-group corpus is ONE task
    // (measured at sf0.1: two 1.3 s single-task stages, 2.6 s of the
    // query's 1.56 s median — the regexp chain ran 6× in total). The
    // eager cut computes the chain once at the fanned width and makes
    // it un-pushable. Corpus-scale cost is one (doc_id, norm, toks)
    // materialization vs three recomputations of the regexp chain.
    val base = Cached.checkpoint(snmBase(docs, idCol, textCol))
    val p1 = snmPairs(base, substring(col("norm"), 1, keyLen),
      window, blockLen)
    val p2 = snmPairs(base, substring(col("norm"), keyLen + 1, keyLen),
      window, blockLen)
    val cand = p1.union(p2)
      .select(least(col("a_id"), col("b_id")).as("lo"),
        greatest(col("a_id"), col("b_id")).as("hi"),
        col("inter"), col("stot"))
      .distinct()
    val perDoc = cand.groupBy(col("hi"))
      .agg(count(lit(1)).as("n_cand"),
        min(when(col("inter") * (thrNum + thrDen) >= col("stot") * thrNum,
          col("lo"))).as("dup_of"))
    base.select(col("doc_id"))
      .join(perDoc, col("doc_id") === col("hi"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("dup_of"), col("dup_of").isNull.as("kept"))
      .orderBy(col("doc_id"))
  }

  val snmMultipassSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, substring(norm, 1, 16) AS k1,
      |    substring(norm, 17, 16) AS k2,
      |    list_distinct(list_filter(string_split(norm, ' '),
      |      x -> x <> '')) AS toks
      |  FROM b),
      |r1 AS (
      |  SELECT doc_id, toks,
      |    row_number() OVER (ORDER BY k1, doc_id) AS rk
      |  FROM t),
      |p1 AS (
      |  SELECT a.doc_id AS a_id, bb.doc_id AS b_id,
      |    len(list_intersect(a.toks, bb.toks)) AS inter,
      |    len(a.toks) + len(bb.toks) AS stot
      |  FROM r1 a JOIN r1 bb ON bb.rk - a.rk BETWEEN 1 AND 3),
      |r2 AS (
      |  SELECT doc_id, toks,
      |    row_number() OVER (ORDER BY k2, doc_id) AS rk
      |  FROM t),
      |p2 AS (
      |  SELECT a.doc_id AS a_id, bb.doc_id AS b_id,
      |    len(list_intersect(a.toks, bb.toks)) AS inter,
      |    len(a.toks) + len(bb.toks) AS stot
      |  FROM r2 a JOIN r2 bb ON bb.rk - a.rk BETWEEN 1 AND 3),
      |u AS (
      |  SELECT DISTINCT least(a_id, b_id) AS lo,
      |    greatest(a_id, b_id) AS hi, inter, stot
      |  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
      |g AS (
      |  SELECT hi, count(*) AS n_cand,
      |    min(CASE WHEN 3 * inter >= stot THEN lo END) AS dup_of
      |  FROM u GROUP BY hi)
      |SELECT t.doc_id,
      |  CAST(coalesce(n_cand, 0) AS BIGINT) AS n_cand,
      |  dup_of, (dup_of IS NULL) AS kept
      |FROM t LEFT JOIN g ON t.doc_id = g.hi
      |ORDER BY t.doc_id""".stripMargin

  /** Jaccard threshold for [[similarityJoin]], in micro-units. */
  val SimJoinTauMicro = 500000L

  /** Exact-threshold set-similarity self-join via PREFIX FILTERING —
    * AllPairs (Bayardo, Ma & Srikant, WWW 2007), the exact complement
    * of the banded near-dup family: where [[dedupMinhash]] /
    * [[dedupNgramJaccard]] trade recall for candidate volume, this
    * op returns EVERY pair of documents whose 5-gram shingle Jaccard
    * meets the threshold — no sketches, no misses — and is therefore
    * the first fully ORACLE-CHECKED member of the near-dup family
    * (string shingles, not hashed: both engines build identical sets).
    *
    * Why it scales: J(A,B) ≥ t implies |A∩B| ≥ t·|A| (from
    * o/(|A|+|B|−o) ≥ t and |B| ≥ o), so ordering every document's
    * shingles by GLOBAL RARITY (df asc, shingle asc — one shared total
    * order) and keeping only the first |x| − ⌈t·|x|⌉ + 1 as its
    * PREFIX guarantees any qualifying pair collides on a prefix
    * element. Candidates come from an equality join of prefixes with
    * themselves — and because prefixes hold each document's RAREST
    * shingles, posting lists in that join are short by construction
    * (df-ascending order IS the skew protection; a popular shingle
    * can only enter a prefix if a document has nothing rarer, and a
    * corpus where that happens at volume is one where near-every pair
    * truly qualifies, so no exact algorithm can emit less). Exact
    * verification then counts true intersections for candidates only.
    *
    * Exactness: intersections/unions are exact integers;
    * j_micro = inter·1e6 DIV union truncates once. The ⌈t·n⌉ prefix
    * arithmetic is the exact integer form (n·τ + 999999) DIV 1e6.
    *
    * Scale posture: shingle explode is row-local; df census and the
    * prefix build are shingle-/doc-keyed shuffles (per-doc sort is
    * row-local over a doc-length-bounded set); the candidate join is
    * keyed on rare shingles; verification is candidate-keyed. No
    * cross join, no window, no driver state.
    */
  def similarityJoin(spark: SparkSession, dir: String): DataFrame =
    similarityJoin(Tables.documents(spark, dir), "doc_id", "text", 5,
      SimJoinTauMicro)

  /** DataFrame-first form: pairs with `ngram`-shingle Jaccard ≥
    * `tauMicro`/1e6 over any (id, text) frame.
    */
  /** Distinct word-`ngram` shingle rows (doc_id, s) — the shared
    * derivation of [[similarityJoin]] and [[similarityJoinProfile]]
    * (the profile must count exactly the rows the join would pay for).
    */
  private def simJoinShingles(docs: DataFrame, idCol: String,
                              textCol: String, ngram: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(CASE WHEN size(tk) >= $ngram
           |  THEN transform(sequence(1, size(tk) - $ngram + 1),
           |                 i -> array_join(slice(tk, i, $ngram), ' '))
           |  ELSE array() END)""".stripMargin)).as("s"))

  /** Rarity-ordered AllPairs prefix rows (doc_id, s): each document's
    * first |x| − ⌈τ·|x|⌉ + 1 shingles in the global (df asc, shingle
    * asc) order — shared by [[similarityJoin]] and
    * [[similarityJoinProfile]].
    */
  private def simJoinPrefix(sh: DataFrame, tauMicro: Long): DataFrame = {
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("arr"))
      .select(col("doc_id"), explode(expr(
        s"""slice(transform(arr, x -> x.s), 1,
           |  CAST(size(arr) - ((size(arr) * $tauMicro + 999999) DIV 1000000)
           |       + 1 AS INT))""".stripMargin)).as("s"))
  }

  def similarityJoin(docs: DataFrame, idCol: String, textCol: String,
                     ngram: Int, tauMicro: Long): DataFrame = {
    val sh = simJoinShingles(docs, idCol, textCol, ngram)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val prefix = simJoinPrefix(sh, tauMicro)
    val cand = prefix.select(col("doc_id").as("da"), col("s"))
      .join(prefix.select(col("doc_id").as("db"), col("s")), Seq("s"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("da"), col("s")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("j_micro", expr("inter * 1000000 DIV uni"))
      .filter(col("j_micro") >= tauMicro)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("inter"), col("uni"), col("j_micro"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** As [[similarityJoin]] with an OPT-IN candidate-volume guard —
    * the [[editJoin]] `maxHotSegDocs` discipline transplanted: when
    * `maxCandPairs` > 0, the exact candidate volume (one cheap
    * aggregate over the prefix postings, Σ C(posting, 2) — no pair is
    * materialized) is measured FIRST, and the join refuses loudly
    * instead of paying a blow-up. Candidate volume is the op's one
    * superlinear term on vocabulary-saturating corpora (measured
    * gen-sf3 → gen-sf10: candidates 6.2× on 3.33× data while verified
    * output stayed 3.4× — DEPLOY §6e), so this is the dial a pipeline
    * owner sets from [[similarityJoinProfile]]'s census.
    */
  def similarityJoin(docs: DataFrame, idCol: String, textCol: String,
                     ngram: Int, tauMicro: Long,
                     maxCandPairs: Long): DataFrame = {
    if (maxCandPairs > 0L) {
      val sh = simJoinShingles(docs, idCol, textCol, ngram)
      val vol = simJoinPrefix(sh, tauMicro)
        .groupBy(col("s")).agg(count(lit(1)).as("p"))
        .agg(coalesce(sum(expr("p * (p - 1) DIV 2")), lit(0L)))
        .head().getLong(0)
      require(vol <= maxCandPairs,
        s"similarityJoin: prefix postings imply $vol candidate pairs > " +
          s"maxCandPairs=$maxCandPairs — the corpus is saturating the " +
          "shingle vocabulary (boilerplate-heavy or tiny token pool); " +
          "run similarityJoinProfile for the census and prefer the " +
          "capped sketch family (dedupMinhash/dedupNgramJaccard) or a " +
          "higher threshold on this corpus")
    }
    similarityJoin(docs, idCol, textCol, ngram, tauMicro)
  }

  /** Pre-flight cost census for [[similarityJoin]] — the measurement
    * that decides AllPairs-exact vs the capped sketch family BEFORE
    * any candidate pair is paid for (the [[editJoinProfile]] role;
    * unlike that profile this one deliberately does NOT verify — its
    * value is costing a join you might decide not to run, and the
    * join itself is already independently oracle-checked). One row,
    * all exact integers:
    *  - `n_docs`, `shingle_rows` (distinct per doc), `vocab`
    *    (realized shingle vocabulary — watch it approach saturation:
    *    candidate volume turns quadratic once postings lengthen),
    *  - `prefix_rows` (rarity-ordered prefix size),
    *  - `cand_pairs` = Σ C(posting, 2) over prefix postings — exactly
    *    the pair rows the candidate join would generate (pre-dedup),
    *  - `hot_posting` (longest prefix posting — the skew cell),
    *  - `cand_per_doc_milli` (candidate pairs per document ×1000 —
    *    the headline dial: growth in this ratio across ingests is the
    *    vocabulary-saturation alarm).
    *
    * Scale shape: shingle explode is row-local; the df census, prefix
    * build, and posting census are shingle-/doc-keyed aggregates; the
    * final figure assembly crosses three 1-row broadcasts. No pair is
    * ever materialized.
    */
  def similarityJoinProfile(spark: SparkSession, dir: String): DataFrame =
    similarityJoinProfile(Tables.documents(spark, dir), "doc_id", "text",
      5, SimJoinTauMicro)

  /** DataFrame-first form; same shingle/threshold contract as
    * [[similarityJoin]].
    */
  def similarityJoinProfile(docs: DataFrame, idCol: String, textCol: String,
                            ngram: Int, tauMicro: Long): DataFrame = {
    val sh = simJoinShingles(docs, idCol, textCol, ngram)
    Cached.derive(sh) {
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val shStats = sh.agg(count(lit(1)).as("shingle_rows"),
        countDistinct(col("s")).as("vocab"))
      val post = simJoinPrefix(sh, tauMicro)
        .groupBy(col("s")).agg(count(lit(1)).as("p"))
      val candStats = post.agg(
        coalesce(sum(col("p")), lit(0L)).as("prefix_rows"),
        coalesce(sum(expr("p * (p - 1) DIV 2")), lit(0L)).as("cand_pairs"),
        coalesce(max(col("p")), lit(0L)).as("hot_posting"))
      nDocs.crossJoin(broadcast(shStats)).crossJoin(broadcast(candStats))
        .select(col("n_docs"), col("shingle_rows"), col("vocab"),
          col("prefix_rows"), col("cand_pairs"), col("hot_posting"),
          when(col("n_docs") === 0, lit(null))
            .otherwise(expr("cand_pairs * 1000 DIV n_docs"))
            .as("cand_per_doc_milli")) // 1-row figure
    }
  }

  /** DuckDB twin of [[similarityJoinProfile]] — the identical shingle
    * sets (strings, engine-neutral), df census, (df asc, shingle asc)
    * rarity order, exact ⌈τ·n⌉ prefix arithmetic, and posting census.
    */
  val similarityJoinProfileSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id,
       |      unnest(CASE WHEN len(tk) >= 5 THEN
       |          [array_to_string(tk[i:i+4], ' ')
       |           FOR i IN generate_series(1, len(tk) - 4)]
       |        ELSE [] END) AS s
       |    FROM tk)),
       |dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
       |ranked AS (
       |  SELECT doc_id, s,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY df, s) AS rk,
       |    count(*) OVER (PARTITION BY doc_id) AS n
       |  FROM sh JOIN dfreq USING (s)),
       |prefix AS (
       |  SELECT doc_id, s FROM ranked
       |  WHERE rk <= n - ((n * $SimJoinTauMicro + 999999) // 1000000) + 1),
       |post AS (SELECT s, count(*) AS p FROM prefix GROUP BY s),
       |figures AS (
       |  SELECT
       |    (SELECT count(*) FROM documents) AS n_docs,
       |    (SELECT count(*) FROM sh) AS shingle_rows,
       |    (SELECT count(*) FROM dfreq) AS vocab,
       |    coalesce((SELECT sum(p) FROM post), 0) AS prefix_rows,
       |    coalesce((SELECT sum(p * (p - 1) // 2) FROM post), 0) AS cand_pairs,
       |    coalesce((SELECT max(p) FROM post), 0) AS hot_posting)
       |SELECT CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(shingle_rows AS BIGINT) AS shingle_rows,
       |  CAST(vocab AS BIGINT) AS vocab,
       |  CAST(prefix_rows AS BIGINT) AS prefix_rows,
       |  CAST(cand_pairs AS BIGINT) AS cand_pairs,
       |  CAST(hot_posting AS BIGINT) AS hot_posting,
       |  CASE WHEN n_docs = 0 THEN NULL
       |       ELSE CAST(cand_pairs * 1000 // n_docs AS BIGINT) END
       |    AS cand_per_doc_milli
       |FROM figures""".stripMargin

  /** DuckDB twin of [[similarityJoin]] — an independent derivation:
    * shared-shingle blocking (exact, since J > 0 requires a common
    * shingle) instead of prefix filtering, then the same exact
    * intersection counts and one-DIV quantization.
    */
  val similarityJoinSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id,
       |      unnest([array_to_string(tk[i:i+4], ' ')
       |              FOR i IN generate_series(1, len(tk) - 4)]) AS s
       |    FROM tk)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter,
       |  CAST(sa.n + sb.n - inter AS BIGINT) AS uni,
       |  CAST(inter * 1000000 // (sa.n + sb.n - inter) AS BIGINT) AS j_micro
       |FROM cand
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE inter * 1000000 // (sa.n + sb.n - inter) >= $SimJoinTauMicro
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Prefix-key length / edit threshold for [[editJoin]]: pairs
    * within Levenshtein distance [[EditTau]] on the lowercased
    * first-[[EditKeyLen]]-chars key. Documents shorter than the key
    * are excluded (they are [[exactDedup]] territory — padding would
    * corrupt edit-distance semantics at the boundary), so every key
    * has EXACTLY this length and the equal-length PassJoin pigeonhole
    * applies.
    */
  val EditKeyLen = 48
  val EditTau = 2

  /** Exact edit-distance similarity self-join (Li, Deng & Feng's
    * PassJoin partition scheme, VLDB 2011) — the character-level
    * near-dup complement of [[similarityJoin]]'s token-level Jaccard:
    * every pair of documents whose lowercased 48-char prefixes are
    * within Levenshtein distance 2, found WITHOUT the O(n²) cross
    * join. Pigeonhole: partition one key into τ+1 = 3 disjoint
    * 16-char segments; any ≤ τ-edit pair must contain one segment of
    * the smaller-id key VERBATIM in the larger-id key at a position
    * shifted by at most τ — so candidates come from an equi-join of
    * indexed segments against ±τ-shifted probe windows (15 windows
    * per doc), and exact `levenshtein` verification (same unit-cost
    * semantics in both engines) removes false positives. The ORACLE
    * is the brute-force all-pairs form — an INDEPENDENT derivation
    * that re-proves the blocking's completeness on every corpus run
    * (feasible single-node at the gate SF; the Spark side never
    * materializes n²).
    *
    * Scale posture: segment/window explode is row-local (3 + 15 rows
    * per doc); the candidate join is keyed on (segment-index,
    * 16-gram); verification is candidate-keyed. No window, no driver
    * state. WORST CASE, stated honestly: a 16-gram segment shared by
    * k documents with DIVERSE suffixes generates k²/2 candidates that
    * all fail verification — exact edit joins are inherently
    * output-insensitive to such hot segments (any complete candidate
    * scheme is), and a cap would break the completeness the oracle
    * certifies. On boilerplate-heavy corpora run [[editJoinProfile]]
    * FIRST — its `hot_seg_docs` census costs one cheap scan and
    * predicts the blow-up before any candidate is paid for — and
    * prefer the capped family members
    * ([[similarityJoin]]'s rarity-ordered prefixes, or
    * [[sortedNeighborhood]]'s exactly-(w−1)·n pairs) when prefixes
    * repeat at scale. The 6-arg overload's `maxHotSegDocs` turns that
    * advice into an ENFORCED pre-flight: the census runs first and
    * the join refuses loudly instead of paying the blow-up.
    */
  def editJoin(spark: SparkSession, dir: String): DataFrame =
    editJoin(Tables.documents(spark, dir)
        .filter(length(col("text")) >= EditKeyLen)
        .select(col("doc_id"),
          lower(substring(col("text"), 1, EditKeyLen)).as("k")),
      "doc_id", "k", EditKeyLen, EditTau)

  /** DataFrame-first form over an (id, key) frame whose keys ALL have
    * exactly `keyLen` characters (the caller's contract — the
    * pigeonhole below is the equal-length form); `keyLen` must divide
    * into τ+1 equal segments.
    */
  def editJoin(df: DataFrame, idCol: String, kCol: String, keyLen: Int,
               tau: Int): DataFrame =
    editJoin(df, idCol, kCol, keyLen, tau, maxHotSegDocs = 0L)

  /** As above with an OPT-IN hot-segment guard: when `maxHotSegDocs`
    * > 0, the [[editJoinProfile]] `hot_seg_docs` census (one cheap
    * 3-rows/doc aggregate) runs FIRST and the join fails loudly — the
    * [[graft.ops.Curation.tCloseness]] domain-check discipline —
    * before any of the up-to-k²/2 doomed candidates is paid for. The
    * default (0 = unguarded) stays uncapped because a silent cap
    * would break the completeness the brute-force oracle certifies;
    * the guard refuses the whole job instead of corrupting its
    * output. On refusal, switch to [[similarityJoin]] or
    * [[sortedNeighborhood]], or raise the budget deliberately.
    */
  def editJoin(df: DataFrame, idCol: String, kCol: String, keyLen: Int,
               tau: Int, maxHotSegDocs: Long): DataFrame = {
    if (maxHotSegDocs > 0L) {
      val hot = df.select(col(idCol).as("id"), col(kCol).as("k"))
        .select(explode(array(editSegStructs(keyLen, tau): _*)).as("s"))
        .groupBy(col("s.si"), col("s.seg")).agg(count(lit(1)).as("c"))
        .agg(coalesce(max(col("c")), lit(0L)).as("hot"))
        .head().getLong(0)
      require(hot <= maxHotSegDocs,
        s"editJoin: hottest (segment-index, ${keyLen / (tau + 1)}-gram) " +
          s"bucket holds " +
          s"$hot docs > maxHotSegDocs=$maxHotSegDocs — up to " +
          s"${hot * (hot - 1) / 2} candidate pairs from one segment alone. " +
          "Run editJoinProfile for the full census; prefer similarityJoin " +
          "or sortedNeighborhood on boilerplate-heavy corpora, or raise " +
          "the budget deliberately")
    }
    editCandidates(df, idCol, kCol, keyLen, tau)
      .withColumn("dist", levenshtein(col("ka"), col("kb")).cast("long"))
      .filter(col("dist") <= tau)
      .select(col("a_id"), col("b_id"), col("dist"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The PassJoin candidate set — distinct (a_id, b_id, ka, kb) pairs
    * whose keys share a (segment-index, exact-16-gram) blocking key —
    * shared by [[editJoin]] (which verifies with `levenshtein`) and
    * [[editJoinProfile]] (which COUNTS it against the verified set).
    */
  private def editCandidates(df: DataFrame, idCol: String, kCol: String,
                             keyLen: Int, tau: Int): DataFrame = {
    val nSeg = tau + 1
    require(keyLen % nSeg == 0, s"editJoin: $keyLen not divisible by $nSeg")
    val segLen = keyLen / nSeg
    val keys = df.select(col(idCol).as("id"), col(kCol).as("k"))
    val winStructs = for {
      i <- 1 to nSeg
      d <- -tau to tau
      p = (i - 1) * segLen + 1 + d
      if p >= 1 && p <= keyLen - segLen + 1
    } yield struct(lit(i).as("si"),
      expr(s"substring(k, $p, $segLen)").as("seg"))
    val segs = keys
      .select(col("id").as("a_id"), col("k").as("ka"),
        explode(array(editSegStructs(keyLen, tau): _*)).as("s"))
      .select(col("a_id"), col("ka"), col("s.si").as("si"),
        col("s.seg").as("seg"))
    val wins = keys
      .select(col("id").as("b_id"), col("k").as("kb"),
        explode(array(winStructs: _*)).as("w"))
      .select(col("b_id"), col("kb"), col("w.si").as("si"),
        col("w.seg").as("seg")).distinct()
    segs.join(wins, Seq("si", "seg"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("ka"), col("kb")).distinct()
  }

  /** The τ+1 fixed non-overlapping segments of a `keyLen`-char key as
    * (si, seg) structs — the probe side of the PassJoin block and the
    * unit of the hot-segment census.
    */
  private def editSegStructs(keyLen: Int, tau: Int) = {
    val nSeg = tau + 1
    val segLen = keyLen / nSeg
    (1 to nSeg).map(i =>
      struct(lit(i).as("si"), expr(
        s"substring(k, ${(i - 1) * segLen + 1}, $segLen)").as("seg")))
  }

  /** Scale-risk profile of [[editJoin]]'s blocking — the measurement
    * the scaladoc above tells 100 TB operators to take BEFORE running
    * the join on a boilerplate-heavy corpus. One row:
    *
    *  - `n_docs` — keys long enough to enter the join;
    *  - `n_cand` — distinct candidate pairs the segment/window block
    *    emits (the cost driver: every one pays a `levenshtein`);
    *  - `n_match` — pairs that verify at distance ≤ τ (the output);
    *  - `cand_per_match_milli` — the waste ratio ×1000 (truncating
    *    DIV; NULL when nothing matches). A healthy corpus sits near
    *    1000; boilerplate keys push it orders of magnitude higher —
    *    the signal to switch to the capped family members
    *    ([[similarityJoin]], [[sortedNeighborhood]]) instead;
    *  - `hot_seg_docs` — the largest (segment-index, exact 16-gram)
    *    bucket: k docs sharing one hot segment contribute up to
    *    k·(k−1)/2 candidates on their own, so this is the blow-up's
    *    leading indicator and is readable from a CHEAP census (one
    *    groupBy over 3 rows/doc) even when the join itself is not
    *    affordable.
    *
    * Scale posture: the census and the match count are keyed
    * aggregates over the same frames the join itself builds; nothing
    * here adds a pass the join would not pay. The DuckDB twin
    * recomputes `n_match` from the BRUTE-FORCE all-pairs definition
    * (not the blocked plan), so the profile also re-certifies
    * blocking completeness every run.
    */
  def editJoinProfile(spark: SparkSession, dir: String): DataFrame =
    editJoinProfile(Tables.documents(spark, dir)
        .filter(length(col("text")) >= EditKeyLen)
        .select(col("doc_id"),
          lower(substring(col("text"), 1, EditKeyLen)).as("k")),
      "doc_id", "k", EditKeyLen, EditTau)

  /** DataFrame-first form; same key contract as [[editJoin]]. */
  def editJoinProfile(df: DataFrame, idCol: String, kCol: String,
                      keyLen: Int, tau: Int): DataFrame = {
    val keys = df.select(col(idCol).as("id"), col(kCol).as("k"))
    val nDocs = keys.agg(count(lit(1)).as("n_docs"))
    val cand = editCandidates(df, idCol, kCol, keyLen, tau)
      .withColumn("ok",
        when(levenshtein(col("ka"), col("kb")) <= tau, 1L).otherwise(0L))
      .agg(count(lit(1)).as("n_cand"), coalesce(sum(col("ok")), lit(0L))
        .as("n_match"))
    val hot = keys
      .select(explode(array(editSegStructs(keyLen, tau): _*)).as("s"))
      .groupBy(col("s.si"), col("s.seg")).agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("hot_seg_docs"))
    nDocs.crossJoin(broadcast(cand)).crossJoin(broadcast(hot))
      .select(col("n_docs"), col("n_cand"), col("n_match"),
        when(col("n_match") === 0, lit(null))
          .otherwise(expr("n_cand * 1000 DIV n_match"))
          .as("cand_per_match_milli"),
        col("hot_seg_docs"))
  }

  /** DuckDB twin of [[editJoin]]: the brute-force all-pairs
    * definition itself — deliberately NOT the blocked plan, so the
    * oracle independently certifies the PassJoin candidate set is
    * complete.
    */
  val editJoinSql: String =
    s"""WITH k AS (
       |  SELECT doc_id, lower(substring(text, 1, $EditKeyLen)) AS k
       |  FROM documents WHERE length(text) >= $EditKeyLen)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
       |FROM k a JOIN k b ON a.doc_id < b.doc_id
       |WHERE levenshtein(a.k, b.k) <= $EditTau
       |ORDER BY a_id, b_id""".stripMargin

  /** DuckDB twin of [[editJoinProfile]]: `n_cand`/`hot_seg_docs`
    * replicate the blocking (they are properties OF the scheme), but
    * `n_match` is the brute-force all-pairs count — independent of
    * the blocked plan, so a profile run re-certifies candidate
    * completeness (blocked verified count = true pair count) as a
    * side effect.
    */
  val editJoinProfileSql: String = {
    val nSeg = EditTau + 1
    val segLen = EditKeyLen / nSeg
    val maxP = EditKeyLen - segLen + 1
    s"""WITH k AS (
       |  SELECT doc_id, lower(substring(text, 1, $EditKeyLen)) AS k
       |  FROM documents WHERE length(text) >= $EditKeyLen),
       |segs AS (
       |  SELECT doc_id AS a_id, i AS si,
       |    substring(k, CAST((i-1)*$segLen+1 AS INT), $segLen) AS seg
       |  FROM k, generate_series(1, $nSeg) g(i)),
       |wins AS (
       |  SELECT DISTINCT doc_id AS b_id, i AS si,
       |    substring(k, CAST((i-1)*$segLen+1+d AS INT), $segLen) AS seg
       |  FROM k, generate_series(1, $nSeg) g(i),
       |    generate_series(-$EditTau, $EditTau) h(d)
       |  WHERE (i-1)*$segLen+1+d BETWEEN 1 AND $maxP),
       |cand AS (
       |  SELECT count(*) AS n_cand FROM (
       |    SELECT DISTINCT a_id, b_id FROM segs JOIN wins USING (si, seg)
       |    WHERE a_id < b_id) t),
       |mtch AS (
       |  SELECT count(*) AS n_match
       |  FROM k a JOIN k b ON a.doc_id < b.doc_id
       |  WHERE levenshtein(a.k, b.k) <= $EditTau),
       |hot AS (
       |  SELECT coalesce(max(c), 0) AS hot_seg_docs FROM (
       |    SELECT si, seg, count(*) AS c FROM segs GROUP BY 1, 2) t)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM k) AS n_docs,
       |  CAST(n_cand AS BIGINT) AS n_cand,
       |  CAST(n_match AS BIGINT) AS n_match,
       |  CASE WHEN n_match = 0 THEN NULL
       |    ELSE CAST(n_cand * 1000 // n_match AS BIGINT)
       |  END AS cand_per_match_milli,
       |  CAST(hot_seg_docs AS BIGINT) AS hot_seg_docs
       |FROM cand, mtch, hot""".stripMargin
  }
}
