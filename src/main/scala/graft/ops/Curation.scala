package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators — the C4/Gopher-style corpus
  * hygiene passes a large-scale LLM data pipeline runs between raw
  * ingestion and tokenization (reference framework is data-agnostic,
  * SURVEY.md §0; these extend the north-star surface like
  * [[TextAnalysis]] / [[Dedup]]).
  *
  * All four are DuckDB-oracle-checked: repetition metrics and token
  * chunking are (near-)row-local projections; decontamination is a
  * hashed-shingle equi-join; sequence packing is a shard-local window.
  */
object Curation {

  private def toks = split(col("text"), " ")

  /** Repetition / diversity metrics per document — the classic
    * quality-filter features (Gopher's repetition rules, C4's
    * boilerplate heuristics): duplicate-word ratio, duplicate-bigram
    * ratio, and the top single word's frequency share. ALL row-local
    * (array_distinct + a distinct×tokens counting loop inside one
    * projection): the whole operator is scan-speed with zero shuffles
    * before the output sort — at 100 TB nothing beats that. The
    * row-local top-word count is O(distinct × tokens) per document,
    * the right trade for bounded-length documents; for very long
    * documents an explode + (doc, term) keyed aggregation is the
    * fallback shape. Ratios round to 4 places for the cross-engine cut.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form over any (id, text) corpus. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      // native one-pass counts (ngram_distinct_count / top_token_count):
      // the built-in higher-order formulations interpret a lambda per
      // (n-gram | distinct×token pair) — the latter O(d·n) per row
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_toks"),
        expr("ngram_distinct_count(tk, 1)").as("n_distinct"),
        expr("ngram_distinct_count(tk, 2)").as("n_distinct_2g"),
        expr("top_token_count(tk)").as("topc"))
      .select(col("doc_id"), col("n_toks"),
        round(lit(1.0) - col("n_distinct") / col("n_toks"), 4).as("dup_word_ratio"),
        round(lit(1.0) - col("n_distinct_2g") / (col("n_toks") - 1), 4).as("dup_2gram_ratio"),
        round(col("topc") / col("n_toks"), 4).as("top_word_frac"))
      .orderBy(col("doc_id"))
  }

  val repetitionStatsSql: String =
    """WITH b AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(tk) AS BIGINT) AS n_toks,
      |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
      |    CAST(len(list_distinct([tk[i] || ' ' || tk[i+1]
      |                            FOR i IN generate_series(1, len(tk) - 1)]))
      |      AS BIGINT) AS n_distinct_2g,
      |    CAST(list_max(list_transform(list_distinct(tk),
      |           w -> len(list_filter(tk, t -> t = w)))) AS BIGINT) AS topc
      |  FROM b)
      |SELECT doc_id, n_toks,
      |  round(1.0 - n_distinct / n_toks, 4) AS dup_word_ratio,
      |  round(1.0 - n_distinct_2g / (n_toks - 1), 4) AS dup_2gram_ratio,
      |  round(topc / n_toks, 4) AS top_word_frac
      |FROM m
      |ORDER BY doc_id""".stripMargin

  private val ChunkSize = 64

  /** Fixed-size token chunking: each document becomes
    * ceil(n_toks / 64) chunks of ≤ 64 tokens — the pre-tokenization
    * windowing step of a training pipeline. Pure row-local explode
    * (rows multiply by ~n_toks/64, no shuffle until the output sort);
    * at 100 TB this runs at scan speed and the chunk count per task is
    * bounded by its input split.
    */
  def chunkTokens(spark: SparkSession, dir: String): DataFrame =
    chunkTokens(Tables.documents(spark, dir), "doc_id", "text", ChunkSize)

  /** DataFrame-first form with a configurable chunk size. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int): DataFrame = {
    require(chunkSize >= 1, "chunkSize must be positive")
    docs
      .select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_toks"))
      .select(col("doc_id"), col("n_toks"),
        explode(expr(s"sequence(0L, (n_toks - 1) div $chunkSize)")).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        least(lit(chunkSize.toLong), col("n_toks") - col("chunk_id") * chunkSize)
          .as("n_chunk_toks"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val chunkTokensSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_toks,
       |    unnest(generate_series(0, (n_toks - 1) // $ChunkSize)) AS chunk_id
       |  FROM n)
       |SELECT doc_id, chunk_id,
       |  least($ChunkSize, n_toks - chunk_id * $ChunkSize) AS n_chunk_toks
       |FROM c
       |ORDER BY doc_id, chunk_id""".stripMargin

  private val ShingleN = 5

  /** Benchmark decontamination: flag corpus documents sharing any
    * 5-gram with a held-out "benchmark" set (here: every 97th doc —
    * in production, the eval suites). The mechanism is the standard
    * n-gram-overlap check at scale: per-side hashed-shingle explosion
    * (md5 over the joined token window — the one hash both engines
    * compute identically), distinct, then a hash equi-join of corpus
    * shingles against the (much smaller, broadcastable) benchmark
    * shingle set — never a doc × doc comparison. Output: every
    * non-benchmark doc with its count of distinct contaminated
    * shingles and a flag.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame =
    contamination(Tables.documents(spark, dir), "doc_id", "text",
      col("doc_id") % 97 === 0)

  /** DataFrame-first form: `benchPred` selects the held-out benchmark
    * rows (by the canonical `doc_id` column); everything else is the
    * corpus under test.
    */
  def contamination(docs0: DataFrame, idCol: String, textCol: String,
                    benchPred: org.apache.spark.sql.Column): DataFrame = {
    val docs = docs0.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // tokenize ONCE into a column the shingle lambda references —
    // inlining split(text) into the lambda would re-split the document
    // for every shingle (Catalyst keeps the alias: non-cheap exprs with
    // multiple references are not collapsed into consumers)
    val shingled = docs.select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"),
        expr(s"""CASE WHEN size(tk) >= $ShingleN
                |  THEN array_distinct(transform(
                |    sequence(0, size(tk) - $ShingleN),
                |    i -> md5(concat_ws(' ', slice(tk, i + 1, $ShingleN)))))
                |  ELSE array() END""".stripMargin).as("sh"))
    // both sides derive from one shingling pass; the persisted frame is
    // dropped after the SMALL per-doc hit counts are checkpointed
    val hitsM = Cached.derive(shingled) {
      val corpusSh = shingled.filter(!benchPred)
        .select(col("doc_id"), explode(col("sh")).as("h"))
      // the benchmark shingle set is small and fixed (the eval suites) —
      // broadcast it so the corpus side never shuffles
      val benchSh = shingled.filter(benchPred)
        .select(explode(col("sh")).as("h")).distinct()
      corpusSh.join(broadcast(benchSh), Seq("h"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    }
    docs.filter(!benchPred)
      .select(col("doc_id"))
      .join(hitsM, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .withColumn("contaminated", (col("n_contaminated") > 0).cast("int"))
      .orderBy(col("doc_id"))
  }

  val contaminationSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(string_split(text, ' ')) >= $ShingleN
       |      THEN list_distinct([md5(array_to_string(
       |             string_split(text, ' ')[i + 1 : i + $ShingleN], ' '))
       |           FOR i IN generate_series(0, len(string_split(text, ' ')) - $ShingleN)])
       |      ELSE [] END AS s
       |  FROM documents),
       |corpus AS (
       |  SELECT doc_id, unnest(s) AS h FROM sh WHERE doc_id % 97 <> 0),
       |bench AS (
       |  SELECT DISTINCT unnest(s) AS h FROM sh WHERE doc_id % 97 = 0),
       |hits AS (
       |  SELECT doc_id, count(*) AS n_contaminated
       |  FROM corpus JOIN bench USING (h)
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(hits.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       |  CAST(coalesce(hits.n_contaminated, 0) > 0 AS INT) AS contaminated
       |FROM documents d LEFT JOIN hits USING (doc_id)
       |WHERE d.doc_id % 97 <> 0
       |ORDER BY d.doc_id""".stripMargin

  /** Contamination SPAN report — [[contamination]]'s actionable form:
    * not just whether a corpus document overlaps the benchmark but
    * WHERE — the 1-based token positions of every matching
    * [[ShingleN]]-gram, so a cleaning pass can excise the span instead
    * of dropping the document (the surgical decontamination production
    * pipelines actually run). Per doc: hit count, first/last match
    * position, and the first 8 sorted positions as a CSV scalar (the
    * driver compare hashes scalars, not arrays).
    *
    * Same scale shape as [[contamination]]: one shingling pass feeds
    * both sides, the small fixed benchmark set broadcasts, the corpus
    * side never shuffles before its per-doc aggregate. Positions ride
    * the existing explode — keeping them costs nothing extra.
    */
  def contaminationSpans(spark: SparkSession, dir: String): DataFrame =
    contaminationSpans(Tables.documents(spark, dir), "doc_id", "text",
      col("doc_id") % 97 === 0)

  /** DataFrame-first form; `benchPred` selects benchmark rows. */
  def contaminationSpans(docs0: DataFrame, idCol: String, textCol: String,
                         benchPred: org.apache.spark.sql.Column): DataFrame = {
    val docs = docs0.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val base = docs.select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= ShingleN)
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, size(tk) - $ShingleN),
           |  i -> named_struct('pos', i + 1,
           |    'h', md5(concat_ws(' ', slice(tk, i + 1, $ShingleN)))))""".stripMargin)
        .as("sh"))
    val hits = Cached.derive(base) {
      val corpus = base.filter(!benchPred)
        .select(col("doc_id"), explode(col("sh")).as("u"))
        .select(col("doc_id"), col("u.pos").as("pos"), col("u.h").as("h"))
      val bench = base.filter(benchPred)
        .select(explode(col("sh")).as("u"))
        .select(col("u.h").as("h")).distinct()
      corpus.join(broadcast(bench), Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"),
          min(col("pos")).cast("long").as("first_pos"),
          max(col("pos")).cast("long").as("last_pos"),
          expr("""array_join(transform(
                 |  slice(array_sort(collect_list(pos)), 1, 8),
                 |  x -> cast(x AS string)), ',')""".stripMargin).as("pos_csv"))
    }
    docs.filter(!benchPred).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_hits", "first_pos", "last_pos"))
      .na.fill("", Seq("pos_csv"))
      .orderBy(col("doc_id"))
  }

  val contaminationSpansSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    [{'pos': i + 1, 'h': md5(array_to_string(t[i + 1 : i + $ShingleN], ' '))}
       |     FOR i IN generate_series(0, len(t) - $ShingleN)] AS lst
       |  FROM tk WHERE len(t) >= $ShingleN),
       |u AS (SELECT doc_id, unnest(lst) AS s FROM sh),
       |corpus AS (
       |  SELECT doc_id, s.pos AS pos, s.h AS h FROM u WHERE doc_id % 97 <> 0),
       |bench AS (SELECT DISTINCT s.h AS h FROM u WHERE doc_id % 97 = 0),
       |hits AS (
       |  SELECT doc_id, count(*) AS n, CAST(min(pos) AS BIGINT) AS fp,
       |    CAST(max(pos) AS BIGINT) AS lp,
       |    array_to_string(list_sort(list(pos))[1:8], ',') AS pc
       |  FROM corpus JOIN bench USING (h) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_hits,
       |  CAST(coalesce(fp, 0) AS BIGINT) AS first_pos,
       |  CAST(coalesce(lp, 0) AS BIGINT) AS last_pos,
       |  coalesce(pc, '') AS pos_csv
       |FROM documents d LEFT JOIN hits USING (doc_id)
       |WHERE d.doc_id % 97 <> 0
       |ORDER BY d.doc_id""".stripMargin

  /** Composite quality filter — the pipeline stage the individual
    * signals exist for: every document gets a keep/drop verdict plus
    * the FIRST failing rule as an audit reason (a production corpus
    * filter must be explainable, not just a boolean). Rules, in
    * precedence order: too short (< 20 tokens), too repetitive
    * (duplicate-word ratio > 0.8), dominated by one word (top-word
    * share > 0.3), no stopwords (stopword ratio < 0.01 — word-salad /
    * non-language signal). One row-local projection — scan-speed, zero
    * shuffles before the output sort; thresholds follow the C4/Gopher
    * shape, tuned so the synthetic corpus exercises both outcomes.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualityFilter(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form over any (id, text) corpus. */
  /** [[qualityFilter]] with PIGGYBACKED health metrics: an
    * `Observation` collects corpus counters (docs seen, docs kept,
    * per-reason drops) DURING the same pass that produces the output —
    * zero extra scans, zero extra shuffles, metrics delivered to the
    * driver by accumulator. This is how a 100 TB curation job reports
    * its funnel without re-aggregating its own output: call the
    * returned frame's action, then read `observation.get`.
    */
  def qualityFilterObserved(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val out = qualityFilter(docs, idCol, textCol).observe(obs,
      count(lit(1)).as("n_docs"),
      count_if(col("keep") === 1).as("n_kept"),
      count_if(col("reason") === "too_short").as("n_too_short"),
      count_if(col("reason") === "too_repetitive").as("n_too_repetitive"))
    (out, obs)
  }

  def qualityFilter(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val stopArr = Seq("the", "a", "of", "and", "to", "in", "is")
      .map(w => s"'$w'").mkString("array(", ",", ")")
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_toks"),
        round(lit(1.0) - expr("ngram_distinct_count(tk, 1)") / size(col("tk")), 4)
          .as("dup_word_ratio"),
        round(expr("top_token_count(tk)") / size(col("tk")), 4)
          .as("top_word_frac"),
        round(expr(s"size(filter(tk, t -> array_contains($stopArr, t)))") / size(col("tk")), 4)
          .as("stop_ratio"))
      .withColumn("reason",
        when(col("n_toks") < 20, "too_short")
          .when(col("dup_word_ratio") > 0.8, "too_repetitive")
          .when(col("top_word_frac") > 0.3, "one_word_dominates")
          .when(col("stop_ratio") < 0.01, "no_stopwords")
          .otherwise("ok"))
      .withColumn("keep", (col("reason") === "ok").cast("int"))
      .select(col("doc_id"), col("n_toks"), col("dup_word_ratio"),
        col("top_word_frac"), col("stop_ratio"), col("keep"), col("reason"))
      .orderBy(col("doc_id"))
  }

  val qualityFilterSql: String = {
    val stopList = Seq("the", "a", "of", "and", "to", "in", "is")
      .map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH b AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(tk) AS BIGINT) AS n_toks,
       |    round(1.0 - len(list_distinct(tk)) / len(tk), 4) AS dup_word_ratio,
       |    round(list_max(list_transform(list_distinct(tk),
       |            w -> len(list_filter(tk, t -> t = w)))) / len(tk), 4) AS top_word_frac,
       |    round(len(list_filter(tk, t -> list_contains($stopList, t))) / len(tk), 4)
       |      AS stop_ratio
       |  FROM b),
       |v AS (
       |  SELECT doc_id, n_toks, dup_word_ratio, top_word_frac, stop_ratio,
       |    CASE WHEN n_toks < 20 THEN 'too_short'
       |         WHEN dup_word_ratio > 0.8 THEN 'too_repetitive'
       |         WHEN top_word_frac > 0.3 THEN 'one_word_dominates'
       |         WHEN stop_ratio < 0.01 THEN 'no_stopwords'
       |         ELSE 'ok' END AS reason
       |  FROM m)
       |SELECT doc_id, n_toks, dup_word_ratio, top_word_frac, stop_ratio,
       |  CAST(reason = 'ok' AS INT) AS keep, reason
       |FROM v
       |ORDER BY doc_id""".stripMargin
  }

  private val SweepThresholds = (1 to 9).map(_ / 10.0)

  /** Threshold-calibration sweep for the repetition filter — the
    * question a pipeline owner actually asks before flipping a
    * threshold: "at cutoff t, how much of the corpus survives?". For a
    * fixed threshold grid, reports docs kept (duplicate-word ratio ≤ t)
    * and the survival percentage, in ONE corpus scan: the ratio is a
    * row-local projection, the whole grid is |thresholds| conditional
    * sums inside a single aggregate collapsing to one row, and the
    * per-threshold rows are exploded from that row — never one scan
    * per threshold. Percentages divide two exact BIGINTs.
    */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame =
    thresholdSweep(Tables.documents(spark, dir), "doc_id", "text", SweepThresholds)

  /** DataFrame-first form over any (id, text) frame. */
  def thresholdSweep(docs: DataFrame, idCol: String, textCol: String,
                     thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep: empty threshold grid")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val scored = docs
      .select(split(col(textCol), " ").as("tk"))
      .select(round(lit(1.0) - expr("ngram_distinct_count(tk, 1)") / size(col("tk")), 4)
        .as("ratio"))
    val aggs = count(lit(1)).as("n_docs") +:
      thresholds.zipWithIndex.map { case (t, i) =>
        sum(when(col("ratio") <= t, 1L).otherwise(0L)).as(s"k_$i")
      }
    // empty corpus: sums aggregate to NULL and 0/0 is NaN — coalesce
    // the grid to zero kept and null out the percentage so the report
    // still emits one clean row per threshold
    val grid = array(thresholds.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("threshold"),
        coalesce(col(s"k_$i"), lit(0L)).as("n_kept"))
    }: _*)
    scored
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n_docs"), explode(grid).as("g"))
      .select(col("g.threshold").as("threshold"), col("g.n_kept").as("n_kept"),
        col("n_docs"),
        when(col("n_docs") > 0,
          round(lit(100.0) * col("g.n_kept") / col("n_docs"), 4)).as("pct_kept"))
      .orderBy(col("threshold"))
  }

  val thresholdSweepSql: String = {
    val ths = SweepThresholds
    val ks = ths.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN ratio <= $t THEN 1 ELSE 0 END) AS BIGINT) AS k_$i"
    }.mkString(",\n      |    ")
    val rows = ths.zipWithIndex.map { case (t, i) =>
      s"SELECT CAST($t AS DOUBLE) AS threshold, " +
        s"COALESCE(k_$i, 0) AS n_kept, n_docs, " +
        s"CASE WHEN n_docs > 0 THEN round(100.0 * COALESCE(k_$i, 0) / n_docs, 4) " +
        s"END AS pct_kept FROM a"
    }.mkString("\n      |UNION ALL ")
    s"""WITH m AS (
      |  SELECT round(1.0 - len(list_distinct(string_split(text, ' ')))
      |    / len(string_split(text, ' ')), 4) AS ratio
      |  FROM documents),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    $ks
      |  FROM m)
      |$rows
      |ORDER BY threshold""".stripMargin
  }

  /** End-to-end corpus pipeline — the "user switches their pipeline to
    * this library" capstone, composed entirely from the library's own
    * operators: quality-filter the corpus ([[qualityFilter]]), keep
    * one canonical copy per duplicate text
    * ([[Dedup.canonicalize]]), assign deterministic train/val/test
    * splits ([[Sampling.splitBucket]]), and report per-(split, lang)
    * document and token counts. Every stage is the scale shape its
    * operator documented (row-local filter, one hash-agg dedup window,
    * row-local split, one final partial+final aggregation); the whole
    * composition is oracle-checked as one SQL statement.
    */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val kept = docs.join(
      qualityFilter(docs, "doc_id", "text")
        .filter(col("keep") === 1).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val canon = Dedup.canonicalize(kept)
    canon
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        Sampling.splitName(Sampling.splitBucket(col("doc_id"))).as("split"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_toks"))
      .orderBy(col("split"), col("lang"))
  }

  val corpusPipelineSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang, text, string_split(text, ' ') AS tk FROM documents),
       |q AS (
       |  SELECT doc_id,
       |    CAST(len(tk) AS BIGINT) AS n_toks,
       |    round(1.0 - len(list_distinct(tk)) / len(tk), 4) AS dup_word_ratio,
       |    round(list_max(list_transform(list_distinct(tk),
       |            w -> len(list_filter(tk, t -> t = w)))) / len(tk), 4) AS top_word_frac,
       |    round(len(list_filter(tk, t -> list_contains(['the','a','of','and','to','in','is'], t)))
       |          / len(tk), 4) AS stop_ratio
       |  FROM b),
       |kept AS (
       |  SELECT doc_id FROM q
       |  WHERE n_toks >= 20 AND dup_word_ratio <= 0.8
       |    AND top_word_frac <= 0.3 AND stop_ratio >= 0.01),
       |canon AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM b JOIN kept USING (doc_id)
       |  GROUP BY text),
       |final AS (
       |  SELECT b.doc_id, b.lang, CAST(len(b.tk) AS BIGINT) AS n_toks,
       |    CASE WHEN ((b.doc_id % 1000000007) * 2654435761) % 1000 < 800 THEN 'train'
       |         WHEN ((b.doc_id % 1000000007) * 2654435761) % 1000 < 900 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM b JOIN canon USING (doc_id))
       |SELECT split, lang, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS sum_toks
       |FROM final
       |GROUP BY split, lang
       |ORDER BY split, lang""".stripMargin

  private val PackBudget = 256L
  private val NShards = 32

  /** Shard-local sequence packing: assign documents to fixed-budget
    * (256-token) training packs. Greedy global packing is inherently
    * sequential — one running sum over the whole corpus — so the scale
    * shape shards the corpus (doc_id mod 32; in production ~O(cluster
    * cores) shards) and packs WITHIN each shard by a running token sum:
    * pack = floor(start_offset / budget). Each shard's window is an
    * independent partition, so the packing parallelizes across shards
    * and is deterministic (ordered by doc_id). A doc may straddle a
    * pack boundary — the consumer splits it — which keeps assignment a
    * pure prefix-sum, never a bin-packing search.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(spark, dir), "doc_id", "text", PackBudget, NShards)

  /** DataFrame-first form: `budget` tokens per pack, packing
    * parallelized over `nShards` independent shards (set ~O(cluster
    * cores) in production).
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    budget: Long, nShards: Int): DataFrame = {
    require(budget >= 1 && nShards >= 1, "budget and nShards must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(idCol).as("doc_id"), (col(idCol) % nShards).as("shard"),
        size(split(col(textCol), " ")).cast("long").as("n_toks"))
      .withColumn("run", sum(col("n_toks")).over(w))
      .select(col("doc_id"), col("shard"), col("n_toks"),
        floor((col("run") - col("n_toks")) / budget).as("pack_id"))
      .orderBy(col("doc_id"))
  }

  val packSequencesSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, doc_id % $NShards AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, shard, n_toks,
       |    sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM n)
       |SELECT doc_id, shard, n_toks,
       |  CAST(floor((run - n_toks) / $PackBudget) AS BIGINT) AS pack_id
       |FROM r
       |ORDER BY doc_id""".stripMargin

  private val SpanSize = 32

  /** Span-level exact dedup report (the RefinedWeb/C4 pattern one level
    * below document dedup): fixed `spanSize`-token windows are hashed
    * corpus-wide, and every document reports how much of its content is
    * duplicated SOMEWHERE in the corpus — `n_dup_spans` (spans whose
    * hash occurs >1 times anywhere) and `n_removable_spans` (those that
    * are not the corpus-wide canonical first occurrence, i.e. what a
    * remove-duplicated-spans pass would cut).
    *
    * Shape: one projection explodes each doc into spans with an md5
    * span hash (row-local, the one hash both engines compute
    * identically), ONE digest-keyed census aggregate (partial+final;
    * `min(struct(doc, chunk))` picks the canonical occurrence without
    * any window), a shuffled equi-join of spans against the census on
    * the hash (vocabulary-sized — never broadcast), and a doc-keyed
    * rollup. No doc×doc comparison anywhere.
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedup(Tables.documents(spark, dir), "doc_id", "text", SpanSize)

  /** DataFrame-first form with a configurable span size. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                spanSize: Int): DataFrame = {
    require(spanSize >= 1, "spanSize must be positive")
    val spans = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, (size(tk) - 1) div $spanSize),
           |  c -> struct(c AS chunk_id,
           |    md5(array_join(slice(tk, c * $spanSize + 1, $spanSize), ' ')) AS h))"""
          .stripMargin)).as("s"))
      .select(col("doc_id"), col("s.chunk_id").as("chunk_id"), col("s.h").as("h"))
    val census = spans.groupBy(col("h")).agg(
      count(lit(1)).as("n_occ"),
      min(struct(col("doc_id"), col("chunk_id"))).as("first"))
    spans.join(census, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_spans"),
        sum(when(col("n_occ") > 1 &&
            !(col("first.doc_id") === col("doc_id") &&
              col("first.chunk_id") === col("chunk_id")), 1L)
          .otherwise(0L)).as("n_removable_spans"))
      .withColumn("dup_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
      .orderBy(col("doc_id"))
  }

  /** Oracle uses per-hash windows where the engine uses a census
    * aggregate + join — two independent derivations of the same report.
    */
  val spanDedupSql: String =
    s"""WITH sp AS (
       |  SELECT doc_id,
       |    [ {'chunk_id': i, 'h': md5(array_to_string(
       |        string_split(text,' ')[i*$SpanSize+1 : i*$SpanSize+$SpanSize], ' '))}
       |      FOR i IN generate_series(0, (len(string_split(text,' '))-1) // $SpanSize) ]
       |      AS ss
       |  FROM documents),
       |spans AS (
       |  SELECT doc_id, s.chunk_id AS chunk_id, s.h AS h
       |  FROM (SELECT doc_id, unnest(ss) AS s FROM sp)),
       |marked AS (
       |  SELECT doc_id, chunk_id, h,
       |    count(*) OVER (PARTITION BY h) AS n_occ,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_id) AS rn
       |  FROM spans)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |  CAST(sum(CASE WHEN n_occ > 1 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_removable_spans,
       |  round(CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
       |    AS dup_frac
       |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Sentence-level exact dedup report — the C4 recipe at its native
    * granularity (C4 deduplicated three-sentence spans; RefinedWeb
    * documents): sentences split on `[.!?]`, trimmed, empties
    * dropped, and the md5 census marks every sentence duplicated
    * ANYWHERE in the corpus. The natural-boundary member of the
    * family: [[spanDedup]] is the fixed-token grid, [[substringDedup]]
    * the offset-free variable-length chunks, this one the unit a
    * cleaning pass actually removes (a repeated disclaimer or
    * navigation line is a SENTENCE, not a token window). Sentence
    * index is the ORIGINAL split position (pre-filter) so both
    * engines agree on the canonical `min(doc, idx)` pick regardless
    * of how many empty fragments punctuation runs produce.
    *
    * Same shape and scale posture as [[spanDedup]]: row-local
    * sentence derivation, one digest-keyed census (partial+final,
    * min-struct canonical pick), one vocabulary-sized shuffle join
    * back, one doc rollup. No doc×doc comparison. A document with no
    * sentence content (empty or punctuation-only text) is ABSENT
    * from the report in both engines — not a zero row.
    */
  def sentenceDedup(spark: SparkSession, dir: String): DataFrame =
    sentenceDedup(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form over any (id, text) corpus. */
  def sentenceDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sents = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), "[.!?]").as("ss"))
      .select(col("doc_id"), explode(expr(
        """filter(transform(sequence(1, size(ss)),
          |  i -> struct(CAST(i AS BIGINT) AS idx,
          |    trim(element_at(ss, i)) AS s)),
          |  x -> x.s != '')""".stripMargin)).as("x"))
      .select(col("doc_id"), col("x.idx").as("idx"),
        md5(col("x.s")).as("h"))
    val census = sents.groupBy(col("h")).agg(
      count(lit(1)).as("n_occ"),
      min(struct(col("doc_id"), col("idx"))).as("first"))
    sents.join(census, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_sentences"),
        sum(when(col("n_occ") > 1 &&
            !(col("first.doc_id") === col("doc_id") &&
              col("first.idx") === col("idx")), 1L)
          .otherwise(0L)).as("n_removable_sentences"))
      .withColumn("dup_frac",
        round(col("n_dup_sentences").cast("double") / col("n_sentences"), 4))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[sentenceDedup]] — same split/trim/position
    * discipline, per-hash windows instead of the census aggregate.
    */
  val sentenceDedupSql: String =
    """WITH sp AS (
      |  SELECT doc_id, string_split_regex(text, '[.!?]') AS ss
      |  FROM documents),
      |sx AS (
      |  SELECT doc_id,
      |    [ {'idx': i, 'h': md5(trim(ss[i]))}
      |      FOR i IN generate_series(1, len(ss)) IF trim(ss[i]) <> '' ]
      |      AS xs
      |  FROM sp),
      |sents AS (
      |  SELECT doc_id, CAST(u.idx AS BIGINT) AS idx, u.h AS h
      |  FROM (SELECT doc_id, unnest(xs) AS u FROM sx)),
      |m AS (
      |  SELECT doc_id, idx,
      |    count(*) OVER (PARTITION BY h) AS n_occ,
      |    row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
      |  FROM sents)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
      |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_sentences,
      |  CAST(sum(CASE WHEN n_occ > 1 AND rn > 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_removable_sentences,
      |  round(CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 4) AS dup_frac
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Variable-length exact substring dedup via CONTENT-DEFINED
    * chunking — the family member [[spanDedup]]'s fixed 32-token grid
    * cannot be: a verbatim passage repeated at DIFFERENT token
    * offsets in two documents never aligns to a fixed grid, so grid
    * spans hash differently and the repeat is invisible. Here chunk
    * boundaries are cut where a token's own md5 starts with '0'
    * (probability 1/16 → mean chunk ≈ 16 tokens, the LBFS/CDC
    * anchoring idea) — boundaries depend only on CONTENT, so the two
    * copies chunk identically regardless of offset, and every chunk
    * strictly inside the repeated region hashes equal. This is the
    * scalable form of the suffix-array repeated-substring recipe
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"): a repeat of m tokens surfaces as a run of
    * consecutive duplicated chunks covering ≥ m − O(chunk) tokens
    * (only the two boundary-straddling chunks are lost), while a
    * suffix array itself has no distributed construction at 100 TB.
    *
    * Per document: `n_toks`, `n_chunks`, `dup_tokens` (tokens in
    * chunks whose digest occurs &gt; 1 times corpus-wide, same-doc
    * self-repeats included), `removable_tokens` (dup chunks that are
    * not the corpus-wide canonical `min(doc, chunk)` first occurrence
    * — what a remove-duplicates pass cuts), `max_dup_run_tokens` (the
    * longest stretch of CONSECUTIVE duplicated chunks — the
    * variable-length repeated-span length, chunk-granular), and
    * `dup_frac`. A run of duplicated chunks certifies each chunk
    * repeats SOMEWHERE, not that the concatenation repeats as a unit
    * — for verbatim single-source repeats the two coincide (identical
    * interiors chunk identically); mosaic matches can only inflate
    * the run, never hide one.
    *
    * Scale posture: chunking is ROW-LOCAL (one HOF pass per doc — no
    * per-token shuffle, ~1/16th of [[spanDedup]]'s explode volume per
    * rung); the census is the digest-keyed partial aggregate with the
    * `min(struct)` canonical pick; the run scan is a window keyed by
    * doc over its own bounded chunks. No doc×doc comparison anywhere.
    */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedup(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form over any (id, text) corpus. */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chunkExpr =
      """transform(sequence(1, size(st)), j -> struct(
        |  CAST(j AS BIGINT) AS chunk_idx,
        |  CAST((CASE WHEN j < size(st) THEN element_at(st, j + 1)
        |        ELSE size(tk) + 1 END) - element_at(st, j) AS BIGINT)
        |    AS len_toks,
        |  md5(array_join(slice(tk, element_at(st, j),
        |    (CASE WHEN j < size(st) THEN element_at(st, j + 1)
        |          ELSE size(tk) + 1 END) - element_at(st, j)), ' ')) AS h))"""
        .stripMargin
    val chunks = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      // content-defined anchors: position 1 plus every token whose own
      // md5 opens with '0' — a pure function of the token, so copies
      // of the same text chunk identically at any offset
      .withColumn("st", expr(
        """filter(sequence(1, size(tk)),
          |  i -> i = 1 OR substring(md5(element_at(tk, i)), 1, 1) = '0')"""
          .stripMargin))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_toks"),
        explode(expr(chunkExpr)).as("c"))
      .select(col("doc_id"), col("n_toks"),
        col("c.chunk_idx").as("chunk_idx"),
        col("c.len_toks").as("len_toks"), col("c.h").as("h"))
    val census = chunks.groupBy(col("h")).agg(
      count(lit(1)).as("n_occ"),
      min(struct(col("doc_id"), col("chunk_idx"))).as("first"))
    val marked = chunks.join(census, Seq("h"))
      .withColumn("dup", col("n_occ") > 1)
      .withColumn("removable", col("n_occ") > 1 &&
        !(col("first.doc_id") === col("doc_id") &&
          col("first.chunk_idx") === col("chunk_idx")))
    // gaps-and-islands in ONE pass over the marked chunks (a second
    // consumer of `marked` would redo the explode + census join):
    // consecutive dup chunks share (chunk_idx − running-dup-count), so
    // one keyed window labels islands, one (doc, isl) aggregate sums
    // runs AND carries the doc totals, and one doc rollup finishes —
    // all keyed by doc, no second corpus pass.
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("chunk_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byIsl = marked
      .withColumn("isl", when(col("dup"),
        col("chunk_idx") - sum(when(col("dup"), 1L).otherwise(0L)).over(wD)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(max(col("n_toks")).as("n_toks"), count(lit(1)).as("cnt"),
        sum(when(col("dup"), col("len_toks")).otherwise(0L)).as("dup_t"),
        sum(when(col("removable"), col("len_toks")).otherwise(0L))
          .as("rem_t"),
        sum(col("len_toks")).as("run_t"))
    byIsl.groupBy(col("doc_id"))
      .agg(max(col("n_toks")).as("n_toks"), sum(col("cnt")).as("n_chunks"),
        sum(col("dup_t")).as("dup_tokens"),
        sum(col("rem_t")).as("removable_tokens"),
        coalesce(max(when(col("isl").isNotNull, col("run_t"))), lit(0L))
          .as("max_dup_run_tokens"))
      .select(col("doc_id"), col("n_toks"), col("n_chunks"),
        col("dup_tokens"), col("removable_tokens"),
        col("max_dup_run_tokens"),
        round(col("dup_tokens").cast("double") / col("n_toks"), 4)
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[substringDedup]]: the same content-defined
    * chunking as list comprehensions, with the canonical pick as a
    * per-digest window instead of the census aggregate.
    */
  val substringDedupSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |s AS (
      |  SELECT doc_id, tk,
      |    [i FOR i IN generate_series(1, len(tk))
      |       IF i = 1 OR substring(md5(tk[i]), 1, 1) = '0'] AS st
      |  FROM t),
      |c0 AS (
      |  SELECT doc_id, len(tk) AS n_toks,
      |    [ {'chunk_idx': j,
      |       'len_toks': (CASE WHEN j < len(st) THEN st[j+1]
      |                    ELSE len(tk)+1 END) - st[j],
      |       'h': md5(array_to_string(tk[st[j] :
      |         (CASE WHEN j < len(st) THEN st[j+1] ELSE len(tk)+1 END) - 1],
      |         ' '))}
      |      FOR j IN generate_series(1, len(st)) ] AS cs
      |  FROM s),
      |c AS (
      |  SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
      |    CAST(u.chunk_idx AS BIGINT) AS chunk_idx,
      |    CAST(u.len_toks AS BIGINT) AS len_toks, u.h AS h
      |  FROM (SELECT doc_id, n_toks, unnest(cs) AS u FROM c0)),
      |m AS (
      |  SELECT *,
      |    count(*) OVER (PARTITION BY h) AS n_occ,
      |    row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx)
      |      AS rn
      |  FROM c),
      |a AS (
      |  SELECT doc_id, max(n_toks) AS n_toks,
      |    CAST(count(*) AS BIGINT) AS n_chunks,
      |    CAST(sum(CASE WHEN n_occ > 1 THEN len_toks ELSE 0 END) AS BIGINT)
      |      AS dup_tokens,
      |    CAST(sum(CASE WHEN n_occ > 1 AND rn > 1 THEN len_toks ELSE 0 END)
      |      AS BIGINT) AS removable_tokens
      |  FROM m GROUP BY doc_id),
      |r AS (
      |  SELECT doc_id, CAST(max(run_toks) AS BIGINT) AS max_run FROM (
      |    SELECT doc_id, isl, sum(len_toks) AS run_toks FROM (
      |      SELECT doc_id, len_toks,
      |        chunk_idx - row_number() OVER (PARTITION BY doc_id
      |          ORDER BY chunk_idx) AS isl
      |      FROM m WHERE n_occ > 1) GROUP BY doc_id, isl) GROUP BY doc_id)
      |SELECT a.doc_id, n_toks, n_chunks, dup_tokens, removable_tokens,
      |  CAST(coalesce(max_run, 0) AS BIGINT) AS max_dup_run_tokens,
      |  round(CAST(dup_tokens AS DOUBLE) / n_toks, 4) AS dup_frac
      |FROM a LEFT JOIN r ON a.doc_id = r.doc_id ORDER BY a.doc_id"""
      .stripMargin

  /** Curriculum ordering: assign every document a global training
    * position that (a) feeds higher-quality documents first within each
    * source and (b) round-robins across sources so no single source
    * dominates any stretch of training. Position is the CLOSED FORM
    * `(src_rank − 1) × n_sources + src_idx` — round-robin with gaps
    * where a source is exhausted — NOT a global row_number: a global
    * ordering window would funnel the whole corpus through one
    * partition, while this shape needs only a per-source ranking window
    * (keyed, scales) plus a broadcast of the |sources|-row index. The
    * in-source quality key is `n_chars` (descending, doc_id tiebreak) —
    * any per-doc score column slots in the same way.
    */
  def curriculum(spark: SparkSession, dir: String): DataFrame =
    curriculum(Tables.documents(spark, dir), "doc_id", "source", "n_chars")

  /** DataFrame-first form over any (id, source, score) corpus. */
  def curriculum(docs: DataFrame, idCol: String, srcCol: String,
                 scoreCol: String): DataFrame = {
    val d = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
      col(scoreCol).as("score"))
    // |sources|-row dimension: index each source name and carry the
    // total count; coalesce(1) so the tiny window never shuffles
    val srcIdx = d.select(col("source")).distinct().coalesce(1)
      .select(col("source"),
        row_number().over(Window.orderBy(col("source"))).cast("long").as("src_idx"),
        count(lit(1)).over(Window.partitionBy()).cast("long").as("n_sources"))
    val ranked = d.withColumn("src_rank",
      row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("score").desc, col("doc_id"))).cast("long"))
    ranked
      .join(broadcast(srcIdx), Seq("source"))
      .select(col("doc_id"), col("source"), col("src_rank"),
        ((col("src_rank") - 1) * col("n_sources") + col("src_idx"))
          .as("curriculum_pos"))
      .orderBy(col("curriculum_pos"))
  }

  val curriculumSql: String =
    """WITH s AS (
      |  SELECT source,
      |    CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS src_idx,
      |    CAST(count(*) OVER () AS BIGINT) AS n_sources
      |  FROM (SELECT DISTINCT source FROM documents)),
      |r AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS src_rank
      |  FROM documents)
      |SELECT doc_id, r.source, src_rank,
      |  (src_rank - 1) * n_sources + src_idx AS curriculum_pos
      |FROM r JOIN s ON r.source = s.source
      |ORDER BY curriculum_pos""".stripMargin

  private val QnormBins = 100

  /** Cross-source quantile normalization of a per-document score —
    * heterogeneous sources score on incompatible scales (one crawl's
    * "long document" is another's median), so a single global
    * threshold over-prunes some sources and under-prunes others; the
    * fix is to calibrate each document to its quantile WITHIN its
    * source before any global decision. Output per doc: the raw
    * score, its within-source quantile and its global quantile (the
    * midpoint convention `(below + hit/2) / n` — so the comparison of
    * the two columns is exactly the over/under-pruning diagnostic).
    *
    * Scale shape — deliberately NOT `percent_rank() OVER (PARTITION BY
    * source)`: that window funnels each source's entire corpus slice
    * through one task, the exact pattern [[curriculum]] documents as
    * the anti-shape. Instead: one 2-scalar min/max probe, one
    * |sources|×bins histogram aggregate (the whole corpus collapses to
    * a bounded frame), cumulative counts via a window over THAT tiny
    * frame, and a broadcast join back onto the corpus by (source,
    * bin). Global quantiles derive from the SAME histogram summed
    * over sources — no second corpus pass. Integer bin arithmetic on
    * the integral score keeps every count exact cross-engine; the
    * bin-granular quantile (all docs in a bin share a value) is the
    * honest price of boundedness, stated in the column names.
    */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame =
    quantileNormalize(Tables.documents(spark, dir), "doc_id", "source", "n_chars")

  /** DataFrame-first form over any (id, source, integral score) frame. */
  def quantileNormalize(docs: DataFrame, idCol: String, srcCol: String,
                        scoreCol: String): DataFrame = {
    val d = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
      col(scoreCol).cast("long").as("score"))
    val bounds = d.agg(min(col("score")).as("mn"), max(col("score")).as("mx"))
    val binned = d.crossJoin(broadcast(bounds))
      .withColumn("bin",
        ((col("score") - col("mn")) * QnormBins / (col("mx") - col("mn") + 1))
          .cast("long"))
    val hist = binned.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    // cumulative below-counts over the BOUNDED histogram frame only
    val wSrc = Window.partitionBy(col("source")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val nSrc = Window.partitionBy(col("source"))
    val srcQ = hist
      .withColumn("below", coalesce(sum(col("cnt")).over(wSrc), lit(0L)))
      .withColumn("n_src", sum(col("cnt")).over(nSrc))
    val gHist = hist.groupBy(col("bin")).agg(sum(col("cnt")).as("gcnt"))
    val wG = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, -1)
    val gQ = gHist
      .withColumn("gbelow", coalesce(sum(col("gcnt")).over(wG), lit(0L)))
      .withColumn("n_all", sum(col("gcnt")).over(Window.partitionBy()))
    binned
      .join(broadcast(srcQ.select(col("source"), col("bin"), col("below"),
        col("cnt"), col("n_src"))), Seq("source", "bin"))
      .join(broadcast(gQ.select(col("bin"), col("gbelow"), col("gcnt"), col("n_all"))),
        Seq("bin"))
      .select(col("doc_id"), col("source"), col("score"),
        round((col("below") + col("cnt") / 2.0) / col("n_src"), 4).as("q_source_bin"),
        round((col("gbelow") + col("gcnt") / 2.0) / col("n_all"), 4).as("q_global_bin"))
      .orderBy(col("doc_id"))
  }

  val quantileNormalizeSql: String =
    s"""WITH b AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents),
      |d AS (
      |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score,
      |    CAST((n_chars - mn) * $QnormBins // (mx - mn + 1) AS BIGINT) AS bin
      |  FROM documents CROSS JOIN b),
      |h AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS cnt
      |      FROM d GROUP BY 1, 2),
      |sq AS (
      |  SELECT source, bin, cnt,
      |    CAST(coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below,
      |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_src
      |  FROM h),
      |g AS (SELECT bin, CAST(sum(cnt) AS BIGINT) AS gcnt FROM h GROUP BY bin),
      |gq AS (
      |  SELECT bin, gcnt,
      |    CAST(coalesce(sum(gcnt) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gbelow,
      |    CAST(sum(gcnt) OVER () AS BIGINT) AS n_all
      |  FROM g)
      |SELECT doc_id, d.source, score,
      |  round((below + cnt / 2.0) / n_src, 4) AS q_source_bin,
      |  round((gbelow + gcnt / 2.0) / n_all, 4) AS q_global_bin
      |FROM d
      |JOIN sq ON d.source = sq.source AND d.bin = sq.bin
      |JOIN gq ON d.bin = gq.bin
      |ORDER BY doc_id""".stripMargin

  /** k-anonymity / l-diversity audit — the release-safety companion
    * to [[graft.ops.TextAnalysis.piiRedact]]: group the table by its
    * quasi-identifier columns, measure each equivalence class's size
    * `k` (how many records are indistinguishable) and its sensitive-
    * attribute diversity `l` (how many distinct sensitive values hide
    * inside), and report the CLASS-SIZE BANDS a privacy review reads:
    * classes and rows at k=1 (unique — re-identifiable outright),
    * 2–4, 5–9, 10–49, 50+, each with the band's worst and average
    * diversity. `pct_rows_bp` makes "what fraction of the table sits
    * below k=5" a one-glance number.
    *
    * Everything is exact integers (average l in milli-units via
    * truncating division). Shape: ONE keyed aggregation to the
    * class frame (the only corpus shuffle — map-side combinable),
    * then band folds on the |classes|-bounded frame; totals reach the
    * bands via a broadcast 1-row cross join.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_mktsegment").as("qi1"),
      col("c_nationkey").cast("long").as("qi2"),
      // sensitive attribute: the balance band a release would leak
      when(col("c_acctbal") < 0, "debt")
        .when(col("c_acctbal") < 5000, "mid").otherwise("high").as("sens"))
    kAnonymity(c, Seq("qi1", "qi2"), "sens")
  }

  /** DataFrame-first form over any (quasi-identifiers…, sensitive)
    * frame.
    */
  def kAnonymity(df: DataFrame, qiCols: Seq[String],
                 sensCol: String): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymity: need at least one quasi-identifier")
    val classes = df
      .groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("k"), countDistinct(col(sensCol)).as("l"))
    val banded = classes.select(
      when(col("k") === 1, 0).when(col("k") < 5, 1).when(col("k") < 10, 2)
        .when(col("k") < 50, 3).otherwise(4).as("band_id"),
      col("k"), col("l"))
    val tot = banded.agg(sum(col("k")).as("n_total"))
    banded
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        min(col("l")).as("min_l"),
        expr("sum(l) * 1000 div count(1)").as("avg_l_milli"))
      .crossJoin(broadcast(tot))
      .select(col("band_id"),
        element_at(lit(Array("k=1", "k=2-4", "k=5-9", "k=10-49", "k=50+")),
          col("band_id") + 1).as("k_band"),
        col("n_classes"), col("n_rows"), col("min_k"), col("max_k"),
        col("min_l"), col("avg_l_milli"),
        expr("n_rows * 10000 div n_total").as("pct_rows_bp"))
      .orderBy(col("band_id"))
  }

  /** l-diversity audit — the sensitive-attribute complement of
    * [[kAnonymity]]: a k-anonymous class is still unsafe when all its
    * rows share one sensitive value (the homogeneity attack), so this
    * reports, PER distinct-sensitive-count l, how many equivalence
    * classes sit at that diversity level, the rows they cover, and
    * their worst (minimum) entropy diversity. Class entropy
    * H = Σ_v (c_v/k)·ln(k/c_v) is quantized to integer micro-nats
    * per sensitive value FIRST (`round(ln(k/c_v)·1e6)·c_v`, one ln +
    * one round per cell — the [[graft.ops.Mixing.mutualInfo]]
    * discipline) and the BIGINT terms are summed and divided once by
    * k, so both engines emit identical integers. l = 1 rows are the
    * leak headline: every row in those classes discloses its
    * sensitive value exactly.
    *
    * Scale shape: one corpus aggregation to the (class, sensitive)
    * cell frame, one to the class frame, one |l|-bounded rollup; the
    * cells-to-class join is keyed by the class (AQE broadcasts the
    * bounded side).
    */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_mktsegment").as("qi1"),
      col("c_nationkey").cast("long").as("qi2"),
      when(col("c_acctbal") < 0, "debt")
        .when(col("c_acctbal") < 5000, "mid").otherwise("high").as("sens"))
    lDiversity(c, Seq("qi1", "qi2"), "sens")
  }

  /** DataFrame-first form over any (quasi-identifiers…, sensitive)
    * frame.
    */
  def lDiversity(df: DataFrame, qiCols: Seq[String],
                 sensCol: String): DataFrame = {
    require(qiCols.nonEmpty, "lDiversity: need at least one quasi-identifier")
    val qi = qiCols.map(col)
    val cells = df.groupBy(qi :+ col(sensCol).as("sens"): _*)
      .agg(count(lit(1)).as("c"))
    val cls = cells.groupBy(qi: _*)
      .agg(sum(col("c")).as("k"), count(lit(1)).as("l"))
    val scored = cells.join(cls, qiCols)
      .withColumn("term",
        expr("CAST(round(ln(CAST(k AS DOUBLE) / c) * 1e6) AS BIGINT) * c"))
      .groupBy((qi :+ col("k") :+ col("l")): _*)
      .agg(expr("sum(term) DIV k").as("h_micro"))
    val tot = scored.agg(sum(col("k")).as("n_total"))
    scored.groupBy(col("l"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        min(col("h_micro")).as("min_h_micro"))
      .crossJoin(broadcast(tot))
      .select(col("l"), col("n_classes"), col("n_rows"),
        col("min_k"), col("max_k"), col("min_h_micro"),
        expr("n_rows * 10000 DIV n_total").as("pct_rows_bp"))
      .orderBy(col("l"))
  }

  val lDiversitySql: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS qi1, CAST(c_nationkey AS BIGINT) AS qi2,
      |    CASE WHEN c_acctbal < 0 THEN 'debt'
      |         WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS sens
      |  FROM customer),
      |cells AS (
      |  SELECT qi1, qi2, sens, CAST(count(*) AS BIGINT) AS c
      |  FROM c GROUP BY 1, 2, 3),
      |cls AS (
      |  SELECT qi1, qi2, CAST(sum(c) AS BIGINT) AS k,
      |    CAST(count(*) AS BIGINT) AS l
      |  FROM cells GROUP BY 1, 2),
      |scored AS (
      |  SELECT qi1, qi2, k, l,
      |    CAST(sum(CAST(round(ln(CAST(k AS DOUBLE) / c) * 1e6) AS BIGINT)
      |             * c) // k AS BIGINT) AS h_micro
      |  FROM cells JOIN cls USING (qi1, qi2)
      |  GROUP BY qi1, qi2, k, l),
      |tot AS (SELECT CAST(sum(k) AS BIGINT) AS n_total FROM scored)
      |SELECT l, count(*) AS n_classes, CAST(sum(k) AS BIGINT) AS n_rows,
      |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k,
      |  CAST(min(h_micro) AS BIGINT) AS min_h_micro,
      |  CAST(sum(k) * 10000 // n_total AS BIGINT) AS pct_rows_bp
      |FROM scored CROSS JOIN tot
      |GROUP BY l, n_total ORDER BY l""".stripMargin

  /** Group-median missing-value imputation with a full audit trail —
    * the repair step between [[qualityFilter]] (detect) and training
    * (consume): each missing measurement is filled from its OWN
    * group's median of observed values, falling back to the global
    * median for groups with nothing observed, and every row says
    * which path filled it (`source` ∈ observed / user_median /
    * global_median) — silent imputation is how training data rots.
    * Medians, not means: one corrupted extreme value in a group
    * would otherwise become every imputed value's bias.
    *
    * The driver query treats `error`-event values as missing (the
    * test tables carry no physical NULLs) — the DataFrame-first form
    * takes any missingness predicate column.
    *
    * Determinism: values quantize to milli-units first, so both
    * engines take medians of identical integer multisets (even-count
    * medians interpolate to the same (a+b)/2 double); output rounds
    * once.
    *
    * Scale posture: one observed-values aggregate per group (keyed
    * shuffle, partial-agg percentile), a group-keyed equi-join back,
    * one 1-row global broadcast. No windows, no driver state.
    */
  def impute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    impute(e.withColumn("missing", col("event_type") === "error"),
      "event_id", "user_id", "value", "missing")
  }

  /** DataFrame-first form: rows where `missingCol` is true get their
    * `valCol` imputed from the group median.
    */
  def impute(df: DataFrame, idCol: String, groupCol: String,
             valCol: String, missingCol: String): DataFrame = {
    val rows = df.select(col(idCol).as("id"), col(groupCol).as("g"),
      round(col(valCol) * 1000).cast("long").as("vm"),
      col(missingCol).cast("boolean").as("miss"))
    val obs = rows.filter(!col("miss"))
    val medg = obs.agg(median(col("vm")).as("mg"))
    val medu = obs.groupBy(col("g")).agg(median(col("vm")).as("mu"))
    rows.join(medu, Seq("g"), "left")
      .crossJoin(broadcast(medg))
      .select(col("id"),
        round(when(!col("miss"), col("vm").cast("double"))
          .when(col("mu").isNotNull, col("mu"))
          .otherwise(col("mg")) / 1000.0, 4).as("value_imputed"),
        when(!col("miss"), "observed")
          .when(col("mu").isNotNull, "group_median")
          .otherwise("global_median").as("source"))
      .orderBy(col("id"))
  }

  /** DuckDB twin of [[impute]]: identical milli medians and fallback
    * ladder.
    */
  val imputeSql: String =
    """WITH rows_ AS (
      |  SELECT event_id AS id, user_id AS g,
      |    CAST(round(value * 1000) AS BIGINT) AS vm,
      |    (event_type = 'error') AS miss
      |  FROM events),
      |obs AS (SELECT g, vm FROM rows_ WHERE NOT miss),
      |mg AS (SELECT median(vm) AS mg FROM obs),
      |mu AS (SELECT g, median(vm) AS mu FROM obs GROUP BY g)
      |SELECT id,
      |  round(CASE WHEN NOT miss THEN CAST(vm AS DOUBLE)
      |    WHEN mu IS NOT NULL THEN mu ELSE mg.mg END / 1000.0, 4)
      |    AS value_imputed,
      |  CASE WHEN NOT miss THEN 'observed'
      |    WHEN mu IS NOT NULL THEN 'group_median'
      |    ELSE 'global_median' END AS source
      |FROM rows_ LEFT JOIN mu USING (g) CROSS JOIN mg
      |ORDER BY id""".stripMargin

  /** t-closeness audit — the third privacy gate after [[kAnonymity]]
    * (class sizes) and [[lDiversity]] (sensitive variety): a class can
    * be large AND diverse yet still leak when its sensitive
    * DISTRIBUTION differs sharply from the global one (skewness
    * attack). For an ORDERED sensitive attribute the distance is the
    * 1-D earth-mover's distance — the sum of absolute cumulative-
    * distribution gaps over the value order, normalized by (m−1).
    * Computed EXACTLY: per ordered position, |cumc·N − cumg·k| is an
    * exact integer on the common denominator k·N (DECIMAL(38,0) /
    * HUGEINT — the product passes 2^63 once classes and corpora reach
    * ~10^8 rows each), summed and divided ONCE into ppm by truncating
    * division. Missing (class, value) cells are grid-filled with zero
    * — dropping them would silently shrink a cumulative gap (the
    * [[graft.ops.Diagnostics]] chi-square full-grid rule). Emits the
    * 20 worst classes by (t_ppm, qi) — the rows a release reviewer
    * reads first.
    *
    * Scale shape: one corpus aggregation to the (class, value) cells;
    * the m-row ordered-value frame and the 1-row N broadcast; the cum
    * window partitions by class over exactly m rows. The global cum
    * runs on the m-row bounded frame (unpartitioned window over a
    * post-aggregate frame bounded by the attribute's cardinality).
    */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_mktsegment").as("qi1"),
      col("c_nationkey").cast("long").as("qi2"),
      when(col("c_acctbal") < 0, "debt")
        .when(col("c_acctbal") < 5000, "mid").otherwise("high").as("sens"))
    tCloseness(c, Seq("qi1", "qi2"), "sens", Seq("debt", "mid", "high"))
  }

  /** DataFrame-first form; `sensOrder` fixes the attribute's value
    * order (the EMD ground metric — unit spacing between neighbors).
    */
  def tCloseness(df: DataFrame, qiCols: Seq[String], sensCol: String,
                 sensOrder: Seq[String]): DataFrame = {
    require(qiCols.nonEmpty, "tCloseness: need at least one quasi-identifier")
    require(sensOrder.size >= 2, "tCloseness: need an ordered domain of >= 2")
    val spark = df.sparkSession
    import org.apache.spark.sql.types.DecimalType
    val qi = qiCols.map(col)
    val m = sensOrder.size
    // Loud domain check (1-row aggregate, never a distinct collect): a
    // sensitive value observed in the data but absent from `sensOrder`
    // (or a NULL) would be counted in every class's k and in N while
    // being excluded from the CDF grid, silently inflating every
    // class's EMD — and identically in any SQL twin, so no oracle can
    // catch it. Audits must fail loudly on an incomplete ground metric.
    val nOutside = df
      .filter(col(sensCol).isNull || !col(sensCol).isin(sensOrder: _*))
      .count()
    require(nOutside == 0L,
      s"tCloseness: $nOutside rows carry NULL or sensitive values outside " +
        s"sensOrder(${sensOrder.mkString(", ")}) — the EMD ground metric " +
        "must cover the observed domain")
    val cells = df.groupBy(qi :+ col(sensCol).as("sens"): _*)
      .agg(count(lit(1)).as("c"))
    val cls = cells.groupBy(qi: _*).agg(sum(col("c")).as("k"))
    val glob = cells.groupBy(col("sens")).agg(sum(col("c")).as("g"))
    // ordered domain with global cumulative counts — an m-row frame
    val vals = spark.createDataFrame(
      sensOrder.zipWithIndex.map { case (v, i) => (v, i + 1) })
      .toDF("sens", "idx")
    val gc = vals.join(glob, Seq("sens"), "left")
      .na.fill(0L, Seq("g"))
      .withColumn("cumg", sum(col("g"))
        .over(Window.orderBy(col("idx"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("sens"), col("idx"), col("cumg"))
    val nTot = glob.agg(sum(col("g")).as("n_tot"))
    val wCls = Window.partitionBy(qi: _*).orderBy(col("idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cls.crossJoin(broadcast(gc))
      .join(cells, qiCols :+ "sens", "left")
      .na.fill(0L, Seq("c"))
      .withColumn("cumc", sum(col("c")).over(wCls))
      .crossJoin(broadcast(nTot))
      .groupBy((qi :+ col("k") :+ col("n_tot")): _*)
      .agg(sum(abs(col("cumc").cast(DecimalType(38, 0)) * col("n_tot")
        - col("cumg").cast(DecimalType(38, 0)) * col("k"))).as("d"))
      .select((qi :+ col("k") :+
        expr(s"CAST(CAST(d AS DECIMAL(38,0)) * 1000000 DIV (k * n_tot * ${m - 1}) AS BIGINT)")
          .as("t_ppm")): _*)
      .orderBy(col("t_ppm").desc +: qi: _*)
      .limit(20)
  }

  val tClosenessSql: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS qi1, CAST(c_nationkey AS BIGINT) AS qi2,
      |    CASE WHEN c_acctbal < 0 THEN 'debt'
      |         WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS sens
      |  FROM customer),
      |cells AS (
      |  SELECT qi1, qi2, sens, CAST(count(*) AS BIGINT) AS cv
      |  FROM c GROUP BY 1, 2, 3),
      |cls AS (
      |  SELECT qi1, qi2, CAST(sum(cv) AS BIGINT) AS k
      |  FROM cells GROUP BY 1, 2),
      |vals(sens, idx) AS (VALUES ('debt', 1), ('mid', 2), ('high', 3)),
      |gsum AS (SELECT sens, CAST(sum(cv) AS BIGINT) AS g
      |         FROM cells GROUP BY 1),
      |gc AS (
      |  SELECT v.sens, v.idx,
      |    CAST(sum(coalesce(g, 0)) OVER (ORDER BY v.idx) AS BIGINT) AS cumg
      |  FROM vals v LEFT JOIN gsum USING (sens)),
      |nt AS (SELECT CAST(sum(g) AS BIGINT) AS n_tot FROM gsum),
      |grid AS (
      |  SELECT cls.qi1, cls.qi2, cls.k, gc.idx, gc.cumg,
      |    coalesce(cells.cv, 0) AS cv, gc.sens
      |  FROM cls CROSS JOIN gc
      |  LEFT JOIN cells USING (qi1, qi2, sens)),
      |cum AS (
      |  SELECT qi1, qi2, k, idx, cumg,
      |    CAST(sum(cv) OVER (PARTITION BY qi1, qi2 ORDER BY idx) AS BIGINT)
      |      AS cumc
      |  FROM grid),
      |d AS (
      |  SELECT qi1, qi2, k,
      |    sum(abs(CAST(cumc AS HUGEINT) * n_tot
      |            - CAST(cumg AS HUGEINT) * k)) AS dd,
      |    any_value(n_tot) AS n_tot
      |  FROM cum CROSS JOIN nt GROUP BY qi1, qi2, k)
      |SELECT qi1, qi2, k,
      |  CAST(dd * 1000000 // (k * n_tot * 2) AS BIGINT) AS t_ppm
      |FROM d
      |ORDER BY t_ppm DESC, qi1, qi2
      |LIMIT 20""".stripMargin

  /** Training-example context windows — the tokenizer-side windowing
    * pass that turns variable-length documents into fixed-size model
    * inputs: per document, whitespace-token windows of size 512 with
    * stride 384 (128-token overlap carries context across the cut).
    * Emits (doc_id, win_idx, tok_start, tok_len, n_tokens); the last
    * window keeps the tail (length in [129, 512] — a pure-integer
    * window count `1 + (n − 129) DIV 384` for n > 512, identical in
    * both engines; short docs emit exactly one window of their full
    * length).
    *
    * Scale shape: perfectly row-local — one `sequence` explode per
    * document, no shuffle at all until the output sort; at 100 TB
    * this runs at scan speed and the output is ~n_tokens/384 rows per
    * doc. The downstream packer is [[packChunks]]'s greedy pass.
    */
  def contextWindows(spark: SparkSession, dir: String): DataFrame =
    contextWindows(Tables.documents(spark, dir), "doc_id", "text", 512, 384)

  /** DataFrame-first form; `winTok` is the window size in tokens,
    * `stride` the start-to-start distance (overlap = winTok − stride).
    */
  def contextWindows(docs: DataFrame, idCol: String, textCol: String,
                     winTok: Int, stride: Int): DataFrame = {
    require(winTok > 0 && stride > 0 && stride <= winTok,
      s"contextWindows: need 0 < stride <= winTok, got ($winTok, $stride)")
    val minTail = winTok - stride + 1 // shortest possible last window
    docs
      .select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n"))
      .select(col("doc_id"), col("n"), explode(expr(
        s"sequence(0L, CASE WHEN n <= $winTok THEN 0L ELSE (n - $minTail) DIV $stride END)"))
        .as("i"))
      .select(col("doc_id"), col("i").as("win_idx"),
        (col("i") * stride).as("tok_start"),
        least(lit(winTok.toLong), col("n") - col("i") * stride).as("tok_len"),
        col("n").as("n_tokens"))
      .orderBy(col("doc_id"), col("win_idx"))
  }

  val contextWindowsSql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, n,
      |    unnest(generate_series(0,
      |      CASE WHEN n <= 512 THEN 0 ELSE (n - 129) // 384 END)) AS i
      |  FROM d)
      |SELECT doc_id, CAST(i AS BIGINT) AS win_idx,
      |  CAST(i * 384 AS BIGINT) AS tok_start,
      |  CAST(least(512, n - i * 384) AS BIGINT) AS tok_len,
      |  n AS n_tokens
      |FROM w ORDER BY doc_id, win_idx""".stripMargin

  val kAnonymitySql: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS qi1, CAST(c_nationkey AS BIGINT) AS qi2,
      |    CASE WHEN c_acctbal < 0 THEN 'debt'
      |         WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS sens
      |  FROM customer),
      |cls AS (
      |  SELECT qi1, qi2, count(*) AS k, count(DISTINCT sens) AS l
      |  FROM c GROUP BY qi1, qi2),
      |b AS (
      |  SELECT CASE WHEN k = 1 THEN 0 WHEN k < 5 THEN 1 WHEN k < 10 THEN 2
      |    WHEN k < 50 THEN 3 ELSE 4 END AS band_id, k, l
      |  FROM cls),
      |t AS (SELECT CAST(sum(k) AS BIGINT) AS n_total FROM b),
      |a AS (
      |  SELECT band_id, count(*) AS n_classes,
      |    CAST(sum(k) AS BIGINT) AS n_rows,
      |    CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k,
      |    CAST(min(l) AS BIGINT) AS min_l,
      |    CAST(sum(l) * 1000 // count(*) AS BIGINT) AS avg_l_milli
      |  FROM b GROUP BY band_id)
      |SELECT band_id,
      |  ['k=1', 'k=2-4', 'k=5-9', 'k=10-49', 'k=50+'][band_id + 1] AS k_band,
      |  n_classes, n_rows, min_k, max_k, min_l, avg_l_milli,
      |  CAST(n_rows * 10000 // n_total AS BIGINT) AS pct_rows_bp
      |FROM a, t ORDER BY band_id""".stripMargin
}
