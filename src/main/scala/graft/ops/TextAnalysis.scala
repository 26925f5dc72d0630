package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (driver north star; the reference
  * framework itself is data-agnostic, see SURVEY.md §0).
  *
  * All operators are single-pass, row-local projections (no shuffle
  * until the final small aggregation), built from codegen'd string
  * functions — at 100 TB these run at scan speed, bounded by parquet
  * decode.
  */
object TextAnalysis {

  private def toks: Column = split(col("text"), " ")

  /** Canonical-rename helper: every operator's DataFrame-first form
    * binds caller column names onto the canonical (doc_id, text, …)
    * names its body uses.
    */
  private def canon(docs: DataFrame, renames: (String, String)*): DataFrame =
    docs.select(renames.map { case (from, to) => col(from).as(to) }: _*)

  /** Corpus statistics per (lang, source): document counts, char and
    * whitespace-token distributions. Partial aggregation keeps the
    * shuffle at |lang|×|source| rows.
    */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    textStats(Tables.documents(spark, dir), "lang", "source", "text", "n_chars")

  /** DataFrame-first form. */
  def textStats(docs: DataFrame, langCol: String, sourceCol: String,
                textCol: String, nCharsCol: String): DataFrame =
    canon(docs, langCol -> "lang", sourceCol -> "source",
        textCol -> "text", nCharsCol -> "n_chars")
      .select(col("lang"), col("source"), col("n_chars"),
        size(toks).cast("long").as("n_toks"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_toks")).as("sum_toks"),
        round(avg(col("n_toks")), 2).as("avg_toks"))
      .orderBy(col("lang"), col("source"))

  val textStatsSql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  round(avg(n_chars), 2) AS avg_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_toks,
      |  round(avg(len(string_split(text, ' '))), 2) AS avg_toks
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single other chars). Pure projection —
    * scan-speed at any scale.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    tokenCount(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form. */
  def tokenCount(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    canon(docs, idCol -> "doc_id", textCol -> "text")
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  private val StopWords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Quality scoring: length / punctuation / stopword-ratio heuristics
    * bucketed into low/medium/high. Ratios are rounded before the
    * bucket comparison so the cut is reproducible cross-engine.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScore(Tables.documents(spark, dir), "doc_id", "text", "n_chars")

  /** DataFrame-first form. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String,
                   nCharsCol: String): DataFrame = {
    val stopArr = StopWords.map(w => s"'$w'").mkString("array(", ",", ")")
    canon(docs, idCol -> "doc_id", textCol -> "text", nCharsCol -> "n_chars")
      .select(col("doc_id"), col("n_chars"), col("text"),
        size(toks).cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long").as("n_punct"),
        expr(s"size(filter(split(text, ' '), t -> array_contains($stopArr, t)))")
          .cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("n_punct") / greatest(col("n_chars"), lit(1L)), 4).as("punct_ratio"),
        round(col("n_stop") / greatest(col("n_tokens"), lit(1L)), 4).as("stop_ratio"))
      .withColumn("quality",
        when(col("stop_ratio") >= 0.05 && col("n_tokens") >= 50, "high")
          .when(col("n_tokens") >= 20, "medium")
          .otherwise("low"))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String = {
    val stopList = StopWords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    round(len(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
       |          / greatest(n_chars, 1), 4) AS punct_ratio,
       |    round(len(list_filter(string_split(text, ' '),
       |                          t -> list_contains($stopList, t)))
       |          / greatest(len(string_split(text, ' ')), 1), 4) AS stop_ratio
       |  FROM documents)
       |SELECT doc_id, n_tokens, punct_ratio, stop_ratio,
       |  CASE WHEN stop_ratio >= 0.05 AND n_tokens >= 50 THEN 'high'
       |       WHEN n_tokens >= 20 THEN 'medium' ELSE 'low' END AS quality
       |FROM q ORDER BY doc_id""".stripMargin
  }

  /** Readability scoring — the Flesch reading-ease family computed
    * from the three classic cheap counts: whitespace words, sentence
    * boundaries (`[.!?]+` runs, floored at 1 so fragments don't
    * divide by zero), and vowel-group syllables (`[aeiouy]+` runs in
    * the lowercased text — the standard O(n) syllable approximation).
    * Cross-engine exactness: the counts are BIGINTs from the same
    * RE2-compatible patterns both engines run, and the score is one
    * fixed sequence of IEEE double ops over those integers, rounded
    * once at the end. A reading band (easy / standard / difficult)
    * cuts on the ROUNDED score so the bucket edge is reproducible.
    * Pure row-local projection — scan speed at any corpus size.
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    readability(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form. */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    canon(docs, idCol -> "doc_id", textCol -> "text")
      .select(col("doc_id"),
        size(toks).cast("long").as("n_words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L))
          .as("n_sentences"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
          .as("n_syllables"))
      .withColumn("flesch",
        round(lit(206.835)
          - lit(1.015) * col("n_words") / col("n_sentences")
          - lit(84.6) * col("n_syllables") / greatest(col("n_words"), lit(1L)),
          4))
      .withColumn("band",
        when(col("flesch") >= 60.0, "easy")
          .when(col("flesch") >= 30.0, "standard")
          .otherwise("difficult"))
      .orderBy(col("doc_id"))

  val readabilitySql: String =
    """WITH r AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1)
      |      AS n_sentences,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      |      AS n_syllables
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_words, n_sentences, n_syllables,
      |    round(CAST(206.835 AS DOUBLE)
      |      - CAST(1.015 AS DOUBLE) * n_words / n_sentences
      |      - CAST(84.6 AS DOUBLE) * n_syllables / greatest(n_words, 1), 4)
      |      AS flesch
      |  FROM r)
      |SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
      |  CASE WHEN flesch >= 60.0 THEN 'easy'
      |       WHEN flesch >= 30.0 THEN 'standard'
      |       ELSE 'difficult' END AS band
      |FROM s ORDER BY doc_id""".stripMargin

  /** Language identification via stopword-profile scoring plus a CJK
    * codepoint check — the classic cheap n-gram/wordlist heuristic.
    * Emits a (labelled lang × predicted lang) confusion table. The
    * heuristic is pure relational arithmetic (stopword counting +
    * greatest + a deterministic tie-break CASE), so it IS
    * oracle-checkable: [[langIdSql]] replicates it in DuckDB
    * (list_filter/list_contains; the CJK class in RE2 syntax).
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langId(Tables.documents(spark, dir), "lang", "text")

  /** DataFrame-first form: `langCol` is the labelled language. */
  def langId(docs: DataFrame, langCol: String, textCol: String): DataFrame = {
    val profiles = Map(
      "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
      "es" -> Seq("el", "la", "de", "los", "que", "y", "un"),
      "fr" -> Seq("le", "la", "les", "et", "des", "une", "est"))
    def score(words: Seq[String]): Column = {
      val arr = words.map(w => s"'$w'").mkString("array(", ",", ")")
      expr(s"size(filter(split(text, ' '), t -> array_contains($arr, t)))")
    }
    val scored = canon(docs, langCol -> "lang", textCol -> "text")
      .withColumn("s_en", score(profiles("en")))
      .withColumn("s_de", score(profiles("de")))
      .withColumn("s_es", score(profiles("es")))
      .withColumn("s_fr", score(profiles("fr")))
      .withColumn("has_cjk", col("text").rlike("[\\u4e00-\\u9fff]"))
    val best = greatest(col("s_en"), col("s_de"), col("s_es"), col("s_fr"))
    scored
      .withColumn("pred_lang",
        when(col("has_cjk"), "zh")
          .when(best === 0, "unknown")
          .when(col("s_en") === best, "en")   // deterministic tie priority
          .when(col("s_de") === best, "de")
          .when(col("s_es") === best, "es")
          .otherwise("fr"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val langIdSql: String = {
    def arr(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ",", "]")
    val en = arr(Seq("the", "a", "of", "and", "to", "in", "is"))
    val de = arr(Seq("der", "die", "das", "und", "ist", "nicht", "ein"))
    val es = arr(Seq("el", "la", "de", "los", "que", "y", "un"))
    val fr = arr(Seq("le", "la", "les", "et", "des", "une", "est"))
    s"""WITH s AS (
       |  SELECT lang,
       |    len(list_filter(string_split(text, ' '), t -> list_contains($en, t))) AS s_en,
       |    len(list_filter(string_split(text, ' '), t -> list_contains($de, t))) AS s_de,
       |    len(list_filter(string_split(text, ' '), t -> list_contains($es, t))) AS s_es,
       |    len(list_filter(string_split(text, ' '), t -> list_contains($fr, t))) AS s_fr,
       |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk
       |  FROM documents),
       |p AS (
       |  SELECT lang,
       |    CASE WHEN has_cjk THEN 'zh'
       |         WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
       |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
       |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
       |         WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
       |         ELSE 'fr' END AS pred_lang
       |  FROM s)
       |SELECT lang, pred_lang, count(*) AS n
       |FROM p GROUP BY lang, pred_lang
       |ORDER BY lang, pred_lang""".stripMargin
  }

  /** Per-class evaluation of the [[langId]] heuristic against the gold
    * `lang` labels — the confusion matrix distilled to the metrics an
    * ML pipeline actually gates on: per label (union of observed true
    * and predicted classes) the true/predicted totals, true positives,
    * and precision / recall / F1. All counts are exact BIGINTs off the
    * confusion frame; each ratio is ONE shared double division
    * (F1 via the identity 2·tp/(n_true+n_pred) — no compounding of
    * two rounded ratios), NULL where its denominator is empty.
    *
    * Scale posture: the corpus pass is [[langId]]'s single aggregate;
    * everything here folds the |classes|²-bounded confusion frame
    * through broadcast joins.
    */
  def classifierEval(spark: SparkSession, dir: String): DataFrame =
    classifierEval(langId(spark, dir), "lang", "pred_lang", "n")

  /** DataFrame-first form over any (true, predicted, count) confusion
    * frame.
    */
  def classifierEval(conf: DataFrame, trueCol: String, predCol: String,
                     nCol: String): DataFrame = {
    val c = conf.select(col(trueCol).as("t"), col(predCol).as("p"),
      col(nCol).cast("long").as("n"))
    val tt = c.groupBy(col("t")).agg(sum(col("n")).as("n_true"))
    val pt = c.groupBy(col("p")).agg(sum(col("n")).as("n_pred"))
    val cls = tt.select(col("t").as("label"))
      .unionByName(pt.select(col("p").as("label"))).distinct()
    val tp = c.filter(col("t") === col("p"))
      .select(col("t").as("label"), col("n").as("tp"))
    cls
      .join(broadcast(tt.withColumnRenamed("t", "label")), Seq("label"), "left")
      .join(broadcast(pt.withColumnRenamed("p", "label")), Seq("label"), "left")
      .join(broadcast(tp), Seq("label"), "left")
      .na.fill(0L, Seq("n_true", "n_pred", "tp"))
      .select(col("label"), col("n_true"), col("n_pred"), col("tp"),
        when(col("n_pred") === 0, lit(null))
          .otherwise(round(col("tp").cast("double") / col("n_pred"), 6))
          .as("precision"),
        when(col("n_true") === 0, lit(null))
          .otherwise(round(col("tp").cast("double") / col("n_true"), 6))
          .as("recall"),
        round(lit(2d) * col("tp") / (col("n_true") + col("n_pred")), 6)
          .as("f1"))
      .orderBy(col("label"))
  }

  /** Cohen's κ chance-corrected agreement between the gold labels and
    * the [[langId]] prediction — one row: κ = (po − pe)/(1 − pe)
    * computed as the single exact-integer ratio
    * (agree·N − Σ_c true_c·pred_c) / (N² − Σ_c true_c·pred_c), so the
    * only float op is the final division + round. NULL when chance
    * agreement is total (pe = 1).
    */
  def cohenKappa(spark: SparkSession, dir: String): DataFrame =
    cohenKappa(langId(spark, dir), "lang", "pred_lang", "n")

  /** DataFrame-first form over a confusion frame. */
  def cohenKappa(conf: DataFrame, trueCol: String, predCol: String,
                 nCol: String): DataFrame = {
    val c = conf.select(col(trueCol).as("t"), col(predCol).as("p"),
      col(nCol).cast("long").as("n"))
    val tt = c.groupBy(col("t")).agg(sum(col("n")).as("n_true"))
    val pt = c.groupBy(col("p")).agg(sum(col("n")).as("n_pred"))
    val margins = tt
      .join(pt, col("t") === col("p"), "full_outer")
      .select(coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"))
      .agg(sum(col("n_true") * col("n_pred")).as("pe_num"))
    val totals = c.agg(sum(col("n")).as("n_docs"),
      coalesce(sum(when(col("t") === col("p"), col("n"))), lit(0L))
        .as("n_agree"))
    totals.crossJoin(broadcast(margins))
      .select(col("n_docs"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n_docs"), 6).as("po"),
        round(col("pe_num").cast("double") /
          (col("n_docs") * col("n_docs")), 6).as("pe"),
        when(col("n_docs") * col("n_docs") === col("pe_num"), lit(null))
          .otherwise(round(
            (col("n_agree") * col("n_docs") - col("pe_num")).cast("double") /
              (col("n_docs") * col("n_docs") - col("pe_num")), 6))
          .as("kappa"))
  }

  /** The confusion CTE chain shared by the two eval oracles below —
    * [[langIdSql]]'s scoring verbatim, aggregated to (t, p, n).
    */
  private def confusionCtes: String = {
    def arr(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ",", "]")
    val en = arr(Seq("the", "a", "of", "and", "to", "in", "is"))
    val de = arr(Seq("der", "die", "das", "und", "ist", "nicht", "ein"))
    val es = arr(Seq("el", "la", "de", "los", "que", "y", "un"))
    val fr = arr(Seq("le", "la", "les", "et", "des", "une", "est"))
    s"""s AS (
       |  SELECT lang,
       |    len(list_filter(string_split(text, ' '), t -> list_contains($en, t))) AS s_en,
       |    len(list_filter(string_split(text, ' '), t -> list_contains($de, t))) AS s_de,
       |    len(list_filter(string_split(text, ' '), t -> list_contains($es, t))) AS s_es,
       |    len(list_filter(string_split(text, ' '), t -> list_contains($fr, t))) AS s_fr,
       |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk
       |  FROM documents),
       |pp AS (
       |  SELECT lang,
       |    CASE WHEN has_cjk THEN 'zh'
       |         WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
       |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
       |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
       |         WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
       |         ELSE 'fr' END AS pred_lang
       |  FROM s),
       |conf AS (
       |  SELECT lang AS t, pred_lang AS p, CAST(count(*) AS BIGINT) AS n
       |  FROM pp GROUP BY 1, 2)""".stripMargin
  }

  val classifierEvalSql: String =
    s"""WITH $confusionCtes,
       |tt AS (SELECT t, CAST(sum(n) AS BIGINT) AS n_true FROM conf GROUP BY t),
       |pt AS (SELECT p, CAST(sum(n) AS BIGINT) AS n_pred FROM conf GROUP BY p),
       |cls AS (SELECT t AS label FROM tt UNION SELECT p FROM pt),
       |tp AS (SELECT t AS label, n AS tp FROM conf WHERE t = p)
       |SELECT label, COALESCE(n_true, 0) AS n_true,
       |  COALESCE(n_pred, 0) AS n_pred, COALESCE(tp, 0) AS tp,
       |  CASE WHEN COALESCE(n_pred, 0) = 0 THEN NULL
       |       ELSE round(CAST(COALESCE(tp, 0) AS DOUBLE) / n_pred, 6)
       |  END AS precision,
       |  CASE WHEN COALESCE(n_true, 0) = 0 THEN NULL
       |       ELSE round(CAST(COALESCE(tp, 0) AS DOUBLE) / n_true, 6)
       |  END AS recall,
       |  round(2.0 * COALESCE(tp, 0)
       |        / (COALESCE(n_true, 0) + COALESCE(n_pred, 0)), 6) AS f1
       |FROM cls
       |LEFT JOIN tt ON cls.label = tt.t
       |LEFT JOIN pt ON cls.label = pt.p
       |LEFT JOIN tp USING (label)
       |ORDER BY label""".stripMargin

  val cohenKappaSql: String =
    s"""WITH $confusionCtes,
       |tt AS (SELECT t, CAST(sum(n) AS BIGINT) AS n_true FROM conf GROUP BY t),
       |pt AS (SELECT p, CAST(sum(n) AS BIGINT) AS n_pred FROM conf GROUP BY p),
       |pe AS (
       |  SELECT CAST(sum(COALESCE(n_true, 0) * COALESCE(n_pred, 0)) AS BIGINT)
       |    AS pe_num
       |  FROM tt FULL OUTER JOIN pt ON tt.t = pt.p),
       |tot AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       |    CAST(COALESCE(sum(CASE WHEN t = p THEN n END), 0) AS BIGINT)
       |      AS n_agree
       |  FROM conf)
       |SELECT n_docs, n_agree,
       |  round(CAST(n_agree AS DOUBLE) / n_docs, 6) AS po,
       |  round(CAST(pe_num AS DOUBLE) / (n_docs * n_docs), 6) AS pe,
       |  CASE WHEN n_docs * n_docs = pe_num THEN NULL
       |       ELSE round(CAST(n_agree * n_docs - pe_num AS DOUBLE)
       |                  / (n_docs * n_docs - pe_num), 6)
       |  END AS kappa
       |FROM tot CROSS JOIN pe""".stripMargin

  /** Corpus TF-IDF: top-5 terms per language by tf·idf, where
    * tf(lang, term) = occurrences of term in that language's documents
    * and idf(term) = ln(N / df) over document frequency. Three keyed
    * aggregations (term counts, document frequencies, corpus size) —
    * all partial+final hash aggs — then a shuffled equi-join of the two
    * term-keyed tables (the df side is vocabulary-sized, never broadcast)
    * and a broadcast of the 1-row corpus count. The final per-language top-5
    * is the bounded [[graft.functions.TopKTermAggregator]] partial
    * aggregate — each map task emits ≤ 5 terms per language before the
    * shuffle, so an unbounded vocabulary never funnels through one
    * window task per language. Ranking key is round(score, 4) with term
    * tie-break so a last-ulp `ln` difference between engines cannot
    * reorder the cut.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame =
    tfidf(Tables.documents(spark, dir), "doc_id", "lang", "text")

  /** DataFrame-first form. */
  def tfidf(docs: DataFrame, idCol: String, langCol: String,
            textCol: String): DataFrame = {
    val d = canon(docs, idCol -> "doc_id", langCol -> "lang", textCol -> "text")
    val tok = d.select(col("doc_id"), col("lang"), explode(toks).as("term"))
    val tf = tok.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tok.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = d.agg(count(lit(1)).as("n_total"))
    // tf⋈df is a plain shuffled equi-join on `term`: both sides are
    // term-keyed aggregates, and the df side is |vocabulary|-sized — at
    // web-corpus scale that is 1e8-1e9 distinct terms, far past anything
    // broadcastable. Only the 1-row corpus count is broadcast.
    val scored = tf
      .join(df, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("score", round(col("tf") * log(col("n_total") / col("df")), 4))
    scored.groupBy(col("lang"))
      .agg(graft.functions.TopK.topKTerms(5)(col("score"), col("term")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.term").as("term"), col("col.score").as("score"))
      .orderBy(col("lang"), col("rank"))
  }

  val tfidfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT lang, term, count(*) AS tf FROM tok GROUP BY lang, term),
      |df AS (
      |  SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok)
      |  GROUP BY term),
      |total AS (SELECT count(*) AS n_total FROM documents),
      |scored AS (
      |  SELECT lang, term,
      |    round(tf * ln(CAST(n_total AS DOUBLE) / df), 4) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN total),
      |ranked AS (
      |  SELECT lang, term, score,
      |    row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS rank
      |  FROM scored)
      |SELECT lang, CAST(rank AS INT) AS rank, term, score
      |FROM ranked WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  /** Token-distribution entropy per document (a repetition/quality
    * signal: boilerplate and spam sit at low entropy, natural prose
    * high), aggregated per language. Per-doc Shannon entropy comes from
    * the algebraic identity  −Σ (c/n)·ln(c/n) = ln n − (Σ c·ln c)/n,
    * and the Σ c·ln c term is computed ROW-LOCALLY: `aggregate()` folds
    * over the doc's sorted token array counting runs, so a document
    * never leaves its row — no token-level shuffle at all, and the only
    * exchange in the whole query is the final |langs|-row aggregation.
    * (The textbook explode → count shuffle is kept as
    * [[tokenEntropyExploded]]; the spec pins that the two independent
    * derivations agree.) Type-token ratio (distinct/total) rides the
    * same fold.
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    tokenEntropy(Tables.documents(spark, dir), "doc_id", "lang", "text")

  /** DataFrame-first form. */
  def tokenEntropy(docs: DataFrame, idCol: String, langCol: String,
                   textCol: String): DataFrame = {
    val d = canon(docs, idCol -> "doc_id", langCol -> "lang", textCol -> "text")
    // fold state: (prev token, current run length, Σ closed-run c·ln c,
    // total tokens, distinct tokens)
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0.0).as("s"), lit(0L).as("n"), lit(0L).as("d"))
    def runTerm(run: Column): Column =
      when(run > 0L, run.cast("double") * log(run.cast("double")))
        .otherwise(lit(0.0))
    val folded = aggregate(
      array_sort(filter(toks, t => t =!= lit(""))), zero,
      (acc, t) => {
        val same = t === acc.getField("prev")
        struct(t.as("prev"),
          when(same, acc.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          when(same, acc.getField("s"))
            .otherwise(acc.getField("s") + runTerm(acc.getField("run"))).as("s"),
          (acc.getField("n") + 1L).as("n"),
          when(same, acc.getField("d")).otherwise(acc.getField("d") + 1L).as("d"))
      },
      acc => struct(
        (log(acc.getField("n").cast("double")) -
          (acc.getField("s") + runTerm(acc.getField("run"))) /
            acc.getField("n")).as("entropy"),
        (acc.getField("d").cast("double") / acc.getField("n")).as("ttr"),
        acc.getField("n").as("n")))
    d.select(col("lang"), folded.as("e"))
      .filter(col("e.n") > 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("e.entropy")), 4).as("avg_entropy"),
        round(min(col("e.entropy")), 4).as("min_entropy"),
        round(max(col("e.entropy")), 4).as("max_entropy"),
        round(avg(col("e.ttr")), 4).as("avg_ttr"))
      .orderBy(col("lang"))
  }

  /** The shuffle-based derivation of [[tokenEntropy]] — explode to
    * (doc, token) counts, then the identity over the count table. Kept
    * as the independent cross-validation algorithm (TextAnalysisSpec
    * pins row-local == exploded); it is also the shape to reach for
    * when the per-doc token multiset ALREADY exists as a table.
    */
  def tokenEntropyExploded(docs: DataFrame, idCol: String, langCol: String,
                           textCol: String): DataFrame = {
    val counts = canon(docs, idCol -> "doc_id", langCol -> "lang",
        textCol -> "text")
      .select(col("doc_id"), col("lang"), explode(toks).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val perDoc = counts.groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n"),
        sum(col("c") * log(col("c"))).as("s"),
        count(lit(1)).as("n_distinct"))
      .select(col("doc_id"), col("lang"),
        (log(col("n")) - col("s") / col("n")).as("entropy"),
        (col("n_distinct") / col("n")).as("ttr"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("entropy")), 4).as("avg_entropy"),
        round(min(col("entropy")), 4).as("min_entropy"),
        round(max(col("entropy")), 4).as("max_entropy"),
        round(avg(col("ttr")), 4).as("avg_ttr"))
      .orderBy(col("lang"))
  }

  val tokenEntropySql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |cnt AS (
      |  SELECT doc_id, lang, tok, count(*) AS c
      |  FROM tok WHERE tok <> '' GROUP BY doc_id, lang, tok),
      |doc AS (
      |  SELECT doc_id, lang,
      |    ln(sum(c)) - sum(c * ln(c)) / sum(c) AS entropy,
      |    count(*) * 1.0 / sum(c) AS ttr
      |  FROM cnt GROUP BY doc_id, lang)
      |SELECT lang, count(*) AS n_docs,
      |  round(avg(entropy), 4) AS avg_entropy,
      |  round(min(entropy), 4) AS min_entropy,
      |  round(max(entropy), 4) AS max_entropy,
      |  round(avg(ttr), 4) AS avg_ttr
      |FROM doc GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Text normalization: lowercase, strip non-alphanumerics, collapse
    * whitespace runs, trim. Applied to a deliberately-messed-up copy
    * of each document (padding, uppercasing, punctuation injection) so
    * the round-trip property — normalize(mess(text)) == text — is part
    * of the verified output. Pure row-local projection: scan speed at
    * any scale.
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    textNormalize(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form. */
  def textNormalize(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    canon(docs, idCol -> "doc_id", textCol -> "text")
      .withColumn("messy", concat(lit("  "), upper(col("text")), lit("!!  ")))
      .withColumn("norm",
        trim(regexp_replace(regexp_replace(lower(col("messy")), "[^a-z0-9 ]", ""), " +", " ")))
      .select(col("doc_id"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        (col("norm") === col("text")).cast("int").as("roundtrip"))
      .orderBy(col("doc_id"))

  val textNormalizeSql: String =
    """SELECT doc_id,
      |  CAST(len(n) AS BIGINT) AS n_chars_norm,
      |  CAST(n = text AS INT) AS roundtrip
      |FROM (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(
      |      lower('  ' || upper(text) || '!!  '),
      |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS n
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** PII redaction: email / phone / IP patterns replaced with typed
    * placeholders. The corpus is synthetic (no real PII), so each
    * document gets deterministic PII *injected* from its own id and
    * then redacted — the verified output includes the exactness flag
    * `clean` = "redaction removed exactly the injected PII and nothing
    * else". Patterns are deliberately anchored/literal-class regexes
    * that mean the same thing in Java regex (Spark) and RE2 (DuckDB).
    * Row-local projection: scan speed at any scale.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedact(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form (the deterministic PII injection derives from
    * the id column, so any numeric id works).
    */
  def piiRedact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    canon(docs, idCol -> "doc_id", textCol -> "text")
      .withColumn("contaminated", concat(
        col("text"),
        lit(" user"), col("doc_id"), lit("@example.com"),
        lit(" +1-555-"), (lit(1000) + col("doc_id") % 9000),
        lit(" 192.168."), col("doc_id") % 256, lit("."), (col("doc_id") * 7) % 256))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(col("contaminated"),
          "[a-z0-9]+@[a-z]+\\.[a-z]+", "<EMAIL>"),
          "\\+1-555-[0-9]{4}", "<PHONE>"),
          "192\\.168\\.[0-9]+\\.[0-9]+", "<IP>"))
      .select(col("doc_id"),
        length(col("contaminated")).cast("long").as("n_chars_in"),
        length(col("redacted")).cast("long").as("n_chars_red"),
        (col("redacted") === concat(col("text"), lit(" <EMAIL> <PHONE> <IP>")))
          .cast("int").as("clean"))
      .orderBy(col("doc_id"))

  val piiRedactSql: String =
    """WITH c AS (
      |  SELECT doc_id, text,
      |    text || ' user' || doc_id || '@example.com'
      |         || ' +1-555-' || (1000 + doc_id % 9000)
      |         || ' 192.168.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
      |      AS contaminated
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, text, contaminated,
      |    regexp_replace(regexp_replace(regexp_replace(contaminated,
      |      '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
      |      '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
      |      '192\.168\.[0-9]+\.[0-9]+', '<IP>', 'g') AS redacted
      |  FROM c)
      |SELECT doc_id,
      |  CAST(len(contaminated) AS BIGINT) AS n_chars_in,
      |  CAST(len(redacted) AS BIGINT) AS n_chars_red,
      |  CAST(redacted = text || ' <EMAIL> <PHONE> <IP>' AS INT) AS clean
      |FROM r
      |ORDER BY doc_id""".stripMargin

  /** Corpus-trained unigram language-model scoring — the classic cheap
    * perplexity proxy for quality filtering: train unigram frequencies
    * on the corpus itself, then score each document by its mean token
    * log-probability (boilerplate and keyboard-mash score low, typical
    * prose high).
    *
    * Two passes by necessity (the model IS a corpus aggregate):
    * (1) token → count, a vocabulary-sized aggregate; (2) tokens join
    * the vocabulary on `term` — a shuffled equi-join exactly like
    * [[tfidf]]'s (web-scale vocabularies are 1e8+ terms, never
    * broadcast; only the 1-row total broadcasts). Determinism: each
    * token's log-prob is quantized to integer MICRO-NATS before the
    * per-doc sum, so the BIGINT sum is order-independent and the final
    * mean divides two exact integers.
    */
  def unigramLm(spark: SparkSession, dir: String): DataFrame =
    unigramLm(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form. */
  def unigramLm(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val d = canon(docs, idCol -> "doc_id", textCol -> "text")
    val tok = d.select(col("doc_id"), explode(toks).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("tc"))
    val total = vocab.agg(sum(col("tc")).as("n_total"))
    tok
      .join(vocab, Seq("term"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(log(col("tc").cast("double") / col("n_total")) * 1e6)
          .cast("long").as("micro_lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("micro_lp")).as("sum_micro_lp"))
      .withColumn("avg_logprob",
        round(col("sum_micro_lp").cast("double") / col("n_tokens") / 1e6, 4))
      .orderBy(col("doc_id"))
  }

  val unigramLmSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |vocab AS (SELECT term, count(*) AS tc FROM tok GROUP BY term),
      |total AS (SELECT CAST(sum(tc) AS BIGINT) AS n_total FROM vocab),
      |scored AS (
      |  SELECT doc_id,
      |    CAST(round(ln(CAST(tc AS DOUBLE) / n_total) * 1e6) AS BIGINT) AS micro_lp
      |  FROM tok JOIN vocab USING (term) CROSS JOIN total),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(micro_lp) AS BIGINT) AS sum_micro_lp
      |  FROM scored GROUP BY doc_id)
      |SELECT doc_id, n_tokens, sum_micro_lp,
      |  round(CAST(sum_micro_lp AS DOUBLE) / n_tokens / 1e6, 4) AS avg_logprob
      |FROM agg ORDER BY doc_id""".stripMargin

  /** DSIR — Data Selection with Importance Resampling (Xie et al.,
    * NeurIPS 2023): score every raw document by the log importance
    * weight `ln p_target(doc) − ln p_raw(doc)` under two add-one
    * unigram LMs, one trained on the TARGET domain (here: the English
    * slice — the "looks like my fine-tuning distribution" proxy), one
    * on the whole raw corpus; the highest-weight documents are the
    * ones importance resampling would keep. This is the principled
    * replacement for "filter by heuristic quality score" when a
    * target corpus exists — the selection op next to [[pplFilter]]
    * (absolute fluency cut) and [[Curation.qualityFilter]] (rule
    * audit).
    *
    * Exactness: both LMs share one token census (target counts via
    * count_if), per-TERM weights are micro-nat integers rounded ONCE
    * from a shared double expression, and the per-doc score is an
    * order-free integer sum ([[unigramLm]]'s discipline). Add-one
    * smoothing over the shared vocabulary keeps unseen-in-target
    * terms finite and both engines identical.
    *
    * Scale posture: one token census (the corpus-sized shuffle), one
    * 1-row totals broadcast, tokens reach the weight table by a
    * vocabulary-keyed SHUFFLED equi-join (web-scale vocabularies are
    * never broadcast — the [[tfidf]] rule), one per-doc aggregate,
    * TakeOrdered top-20.
    */
  def dsir(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    dsir(d.select(col("doc_id"), col("lang"), col("text"),
      (col("lang") === "en").as("is_target")),
      "doc_id", "text", "is_target", 20)
  }

  /** DataFrame-first form: `targetCol` boolean marks the target-domain
    * slice the selection should steer toward.
    */
  def dsir(docs: DataFrame, idCol: String, textCol: String,
           targetCol: String, topN: Int): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      col(targetCol).cast("boolean").as("tgt"),
      explode(split(col(textCol), " ")).as("term"))
    val vocab = tok.groupBy(col("term"))
      .agg(count(lit(1)).as("c_all"), count_if(col("tgt")).as("c_t"))
    val totals = vocab.agg(sum(col("c_all")).as("n_all"),
      sum(col("c_t")).as("n_t"), count(lit(1)).as("v"))
    val weights = vocab.crossJoin(broadcast(totals))
      .select(col("term"),
        round((log((col("c_t") + 1).cast("double")
          / (col("n_t") + col("v")).cast("double"))
          - log((col("c_all") + 1).cast("double")
            / (col("n_all") + col("v")).cast("double"))) * 1e6)
          .cast("long").as("w_micro"))
    tok.join(weights, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_micro")).as("dsir_micro"))
      .withColumn("avg_w",
        round(col("dsir_micro").cast("double") / col("n_tokens") / 1e6, 4))
      .orderBy(col("dsir_micro").desc, col("doc_id"))
      .limit(topN)
  }

  /** DuckDB twin of [[dsir]]: one shared census, identical micro-nat
    * per-term weights, the same order-free per-doc sum and cut.
    */
  val dsirSql: String =
    """WITH tok AS (
      |  SELECT doc_id, (lang = 'en') AS tgt,
      |    unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |vocab AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS c_all,
      |    CAST(count(*) FILTER (tgt) AS BIGINT) AS c_t
      |  FROM tok GROUP BY term),
      |totals AS (
      |  SELECT CAST(sum(c_all) AS BIGINT) AS n_all,
      |    CAST(sum(c_t) AS BIGINT) AS n_t,
      |    CAST(count(*) AS BIGINT) AS v
      |  FROM vocab),
      |w AS (
      |  SELECT term,
      |    CAST(round((ln(CAST(c_t + 1 AS DOUBLE) / (n_t + v))
      |      - ln(CAST(c_all + 1 AS DOUBLE) / (n_all + v))) * 1e6)
      |      AS BIGINT) AS w_micro
      |  FROM vocab CROSS JOIN totals),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(w_micro) AS BIGINT) AS dsir_micro
      |  FROM tok JOIN w USING (term) GROUP BY doc_id)
      |SELECT doc_id, n_tokens, dsir_micro,
      |  round(CAST(dsir_micro AS DOUBLE) / n_tokens / 1e6, 4) AS avg_w
      |FROM agg
      |ORDER BY dsir_micro DESC, doc_id
      |LIMIT 20""".stripMargin

  /** Corpus-trained BIGRAM language-model scoring — the context-aware
    * step up from [[unigramLm]]: each document scored by its mean
    * conditional log-probability ln p(w₂|w₁) = ln(count(w₁w₂) /
    * count(w₁·)), the signal that separates locally-plausible word
    * salad (good unigrams, nonsense transitions) from real prose.
    * Trained on the corpus itself, so every observed bigram has
    * count ≥ 1 and no smoothing is needed.
    *
    * Bigram derivation is ROW-LOCAL (an indexed `transform` over the
    * token array — no window over the corpus-sized token stream, no
    * self-join on position). The model is two vocabulary aggregates
    * (bigram counts; prefix counts derived from the bigram frame, one
    * level smaller); tokens reach both by shuffled equi-join —
    * web-scale bigram vocabularies are 1e9+ entries, never broadcast.
    * Micro-nat integer quantization before the per-doc sum keeps the
    * score exact cross-engine ([[unigramLm]]'s discipline). Documents
    * with fewer than two tokens have no transitions and drop out.
    */
  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramLm(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form. */
  def bigramLm(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val d = canon(docs, idCol -> "doc_id", textCol -> "text")
    val big = d.select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), explode(expr(
        "transform(slice(tk, 1, size(tk) - 1), (x, i) -> x || ' ' || tk[i + 1])"))
        .as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val bc = big.groupBy(col("bg")).agg(count(lit(1)).as("bc"))
    val pc = bc.withColumn("w1", split(col("bg"), " ").getItem(0))
      .groupBy(col("w1")).agg(sum(col("bc")).as("pc"))
    big
      .join(bc, Seq("bg"))
      .join(pc, Seq("w1"))
      .select(col("doc_id"),
        round(log(col("bc").cast("double") / col("pc")) * 1e6)
          .cast("long").as("micro_lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("micro_lp")).as("sum_micro_lp"))
      .withColumn("avg_logprob",
        round(col("sum_micro_lp").cast("double") / col("n_bigrams") / 1e6, 4))
      .orderBy(col("doc_id"))
  }

  val bigramLmSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |big AS (
      |  SELECT doc_id, l[i] || ' ' || l[i + 1] AS bg, l[i] AS w1
      |  FROM t, UNNEST(range(1, len(l))) AS u(i)),
      |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS bc FROM big GROUP BY bg),
      |pc AS (SELECT w1, CAST(count(*) AS BIGINT) AS pc FROM big GROUP BY w1),
      |scored AS (
      |  SELECT doc_id,
      |    CAST(round(ln(CAST(bc AS DOUBLE) / pc) * 1e6) AS BIGINT) AS micro_lp
      |  FROM big JOIN bc USING (bg) JOIN pc USING (w1)),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(micro_lp) AS BIGINT) AS sum_micro_lp
      |  FROM scored GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, sum_micro_lp,
      |  round(CAST(sum_micro_lp AS DOUBLE) / n_bigrams / 1e6, 4) AS avg_logprob
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Keep threshold for [[pplFilter]], in micro-nats per transition:
    * keep ⇔ mean conditional log-probability ≥ −5 nats. Compared in
    * EXACT integer form (`sum_micro_lp ≥ threshold × n_bigrams`) so
    * the cut never hinges on a double rounding edge.
    */
  val PplKeepAvgMicroNats: Long = -5000000L

  /** Held-out perplexity filtering — the CCNet-family curation pass
    * (Wenzek et al., "CCNet", LREC 2020): train a smoothed bigram LM
    * on the TRAIN split of the corpus, score every held-out document
    * by its mean conditional log-probability under that model, and
    * flag the documents a perplexity cut would keep. Unlike
    * [[bigramLm]] (scored on its own training corpus, every bigram
    * seen), the scoring side here meets UNSEEN transitions, so the
    * model is add-one smoothed over the train vocabulary:
    * ln p(w₂|w₁) = ln((c(w₁w₂)+1) / (c(w₁·)+V)).
    *
    * The split is the corpus-standard [[Sampling.splitBucket]]
    * assignment (80% train), so the filter composes with
    * `q_train_split`'s artifact. Scale shape: the model is two
    * vocabulary aggregates over the train side reached by shuffled
    * equi-joins (bigram vocabularies are never broadcast); V is a
    * 1-row broadcast; scoring is one aggregate over held-out bigrams.
    * Micro-nat integer quantization before the per-doc sum keeps every
    * value exact cross-engine, and the keep flag is a pure BIGINT
    * comparison.
    */
  def pplFilter(spark: SparkSession, dir: String): DataFrame =
    pplFilter(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form over any (id, text) frame. */
  def pplFilter(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val d = canon(docs, idCol -> "doc_id", textCol -> "text")
      .withColumn("is_train", Sampling.splitBucket(col("doc_id")) < 800)
    val big = d.select(col("doc_id"), col("is_train"), toks.as("tk"))
      .select(col("doc_id"), col("is_train"), explode(expr(
        "transform(slice(tk, 1, size(tk) - 1), (x, i) -> x || ' ' || tk[i + 1])"))
        .as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val bc = big.filter(col("is_train"))
      .groupBy(col("bg")).agg(count(lit(1)).as("bc"))
    val pc = bc.withColumn("w1", split(col("bg"), " ").getItem(0))
      .groupBy(col("w1")).agg(sum(col("bc")).as("pc"))
    val v = d.filter(col("is_train"))
      .select(explode(toks).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    big.filter(!col("is_train"))
      .join(bc, Seq("bg"), "left")
      .join(pc, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      // v = 0 means the ENTIRE corpus fell on the held-out side — no
      // model exists; scores stay NULL (visible) instead of dividing
      // by zero (the driver's corpora always have train docs, so the
      // oracle never sees this branch)
      .select(col("doc_id"),
        when(col("v") > 0,
          round(log((coalesce(col("bc"), lit(0L)) + 1).cast("double") /
            (coalesce(col("pc"), lit(0L)) + col("v"))) * 1e6)
            .cast("long")).as("micro_lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("micro_lp")).as("sum_micro_lp"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_micro_lp"),
        round(col("sum_micro_lp").cast("double") / col("n_bigrams") / 1e6, 4)
          .as("avg_logprob"),
        (col("sum_micro_lp") >= lit(PplKeepAvgMicroNats) * col("n_bigrams"))
          .cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  val pplFilterSql: String =
    s"""WITH lab AS (
       |  SELECT doc_id, text,
       |    ((doc_id % 1000000007) * 2654435761) % 1000 < 800 AS is_train
       |  FROM documents),
       |t AS (SELECT doc_id, is_train, string_split(text, ' ') AS l FROM lab),
       |big AS (
       |  SELECT doc_id, is_train, l[i] || ' ' || l[i + 1] AS bg, l[i] AS w1
       |  FROM t, UNNEST(range(1, len(l))) AS u(i)),
       |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS bc
       |       FROM big WHERE is_train GROUP BY bg),
       |pc AS (SELECT string_split(bg, ' ')[1] AS w1,
       |              CAST(sum(bc) AS BIGINT) AS pc
       |       FROM bc GROUP BY 1),
       |v AS (SELECT count(DISTINCT tok) AS v
       |      FROM (SELECT unnest(l) AS tok FROM t WHERE is_train)),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(round(ln(CAST(COALESCE(bc.bc, 0) + 1 AS DOUBLE)
       |                  / (COALESCE(pc.pc, 0) + v.v)) * 1e6) AS BIGINT)
       |      AS micro_lp
       |  FROM big LEFT JOIN bc USING (bg) LEFT JOIN pc USING (w1) CROSS JOIN v
       |  WHERE NOT is_train),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(micro_lp) AS BIGINT) AS sum_micro_lp
       |  FROM scored GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, sum_micro_lp,
       |  round(CAST(sum_micro_lp AS DOUBLE) / n_bigrams / 1e6, 4) AS avg_logprob,
       |  CAST(sum_micro_lp >= $PplKeepAvgMicroNats * n_bigrams AS INT) AS keep
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Compression-ratio quality signal: DEFLATE-compressed size over
    * raw byte size, per document — the redundancy detector the
    * CCNet/Gopher filter families run alongside token-level ratios
    * (it catches sub-token and phrase-level repetition that
    * distinct-word counts can't see; boilerplate and keyboard-mash
    * land far below prose). One row-local projection at scan speed
    * through the native [[graft.functions.DeflateLen]] kernel. The
    * oracle engine has no DEFLATE → rows-only driver check; planted
    * orderings pinned in ExpressionsSpec.
    */
  def compressRatio(spark: SparkSession, dir: String): DataFrame =
    compressRatio(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form over any (id, text) frame. */
  def compressRatio(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    canon(docs, idCol -> "doc_id", textCol -> "text")
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        expr("deflate_len(text)").as("deflate_bytes"))
      .withColumn("compress_ratio",
        when(col("n_bytes") > 0,
          round(col("deflate_bytes").cast("double") / col("n_bytes"), 4)))
      .orderBy(col("doc_id"))
  }

  private val Bm25Terms = Seq("spark", "join", "window", "hash")
  private val Bm25TopN = 20

  /** BM25 relevance scoring of the corpus against a fixed query-term
    * set — the retrieval primitive behind "find the training docs most
    * relevant to X" curation passes (Okapi BM25, k1 = 1.2, b = 0.75).
    *
    * Two passes, both scan-speed: (1) ONE aggregate computes every
    * corpus statistic BM25 needs — total/doc counts for avgdl plus one
    * per-term document frequency via conditional sums — collapsing to
    * a single row that broadcasts back (never a vocabulary join: the
    * query set is tiny and fixed, so df lives in |terms| columns of
    * one row); (2) per-term tf is a row-local array filter, the score
    * a row-local expression, and the top-N cut a TakeOrdered heap —
    * nothing corpus-sized shuffles at any scale.
    *
    * Determinism: tf/df/dl/N are exact integers; avgdl divides two
    * exact integers; each term's contribution is quantized to integer
    * MICRO-units before the per-doc sum (the [[unigramLm]] discipline)
    * so the BIGINT total is association-free and the DuckDB oracle
    * matches hash-exact. Zero-score docs (no query term) are excluded.
    */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25(Tables.documents(spark, dir), "doc_id", "text", Bm25Terms, Bm25TopN)

  /** DataFrame-first form over any (id, text) frame. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], topN: Int): DataFrame = {
    require(terms.nonEmpty && topN >= 1, s"bm25: bad params $terms topN=$topN")
    val d = canon(docs, idCol -> "doc_id", textCol -> "text")
      .select(col("doc_id"), toks.as("t"))
      .withColumn("dl", size(col("t")))
    val withTf = terms.zipWithIndex.foldLeft(d) { case (df, (t, i)) =>
      df.withColumn(s"tf_$i", size(filter(col("t"), x => x === lit(t))))
    }
    val aggs = Seq(sum(col("dl")).as("sum_dl"), count(lit(1)).as("n_docs")) ++
      terms.indices.map(i =>
        sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i"))
    val stats = withTf.agg(aggs.head, aggs.tail: _*)
    val contrib = terms.indices.map { i =>
      val df = col(s"df_$i")
      val idf = log((col("n_docs") - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
      val tf = col(s"tf_$i")
      val norm = tf * lit(2.2) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      round(idf * norm * lit(1e6)).cast("long")
    }.reduce(_ + _)
    withTf
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("score_micro", contrib)
      .filter(col("score_micro") > 0)
      .select(col("doc_id"), col("dl").cast("long").as("dl"), col("score_micro"),
        round(col("score_micro").cast("double") / 1e6, 4).as("bm25"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(topN)
  }

  val bm25Sql: String = {
    val tfCols = Bm25Terms.indices.map(i =>
      s"len(list_filter(t, x -> x = '${Bm25Terms(i)}')) AS tf_$i").mkString(",\n      |    ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
      .mkString(",\n      |    ")
    val contribs = Bm25Terms.indices.map(i =>
      s"""CAST(round(ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
      |      * (tf_$i * 2.2 / (tf_$i + 1.2 * (0.25 + 0.75 * dl
      |        / (CAST(sum_dl AS DOUBLE) / n_docs)))) * 1e6) AS BIGINT)""")
      .mkString("\n      |    + ")
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |    len(string_split(text, ' ')) AS dl
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, dl,
      |    $tfCols
      |  FROM d),
      |s AS (
      |  SELECT CAST(sum(dl) AS BIGINT) AS sum_dl,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    $dfCols
      |  FROM tf),
      |sc AS (
      |  SELECT doc_id, dl,
      |    $contribs
      |    AS score_micro
      |  FROM tf CROSS JOIN s)
      |SELECT doc_id, CAST(dl AS BIGINT) AS dl, score_micro,
      |  round(CAST(score_micro AS DOUBLE) / 1e6, 4) AS bm25
      |FROM sc WHERE score_micro > 0
      |ORDER BY score_micro DESC, doc_id
      |LIMIT $Bm25TopN""".stripMargin
  }

  /** Corpus top-5 bigrams per language — the n-gram frequency report
    * behind phrase-level boilerplate detection (the doc-level
    * repetition ops can't see a phrase repeated once per document
    * across millions of documents; this table can). Bigram explosion
    * is row-local (`transform` over the token array — no per-token
    * shuffle until the (lang, bigram) aggregate), counts partial+final,
    * and the per-language top-5 rides the bounded [[graft.functions.TopK]]
    * term aggregate — ≤ 5 rows per language per map task cross the
    * shuffle, never a global sort. Ties break lexicographically so the
    * cut is deterministic.
    */
  def topNgrams(spark: SparkSession, dir: String): DataFrame =
    topNgrams(Tables.documents(spark, dir), "doc_id", "lang", "text")

  /** DataFrame-first form. */
  def topNgrams(docs: DataFrame, idCol: String, langCol: String,
                textCol: String): DataFrame = {
    val d = canon(docs, idCol -> "doc_id", langCol -> "lang", textCol -> "text")
    val grams = d.select(col("lang"), toks.as("tk"))
      .select(col("lang"), explode(expr(
        """CASE WHEN size(tk) >= 2
          |  THEN transform(sequence(0, size(tk) - 2),
          |         i -> concat_ws(' ', tk[i], tk[i + 1]))
          |  ELSE array() END""".stripMargin)).as("bigram"))
    grams.groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("cnt"))
      // TopKTerm ranks (score desc, term asc) — same cut as the oracle's
      // row_number ORDER BY cnt DESC, bigram; integer counts are exact
      // as doubles
      .groupBy(col("lang"))
      .agg(graft.functions.TopK.topKTerms(5)(col("cnt").cast("double"), col("bigram")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.term").as("bigram"), col("col.score").cast("long").as("cnt"))
      .orderBy(col("lang"), col("rank"))
  }

  val topNgramsSql: String =
    """WITH g AS (
      |  SELECT lang, unnest(CASE WHEN len(string_split(text, ' ')) >= 2
      |    THEN [array_to_string(string_split(text, ' ')[i + 1 : i + 2], ' ')
      |          FOR i IN generate_series(0, len(string_split(text, ' ')) - 2)]
      |    ELSE [] END) AS bigram
      |  FROM documents),
      |c AS (SELECT lang, bigram, count(*) AS cnt FROM g GROUP BY lang, bigram),
      |r AS (
      |  SELECT lang, bigram, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rank
      |  FROM c)
      |SELECT lang, CAST(rank AS INT) AS rank, bigram, CAST(cnt AS BIGINT) AS cnt
      |FROM r WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  private val BoilerSegTokens = 8
  private val BoilerMinDf = 3

  /** Corpus-frequency boilerplate detection (CCNet-style): split every
    * document into non-overlapping [[BoilerSegTokens]]-token segments,
    * count how many DISTINCT documents each segment text appears in,
    * and flag segments whose document frequency reaches [[BoilerMinDf]]
    * as boilerplate (navigation chrome, license headers, templated
    * spans — content that repeats across documents rather than inside
    * one). Per-document report: segment count, boilerplate-segment
    * count, boilerplate share.
    *
    * Scale shape — the same two-pass discipline as [[unigramLm]] /
    * [[tfidf]]: segment derivation is ROW-LOCAL (`transform` + `slice`
    * over the token array, no per-token shuffle); the document
    * frequency is a segment-vocabulary-keyed partial+final aggregate;
    * the df lookup joins back on the segment hash — a shuffled
    * equi-join on fixed-width values (a web-scale segment vocabulary is
    * never broadcast). Joining on the xxhash64 of the segment instead
    * of the string moves ~60-char keys through the shuffle as 8 bytes;
    * within one corpus pass a hash collision is the standard accepted
    * MinHash/shingle approximation (and the DuckDB oracle disagrees
    * only if one occurs — it hasn't at any test SF). Documents shorter
    * than one segment emit zero segments and survive via the left
    * join.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplate(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form over any (id, text) frame. */
  def boilerplate(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val d = canon(docs, idCol -> "doc_id", textCol -> "text")
    val segs = d.select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(tk) >= $BoilerSegTokens
           |  THEN transform(sequence(0, (size(tk) div $BoilerSegTokens) - 1),
           |         i -> xxhash64(concat_ws(' ',
           |                slice(tk, i * $BoilerSegTokens + 1, $BoilerSegTokens))))
           |  ELSE array() END""".stripMargin)).as("seg"))
    val df = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val per = segs.join(df, Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum((col("df") >= BoilerMinDf).cast("long")).as("n_boiler"))
    d.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_segs", "n_boiler"))
      .withColumn("boiler_share",
        when(col("n_segs") > 0,
          round(col("n_boiler").cast("double") / col("n_segs"), 4))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  val boilerplateSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |segs AS (
      |  SELECT doc_id, unnest(CASE WHEN len(tk) >= $BoilerSegTokens
      |    THEN [array_to_string(tk[i * $BoilerSegTokens + 1 : (i + 1) * $BoilerSegTokens], ' ')
      |          FOR i IN generate_series(0, len(tk) // $BoilerSegTokens - 1)]
      |    ELSE [] END) AS seg
      |  FROM d),
      |f AS (SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg),
      |per AS (
      |  SELECT s.doc_id, count(*) AS n_segs,
      |    sum(CASE WHEN f.df >= $BoilerMinDf THEN 1 ELSE 0 END) AS n_boiler
      |  FROM segs s JOIN f USING (seg) GROUP BY s.doc_id)
      |SELECT doc_id,
      |  CAST(coalesce(n_segs, 0) AS BIGINT) AS n_segs,
      |  CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler,
      |  CASE WHEN coalesce(n_segs, 0) > 0
      |       THEN round(CAST(n_boiler AS DOUBLE) / n_segs, 4) ELSE 0.0 END
      |    AS boiler_share
      |FROM documents LEFT JOIN per USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  private val VocabTopK = 20

  /** Per-language vocabulary-coverage report: vocabulary size, hapax
    * (frequency-1) count, total token occurrences, and the share of
    * all occurrences covered by the top-[[VocabTopK]] tokens — the
    * Zipf-head diagnostic a corpus builder reads before sizing a
    * tokenizer vocabulary or spotting a degenerate source (a
    * template-heavy source shows an abnormally fat head; OCR noise an
    * abnormal hapax rate).
    *
    * ONE pass per level: tokens aggregate to (lang, term, count) with
    * map-side combine — the only corpus-sized shuffle — then a single
    * per-language aggregate computes vocab/hapax/total AND the top-k
    * head via the bounded [[graft.functions.TopK]] term aggregator in
    * the same partial+final pass (≤ k rows per language per map task;
    * no window, no global sort, no second read of the term counts).
    * The head share is tie-break-invariant: equal-count tokens at the
    * k boundary contribute the same sum whichever wins the tie.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame =
    vocabCoverage(Tables.documents(spark, dir), "lang", "text")

  /** DataFrame-first form over any (group, text) frame. */
  def vocabCoverage(docs: DataFrame, langCol: String, textCol: String): DataFrame = {
    val d = canon(docs, langCol -> "lang", textCol -> "text")
    d.select(col("lang"), explode(toks).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("vocab"),
        sum((col("c") === 1).cast("long")).as("hapax"),
        sum(col("c")).as("total_toks"),
        graft.functions.TopK.topKTerms(VocabTopK)(
          col("c").cast("double"), col("term")).as("top"))
      .select(col("lang"), col("vocab"), col("hapax"), col("total_toks"),
        expr("CAST(aggregate(top, 0D, (acc, x) -> acc + x.score) AS BIGINT)")
          .as("topk_occ"))
      .withColumn("topk_share",
        round(col("topk_occ").cast("double") / col("total_toks"), 4))
      .orderBy(col("lang"))
  }

  val vocabCoverageSql: String =
    s"""WITH tok AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
      |c AS (SELECT lang, term, count(*) AS c FROM tok GROUP BY lang, term),
      |r AS (
      |  SELECT lang, c,
      |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, term) AS rk
      |  FROM c)
      |SELECT lang,
      |  CAST(count(*) AS BIGINT) AS vocab,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |  CAST(sum(c) AS BIGINT) AS total_toks,
      |  CAST(sum(CASE WHEN rk <= $VocabTopK THEN c ELSE 0 END) AS BIGINT) AS topk_occ,
      |  round(CAST(sum(CASE WHEN rk <= $VocabTopK THEN c ELSE 0 END) AS DOUBLE)
      |        / sum(c), 4) AS topk_share
      |FROM r GROUP BY lang ORDER BY lang""".stripMargin

  /** Ladder points for [[heapsLaw]] — a fixed 10-step prefix grid so
    * the log-log fit's point count is corpus-size-independent.
    */
  val HeapsDeciles = 10

  /** Heaps/Herdan vocabulary-growth law fit V ≈ K·N^β — the
    * complement of [[zipfFit]] (Zipf describes the frequency RANKING,
    * Heaps how the vocabulary GROWS as the corpus grows): for a
    * 10-point ladder of corpus prefixes, the cumulative token count
    * N_k and distinct-term count V_k, plus the fitted growth exponent
    * β (≈0.4–0.6 for natural text; β near 1 flags an ID-/noise-heavy
    * source whose "vocabulary" never saturates, β near 0 a
    * template-degenerate one). The corpus builder's question this
    * answers: how big will the tokenizer vocabulary get at 10× the
    * data?
    *
    * Prefixes are VALUE-GRID deciles of `doc_id` (min + k·range/10,
    * one 2-scalar min/max probe — the [[graft.ops.Mixing]] sourceDrift
    * pattern), NOT rank deciles: a global row_number over 100 TB of
    * docs is the exact scale smell this repo bans, and Heaps only
    * needs SOME deterministic growth order. V_k comes from the term
    * census `min(doc_id)` (a term is IN prefix k iff its first
    * carrier is), so the corpus-sized work is ONE term-keyed
    * aggregate; N_k is 10 conditional sums over the doc-level token
    * counts. The fit reuses [[graft.ops.Sequence.hurst]]'s micro-log
    * integer OLS verbatim: ln of identical exact integers → identical
    * micro-rounded BIGINTs → order-free integer moment sums → one
    * shared double division, so β hash-matches cross-engine. Empty
    * prefixes report NULL logs and drop from the fit (count(lx)
    * guards np).
    */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame =
    heapsLaw(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form over any (id, text) corpus.
    *
    * `idCol` MUST be an integral type (the value-grid decile cutoffs
    * `mn − 1 + ((mx − mn + 1)·k) DIV 10` are integer arithmetic over
    * id min/max) — unlike sibling DataFrame-first ops that accept any
    * id type. Non-numeric ids (string/UUID) fail loudly here rather
    * than via an implicit-cast plan error; hash such ids to a stable
    * integer first (e.g. `xxhash64(id)`) — Heaps only needs SOME
    * deterministic growth order.
    */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    // resolve the column the way Spark's analyzer would (default
    // case-INsensitive) — schema(name) is an exact-case lookup that
    // would throw a raw IllegalArgumentException for a column the
    // plan below happily resolves
    val caseSensitive = docs.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    val idField = docs.schema.fields.find(f =>
      if (caseSensitive) f.name == idCol else f.name.equalsIgnoreCase(idCol))
    require(idField.isDefined,
      s"heapsLaw: no column '$idCol' in [${docs.columns.mkString(", ")}]")
    val idType = idField.get.dataType
    val integral = idType == ByteType || idType == ShortType ||
      idType == IntegerType || idType == LongType
    require(integral,
      s"heapsLaw requires an integral id column for its value-grid " +
        s"decile cutoffs; '$idCol' is $idType — hash it to a stable " +
        s"integer first (e.g. xxhash64($idCol))")
    val d = canon(docs, idCol -> "doc_id", textCol -> "text")
    val probe = d.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    def cut(k: Int) = expr(s"mn - 1 + ((mx - mn + 1) * $k) DIV ${HeapsDeciles}")
    // N_k: one pass over doc-level token counts, 10 conditional sums
    val nToks = d.select(col("doc_id"), size(toks).cast("long").as("nt"))
      .crossJoin(broadcast(probe))
      .agg(coalesce(sum(when(col("doc_id") <= cut(1), col("nt"))), lit(0L))
          .as("n_1"),
        (2 to HeapsDeciles).map(k =>
          coalesce(sum(when(col("doc_id") <= cut(k), col("nt"))), lit(0L))
            .as(s"n_$k")): _*)
    // V_k: the term census (the ONLY corpus-sized shuffle), then 10
    // conditional counts of first-carrier deciles
    val vTerms = d.select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("fid"))
      .crossJoin(broadcast(probe))
      .agg(coalesce(sum(when(col("fid") <= cut(1), 1L)), lit(0L)).as("v_1"),
        (2 to HeapsDeciles).map(k =>
          coalesce(sum(when(col("fid") <= cut(k), 1L)), lit(0L))
            .as(s"v_$k")): _*)
    val stacked = nToks.crossJoin(broadcast(vTerms))
      .crossJoin(broadcast(probe))
      .select(explode(expr(
        s"""array(${(1 to HeapsDeciles).map(k =>
          s"struct(CAST($k AS BIGINT) AS decile, " +
            s"CAST(mn - 1 + ((mx - mn + 1) * $k) DIV ${HeapsDeciles} AS BIGINT) AS cutoff_id, " +
            s"n_$k AS n_tokens, v_$k AS vocab)").mkString(", ")})"""))
        .as("r"))
      .select(col("r.decile").as("decile"), col("r.cutoff_id").as("cutoff_id"),
        col("r.n_tokens").as("n_tokens"), col("r.vocab").as("vocab"))
      .withColumn("lx", when(col("n_tokens") > 0 && col("vocab") > 0, expr(
        "CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)")))
      .withColumn("ly", when(col("n_tokens") > 0 && col("vocab") > 0, expr(
        "CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000) AS BIGINT)")))
    val fit = stacked.agg(count(col("lx")).as("np"), sum(col("lx")).as("sx"),
      sum(col("ly")).as("sy"),
      sum(expr("CAST(lx AS DECIMAL(38,0)) * ly")).as("sxy"),
      sum(expr("CAST(lx AS DECIMAL(38,0)) * lx")).as("sxx"))
    stacked.crossJoin(broadcast(fit))
      .select(col("decile"), col("cutoff_id"), col("n_tokens"), col("vocab"),
        when(col("np") < 2
            || expr("CAST(np AS DECIMAL(38,0)) * sxx" +
              " - CAST(sx AS DECIMAL(38,0)) * sx") === 0, lit(null))
          .otherwise(round(
            expr("CAST(CAST(np AS DECIMAL(38,0)) * sxy" +
              " - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)")
              / expr("CAST(CAST(np AS DECIMAL(38,0)) * sxx" +
                " - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"), 4))
          .as("heaps_beta"))
      .orderBy(col("decile"))
  }

  /** DuckDB twin of [[heapsLaw]] — the same value-grid deciles,
    * first-carrier census, micro-log integer OLS.
    */
  val heapsLawSql: String =
    s"""WITH probe AS (
      |  SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
      |grid AS (
      |  SELECT CAST(k AS BIGINT) AS decile,
      |    CAST(mn - 1 + ((mx - mn + 1) * k) // ${HeapsDeciles} AS BIGINT)
      |      AS cutoff_id
      |  FROM probe, (SELECT unnest(generate_series(1, ${HeapsDeciles})) AS k)),
      |nt AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents),
      |census AS (
      |  SELECT term, min(doc_id) AS fid FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |    FROM documents) GROUP BY term),
      |pts AS (
      |  SELECT g.decile, g.cutoff_id,
      |    (SELECT CAST(coalesce(sum(CASE WHEN doc_id <= g.cutoff_id
      |        THEN nt END), 0) AS BIGINT) FROM nt) AS n_tokens,
      |    (SELECT CAST(coalesce(sum(CASE WHEN fid <= g.cutoff_id
      |        THEN 1 END), 0) AS BIGINT) FROM census) AS vocab
      |  FROM grid g),
      |logs AS (
      |  SELECT *,
      |    CASE WHEN n_tokens > 0 AND vocab > 0 THEN
      |      CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
      |    END AS lx,
      |    CASE WHEN n_tokens > 0 AND vocab > 0 THEN
      |      CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000) AS BIGINT)
      |    END AS ly
      |  FROM pts),
      |fit AS (
      |  SELECT count(lx) AS np, sum(lx) AS sx, sum(ly) AS sy,
      |    sum(CAST(lx AS HUGEINT) * ly) AS sxy,
      |    sum(CAST(lx AS HUGEINT) * lx) AS sxx
      |  FROM logs)
      |SELECT decile, cutoff_id, n_tokens, vocab,
      |  CASE WHEN np < 2 OR CAST(np AS HUGEINT) * sxx
      |      - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
      |    ELSE round(CAST(CAST(np AS HUGEINT) * sxy
      |        - CAST(sx AS HUGEINT) * sy AS DOUBLE)
      |      / CAST(CAST(np AS HUGEINT) * sxx
      |        - CAST(sx AS HUGEINT) * sx AS DOUBLE), 4)
      |  END AS heaps_beta
      |FROM logs, fit ORDER BY decile""".stripMargin

  /** n-gram width for [[ngramNovelty]] — 8 tokens, the memorization
    * literature's span (and [[boilerplate]]'s segment width).
    */
  val NoveltyN = 8

  /** The novelty census's per-doc distinct-gram array, keyed by the
    * gram's `xxhash64` — [[boilerplate]]'s digest discipline
    * (`TextAnalysis` segment census): the gram never appears in any
    * output, only its counts do, so the census can shuffle 8-byte
    * hashes instead of ~50-byte 8-token strings (~6× fewer shuffle
    * bytes on Σ ≈ tokens rows, TWICE — at 100 TB the raw-string form
    * would be the text family's biggest shuffle). The DuckDB twins
    * keep grouping by the raw gram: both engines census the same set
    * unless a 64-bit collision occurs within one corpus — the standard
    * accepted shingle approximation, and the oracle is exactly the
    * detector that would catch one (it hasn't at any test SF, through
    * gen-sf1's ~2.8M distinct grams).
    */
  private[graft] val noveltyGramArr: String =
    s"""array_distinct(CASE WHEN size(tk) >= $NoveltyN THEN
       |  transform(sequence(0, size(tk) - $NoveltyN),
       |    i -> xxhash64(concat_ws(' ', ${(0 until NoveltyN)
           .map(j => s"tk[i+$j]").mkString(", ")})))
       |ELSE array() END)""".stripMargin

  /** Ingestion-order n-gram NOVELTY per document — the signal that
    * separates "more data" from "more of the same data": for each doc,
    * how many of its distinct 8-token n-grams appear here FIRST
    * (no earlier doc in id order carries them) vs. recycled from the
    * corpus so far. [[heapsLaw]] answers this for the vocabulary at
    * corpus grain; this is the PHRASE-level, per-document form a
    * curation pass filters on — a crawl increment whose novel_bp
    * collapses is re-crawling what the corpus already has, even when
    * exact/near dedup (which need a shared document CORE) see nothing.
    * Exact-duplicate docs score 0 except the first carrier; a doc
    * assembled from recycled boilerplate scores low without matching
    * any single earlier doc.
    *
    * Semantics: distinct n-grams per doc (set grain, like the shingle
    * family); a gram's FIRST CARRIER is its min doc_id; `novel_bp` =
    * novel/total in exact basis points (truncating DIV; NULL for docs
    * shorter than 8 tokens, which have no grams — 0 would claim
    * "nothing novel" about a doc the measure cannot see).
    *
    * Scale posture: one row-local gram explode (Σ ≈ tokens rows)
    * feeding TWO independent keyed aggregates — per-doc gram totals,
    * and the gram-keyed first-carrier census whose per-doc recount IS
    * the novel count (a gram is novel exactly for its min-id carrier,
    * so `census.groupBy(first_carrier).count()` replaces the
    * vocabulary-keyed join-back entirely); then two |docs|-keyed left
    * joins onto the spine. No join on the gram vocabulary, no window,
    * no driver state — and the gram key rides the shuffle as an
    * 8-byte `xxhash64` digest, never the raw 8-token string
    * ([[noveltyGramArr]]).
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNovelty(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form over any (id, text) corpus; novelty order
    * is ascending `idCol` (ids are ingestion order by contract).
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val d = canon(docs, idCol -> "doc_id", textCol -> "text")
    val grams = d.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(expr(noveltyGramArr)).as("gram"))
    val total = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
    val novel = grams.groupBy(col("gram")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    d.select(col("doc_id"))
      .join(total, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_ngrams", "n_novel"))
      .withColumn("novel_bp", when(col("n_ngrams") > 0,
        expr("n_novel * 10000 DIV n_ngrams")))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[ngramNovelty]] — same set grain, first-carrier
    * census, integer basis points.
    */
  val ngramNoveltySql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(tk) >= $NoveltyN THEN
      |      list_transform(range(1, len(tk) - ${NoveltyN - 2}),
      |        i -> array_to_string(tk[i:i+${NoveltyN - 1}], ' '))
      |    ELSE CAST([] AS VARCHAR[]) END)) AS gram
      |  FROM t),
      |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams
      |        FROM g GROUP BY 1),
      |nov AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel FROM (
      |    SELECT gram, min(doc_id) AS doc_id FROM g GROUP BY 1) f
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(n_ngrams, 0) AS n_ngrams,
      |  coalesce(n_novel, 0) AS n_novel,
      |  CASE WHEN coalesce(n_ngrams, 0) > 0
      |    THEN CAST(coalesce(n_novel, 0) * 10000 // n_ngrams AS BIGINT)
      |  END AS novel_bp
      |FROM documents d LEFT JOIN tot USING (doc_id)
      |  LEFT JOIN nov USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Per-SOURCE rollup of [[ngramNovelty]] — the number a mixing pass
    * re-weights crawl sources by: for each source, how much of the
    * phrase mass it contributes appears there FIRST (corpus-wide
    * ingestion order) vs recycled. A feed whose novel_bp collapses is
    * paying tokens for content the corpus already has — the
    * source-level complement of [[graft.ops.Mixing.sourceDupRate]]
    * (which sees only exact copies) and the near-dup overlap matrix
    * (which needs a shared document core). Novelty is attributed to
    * the FIRST CARRIER's source (min doc_id corpus-wide — a gram two
    * sources share is novel only for the one that shipped it first).
    *
    * Scale posture: the gram explode carries `source` from the scan
    * (no doc-keyed join); per-source totals are one keyed aggregate;
    * the first-carrier census takes `min(struct(doc_id, source))` so
    * the carrier's source rides the same gram-keyed aggregate; the
    * |sources|-row rollups join a |sources|-row spine. No window, no
    * vocabulary join; gram keys shuffle as 8-byte digests
    * ([[noveltyGramArr]]).
    */
  def sourceNovelty(spark: SparkSession, dir: String): DataFrame =
    sourceNovelty(Tables.documents(spark, dir), "doc_id", "source", "text")

  /** DataFrame-first form over any (id, group, text) corpus. */
  def sourceNovelty(docs: DataFrame, idCol: String, srcCol: String,
                    textCol: String): DataFrame = {
    val d = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
      col(textCol).as("text"))
    val grams = d.select(col("doc_id"), col("source"),
        split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("source"),
        explode(expr(noveltyGramArr)).as("gram"))
    val total = grams.groupBy(col("source"))
      .agg(count(lit(1)).as("n_ngrams"))
    val novel = grams
      .groupBy(col("gram"))
      .agg(min(struct(col("doc_id"), col("source"))).as("fc"))
      .groupBy(col("fc.source").as("source"))
      .agg(count(lit(1)).as("n_novel"))
    d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(total, Seq("source"), "left")
      .join(novel, Seq("source"), "left")
      .na.fill(0L, Seq("n_ngrams", "n_novel"))
      .withColumn("novel_bp", when(col("n_ngrams") > 0,
        expr("n_novel * 10000 DIV n_ngrams")))
      .orderBy(col("source"))
  }

  /** DuckDB twin of [[sourceNovelty]] — same first-carrier
    * attribution via arg_min on the unique doc id.
    */
  val sourceNoveltySql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
      |g AS (
      |  SELECT doc_id, source, unnest(list_distinct(
      |    CASE WHEN len(tk) >= $NoveltyN THEN
      |      list_transform(range(1, len(tk) - ${NoveltyN - 2}),
      |        i -> array_to_string(tk[i:i+${NoveltyN - 1}], ' '))
      |    ELSE CAST([] AS VARCHAR[]) END)) AS gram
      |  FROM t),
      |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_ngrams
      |        FROM g GROUP BY 1),
      |nov AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_novel FROM (
      |    SELECT gram, arg_min(source, doc_id) AS source FROM g GROUP BY 1) f
      |  GROUP BY 1),
      |spine AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |          FROM documents GROUP BY 1)
      |SELECT s.source, n_docs,
      |  coalesce(n_ngrams, 0) AS n_ngrams,
      |  coalesce(n_novel, 0) AS n_novel,
      |  CASE WHEN coalesce(n_ngrams, 0) > 0
      |    THEN CAST(coalesce(n_novel, 0) * 10000 // n_ngrams AS BIGINT)
      |  END AS novel_bp
      |FROM spine s LEFT JOIN tot USING (source) LEFT JOIN nov USING (source)
      |ORDER BY source""".stripMargin

  /** Document fingerprinting: bottom-k sketch over hashed 5-gram word
    * shingles (winnowing-style). Two docs sharing most content get the
    * same fingerprint with high probability. Per-doc output (always
    * |documents| rows). Docs shorter than 5 words contribute one
    * whole-text shingle (the [[graft.functions]] `shingle_hash` edge
    * contract).
    *
    * Hash family is md5-HEX (the 16-hex-char = 64-bit prefix per
    * shingle, lexicographic bottom-4, md5 of their CSV as the
    * fingerprint) rather than Spark's xxhash64: a content fingerprint
    * exists to be a STABLE IDENTITY across engines, stores, and years
    * — an identity only Spark can recompute is a weaker identity —
    * and md5-hex is recomputable everywhere, which also makes the op
    * fully DuckDB-oracle-able (hash family was the ONLY blocker).
    * Lexicographic order on fixed-width lowercase hex equals numeric
    * order on the unsigned 64-bit prefix, so the bottom-k semantics
    * are unchanged. Cost stays one row-local projection at scan speed
    * (md5 per shingle instead of xxhash64 — a fingerprinting op, not
    * a join key derivation, so kernel speed is not the binding
    * constraint the near-dup family has).
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    docFingerprint(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form. The shingle prefixes come from the native
    * [[graft.functions.Md5ShinglePrefixes]] kernel (one fused pass,
    * thread-local digest) — semantically identical to the
    * `transform(array_distinct(...), s -> substring(md5(s), 1, 16))`
    * built-in composition (ExpressionsSpec pins the equality,
    * short-doc and null edges included) but without the per-shingle
    * interpreted-lambda cost that made this the slowest-growing query
    * of the r11 sf1 scale-proof.
    *
    * Scan parallelism: ALL the expensive work (tokenize → per-shingle
    * md5) is row-local and Catalyst rightly collapses it into the SCAN
    * stage, so a corpus written as one fat row group pins the whole
    * job to ONE core — measured at gen-sf3: 16.6 s single-task vs ~2 s
    * spread (`maxPartitionBytes` cannot help: splits below one row
    * group serve empty tasks). The input therefore goes through
    * [[graft.Tables.spreadScan]], which pays one small round-robin
    * repartition only when the planned scan is narrower than half the
    * cores; see there for why the probe is passive and conditional.
    * The (spark, dir) form reads [[graft.Tables.documents]], which has
    * already fanned out, so the probe sees its Exchange and adds none.
    */
  def docFingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    Tables.spreadScan(canon(docs, idCol -> "doc_id", textCol -> "text"))
      .select(col("doc_id"),
        expr("md5_shingles(split(text, ' '), 5)").as("sh"))
      .select(col("doc_id"),
        // scalar, not array<string>: the driver compare sorts rows in
        // pandas, which cannot hash array cells
        array_join(expr("slice(array_sort(sh), 1, 4)"), ",").as("bottomk_csv"))
      .select(col("doc_id"), md5(col("bottomk_csv")).as("fingerprint"),
        col("bottomk_csv"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[docFingerprint]] — same shingling, md5-hex
    * prefixes, lexicographic bottom-4, CSV fold.
    */
  val docFingerprintSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sh AS (
      |  SELECT doc_id, list_transform(
      |    list_distinct(CASE WHEN len(tk) >= 5 THEN
      |      list_transform(range(1, len(tk) - 3),
      |        i -> array_to_string(tk[i:i+4], ' '))
      |    ELSE [array_to_string(tk, ' ')] END),
      |    s -> substring(md5(s), 1, 16)) AS hs
      |  FROM t)
      |SELECT doc_id,
      |  md5(array_to_string(list_sort(hs)[1:4], ',')) AS fingerprint,
      |  array_to_string(list_sort(hs)[1:4], ',') AS bottomk_csv
      |FROM sh ORDER BY doc_id""".stripMargin

  private val PmiMinSupport = 5
  private val PmiTopK = 10

  /** PMI collocation mining: the top strongly-associated adjacent word
    * pairs per language, scored by pointwise mutual information
    * PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ) — the classic statistical
    * collocation detector (fixed phrases, templated spans, named
    * entities score high; chance co-occurrences score ~0). Pairs with
    * support below [[PmiMinSupport]] are dropped (PMI of rare pairs is
    * noise), and the top [[PmiTopK]] per language are kept.
    *
    * Scale shape: bigram and unigram derivation are ROW-LOCAL; the
    * counts are vocabulary-keyed partial+final aggregates; the bigram
    * table joins the unigram vocabulary TWICE on (lang, word) — both
    * shuffled equi-joins on vocabulary-sized sides (never broadcast —
    * the [[tfidf]]/[[unigramLm]] rule); only the |langs|-row totals
    * broadcast. The top-k cut is the bounded TopKTerm partial
    * aggregate, so at most k rows per map task cross the final
    * shuffle. Determinism: PMI is quantized to integer micro-nats
    * from an identical IEEE expression on both engines, ties break on
    * the bigram text.
    */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame =
    pmiCollocations(Tables.documents(spark, dir), "lang", "text")

  /** DataFrame-first form. */
  def pmiCollocations(docs: DataFrame, langCol: String, textCol: String): DataFrame = {
    val d = canon(docs, langCol -> "lang", textCol -> "text")
    val tk = d.select(col("lang"), toks.as("tk"))
    val uni = tk.select(col("lang"), explode(col("tk")).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c_w"))
    val nTok = uni.groupBy(col("lang")).agg(sum(col("c_w")).as("n_tok"))
    val big = tk.select(col("lang"), explode(expr(
      """CASE WHEN size(tk) >= 2
        |  THEN transform(sequence(0, size(tk) - 2),
        |         i -> concat_ws(' ', tk[i], tk[i + 1]))
        |  ELSE array() END""".stripMargin)).as("bigram"))
      .groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("c_ab"))
    val nBig = big.groupBy(col("lang")).agg(sum(col("c_ab")).as("n_big"))
    val scored = big.filter(col("c_ab") >= PmiMinSupport)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("lang"), col("term").as("w1"), col("c_w").as("c_1")),
        Seq("lang", "w1"))
      .join(uni.select(col("lang"), col("term").as("w2"), col("c_w").as("c_2")),
        Seq("lang", "w2"))
      .join(broadcast(nTok), Seq("lang"))
      .join(broadcast(nBig), Seq("lang"))
      .select(col("lang"), col("bigram"), col("c_ab"),
        // identical IEEE shape to the oracle: ((c_ab·N)·N) / ((B·c1)·c2)
        round(log((col("c_ab").cast("double") * col("n_tok") * col("n_tok")) /
          (col("n_big").cast("double") * col("c_1") * col("c_2"))) * 1e6)
          .cast("long").as("micro_pmi"))
    // TopKTerm ranks (score desc, term asc) — micro-nat integers are
    // exact as doubles, so the cut matches the oracle's row_number
    val top = scored.groupBy(col("lang"))
      .agg(graft.functions.TopK.topKTerms(PmiTopK)(
        col("micro_pmi").cast("double"), col("bigram")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.term").as("bigram"),
        round(col("col.score") / 1e6, 4).as("pmi"))
    // recover the support count: k×|langs| rows broadcast back against
    // the bigram aggregate (whose exchange AQE reuses)
    broadcast(top).join(big, Seq("lang", "bigram"))
      .select(col("lang"), col("rank"), col("bigram"),
        col("c_ab").as("cnt"), col("pmi"))
      .orderBy(col("lang"), col("rank"))
  }

  val pmiCollocationsSql: String =
    """WITH tk AS (SELECT lang, string_split(text, ' ') AS tk FROM documents),
      |uni AS (SELECT lang, unnest(tk) AS term FROM tk),
      |uc AS (SELECT lang, term, count(*) AS c_w FROM uni GROUP BY lang, term),
      |nt AS (SELECT lang, CAST(sum(c_w) AS BIGINT) AS n_tok FROM uc GROUP BY lang),
      |bg AS (SELECT lang, unnest(CASE WHEN len(tk) >= 2
      |         THEN [array_to_string(tk[i + 1 : i + 2], ' ')
      |               FOR i IN generate_series(0, len(tk) - 2)]
      |         ELSE [] END) AS bigram FROM tk),
      |bc AS (SELECT lang, bigram, count(*) AS c_ab FROM bg GROUP BY lang, bigram),
      |nb AS (SELECT lang, CAST(sum(c_ab) AS BIGINT) AS n_big FROM bc GROUP BY lang),
      |scored AS (
      |  SELECT bc.lang, bigram, c_ab,
      |    CAST(round(ln((CAST(c_ab AS DOUBLE) * n_tok * n_tok) /
      |      (CAST(n_big AS DOUBLE) * u1.c_w * u2.c_w)) * 1e6) AS BIGINT) AS micro_pmi
      |  FROM bc
      |  JOIN uc u1 ON u1.lang = bc.lang AND u1.term = string_split(bigram, ' ')[1]
      |  JOIN uc u2 ON u2.lang = bc.lang AND u2.term = string_split(bigram, ' ')[2]
      |  JOIN nt ON nt.lang = bc.lang
      |  JOIN nb ON nb.lang = bc.lang
      |  WHERE c_ab >= 5),
      |r AS (SELECT lang, bigram, c_ab, micro_pmi,
      |  row_number() OVER (PARTITION BY lang ORDER BY micro_pmi DESC, bigram) AS rank
      |  FROM scored)
      |SELECT lang, CAST(rank AS INT) AS rank, bigram, CAST(c_ab AS BIGINT) AS cnt,
      |  round(CAST(micro_pmi AS DOUBLE) / 1e6, 4) AS pmi
      |FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin

  private val BpeTopK = 20

  /** BPE merge-candidate counting — the first step of byte-pair-encoding
    * tokenizer training: count adjacent character-pair frequencies
    * WITHIN tokens (weighted by token occurrences) and report the top
    * [[BpeTopK]] merge candidates per language. Exactly the statistic a
    * distributed BPE trainer computes each merge round; here over the
    * initial character alphabet.
    *
    * Scale shape: pair derivation is ROW-LOCAL (nested `transform` over
    * the token array — no token ever shuffles); the count is a
    * pair-vocabulary-keyed partial+final aggregate (pair vocabulary is
    * bounded by |alphabet|², tiny); the top-k cut is the bounded
    * TopKTerm partial aggregate. Ties break on the pair text, matching
    * the oracle's row_number.
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    bpePairs(Tables.documents(spark, dir), "lang", "text")

  /** DataFrame-first form. */
  def bpePairs(docs: DataFrame, langCol: String, textCol: String): DataFrame = {
    val d = canon(docs, langCol -> "lang", textCol -> "text")
    d.select(col("lang"), explode(expr(
      """flatten(transform(split(text, ' '), t ->
        |  CASE WHEN length(t) >= 2
        |    THEN transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))
        |    ELSE array() END))""".stripMargin)).as("pair"))
      .groupBy(col("lang"), col("pair")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("lang"))
      .agg(graft.functions.TopK.topKTerms(BpeTopK)(
        col("cnt").cast("double"), col("pair")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.term").as("pair"), col("col.score").cast("long").as("cnt"))
      .orderBy(col("lang"), col("rank"))
  }

  val bpePairsSql: String =
    """WITH p AS (
      |  SELECT lang, unnest(flatten([
      |    CASE WHEN length(t) >= 2
      |      THEN [substring(t, i, 2) FOR i IN generate_series(1, length(t) - 1)]
      |      ELSE [] END
      |    FOR t IN string_split(text, ' ')])) AS pair
      |  FROM documents),
      |c AS (SELECT lang, pair, count(*) AS cnt FROM p GROUP BY lang, pair),
      |r AS (SELECT lang, pair, cnt,
      |  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, pair) AS rank FROM c)
      |SELECT lang, CAST(rank AS INT) AS rank, pair, CAST(cnt AS BIGINT) AS cnt
      |FROM r WHERE rank <= 20 ORDER BY lang, rank""".stripMargin

  /** Train a real BPE tokenizer on the corpus — the iterative
    * merge loop [[bpePairs]] only previews. Sennrich-style: words
    * become character sequences with a `</w>` end marker, and each
    * round merges the globally most frequent adjacent symbol pair
    * (frequency-weighted, ties broken lexicographically so training is
    * deterministic), returning the ordered merge table a tokenizer
    * ships with.
    *
    * Spark-first discipline for an inherently iterative algorithm:
    * the corpus collapses ONCE to the (word, freq) vocabulary — BPE
    * training never needs the corpus again, so 100 TB of text becomes
    * a |vocab|-row frame. Each round is one pair-count aggregation
    * over that frame plus a 1-row argmax collect (the bounded
    * driver-side step [[graft.ops.Similarity]]'s IVF centroids
    * legitimized), and the winning merge applies as a ROW-LOCAL
    * `aggregate` lambda fold over each word's symbol array — no
    * UDF, no shuffle. The vocabulary is `localCheckpoint`ed each
    * round to cut the growing lambda lineage ([[graft.ops.Dedup]]'s
    * connected-components discipline). The merge loop is not
    * expressible in one SQL statement → rows-only driver check;
    * the classic low/lower/lowest hand-trace is pinned in the spec.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrain(Tables.documents(spark, dir), "text", 8)

  /** DataFrame-first form over any text frame. */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def esc(s: String): String = s.replace("\\", "\\\\").replace("'", "''")
    var vocab = Cached.checkpoint(docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), expr(
        """concat(
          |  CASE WHEN length(word) >= 1
          |    THEN transform(sequence(1, length(word)), i -> substring(word, i, 1))
          |    ELSE CAST(array() AS array<string>) END,
          |  array('</w>')) AS syms""".stripMargin)))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= nMerges && !exhausted) {
      val top = vocab
        .select(col("freq"), explode(expr(
          """transform(slice(syms, 1, size(syms) - 1),
            |  (x, i) -> struct(x AS l, syms[i + 1] AS r))""".stripMargin)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        val merged = l + r
        merges += ((round, l, r, merged, cnt))
        vocab = Cached.checkpoint(vocab.select(col("freq"), expr(
          s"""aggregate(
             |  sequence(0, size(syms) - 1),
             |  struct(CAST(array() AS array<string>) AS out, false AS skip),
             |  (acc, i) -> CASE
             |    WHEN acc.skip THEN struct(acc.out AS out, false AS skip)
             |    WHEN i < size(syms) - 1 AND syms[i] = '${esc(l)}'
             |         AND syms[i + 1] = '${esc(r)}'
             |      THEN struct(concat(acc.out, array('${esc(merged)}')) AS out,
             |                  true AS skip)
             |    ELSE struct(concat(acc.out, array(syms[i])) AS out,
             |                false AS skip)
             |  END,
             |  acc -> acc.out) AS syms""".stripMargin)))
        round += 1
      }
    }
    merges.toSeq
      .toDF("merge_round", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy(col("merge_round"))
  }

  /** BPE tokenizer APPLICATION — the consuming half of [[bpeTrain]]:
    * tokenize every document with the first `nMerges` trained merges
    * and report per-doc whitespace-word count, BPE token count, and
    * integer centi-chars-per-token (the compression ratio a tokenizer
    * shopper actually compares).
    *
    * Scale shape — merges apply at the VOCABULARY level, never per
    * document occurrence: the corpus collapses to distinct words once,
    * each trained merge is one row-local `aggregate` lambda fold over
    * the word's symbol array (nMerges chained projections over the
    * bounded vocab frame), and documents reach their token counts
    * through a word-keyed equi-join of that (word, n_toks) lookup —
    * the [[tfidf]] shuffled-vocabulary discipline. A word repeated a
    * billion times across 100 TB is re-tokenized exactly once. The
    * trained merge table itself is a ≤ nMerges driver-side literal
    * (the IVF-centroid bounded-collect pattern). Merge order is
    * deterministic (count desc, lexicographic ties) → the report is
    * layout-invariant; no single-SQL oracle exists for the iterative
    * trainer → rows-only driver check, hand-trace parity in spec.
    */
  def bpeApply(spark: SparkSession, dir: String): DataFrame =
    bpeApply(Tables.documents(spark, dir), "doc_id", "text", 8)

  /** DataFrame-first form. */
  def bpeApply(docs: DataFrame, idCol: String, textCol: String,
               nMerges: Int): DataFrame = {
    def esc(s: String): String = s.replace("\\", "\\\\").replace("'", "''")
    val d = canon(docs, idCol -> "doc_id", textCol -> "text")
    val merges = bpeTrain(docs, textCol, nMerges).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
    var vocab = d.select(explode(toks).as("word")).distinct()
      .select(col("word"), expr(
        """concat(
          |  CASE WHEN length(word) >= 1
          |    THEN transform(sequence(1, length(word)), i -> substring(word, i, 1))
          |    ELSE CAST(array() AS array<string>) END,
          |  array('</w>')) AS syms""".stripMargin))
    merges.foreach { case (l, r, merged) =>
      vocab = vocab.select(col("word"), expr(
        s"""aggregate(
           |  sequence(0, size(syms) - 1),
           |  struct(CAST(array() AS array<string>) AS out, false AS skip),
           |  (acc, i) -> CASE
           |    WHEN acc.skip THEN struct(acc.out AS out, false AS skip)
           |    WHEN i < size(syms) - 1 AND syms[i] = '${esc(l)}'
           |         AND syms[i + 1] = '${esc(r)}'
           |      THEN struct(concat(acc.out, array('${esc(merged)}')) AS out,
           |                  true AS skip)
           |    ELSE struct(concat(acc.out, array(syms[i])) AS out,
           |                false AS skip)
           |  END,
           |  acc -> acc.out) AS syms""".stripMargin))
    }
    val lookup = vocab.select(col("word"), size(col("syms")).cast("long").as("n_toks"))
    d.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        explode(toks).as("word"))
      .join(lookup, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        first(col("n_chars")).as("n_chars"),
        sum(col("n_toks")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_bpe_tokens"),
        expr("n_chars * 100L div greatest(n_bpe_tokens, 1L)")
          .as("centi_chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Zipf rank-frequency fit per language: least-squares slope and
    * intercept of ln(frequency) against ln(rank) over the term
    * vocabulary — the standard corpus-health diagnostic (natural
    * language tracks slope ≈ −1; templated or synthetic text departs
    * sharply; complements [[vocabCoverage]]'s head-share with a
    * whole-distribution statistic).
    *
    * Determinism is the [[graft.ops.Diagnostics]] integer-moment
    * discipline applied to regression: ln(rank) and ln(cnt) are
    * quantized to integer MICRO-units and the five regression moments
    * (n, Σx, Σy, Σxy, Σx²) are exact BIGINT sums. The CROSS-PRODUCTS
    * of those moments (n·Σxy − Σx·Σy etc.) are computed in double for
    * both slope and intercept: Σx ≈ 1e6·ln(vocab!) passes 3e9 at only
    * ~600 terms per language, so Σx·Σx would overflow 2⁶³ on any
    * realistic vocabulary — the doubles come from an IEEE expression
    * shape identical on both engines, so the oracle stays exact. The
    * ranking window runs over the VOCABULARY aggregate (|langs|
    * partitions of vocab size), never over the corpus; under ANSI
    * mode a vocabulary large enough to overflow the BIGINT moment
    * sums themselves (~2⁶³/ (ln(V)·1e6)² ≈ 10¹² terms) fails loudly
    * rather than silently.
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame =
    zipfFit(Tables.documents(spark, dir), "lang", "text")

  /** DataFrame-first form. */
  def zipfFit(docs: DataFrame, langCol: String, textCol: String): DataFrame = {
    val d = canon(docs, langCol -> "lang", textCol -> "text")
    val tc = d.select(col("lang"), explode(toks).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("cnt").desc, col("term"))
    val q = tc.withColumn("rank", row_number().over(w))
      .select(col("lang"),
        round(log(col("rank").cast("double")) * 1e6).cast("long").as("x"),
        round(log(col("cnt").cast("double")) * 1e6).cast("long").as("y"))
    q.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("lang"), col("n").as("n_terms"),
        round((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 4)
          .as("zipf_slope"),
        round((col("sy").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sxy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) / 1e6, 4)
          .as("zipf_intercept"))
      .orderBy(col("lang"))
  }

  private val SparseKnnQueries = 10
  private val SparseKnnK = 5
  // terms appearing in more documents than this are dropped from the
  // index outright (the ContainPostingCap discipline): a near-stopword
  // term's posting list is a constant fraction of the corpus, so both
  // the persisted weighted frame and the hot-term join stay bounded
  private val SparseKnnPostingCap = 1000

  /** Sparse tf·idf k-NN document search — the INVERTED-INDEX
    * similarity path, complementing the dense-embedding ANN family
    * ([[graft.ops.Similarity]]): each query document's weighted terms
    * probe the corpus posting lists by term equi-join, partial dot
    * products aggregate per (query, doc), and cosine divides by the
    * precomputed norms. At 100 TB this is exactly the sparse retrieval
    * topology (posting-list join + keyed aggregation — no pairwise
    * doc×doc anything); the weighted-term frame is built ONCE and
    * persisted for its three readers (norms, query side, corpus side).
    * Posting lists are df-capped ([[SparseKnnPostingCap]], the
    * ContainPostingCap discipline): a near-stopword term whose list is
    * a constant fraction of the corpus is cut from the index — and
    * from the cache — entirely, with the per-query cut count surfaced
    * as `q_dropped_terms` so degraded vectors are visible, not silent.
    *
    * Cross-engine determinism: idf is quantized to integer MILLI-units
    * (w = tf · round(ln(N/df)·1000) — milli not micro keeps Σw² well
    * inside BIGINT at any document length), so dot products are EXACT
    * BIGINTs and cosine divides identical doubles on both engines; the
    * per-query top-k is the bounded [[graft.functions.TopK]] partial
    * aggregate (score desc, id asc — the oracle's row_number order).
    */
  def sparseKnn(spark: SparkSession, dir: String): DataFrame =
    sparseKnn(Tables.documents(spark, dir), "doc_id", "text", SparseKnnQueries, SparseKnnK)

  /** DataFrame-first form over any (id, text) frame; queries are the
    * ids below `nQueries`.
    */
  def sparseKnn(docs: DataFrame, idCol: String, textCol: String,
                nQueries: Int, k: Int): DataFrame = {
    require(nQueries >= 1 && k >= 1, s"sparseKnn: bad params n=$nQueries k=$k")
    val d = canon(docs, idCol -> "doc_id", textCol -> "text")
    val tok = d.select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val dft = tok.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // df cap BEFORE the persist: hot-term posting lists never enter the
    // cache or the join. q_dropped_terms (below) keeps the cut visible.
    val w = tok.join(dft, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("df"),
        (col("tf") *
          round(log(col("n_docs").cast("double") / col("df")) * 1000).cast("long"))
          .as("w"))
      .filter(col("w") > 0) // corpus-ubiquitous terms carry no signal
      .filter(col("df") <= SparseKnnPostingCap)
      .drop("df")
    // small: nQueries × k rows — the checkpoint frees the w cache
    Cached.derive(w) {
      // visibility: how many of each query doc's positive-weight terms
      // the df cap removed from its vector (bounded: ≤ nQueries rows)
      val qDropped = tok.filter(col("doc_id") < nQueries)
        .join(dft, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .filter(round(log(col("n_docs").cast("double") / col("df")) * 1000) > 0 &&
          col("df") > SparseKnnPostingCap)
        .groupBy(col("doc_id").as("query_id"))
        .agg(count(lit(1)).as("q_dropped_terms"))
      val norms = w.groupBy(col("doc_id"))
        .agg(sqrt(sum(col("w") * col("w")).cast("double")).as("nrm"))
      val qw = w.filter(col("doc_id") < nQueries)
        .select(col("doc_id").as("query_id"), col("term"), col("w").as("wq"))
      val dots = qw
        .join(w.select(col("doc_id"), col("term"), col("w").as("wd")), Seq("term"))
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("wq") * col("wd")).as("dot"))
      val cos = dots
        .join(norms.select(col("doc_id").as("query_id"), col("nrm").as("qn")),
          Seq("query_id"))
        .join(norms, Seq("doc_id"))
        .select(col("query_id"), col("doc_id"),
          (col("dot").cast("double") / (col("qn") * col("nrm"))).as("cos"))
      cos.groupBy(col("query_id"))
        .agg(graft.functions.TopK.topK(k)(col("cos"), col("doc_id")).as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .join(broadcast(qDropped), Seq("query_id"), "left")
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("doc_id"), round(col("col.score"), 4).as("cos_sim"),
          coalesce(col("q_dropped_terms"), lit(0L)).as("q_dropped_terms"))
        .orderBy(col("query_id"), col("rank"))
    }
  }

  val sparseKnnSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |w AS (
      |  SELECT doc_id, term,
      |    CAST(tf * CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 1000) AS BIGINT)
      |      AS BIGINT) AS w
      |  FROM tf JOIN dft USING (term) CROSS JOIN n
      |  WHERE tf * CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 1000) AS BIGINT) > 0
      |    AND df <= $SparseKnnPostingCap),
      |qd AS (
      |  SELECT doc_id AS query_id, count(*) AS q_dropped_terms
      |  FROM tf JOIN dft USING (term) CROSS JOIN n
      |  WHERE doc_id < $SparseKnnQueries
      |    AND CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 1000) AS BIGINT) > 0
      |    AND df > $SparseKnnPostingCap
      |  GROUP BY 1),
      |nrm AS (
      |  SELECT doc_id, sqrt(CAST(CAST(sum(w * w) AS BIGINT) AS DOUBLE)) AS nrm
      |  FROM w GROUP BY doc_id),
      |dots AS (
      |  SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
      |    CAST(sum(q.w * c.w) AS BIGINT) AS dot
      |  FROM w q JOIN w c USING (term)
      |  WHERE q.doc_id < $SparseKnnQueries AND c.doc_id <> q.doc_id
      |  GROUP BY 1, 2),
      |cos AS (
      |  SELECT query_id, d.doc_id,
      |    CAST(dot AS DOUBLE) / (qn.nrm * dn.nrm) AS cos
      |  FROM dots d
      |  JOIN nrm qn ON qn.doc_id = d.query_id
      |  JOIN nrm dn ON dn.doc_id = d.doc_id),
      |rk AS (
      |  SELECT query_id, doc_id, cos,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, doc_id) AS rank
      |  FROM cos)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
      |  round(cos, 4) AS cos_sim,
      |  CAST(COALESCE(qd.q_dropped_terms, 0) AS BIGINT) AS q_dropped_terms
      |FROM rk LEFT JOIN qd USING (query_id)
      |WHERE rank <= $SparseKnnK
      |ORDER BY query_id, rank""".stripMargin

  /** Unicode script mix + encoding-damage audit per language — the
    * mojibake/encoding QA gate a multilingual crawl needs before
    * training: per lang, exact character counts by script class
    * (ASCII letters, digits, Cyrillic, CJK, other-non-ASCII) plus the
    * two hard encoding-bug signals — U+FFFD replacement characters
    * (the scar a lossy decode leaves) and C0 control characters — and
    * the count of documents carrying either. Everything is an exact
    * BIGINT count from RE2-compatible character-class patterns both
    * engines share; the non-ASCII share is floor basis points.
    * Row-local projection + one |langs|-row aggregate: scan speed at
    * any corpus size.
    */
  def scriptMix(spark: SparkSession, dir: String): DataFrame =
    scriptMix(Tables.documents(spark, dir), "lang", "text")

  /** DataFrame-first form. */
  def scriptMix(docs: DataFrame, langCol: String, textCol: String): DataFrame = {
    val d = canon(docs, langCol -> "lang", textCol -> "text")
    def cnt(pat: String) = regexp_count(col("text"), lit(pat)).cast("long")
    val perDoc = d.select(col("lang"),
      // code-POINT count (Java regex `.` consumes a full code point,
      // `(?s)` includes newlines) — Spark's length() counts UTF-16
      // code units, which diverges from DuckDB len() on any
      // supplementary-plane character (emoji, CJK ext-B)
      cnt("(?s).").as("n_chars"),
      cnt("[A-Za-z]").as("n_ascii_alpha"),
      cnt("[0-9]").as("n_digit"),
      cnt("[\\u0400-\\u04FF]").as("n_cyrillic"),
      cnt("[\\u4e00-\\u9fff]").as("n_cjk"),
      cnt("[^\\x00-\\x7F]").as("n_non_ascii"),
      cnt("\\uFFFD").as("n_replacement"),
      cnt("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").as("n_control"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_ascii_alpha")).as("ascii_alpha"),
        sum(col("n_digit")).as("digits"),
        sum(col("n_cyrillic")).as("cyrillic"),
        sum(col("n_cjk")).as("cjk"),
        sum(col("n_non_ascii")).as("non_ascii"),
        sum(col("n_replacement")).as("replacement_chars"),
        sum(col("n_control")).as("control_chars"),
        count_if(col("n_replacement") > 0 || col("n_control") > 0)
          .as("docs_damaged"))
      .withColumn("non_ascii_bp",
        expr("non_ascii * 10000L div greatest(sum_chars, 1L)"))
      .orderBy(col("lang"))
  }

  val scriptMixSql: String =
    """WITH d AS (
      |  SELECT lang, len(text) AS n_chars,
      |    len(regexp_extract_all(text, '[A-Za-z]')) AS a_alpha,
      |    len(regexp_extract_all(text, '[0-9]')) AS a_digit,
      |    len(regexp_extract_all(text, '[\x{400}-\x{4FF}]')) AS a_cyr,
      |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS a_cjk,
      |    len(regexp_extract_all(text, '[^\x{00}-\x{7F}]')) AS a_nonascii,
      |    len(regexp_extract_all(text, '\x{FFFD}')) AS a_repl,
      |    len(regexp_extract_all(text, '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}]')) AS a_ctrl
      |  FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(a_alpha) AS BIGINT) AS ascii_alpha,
      |  CAST(sum(a_digit) AS BIGINT) AS digits,
      |  CAST(sum(a_cyr) AS BIGINT) AS cyrillic,
      |  CAST(sum(a_cjk) AS BIGINT) AS cjk,
      |  CAST(sum(a_nonascii) AS BIGINT) AS non_ascii,
      |  CAST(sum(a_repl) AS BIGINT) AS replacement_chars,
      |  CAST(sum(a_ctrl) AS BIGINT) AS control_chars,
      |  CAST(count(*) FILTER (a_repl > 0 OR a_ctrl > 0) AS BIGINT) AS docs_damaged,
      |  CAST((sum(a_nonascii) * 10000) // greatest(sum(n_chars), 1) AS BIGINT)
      |    AS non_ascii_bp
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  private val HeavyWidth = 200

  /** Sketch-pruned EXACT frequent terms: every term holding more than
    * 1/[[HeavyWidth]] of the corpus token stream, with its exact count
    * and floor-basis-point share.
    *
    * Scale shape — the reason this isn't a plain vocabulary aggregate:
    * at 100 TB the distinct-term vocabulary is far larger than any
    * executor's aggregation hash map wants to hold, but the answer set
    * is tiny (≤ width terms can each exceed N/width). Pass 1 runs the
    * bounded [[graft.functions.MisraGriesAggregator]] — O(width)
    * state per partition regardless of vocabulary size, mergeable, and
    * guaranteed to surface every term with true count > N/(width+1) —
    * together with the exact stream length N in the SAME single scan.
    * Pass 2 re-scans counting ONLY the ≤ width candidates (a
    * driver-bounded literal IN set — the IVF-centroid fixed-size
    * collect pattern), so the aggregation state is candidate-bounded,
    * and keeps terms whose EXACT count clears N/width. The sketch
    * prunes; the output carries zero sketch error — which is what makes
    * the DuckDB oracle an exact check.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHitters(Tables.documents(spark, dir), "text")

  /** DataFrame-first form. */
  def heavyHitters(docs: DataFrame, textCol: String,
                   width: Int = HeavyWidth): DataFrame = {
    val d = canon(docs, textCol -> "text")
    val terms = d.select(explode(toks).as("term"))
    val row = terms.agg(
      graft.functions.MisraGries.misraGries(width)(col("term")).as("cand"),
      count(lit(1)).as("n")).head()
    val cand = row.getSeq[String](0)
    val n = row.getLong(1)
    val inCand =
      if (cand.isEmpty) lit(false) else col("term").isInCollection(cand)
    terms.filter(inCand)
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(width.toLong) > lit(n))
      .select(col("term"), col("cnt"),
        expr(s"cnt * 10000L div ${n}L").as("share_bp"))
      .orderBy(col("cnt").desc, col("term"))
  }

  val heavyHittersSql: String =
    s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      |n AS (SELECT count(*) AS n FROM t),
      |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term)
      |SELECT term, CAST(cnt AS BIGINT) AS cnt,
      |  CAST((cnt * 10000) // n AS BIGINT) AS share_bp
      |FROM c, n WHERE cnt * $HeavyWidth > n
      |ORDER BY cnt DESC, term""".stripMargin

  val zipfFitSql: String =
    """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
      |tc AS (SELECT lang, term, count(*) AS cnt FROM tok GROUP BY lang, term),
      |rk AS (SELECT lang, term, cnt,
      |       row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rank FROM tc),
      |q AS (SELECT lang,
      |       CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
      |       CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
      |      FROM rk),
      |m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |       CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |      FROM q GROUP BY lang)
      |SELECT lang, n AS n_terms,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |         CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |        (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |         CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS zipf_slope,
      |  round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |         CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE)) /
      |        (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |         CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 1e6, 4) AS zipf_intercept
      |FROM m ORDER BY lang""".stripMargin

  /** Output cut for [[knBigram]]. */
  private val KnTopBigrams = 500

  /** Interpolated Kneser–Ney bigram model (Kneser & Ney 1995; the
    * smoothing every serious n-gram LM ships — Chen & Goodman 1999
    * found it dominant) with the standard fixed discount D = 0.75:
    *
    *   P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
    *            + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··)
    *
    * — the continuation-probability backoff that scores "Francisco"
    * low after anything but "San", where [[bigramLm]]'s raw MLE and
    * [[pplFilter]]'s add-one smoothing cannot tell type novelty from
    * token frequency. With D = 3/4 the whole probability is the exact
    * rational
    *
    *   [max(4·c₁₂ − 3, 0)·T + 3·N₁₊(w₁·)·N₁₊(·w₂)] / (4·c₁·T)
    *
    * (T = distinct bigram types), so both engines quantize it with ONE
    * truncating integer division to micro-units — no float path at
    * all. The numerator reaches c₁₂·T·4e6 ≈ 1e29 at web scale, so it
    * accumulates in DECIMAL(38,0) / HUGEINT.
    *
    * Emits the top-[[KnTopBigrams]] bigrams by count with their exact
    * smoothed micro-probability and the model's census columns.
    *
    * Scale posture: bigram derivation is row-local ([[bigramLm]]'s
    * indexed transform — no token-stream window, no position
    * self-join); the model is three vocabulary-keyed aggregates off
    * the bigram-count frame (context totals, context fan-out,
    * continuation fan-in — each one level smaller than the bigram
    * vocabulary and shuffled on its own key, never broadcast at web
    * scale) plus one 1-row type-count broadcast; the output cut is a
    * bounded TakeOrdered.
    */
  def knBigram(spark: SparkSession, dir: String): DataFrame =
    knBigram(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form. */
  def knBigram(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val d = canon(docs, idCol -> "doc_id", textCol -> "text")
    val big = d.select(toks.as("tk"))
      .select(explode(expr(
        "transform(slice(tk, 1, size(tk) - 1), (x, i) -> struct(x AS w1, tk[i + 1] AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val ctx = bc.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fwd"))
    val cont = bc.groupBy(col("w2")).agg(count(lit(1)).as("n1bwd"))
    val types = bc.agg(count(lit(1)).as("t"))
    bc.join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n1fwd"), col("n1bwd"),
        // DIV, not decimal divide: Spark's decimal `/` rounds HALF_UP
        // at the result scale, DuckDB's `//` truncates — DIV is the
        // one integral form both engines share
        expr("""CAST(((CAST(greatest(4 * c12 - 3, 0) AS DECIMAL(38,0)) * t
                 + CAST(3 AS DECIMAL(38,0)) * n1fwd * n1bwd) * 1000000)
                DIV (CAST(4 AS DECIMAL(38,0)) * c1 * t) AS BIGINT)""")
          .as("kn_micro"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(KnTopBigrams)
  }

  /** DuckDB twin of [[knBigram]] — identical census and ONE HUGEINT
    * truncating division. (DuckDB's `//` on HUGEINT truncates like
    * Spark's decimal `DIV`; operands here are non-negative anyway.)
    */
  val knBigramSql: String =
    s"""WITH t AS (
       |  SELECT string_split(text, ' ') AS l FROM documents),
       |big AS (
       |  SELECT l[i] AS w1, l[i + 1] AS w2
       |  FROM t, UNNEST(range(1, len(l))) AS u(i)),
       |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |       FROM big GROUP BY w1, w2),
       |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
       |               CAST(count(*) AS BIGINT) AS n1fwd
       |        FROM bc GROUP BY w1),
       |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1bwd
       |         FROM bc GROUP BY w2),
       |ty AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bc)
       |SELECT w1, w2, c12, c1, n1fwd, n1bwd,
       |  CAST(((CAST(greatest(4 * c12 - 3, 0) AS HUGEINT) * t
       |         + CAST(3 AS HUGEINT) * n1fwd * n1bwd) * 1000000)
       |       // (CAST(4 AS HUGEINT) * c1 * t) AS BIGINT) AS kn_micro
       |FROM bc JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN ty
       |ORDER BY c12 DESC, w1, w2
       |LIMIT $KnTopBigrams""".stripMargin

  private val CoverageKs = Seq(10L, 100L, 1000L)

  /** Vocabulary coverage curve — "what fraction of all token
    * occurrences do the k most frequent terms capture" for a ladder
    * of k: the tokenizer-budget / stopword-mass diagnostic behind
    * [[vocabCoverage]]'s fixed list and [[zipfFit]]'s slope. Exact
    * under count ties via the census-occupancy rule ([[Ranks]] /
    * hillTail discipline): over the COUNT census (one row per
    * distinct term-count), `gt` = terms strictly more frequent, and
    * a tied count contributes `min(#terms, k − gt)` of its terms —
    * every tied term has the same mass, so coverage is well-defined
    * even though "the top k" is not. Integers end to end.
    *
    * Shape: one token census (the corpus shuffle), one count census
    * (bounded by distinct COUNT VALUES — hundreds), a bounded window
    * + a |ks|-row broadcast cross join.
    */
  def coverageCurve(spark: SparkSession, dir: String): DataFrame =
    coverageCurve(Tables.documents(spark, dir), "text", CoverageKs)

  /** DataFrame-first form over any text column and k ladder. */
  def coverageCurve(docs: DataFrame, textCol: String,
                    ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"coverageCurve: ks=$ks")
    val d = canon(docs, textCol -> "text")
    val termCounts = d.select(explode(toks).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val census = termCounts.groupBy(col("c").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("v").desc)
    val ranked = census
      .withColumn("gt", coalesce(
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val tot = census.agg(sum(col("cnt")).as("n_terms"),
      sum(col("cnt") * col("v")).as("total_tokens"))
    val session = docs.sparkSession
    import session.implicits._
    val kFrame = ks.toDF("k")
    ranked.crossJoin(broadcast(kFrame))
      .filter(col("gt") < col("k"))
      .select(col("k"),
        least(col("cnt"), col("k") - col("gt")).as("occ"), col("v"))
      .groupBy(col("k"))
      .agg(sum(col("occ")).as("top_terms"),
        sum(col("occ") * col("v")).as("top_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_terms"), col("total_tokens"),
        col("top_terms"), col("top_tokens"),
        expr("top_tokens * 10000 div total_tokens").as("coverage_bp"))
      .orderBy(col("k"))
  }

  val coverageCurveSql: String =
    """WITH tc AS (
      |  SELECT t AS term, count(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      |  WHERE t <> '' GROUP BY t),
      |cen AS (SELECT c AS v, count(*) AS cnt FROM tc GROUP BY c),
      |r AS (
      |  SELECT v, cnt,
      |    CAST(coalesce(sum(cnt) OVER (ORDER BY v DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS gt
      |  FROM cen),
      |tot AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS n_terms,
      |    CAST(sum(cnt * v) AS BIGINT) AS total_tokens
      |  FROM cen),
      |kk AS (SELECT unnest([10, 100, 1000]) AS k),
      |m AS (
      |  SELECT k, least(cnt, k - gt) AS occ, v
      |  FROM r CROSS JOIN kk WHERE gt < k)
      |SELECT CAST(k AS BIGINT) AS k, n_terms, total_tokens,
      |  CAST(sum(occ) AS BIGINT) AS top_terms,
      |  CAST(sum(occ * v) AS BIGINT) AS top_tokens,
      |  CAST(sum(occ * v) * 10000 // total_tokens AS BIGINT) AS coverage_bp
      |FROM m CROSS JOIN tot
      |GROUP BY k, n_terms, total_tokens
      |ORDER BY k""".stripMargin

  /** McNemar's test (1947) — "is classifier A actually better than
    * classifier B on the SAME documents?": the paired comparison that
    * only scores the DISCORDANT documents (one classifier right, the
    * other wrong), because documents both get right or both get wrong
    * carry no evidence either way. Here: the [[langId]] heuristic vs
    * the majority-class baseline (always predict the modal gold
    * language — the floor any classifier must beat), judged against
    * the gold `lang` labels. The significance closure of
    * [[classifierEval]]'s descriptive precision/recall: accuracy
    * 0.81 vs 0.79 on the same docs means nothing until the discordant
    * counts say so.
    *
    * Works entirely on the confusion CENSUS: with baseline = modal
    * class, both correctness bits are functions of the (gold, pred)
    * cell, so the 2×2 paired table is an exact integer aggregate of
    * cell counts — no per-document pass. χ² = (b−c)²/(b+c)
    * (uncorrected, documented; NULL when b+c = 0 — no discordance, no
    * test), ONE double division.
    *
    * Scale posture: |langs|²-bounded census in, a deterministic
    * 1-row modal broadcast (max count, min label tie-break), one 1-row
    * aggregate out.
    */
  def mcnemar(spark: SparkSession, dir: String): DataFrame =
    mcnemar(langId(spark, dir), "lang", "pred_lang", "n")

  /** DataFrame-first form over any (true, predicted, count) confusion
    * frame; baseline B predicts the modal true class everywhere.
    */
  def mcnemar(conf: DataFrame, trueCol: String, predCol: String,
              nCol: String): DataFrame = {
    val c = conf.select(col(trueCol).as("t"), col(predCol).as("p"),
      col(nCol).cast("long").as("n"))
    val modal = c.groupBy(col("t")).agg(sum(col("n")).as("nt"))
      .orderBy(col("nt").desc, col("t")).limit(1)
      .select(col("t").as("modal"))
    c.crossJoin(broadcast(modal))
      .select(col("n"), (col("t") === col("p")).as("ar"),
        (col("t") === col("modal")).as("br"), col("modal"))
      .groupBy(col("modal"))
      .agg(sum(col("n")).as("n_docs"),
        coalesce(sum(when(col("ar") && col("br"), col("n"))), lit(0L))
          .as("n11"),
        coalesce(sum(when(col("ar") && !col("br"), col("n"))), lit(0L))
          .as("n10"),
        coalesce(sum(when(!col("ar") && col("br"), col("n"))), lit(0L))
          .as("n01"),
        coalesce(sum(when(!col("ar") && !col("br"), col("n"))), lit(0L))
          .as("n00"))
      .select(col("modal"), col("n_docs"), col("n11"), col("n10"),
        col("n01"), col("n00"),
        when(col("n10") + col("n01") === 0, lit(null)).otherwise(round(
          (col("n10") - col("n01")).cast("double")
            * (col("n10") - col("n01")).cast("double")
            / (col("n10") + col("n01")).cast("double"), 4)).as("chi2"))
  }

  /** DuckDB twin of [[mcnemar]] — same confusion census, modal
    * baseline and exact 2×2 fold.
    */
  val mcnemarSql: String =
    s"""WITH $confusionCtes,
       |modal AS (
       |  SELECT t AS modal FROM (
       |    SELECT t, CAST(sum(n) AS BIGINT) AS nt FROM conf GROUP BY t)
       |  ORDER BY nt DESC, t LIMIT 1),
       |b AS (
       |  SELECT modal, n, (t = p) AS ar, (t = modal) AS br
       |  FROM conf CROSS JOIN modal)
       |SELECT modal, CAST(sum(n) AS BIGINT) AS n_docs,
       |  CAST(coalesce(sum(n) FILTER (WHERE ar AND br), 0) AS BIGINT) AS n11,
       |  CAST(coalesce(sum(n) FILTER (WHERE ar AND NOT br), 0) AS BIGINT)
       |    AS n10,
       |  CAST(coalesce(sum(n) FILTER (WHERE NOT ar AND br), 0) AS BIGINT)
       |    AS n01,
       |  CAST(coalesce(sum(n) FILTER (WHERE NOT ar AND NOT br), 0) AS BIGINT)
       |    AS n00,
       |  CASE WHEN coalesce(sum(n) FILTER (WHERE ar AND NOT br), 0)
       |          + coalesce(sum(n) FILTER (WHERE NOT ar AND br), 0) = 0
       |    THEN NULL
       |    ELSE round(
       |      CAST(coalesce(sum(n) FILTER (WHERE ar AND NOT br), 0)
       |         - coalesce(sum(n) FILTER (WHERE NOT ar AND br), 0) AS DOUBLE)
       |      * (coalesce(sum(n) FILTER (WHERE ar AND NOT br), 0)
       |         - coalesce(sum(n) FILTER (WHERE NOT ar AND br), 0))
       |      / (coalesce(sum(n) FILTER (WHERE ar AND NOT br), 0)
       |         + coalesce(sum(n) FILTER (WHERE NOT ar AND br), 0)), 4)
       |  END AS chi2
       |FROM b GROUP BY modal""".stripMargin

  /** Good–Turing frequency smoothing (Good 1953) over the corpus
    * BIGRAM census — the count-of-counts adjustment that reallocates
    * probability mass from seen n-grams toward the unseen: an n-gram
    * observed r times gets the Turing-adjusted count
    * r* = (r+1)·N_{r+1}/N_r, and the total unseen mass is N_1/N. The
    * third LM-smoothing member next to [[knBigram]] (Kneser–Ney) and
    * [[dsir]]'s add-one LMs; bigrams (not unigrams) because the
    * synthetic corpus's ~30-term vocabulary makes the unigram
    * count-of-counts grid degenerate while the ~900-type bigram grid
    * is a real Zipf tail.
    *
    * Exactness: r, N_r and N are exact census integers; r* is
    * quantized ONCE by a truncating DIV on DECIMAL(38,0)
    * ((r+1)·N_{r+1}·1e6 ≤ N²·1e6 holds to N ~ 1e16 bigram tokens);
    * rows whose successor bucket N_{r+1} is empty report NULL — the
    * classic estimator is undefined there (production smoothers fit
    * the Gale–Sampson log-linear bridge; deliberately out of scope so
    * the output stays exact).
    *
    * Scale posture: one row-local bigram explode, one bigram-type
    * census (the corpus shuffle), then everything lives on the
    * |distinct r| count-of-counts grid: a grid self-join on r+1 and a
    * 1-row totals broadcast. No windows at all.
    */
  def goodTuring(spark: SparkSession, dir: String): DataFrame =
    goodTuring(Tables.documents(spark, dir), "doc_id", "text")

  /** DataFrame-first form. */
  def goodTuring(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val d = canon(docs, idCol -> "doc_id", textCol -> "text")
    val big = d.select(toks.as("tk"))
      .select(explode(expr(
        "transform(slice(tk, 1, size(tk) - 1), (x, i) -> struct(x AS w1, tk[i + 1] AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("r"))
    val coc = bc.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val tot = coc.agg(sum(col("r") * col("n_r")).as("n_tok"),
      coalesce(sum(when(col("r") === 1, col("n_r"))), lit(0L)).as("n1"))
    val nxt = coc.select((col("r") - 1).as("r"), col("n_r").as("n_next"))
    coc.join(nxt, Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        expr("""CAST(CAST(r + 1 AS DECIMAL(38,0)) * n_next * 1000000
                DIV n_r AS BIGINT)""").as("r_star_micro"),
        col("n_tok"),
        expr("CAST(n1 * 1000000 DIV n_tok AS BIGINT)").as("p0_micro"))
      .orderBy(col("r"))
  }

  /** DuckDB twin of [[goodTuring]] — same bigram census, grid
    * self-join, HUGEINT quantization.
    */
  val goodTuringSql: String =
    """WITH tk AS (SELECT string_split(text, ' ') AS tk FROM documents),
      |big AS (
      |  SELECT unnest([{'w1': tk[i], 'w2': tk[i + 1]}
      |                 FOR i IN generate_series(1, len(tk) - 1)]) AS b
      |  FROM tk),
      |bc AS (
      |  SELECT b.w1, b.w2, CAST(count(*) AS BIGINT) AS r
      |  FROM big GROUP BY b.w1, b.w2),
      |coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM bc GROUP BY r),
      |tot AS (
      |  SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tok,
      |    CAST(coalesce(sum(n_r) FILTER (WHERE r = 1), 0) AS BIGINT) AS n1
      |  FROM coc)
      |SELECT c.r, c.n_r,
      |  CAST((CAST(c.r + 1 AS HUGEINT) * nx.n_r * 1000000) // c.n_r
      |    AS BIGINT) AS r_star_micro,
      |  n_tok,
      |  CAST((CAST(n1 AS HUGEINT) * 1000000) // n_tok AS BIGINT) AS p0_micro
      |FROM coc c
      |LEFT JOIN coc nx ON nx.r = c.r + 1
      |CROSS JOIN tot
      |ORDER BY c.r""".stripMargin

  /** RAKE — Rapid Automatic Keyword Extraction (Rose et al. 2010):
    * candidate phrases are the maximal token runs between stopwords,
    * each member word scores degree/frequency over the whole candidate
    * set (degree = summed length of every phrase it appears in — words
    * that live in long phrases co-occur widely), and a phrase scores
    * the sum of its members. The phrase-level complement of
    * [[textRank]]'s word-graph keywords and [[topNgrams]]' raw counts.
    *
    * Exactness: freq and deg are exact census integers; each word's
    * score is quantized ONCE (deg·1e6 DIV freq, truncating) so phrase
    * scores are order-free BIGINT sums; identical phrase strings
    * always carry identical member multisets, so per-occurrence scores
    * agree and the corpus-level dedup takes min (= the common value).
    * Top-20 by (score, phrase) is a total order.
    *
    * Scale posture: one posexplode (row-local), run-id assignment by a
    * window PARTITIONED BY doc (bounded by doc length — the one
    * per-row window, keyed, never global), one phrase-member census,
    * one word census (vocabulary-keyed shuffle join back — never
    * broadcast), one phrase aggregate, TakeOrdered top-20.
    */
  def rake(spark: SparkSession, dir: String): DataFrame =
    rake(Tables.documents(spark, dir), "doc_id", "text", StopWords, 20)

  /** DataFrame-first form; `stop` delimits candidate phrases. */
  def rake(docs: DataFrame, idCol: String, textCol: String,
           stop: Seq[String], topN: Int): DataFrame = {
    val stopArr = stop.map(w => s"'$w'").mkString("array(", ",", ")")
    val d = canon(docs, idCol -> "doc_id", textCol -> "text")
    val tokPos = d.select(col("doc_id"), posexplode(toks).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val runW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val member = tokPos
      .filter(!expr(s"array_contains($stopArr, w)"))
      .withColumn("run_id", col("pos") - row_number().over(runW))
    val phrases = member.groupBy(col("doc_id"), col("run_id"))
      .agg(expr("array_join(transform(sort_array(collect_list(" +
        "struct(pos, w))), x -> x.w), ' ')").as("phrase"),
        count(lit(1)).as("plen"))
    val inst = member.join(phrases, Seq("doc_id", "run_id"))
    val wordScore = inst.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("w"),
        expr("CAST(deg * 1000000 DIV freq AS BIGINT)").as("ws"))
    val perPhrase = inst.join(wordScore, Seq("w"))
      .groupBy(col("doc_id"), col("run_id"), col("phrase"))
      .agg(sum(col("ws")).as("score_micro"))
    perPhrase.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occ"), min(col("score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(topN)
  }

  /** DuckDB twin of [[rake]] — same run-id gap trick via row_number,
    * same one-DIV word quantization.
    */
  val rakeSql: String =
    """WITH tokpos AS (
      |  SELECT doc_id,
      |    unnest([{'pos': i, 'w': tk[i]} FOR i IN generate_series(1, len(tk))]) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      |tp AS (
      |  SELECT doc_id, s.pos AS pos, s.w AS w FROM tokpos WHERE s.w <> ''),
      |member AS (
      |  SELECT doc_id, pos, w,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
      |  FROM tp
      |  WHERE w NOT IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')),
      |phrases AS (
      |  SELECT doc_id, run_id, string_agg(w, ' ' ORDER BY pos) AS phrase,
      |    CAST(count(*) AS BIGINT) AS plen
      |  FROM member GROUP BY doc_id, run_id),
      |inst AS (
      |  SELECT m.doc_id, m.run_id, m.w, p.phrase, p.plen
      |  FROM member m JOIN phrases p USING (doc_id, run_id)),
      |ws AS (
      |  SELECT w,
      |    CAST((CAST(sum(plen) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
      |      AS ws
      |  FROM inst GROUP BY w),
      |pp AS (
      |  SELECT doc_id, run_id, phrase,
      |    CAST(sum(ws) AS BIGINT) AS score_micro
      |  FROM inst JOIN ws USING (w)
      |  GROUP BY doc_id, run_id, phrase)
      |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
      |  CAST(min(score_micro) AS BIGINT) AS score_micro
      |FROM pp GROUP BY phrase
      |ORDER BY score_micro DESC, phrase
      |LIMIT 20""".stripMargin
}
