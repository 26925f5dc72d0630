package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the text-analysis operators (SURVEY.md §7.5). */
class TextAnalysisSpec extends AnyFunSuite {
  import SparkTestSession._

  test("DataFrame-first forms agree with the table-bound forms under renamed columns") {
    val renamed = Tables.documents(spark, sfDir)
      .withColumnRenamed("doc_id", "my_id")
      .withColumnRenamed("text", "body")
      .withColumnRenamed("lang", "language")
    val viaDf = ops.TextAnalysis.tokenCount(renamed, "my_id", "body")
    val viaTable = ops.TextAnalysis.tokenCount(spark, sfDir)
    assert(viaDf.exceptAll(viaTable).count() == 0 && viaTable.exceptAll(viaDf).count() == 0)
    val tfDf = ops.TextAnalysis.tfidf(renamed, "my_id", "language", "body")
    val tfTable = ops.TextAnalysis.tfidf(spark, sfDir)
    assert(tfDf.exceptAll(tfTable).count() == 0 && tfTable.exceptAll(tfDf).count() == 0)
  }

  private lazy val nDocs = Tables.documents(spark, sfDir).count()

  test("textStats: doc counts sum to corpus size; min<=avg<=max") {
    val df = ops.TextAnalysis.textStats(spark, sfDir).cache()
    assert(df.agg(sum("n_docs")).head().getLong(0) == nDocs)
    val bad = df.filter(
      col("min_chars") > col("avg_chars") || col("avg_chars") > col("max_chars")).count()
    assert(bad == 0)
  }

  test("tokenCount: one row per doc; counts positive; bpe >= whitespace tokens") {
    val df = ops.TextAnalysis.tokenCount(spark, sfDir).cache()
    assert(df.count() == nDocs)
    assert(df.filter(col("n_ws_tokens") <= 0).count() == 0)
    // a regex segmentation can only split whitespace tokens further
    assert(df.filter(col("n_bpe_tokens") < col("n_ws_tokens")).count() == 0)
  }

  test("readability: planted counts exact; fragments floor at one sentence") {
    import spark.implicits._
    val docs = Seq(
      // 6 words, 2 sentence runs, 6 vowel groups:
      // flesch = 206.835 - 1.015*6/2 - 84.6*6/6 = 119.19 → easy
      (1L, "The cat sat. It ran fast!"),
      // no terminator: sentence count must floor at 1, syllables 0
      (2L, "mmm hmm grr"),
      // 3 words, 1 sentence, ~19 syllables → deeply negative → difficult
      (3L, "incomprehensibility extraordinarily unbelievable")
    ).toDF("doc_id", "text")
    val got = ops.TextAnalysis.readability(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_words") == 6L)
    assert(got(1L).getAs[Long]("n_sentences") == 2L)
    assert(got(1L).getAs[Long]("n_syllables") == 6L)
    assert(got(1L).getAs[Double]("flesch") == 119.19)
    assert(got(1L).getAs[String]("band") == "easy")
    assert(got(2L).getAs[Long]("n_sentences") == 1L)
    assert(got(2L).getAs[Long]("n_syllables") == 0L)
    assert(got(3L).getAs[String]("band") == "difficult")
    // corpus: one row per doc, bands from the closed set, score bounded
    val corpus = ops.TextAnalysis.readability(spark, sfDir).cache()
    assert(corpus.count() == Tables.documents(spark, sfDir).count())
    assert(corpus.filter(!col("band").isin("easy", "standard", "difficult"))
      .count() == 0)
    assert(corpus.filter(col("flesch") > 206.835).count() == 0)
  }

  test("qualityScore: one row per doc; ratios in [0,1]; quality in {low,medium,high}") {
    val df = ops.TextAnalysis.qualityScore(spark, sfDir).cache()
    assert(df.count() == nDocs)
    assert(df.filter(col("punct_ratio") < 0 || col("punct_ratio") > 1).count() == 0)
    assert(df.filter(col("stop_ratio") < 0 || col("stop_ratio") > 1).count() == 0)
    assert(df.filter(!col("quality").isin("low", "medium", "high")).count() == 0)
  }

  test("langId: confusion-matrix counts sum to corpus size; preds from known set") {
    val df = ops.TextAnalysis.langId(spark, sfDir).cache()
    assert(df.agg(sum("n")).head().getLong(0) == nDocs)
    assert(df.filter(!col("pred_lang").isin("en", "de", "es", "fr", "zh", "unknown")).count() == 0)
  }

  test("docFingerprint: one row per doc; identical texts share a fingerprint") {
    val df = ops.TextAnalysis.docFingerprint(spark, sfDir).cache()
    assert(df.count() == nDocs)
    val fps = Tables.documents(spark, sfDir)
      .join(df, Seq("doc_id"))
      .groupBy("text").agg(countDistinct("fingerprint").as("nfp"))
    assert(fps.filter(col("nfp") > 1).count() == 0,
      "identical texts produced different fingerprints")
  }

  test("law: docFingerprint re-derives corpus-wide by driver-side MessageDigest md5") {
    // independent recomputation OUTSIDE Spark's expression engine:
    // plain JDK MessageDigest md5 + Scala string ops reproduce every
    // corpus fingerprint bit-for-bit — certifying the md5-hex family
    // really is the engine-neutral identity the scaladoc promises
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def model(text: String): (String, String) = {
      val t = text.split(" ", -1)
      val shingles =
        if (t.length >= 5) t.sliding(5).map(_.mkString(" ")).toSeq.distinct
        else Seq(t.mkString(" "))
      val csv = shingles.map(s => md5hex(s).substring(0, 16))
        .sorted.take(4).mkString(",")
      (md5hex(csv), csv)
    }
    val got = ops.TextAnalysis.docFingerprint(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select("doc_id", "text"), Seq("doc_id"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (fp, csv) = model(r.getAs[String]("text"))
      assert(r.getAs[String]("fingerprint") == fp &&
        r.getAs[String]("bottomk_csv") == csv,
        s"doc ${r.getAs[Long]("doc_id")} diverged from the JDK model")
    }
  }

  test("docFingerprint fans a one-row-group scan out once; a shuffled input gains no exchange") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("graft-fp-scan").toString + "/docs"
    (1 to 40).map(i => (i.toLong, s"w$i a b c d e f w${i % 7}")).toDF("id", "body")
      .coalesce(1).write.parquet(dir)
    def roundRobins(in: org.apache.spark.sql.DataFrame): Int =
      ops.TextAnalysis.docFingerprint(in, "id", "body").queryExecution.sparkPlan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
      }.size
    val scan = spark.read.parquet(dir)
    assert(scan.rdd.getNumPartitions == 1, "fixture must be a single scan split")
    assert(roundRobins(scan) == 1, "a one-row-group corpus must fan out exactly once")
    assert(roundRobins(scan.repartition(col("id"))) == 0,
      "an already-shuffled input must not gain a round-robin exchange")
    assert(ops.TextAnalysis.docFingerprint(scan, "id", "body").count() == 40)
  }

  test("tokenEntropy: constant doc scores 0 / uniform doc scores ln(n); ttr bounds") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x", "a a a a"),   // all same token: entropy 0, ttr 1/4
      (2L, "y", "a b c d"))   // all distinct: entropy ln 4, ttr 1
      .toDF("doc_id", "lang", "text")
    val out = ops.TextAnalysis.tokenEntropy(docs, "doc_id", "lang", "text")
      .collect().map(r => r.getAs[String]("lang") ->
        ((r.getAs[Double]("avg_entropy"), r.getAs[Double]("avg_ttr")))).toMap
    assert(out("x") == ((0.0, 0.25)))
    assert(out("y") == ((math.rint(math.log(4) * 1e4) / 1e4, 1.0)))
    // corpus-wide: entropy is within [0, ln n_toks] for every language band
    val corpus = ops.TextAnalysis.tokenEntropy(spark, sfDir)
    assert(corpus.filter(col("min_entropy") < 0).count() == 0)
    assert(corpus.filter(col("avg_ttr") <= 0 || col("avg_ttr") > 1).count() == 0)
  }

  test("tokenEntropy: row-local array fold agrees with the explode-shuffle derivation") {
    val docs = Tables.documents(spark, sfDir)
    val rowLocal = ops.TextAnalysis.tokenEntropy(docs, "doc_id", "lang", "text")
    val exploded = ops.TextAnalysis.tokenEntropyExploded(docs, "doc_id", "lang", "text")
    assert(rowLocal.exceptAll(exploded).count() == 0 &&
      exploded.exceptAll(rowLocal).count() == 0,
      "two independent entropy derivations disagree")
  }

  test("unigramLm: log-probs are negative, token counts recount, rare tokens score lower") {
    val corpus = ops.TextAnalysis.unigramLm(spark, sfDir).cache()
    assert(corpus.count() == nDocs)
    assert(corpus.filter(col("avg_logprob") >= 0).count() == 0,
      "a unigram mean log-prob can never be >= 0 on a multi-token corpus")
    val recount = ops.TextAnalysis.tokenCount(spark, sfDir)
      .select(col("doc_id"), col("n_ws_tokens"))
    assert(corpus.join(recount, Seq("doc_id"))
      .filter(col("n_tokens") =!= col("n_ws_tokens")).count() == 0)
    // planted corpus: identical docs except one swaps a common token for
    // a hapax — the hapax doc must score strictly lower
    import spark.implicits._
    val planted = Seq(
      (1L, "a a a a"), (2L, "a a a a"), (3L, "a a a zzz"))
      .toDF("doc_id", "text")
    val scored = ops.TextAnalysis.unigramLm(planted, "doc_id", "text")
      .select("doc_id", "avg_logprob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored(1L) == scored(2L))
    assert(scored(3L) < scored(1L), "hapax-bearing doc must score lower")
  }

  test("topNgrams: five ranked bigrams per language; planted phrase dominates") {
    val df = ops.TextAnalysis.topNgrams(spark, sfDir).cache()
    val langs = Tables.documents(spark, sfDir).select("lang").distinct().count()
    assert(df.count() == 5 * langs)
    assert(df.groupBy("lang").agg(collect_set("rank").as("rs"))
      .filter(size(col("rs")) =!= 5).count() == 0)
    // planted: one phrase repeated across docs must rank #1; a doc with
    // fewer than 2 tokens contributes nothing
    import spark.implicits._
    val planted = Seq(
      (1L, "en", "hot take hot take hot take"),
      (2L, "en", "hot take again and again"),
      (3L, "en", "solo")).toDF("doc_id", "lang", "text")
    val top = ops.TextAnalysis.topNgrams(planted, "doc_id", "lang", "text")
      .filter(col("rank") === 1).head()
    assert(top.getAs[String]("bigram") == "hot take" && top.getAs[Long]("cnt") == 4L)
  }

  test("bm25: planted relevance order holds; zero-match docs are excluded") {
    import spark.implicits._
    // same length docs: more query-term hits => strictly higher score;
    // a doc with no query term must not appear at all
    val planted = Seq(
      (1L, "spark spark spark pad pad pad"),
      (2L, "spark spark pad pad pad pad"),
      (3L, "spark pad pad pad pad pad"),
      (4L, "pad pad pad pad pad pad")).toDF("doc_id", "text")
    val got = ops.TextAnalysis.bm25(planted, "doc_id", "text",
      Seq("spark"), topN = 10).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L),
      s"relevance order broken: ${got.mkString(",")}")
    val s = got.map(r => r.getLong(0) -> r.getAs[Long]("score_micro")).toMap
    assert(s(1L) > s(2L) && s(2L) > s(3L), "tf monotonicity broken")
    // longer doc with the same tf scores lower (length normalization)
    val lenNorm = Seq(
      (1L, "spark pad"),
      (2L, "spark pad pad pad pad pad pad pad pad pad")).toDF("doc_id", "text")
    val ln = ops.TextAnalysis.bm25(lenNorm, "doc_id", "text", Seq("spark"), 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("score_micro")).toMap
    assert(ln(1L) > ln(2L), "length normalization broken")
    // corpus run: bounded output, sorted desc, deterministic tiebreak
    val corpus = ops.TextAnalysis.bm25(spark, sfDir).collect()
    assert(corpus.length <= 20 && corpus.nonEmpty)
    val scores = corpus.map(_.getAs[Long]("score_micro"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("boilerplate: cross-doc repeated segment flagged; unique and short docs clean") {
    import spark.implicits._
    val chrome = (1 to 8).map(i => s"nav$i").mkString(" ") // one full segment
    val planted = Seq(
      // three docs open with the same 8-token chrome (df=3 >= MinDf)
      (1L, chrome + " " + (1 to 8).map(i => s"a$i").mkString(" ")),
      (2L, chrome + " " + (1 to 8).map(i => s"b$i").mkString(" ")),
      (3L, chrome + " " + (1 to 8).map(i => s"c$i").mkString(" ")),
      // unique-content doc: 2 segments, none boilerplate
      (4L, (1 to 16).map(i => s"d$i").mkString(" ")),
      // short doc: under one segment → zero segments, share 0
      (5L, "tiny doc")).toDF("doc_id", "text")
    val got = ops.TextAnalysis.boilerplate(planted, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_segs"), r.getAs[Long]("n_boiler"),
          r.getAs[Double]("boiler_share")))).toMap
    assert(got(1L) == ((2L, 1L, 0.5)) && got(2L) == ((2L, 1L, 0.5)) &&
      got(3L) == ((2L, 1L, 0.5)), s"chrome docs wrong: $got")
    assert(got(4L) == ((2L, 0L, 0.0)), s"unique doc wrong: $got")
    assert(got(5L) == ((0L, 0L, 0.0)), s"short doc wrong: $got")
    // corpus run: one row per doc, shares in [0,1]
    val df = ops.TextAnalysis.boilerplate(spark, sfDir).cache()
    assert(df.count() == nDocs)
    assert(df.filter(col("boiler_share") < 0 || col("boiler_share") > 1).count() == 0)
    assert(df.filter(col("n_boiler") > col("n_segs")).count() == 0)
  }

  test("vocabCoverage: planted counts exact; head share tie-invariant at the k cut") {
    import spark.implicits._
    // lang bb: t0 ×5 plus 21 hapax terms → vocab 22, hapax 21, total 26;
    // top-20 = t0 + 19 hapax = 24 occurrences (whichever hapax win the
    // tie, the sum is the same) → share 24/26
    val bbText = ("t0 " * 5).trim + " " + (1 to 21).map(i => s"u$i").mkString(" ")
    val planted = Seq(
      (1L, "aa", "x x y"), // vocab 2, hapax 1, total 3, head = all
      (2L, "bb", bbText)).toDF("doc_id", "lang", "text")
    val got = ops.TextAnalysis.vocabCoverage(planted, "lang", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("vocab"), r.getAs[Long]("hapax"),
          r.getAs[Long]("total_toks"), r.getAs[Long]("topk_occ"),
          r.getAs[Double]("topk_share")))).toMap
    assert(got("aa") == ((2L, 1L, 3L, 3L, 1.0)), s"aa wrong: $got")
    assert(got("bb") == ((22L, 21L, 26L, 24L, math.rint(24.0 / 26 * 1e4) / 1e4)),
      s"bb wrong: $got")
    // corpus run: one row per language; shares and bounds sane
    val df = ops.TextAnalysis.vocabCoverage(spark, sfDir).cache()
    val langs = Tables.documents(spark, sfDir).select("lang").distinct().count()
    assert(df.count() == langs)
    assert(df.filter(col("hapax") > col("vocab")).count() == 0)
    assert(df.filter(col("topk_occ") > col("total_toks")).count() == 0)
    assert(df.filter(col("topk_share") <= 0 || col("topk_share") > 1).count() == 0)
  }

  test("pmiCollocations: exclusive pair scores exactly; sub-support pair absent") {
    import spark.implicits._
    // Corpus: "p q" ×5 (p, q appear ONLY together — maximal association);
    // "a a a a" ×10 (high-count pair of a high-count word — weak PMI).
    // T = 50 tokens, B = 35 bigrams:
    //   PMI(p q) = ln(5·50·50 / (35·5·5))   = ln(100/7)
    //   PMI(a a) = ln(30·50·50 / (35·40·40)) = ln(75/56)
    val docs = ((1 to 5).map(i => (i.toLong, "xx", "p q")) ++
      (6 to 15).map(i => (i.toLong, "xx", "a a a a")))
      .toDF("doc_id", "lang", "text")
    val rows = ops.TextAnalysis.pmiCollocations(docs, "lang", "text").collect()
    // only two pairs reach support 5: "p q" (5) and "a a" (30)
    assert(rows.length == 2, s"expected 2 ranked pairs, got ${rows.toSeq}")
    val first = rows.head
    assert(first.getAs[String]("bigram") == "p q" && first.getAs[Int]("rank") == 1 &&
      first.getAs[Long]("cnt") == 5L)
    val expPq = math.rint(math.rint(math.log(100.0 / 7) * 1e6) / 1e6 * 1e4) / 1e4
    assert(math.abs(first.getAs[Double]("pmi") - expPq) < 1e-9,
      s"pmi ${first.getAs[Double]("pmi")} != $expPq")
    val second = rows(1)
    assert(second.getAs[String]("bigram") == "a a" &&
      second.getAs[Double]("pmi") < first.getAs[Double]("pmi"))
    // a pair occurring 4 times stays below support and must not appear
    val below = ((1 to 4).map(i => (i.toLong, "yy", "r s")) ++
      (5 to 14).map(i => (i.toLong, "yy", "f f f f f f")))
      .toDF("doc_id", "lang", "text")
    val pairs = ops.TextAnalysis.pmiCollocations(below, "lang", "text")
      .select("bigram").as[String].collect().toSet
    assert(!pairs.contains("r s"), s"sub-support pair leaked: $pairs")
  }

  test("bpePairs: within-token pairs counted exactly; 1-char tokens contribute none") {
    import spark.implicits._
    // "abc" → pairs ab, bc; "x" → nothing; two docs double the counts
    val docs = Seq((1L, "en", "abc abc x"), (2L, "en", "abc x"))
      .toDF("doc_id", "lang", "text")
    val rows = ops.TextAnalysis.bpePairs(docs, "lang", "text").collect()
    assert(rows.length == 2, s"expected 2 pairs, got ${rows.toSeq}")
    assert(rows(0).getAs[String]("pair") == "ab" && rows(0).getAs[Long]("cnt") == 3L &&
      rows(0).getAs[Int]("rank") == 1) // tie on cnt → pair text breaks it
    assert(rows(1).getAs[String]("pair") == "bc" && rows(1).getAs[Long]("cnt") == 3L)
    // corpus run: ≤ 20 ranks per language, counts non-increasing in rank
    val df = ops.TextAnalysis.bpePairs(spark, sfDir).cache()
    assert(df.groupBy("lang").count().filter(col("count") > 20).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("rank")
    assert(df.withColumn("prev", lag("cnt", 1).over(w))
      .filter(col("prev") < col("cnt")).count() == 0)
  }

  test("zipfFit: an exact power law recovers slope -1 and intercept ln(C)") {
    import spark.implicits._
    // counts 12, 6, 4, 3 at ranks 1..4 = 12/r exactly → ln-ln slope -1
    val text = (Seq.fill(12)("w1") ++ Seq.fill(6)("w2") ++
      Seq.fill(4)("w3") ++ Seq.fill(3)("w4")).mkString(" ")
    val docs = Seq((1L, "en", text)).toDF("doc_id", "lang", "text")
    val r = ops.TextAnalysis.zipfFit(docs, "lang", "text").head()
    assert(r.getAs[Long]("n_terms") == 4L)
    assert(math.abs(r.getAs[Double]("zipf_slope") + 1.0) < 5e-4,
      s"slope ${r.getAs[Double]("zipf_slope")}")
    assert(math.abs(r.getAs[Double]("zipf_intercept") - math.log(12.0)) < 5e-4,
      s"intercept ${r.getAs[Double]("zipf_intercept")}")
    // corpus run: one row per language, slopes negative
    val df = ops.TextAnalysis.zipfFit(spark, sfDir).cache()
    val langs = Tables.documents(spark, sfDir).select("lang").distinct().count()
    assert(df.count() == langs)
    assert(df.filter(col("zipf_slope") >= 0).count() == 0)
  }

  test("heapsLaw: exact beta=1 and beta=0 corpora; value-grid deciles; corpus fit sane") {
    import spark.implicits._
    // 10 docs (ids 1..10) with 4 brand-new tokens each: N_k = V_k = 4k
    // at every decile → ln-ln slope exactly 1
    val fresh = (1 to 10).map(i =>
      (i.toLong, (1 to 4).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val f = ops.TextAnalysis.heapsLaw(fresh, "doc_id", "text").collect()
    assert(f.length == 10)
    // mn=1, mx=10 → cutoff_k = (10k) DIV 10 = k
    assert(f.map(r => (r.getAs[Long]("decile"), r.getAs[Long]("cutoff_id"),
      r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab"))).toSeq ==
      (1 to 10).map(k => (k.toLong, k.toLong, 4L * k, 4L * k)))
    assert(f.forall(r => math.abs(r.getAs[Double]("heaps_beta") - 1.0) < 5e-4),
      s"fresh-vocab corpus must fit beta=1, got ${f.head.getAs[Double]("heaps_beta")}")
    // 10 identical docs: V_k = 4 constant while N_k grows → slope 0
    val fixed = (1 to 10).map(i => (i.toLong, "a b c d"))
      .toDF("doc_id", "text")
    val g = ops.TextAnalysis.heapsLaw(fixed, "doc_id", "text").collect()
    assert(g.forall(_.getAs[Long]("vocab") == 4L))
    assert(g.forall(r => math.abs(r.getAs[Double]("heaps_beta")) < 5e-4),
      s"saturated corpus must fit beta=0, got ${g.head.getAs[Double]("heaps_beta")}")
    // corpus: 10 rows, cumulative counts monotone, sublinear-growth beta
    val c = ops.TextAnalysis.heapsLaw(spark, sfDir).collect()
    assert(c.length == 10)
    assert(c.sliding(2).forall(p =>
      p(0).getAs[Long]("n_tokens") <= p(1).getAs[Long]("n_tokens") &&
        p(0).getAs[Long]("vocab") <= p(1).getAs[Long]("vocab")))
    // the synthetic corpus draws from a FIXED 31-word pool, so its
    // vocabulary saturates in decile 1 and the true beta IS 0.0 —
    // exactly the degenerate-source signal the op exists to flag
    val beta = c.head.getAs[Double]("heaps_beta")
    assert(beta >= 0.0 && beta <= 1.0, s"corpus beta out of range: $beta")
    assert(c.forall(_.getAs[Long]("vocab") == c.head.getAs[Long]("vocab"))
      == (beta == 0.0))
  }

  test("ngramNovelty: first carrier wins, exact copies score 0, short docs NULL") {
    import spark.implicits._
    val w = (1 to 10).map(i => s"w$i").mkString(" ")           // 10 toks, 3 grams
    val boiler = (1 to 8).map(i => s"w$i").mkString(" ")        // doc1's first gram
    val mixed = boiler + " " + (1 to 8).map(i => s"z$i").mkString(" ")
    val docs = Seq(
      (1L, w),                     // everything novel: 3/3
      (2L, w),                     // exact copy: 0/3
      (3L, "a b c d e f g"),       // 7 tokens: no grams, NULL bp
      (4L, mixed)                  // 16 toks → 9 grams, 1 recycled from doc 1
    ).toDF("doc_id", "text")
    val got = ops.TextAnalysis.ngramNovelty(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))).toMap
    assert(got(1L) == ((3L, 3L, 10000L)), s"doc1 ${got(1L)}")
    assert(got(2L) == ((3L, 0L, 0L)), s"exact copy must recycle: ${got(2L)}")
    assert(got(3L) == ((0L, 0L, null)), s"short doc must be NULL: ${got(3L)}")
    assert(got(4L) == ((9L, 8L, 8888L)), s"boiler-opened doc: ${got(4L)}")
    // corpus laws: novel mass sums to the distinct gram count; the
    // smallest-id long doc is fully novel; bp bounded; NULL iff no grams
    val c = ops.TextAnalysis.ngramNovelty(spark, sfDir).collect()
    val grams = Tables.documents(spark, sfDir)
      .select(split(col("text"), " ").as("tk"))
      .select(explode(expr(
        """array_distinct(CASE WHEN size(tk) >= 8 THEN
          |  transform(sequence(0, size(tk) - 8), i -> concat_ws(' ',
          |    tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4], tk[i+5], tk[i+6], tk[i+7]))
          |ELSE array() END)""".stripMargin)).as("g"))
      .distinct().count()
    assert(c.map(_.getLong(2)).sum == grams,
      "novel mass must equal the distinct gram count")
    val firstLong = c.filter(_.getLong(1) > 0).minBy(_.getLong(0))
    assert(firstLong.getLong(3) == 10000L,
      "the earliest gram-bearing doc is fully novel by definition")
    c.foreach { r =>
      assert(r.isNullAt(3) == (r.getLong(1) == 0L))
      if (!r.isNullAt(3)) assert(r.getLong(3) >= 0L && r.getLong(3) <= 10000L)
    }
  }

  test("sourceNovelty: first-carrier source wins shared grams; short-doc sources NULL") {
    import spark.implicits._
    val w = (1 to 10).map(i => s"w$i").mkString(" ")
    val z = (1 to 10).map(i => s"z$i").mkString(" ")
    val docs = Seq(
      (1L, "A", w),           // A ships 3 novel grams
      (2L, "B", w),           // B recycles them all (0/3)
      (3L, "B", z),           // B ships 3 of its own
      (4L, "C", "too short")  // C has no grams → NULL bp
    ).toDF("doc_id", "source", "text")
    val got = ops.TextAnalysis.sourceNovelty(docs, "doc_id", "source", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(got("A") == ((1L, 3L, 3L, 10000L)), s"A: ${got("A")}")
    assert(got("B") == ((2L, 6L, 3L, 5000L)), s"B: ${got("B")}")
    assert(got("C") == ((1L, 0L, 0L, null)), s"C: ${got("C")}")
    // corpus laws: novelty mass conserved across sources; doc spine full
    val c = ops.TextAnalysis.sourceNovelty(spark, sfDir).collect()
    val perDoc = ops.TextAnalysis.ngramNovelty(spark, sfDir).collect()
    assert(c.map(_.getLong(3)).sum == perDoc.map(_.getLong(2)).sum,
      "source novel mass must equal the per-doc novel mass")
    assert(c.map(_.getLong(2)).sum == perDoc.map(_.getLong(1)).sum,
      "source gram totals must equal the per-doc totals")
    assert(c.map(_.getLong(1)).sum ==
      Tables.documents(spark, sfDir).count())
  }

  test("heapsLaw: non-integral id column fails loudly, hashed id is the fix") {
    import spark.implicits._
    val docs = Seq(("a-1", "x y"), ("b-2", "x z")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      ops.TextAnalysis.heapsLaw(docs, "doc_id", "text")
    }
    assert(e.getMessage.contains("integral id column"), e.getMessage)
    assert(e.getMessage.contains("xxhash64"), "error must name the fix")
    // the advertised workaround works
    val hashed = docs.withColumn("hid", xxhash64(col("doc_id")))
    val got = ops.TextAnalysis.heapsLaw(hashed, "hid", "text").collect()
    assert(got.length == 10 && got.last.getAs[Long]("vocab") == 3L)
    // column lookup follows Spark's (case-insensitive) resolution: a
    // differently-cased name resolves instead of throwing a raw
    // schema() IllegalArgumentException; a missing one errors friendly
    val viaCase = ops.TextAnalysis.heapsLaw(hashed, "HID", "text").collect()
    assert(viaCase.length == 10)
    val miss = intercept[IllegalArgumentException] {
      ops.TextAnalysis.heapsLaw(hashed, "nope", "text")
    }
    assert(miss.getMessage.contains("no column 'nope'"), miss.getMessage)
  }

  test("sparseKnn: planted near-copy ranks first; disjoint docs never pair") {
    import spark.implicits._
    // doc 0 (query) shares most terms with doc 10, fewer with doc 11;
    // docs 12/13 share nothing with it
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (10L, "alpha beta gamma delta epsilon eta"),
      (11L, "alpha beta theta iota kappa lambda"),
      (12L, "mu nu xi omicron pi rho"),
      (13L, "sigma tau upsilon phi chi psi")
    ).toDF("doc_id", "text")
    val got = ops.TextAnalysis.sparseKnn(docs, "doc_id", "text", nQueries = 1, k = 3)
      .collect()
    assert(got.forall(_.getLong(0) == 0L))
    val ranked = got.sortBy(_.getLong(1)).map(r => r.getLong(2) -> r.getDouble(3))
    assert(ranked.head._1 == 10L, s"near-copy not ranked first: ${ranked.toSeq}")
    assert(ranked(1)._1 == 11L, s"partial match not second: ${ranked.toSeq}")
    assert(ranked.length == 2, s"disjoint docs paired: ${ranked.toSeq}")
    assert(ranked.head._2 > ranked(1)._2)
    // corpus run: k results max per query, cosine within [0, 1], ranks contiguous
    val corpus = ops.TextAnalysis.sparseKnn(spark, sfDir).cache()
    assert(corpus.filter(col("cos_sim") < -1e-9 || col("cos_sim") > 1 + 1e-9).count() == 0)
    val perQ = corpus.groupBy("query_id").count()
    assert(perQ.filter(col("count") > 5).count() == 0)
  }

  test("sparseKnn: df-capped hot term is cut from the index and surfaced in q_dropped_terms") {
    import spark.implicits._
    // "hot" appears in 1103 of 1500 docs — over the 1000-doc posting
    // cap but NOT corpus-ubiquitous (idf ln(1500/1103) > 0), so only
    // the cap removes it. Query doc 0 and doc 1 still pair on
    // alpha+beta (cos exactly 1.0); doc 2 shares ONLY the hot term, so
    // with the cap it must not pair at all.
    val docs = (Seq(
      (0L, "hot alpha beta"),
      (1L, "hot alpha beta"),
      (2L, "hot gamma delta")) ++
      (3L to 1102L).map(i => (i, s"hot filler$i")) ++
      (1103L to 1499L).map(i => (i, s"cold$i only$i"))).toDF("doc_id", "text")
    val got = ops.TextAnalysis.sparseKnn(docs, "doc_id", "text", nQueries = 1, k = 5)
      .collect()
    assert(got.length == 1, s"hot-term-only pairs leaked: ${got.toSeq}")
    val r = got.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 1.0, "alpha+beta vectors are identical after the cut")
    assert(r.getAs[Long]("q_dropped_terms") == 1L, "the hot term cut must be visible")
  }

  test("bigramLm: hand-computed conditional log-probs; short docs drop out") {
    import spark.implicits._
    // bc: "a b"=3, "b a"=1, "b c"=1; prefix counts: a·=3, b·=2.
    // doc 1 "a b a b": lp(b|a)=ln 1=0 twice, lp(a|b)=ln ½ → avg −0.2310
    // doc 2 "a b c":   lp(b|a)=0, lp(c|b)=ln ½       → avg −0.3466
    // doc 3 "x": a single token has no transitions → absent
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = ops.TextAnalysis.bigramLm(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(1L, 2L), s"short doc must drop: $got")
    assert(got(1L) == ((3L, -693147L, -0.231)), s"doc 1: ${got(1L)}")
    assert(got(2L) == ((2L, -693147L, -0.3466)), s"doc 2: ${got(2L)}")
    // corpus run: log-probs never positive, every ≥2-token doc scored
    val corpus = ops.TextAnalysis.bigramLm(spark, sfDir).cache()
    assert(corpus.filter(col("avg_logprob") > 1e-9).count() == 0)
    val expected = Tables.documents(spark, sfDir)
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(corpus.count() == expected, "a multi-token doc is missing a score")
  }

  test("pplFilter: planted split scores held-out bigrams under the add-one train model") {
    import spark.implicits._
    // split hash ((id % 1e9+7) * 2654435761) % 1000: ids 0,1,2 land
    // below 800 (train); ids 5 (805) and 9 (849) are held out
    val docs = Seq(
      (0L, "a b"), (1L, "a b"), (2L, "a c"),
      (5L, "a b x"), (9L, "z z z")).toDF("doc_id", "text")
    val got = ops.TextAnalysis.pplFilter(docs, "doc_id", "text").collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(5L, 9L),
      s"exactly the held-out docs score: ${got.toSeq}")
    // train model: c(a b)=2, c(a c)=1, prefix a·=3, V=|{a,b,c}|=3
    val lnAB = math.rint(math.log(3.0 / 6) * 1e6).toLong // (2+1)/(3+3)
    val lnUnseen = math.rint(math.log(1.0 / 3) * 1e6).toLong // (0+1)/(0+3)
    val r5 = got(0)
    assert(r5.getAs[Long]("n_bigrams") == 2L)
    assert(r5.getAs[Long]("sum_micro_lp") == lnAB + lnUnseen,
      s"doc 5 must mix one seen and one unseen transition: $r5")
    assert(r5.getAs[Int]("keep") == 1)
    val r9 = got(1)
    assert(r9.getAs[Long]("n_bigrams") == 2L)
    assert(r9.getAs[Long]("sum_micro_lp") == 2L * lnUnseen,
      s"doc 9 is all-unseen: $r9")
  }

  test("q_ppl_filter: held-out docs only, integer-exact keep cut, ordered") {
    val rows = ops.TextAnalysis.pplFilter(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(((id % 1000000007L) * 2654435761L) % 1000L >= 800L,
        s"train doc $id leaked into the scored side")
      val (n, s) = (r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_micro_lp"))
      assert(n >= 1 && s < 0)
      assert((r.getAs[Int]("keep") == 1) ==
        (s >= ops.TextAnalysis.PplKeepAvgMicroNats * n))
      val avg = r.getAs[Double]("avg_logprob")
      // round-4 of the mean (tolerance, not rint: HALF_UP vs HALF_EVEN)
      assert(math.abs(avg - s.toDouble / n / 1e6) <= 5.0001e-5)
    }
    val ids = rows.map(_.getAs[Long]("doc_id"))
    assert(ids.toSeq == ids.sorted.toSeq)
    // every held-out doc with >= 2 tokens gets a score
    val expected = Tables.documents(spark, sfDir)
      .filter(ops.Sampling.splitBucket(col("doc_id")) >= 800)
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(rows.length.toLong == expected)
  }

  test("bpeTrain: the classic low/lower/lowest hand-trace, ties lexicographic") {
    import spark.implicits._
    // vocab: low×3, lower×1, lowest×1 (with </w> markers)
    // r1: (l,o)=5 ties (o,w)=5 → lexicographic picks (l,o) → "lo"
    // r2: (lo,w)=5 → "low"; r3: (low,</w>)=3; r4: (low,e)=2 → "lowe"
    val docs = Seq("low low lower", "low lowest").toDF("text")
    val got = ops.TextAnalysis.bpeTrain(docs, "text", 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1, "l", "o", "lo", 5L),
      (2, "lo", "w", "low", 5L),
      (3, "low", "</w>", "low</w>", 3L),
      (4, "low", "e", "lowe", 2L)), s"merge table wrong: ${got.toSeq}")
    // exhaustion: a one-word corpus runs out of pairs and stops early
    val tiny = Seq("ab").toDF("text")
    val ex = ops.TextAnalysis.bpeTrain(tiny, "text", 10).collect()
    // [a, b, </w>] → "ab" → "ab</w>" → single symbol, no pairs left
    assert(ex.length == 2, s"ab</w> admits exactly 2 merges: ${ex.toSeq}")
    // corpus run: rounds contiguous from 1, counts positive and
    // non-increasing is NOT required (later merges can beat earlier
    // counts only if ties — BPE counts are non-increasing in fact)
    val corpus = ops.TextAnalysis.bpeTrain(
      Tables.documents(spark, sfDir), "text", 8).cache()
    assert(corpus.count() == 8)
    assert(corpus.select("merge_round").collect().map(_.getInt(0)).toSeq == (1 to 8))
    val counts = corpus.orderBy("merge_round").collect().map(_.getLong(4))
    assert(counts.forall(_ > 0))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"BPE merge counts must be non-increasing: ${counts.toSeq}")
  }

  test("bpeApply: classic hand-trace token counts; more merges never grow the total") {
    import spark.implicits._
    // low ×5, lower ×2, newest ×6, widest ×3 — Sennrich's worked example
    val corpus = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower"),
      (3L, "newest newest newest newest newest newest"),
      (4L, "widest widest widest")).toDF("doc_id", "text")
    // merges (count desc, lexicographic ties): es(9), est(9), est</w>(9),
    // lo(7), low(7), e+st</w>? — after 5 merges the token counts are
    // hand-checkable: newest → [n,e,w,est</w>] = 4, widest → [w,i,d,est</w>] = 4,
    // low → [low,</w>] = 2, lower → [low,e,r,</w>] = 4
    val got = ops.TextAnalysis.bpeApply(corpus, "doc_id", "text", 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(got(1L) == ((5L, 10L)), s"low×5 wrong: $got")
    assert(got(2L) == ((2L, 8L)), s"lower×2 wrong: $got")
    assert(got(3L) == ((6L, 24L)), s"newest×6 wrong: $got")
    assert(got(4L) == ((3L, 12L)), s"widest×3 wrong: $got")
    // monotonicity: total token count never increases with more merges
    def total(k: Int) = ops.TextAnalysis.bpeApply(corpus, "doc_id", "text", k)
      .agg(sum("n_bpe_tokens")).head().getLong(0)
    val totals = Seq(0, 2, 5, 8).map(total)
    assert(totals.zip(totals.tail).forall { case (a, b) => a >= b },
      s"token totals must be non-increasing in merges: $totals")
  }

  test("scriptMix: planted Cyrillic/CJK/mojibake counts exact; clean ASCII flags nothing") {
    import spark.implicits._
    val docs = Seq(
      ("en", "abc 123"),
      ("ru", "привет hi"),
      ("zh", "你好 world"),
      ("en", "bad\uFFFDtext\u0001")).toDF("lang", "text")
    val got = ops.TextAnalysis.scriptMix(docs, "lang", "text").collect()
      .map(r => r.getString(0) -> r).toMap
    val en = got("en")
    assert((en.getLong(1), en.getLong(2), en.getLong(3), en.getLong(4)) ==
      ((2L, 16L, 10L, 3L)), s"en counts wrong: $en")
    assert((en.getLong(8), en.getLong(9), en.getLong(10), en.getLong(11)) ==
      ((1L, 1L, 1L, 625L)), s"en damage wrong: $en")
    val ru = got("ru")
    assert((ru.getLong(2), ru.getLong(3), ru.getLong(5), ru.getLong(7),
      ru.getLong(10), ru.getLong(11)) == ((9L, 2L, 6L, 6L, 0L, 6666L)),
      s"ru counts wrong: $ru")
    val zh = got("zh")
    assert((zh.getLong(2), zh.getLong(3), zh.getLong(6), zh.getLong(11)) ==
      ((8L, 5L, 2L, 2500L)), s"zh counts wrong: $zh")
    // supplementary-plane characters count as ONE char, not two UTF-16
    // code units: "🚀🚀 ab" = 5 code points (DuckDB len() semantics)
    val emoji = Seq(("em", "🚀🚀 ab")).toDF("lang", "text")
    val em = ops.TextAnalysis.scriptMix(emoji, "lang", "text").collect().head
    assert(em.getLong(2) == 5L, s"sum_chars must be code points, got ${em.getLong(2)}")
    assert(em.getLong(7) == 2L, s"two emoji are two non-ascii chars: $em")
    assert(em.getLong(11) == 4000L, s"non_ascii_bp = 2*10000 div 5: $em")
    // corpus invariants: class counts bounded by chars, share within [0,10000]
    val corpus = ops.TextAnalysis.scriptMix(spark, sfDir).cache()
    assert(corpus.filter(col("ascii_alpha") + col("digits") > col("sum_chars")).count() == 0)
    assert(corpus.filter(col("non_ascii_bp") < 0 || col("non_ascii_bp") > 10000).count() == 0)
  }

  test("heavyHitters: sketch-pruned output equals brute force on a vocab far above the width") {
    import spark.implicits._
    // 3000 singleton terms crowd a width-16 summary; three planted
    // heavies must still surface with EXACT counts — the MG guarantee.
    val noise = (1 to 3000).map(i => s"rare$i")
    val heavies = Seq.fill(300)("alpha") ++ Seq.fill(280)("beta") ++ Seq.fill(260)("gamma")
    val words = new scala.util.Random(42).shuffle((noise ++ heavies).toVector)
    val docs = words.grouped(37).map(_.mkString(" ")).toSeq.toDF("text")
    val w = 16
    val got = ops.TextAnalysis.heavyHitters(docs, "text", w).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val n = noise.size + heavies.size
    // brute force: exact counts, threshold cnt * w > n
    val brute = Seq("alpha" -> 300L, "beta" -> 280L, "gamma" -> 260L)
      .filter { case (_, c) => c * w > n }
    assert(got == brute, s"got $got expected $brute")
    // layout invariance: the exact verification pass erases any
    // partition-order dependence in the sketch's candidate set
    val re = ops.TextAnalysis.heavyHitters(docs.repartition(7), "text", w)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(re == brute, s"under repartition(7): $re")
    // empty corpus degrades to an empty report
    assert(ops.TextAnalysis.heavyHitters(
      Seq.empty[String].toDF("text"), "text", w).count() == 0)
  }

  test("knBigram: planted corpus hits the exact hand-derived KN probabilities") {
    import spark.implicits._
    // bigrams: (a,b)×2, (a,c)×1, (d,b)×1 — T=3, c1(a)=3, N1+(a·)=2,
    // N1+(·b)=2, N1+(·c)=1; with D=3/4:
    //   P(b|a) = (5·3 + 3·2·2)/36 = 27/36, P(c|a) = 9/36, P(b|d) = 9/12
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "d b"))
      .toDF("doc_id", "text")
    val rows = ops.TextAnalysis.knBigram(docs, "doc_id", "text").collect()
    val got = rows.map(r => (r.getAs[String]("w1"), r.getAs[String]("w2")) ->
      r.getAs[Long]("kn_micro")).toMap
    assert(got == Map(("a", "b") -> 750000L, ("a", "c") -> 250000L,
      ("d", "b") -> 750000L))
    assert(rows.head.getAs[Long]("c12") == 2L) // count-desc cut
  }

  test("knBigram: smoothed mass closes to exactly 1 over the full vocabulary") {
    import spark.implicits._
    // exact integer identity per context w1, unseen continuations
    // included: Σ_w2 [max(4c12−3,0)·T + 3·N1fwd·N1bwd] = 4·c1·T
    val docs = Seq((1L, "x y z x y"), (2L, "y z q"), (3L, "q x q z"))
      .toDF("doc_id", "text")
    val rows = ops.TextAnalysis.knBigram(docs, "doc_id", "text").collect()
    val t = BigInt(rows.length) // all bigram types fit the top-500 cut
    val c12 = rows.map(r => (r.getAs[String]("w1"), r.getAs[String]("w2")) ->
      BigInt(r.getAs[Long]("c12"))).toMap
    val ctx = rows.map(r => r.getAs[String]("w1") ->
      (BigInt(r.getAs[Long]("c1")), BigInt(r.getAs[Long]("n1fwd")))).toMap
    val cont = rows.map(r => r.getAs[String]("w2") ->
      BigInt(r.getAs[Long]("n1bwd"))).toMap
    ctx.foreach { case (w1, (c1, n1fwd)) =>
      val total = cont.map { case (w2, n1bwd) =>
        (BigInt(4) * c12.getOrElse((w1, w2), BigInt(0)) - 3).max(BigInt(0)) * t +
          BigInt(3) * n1fwd * n1bwd
      }.sum
      assert(total == BigInt(4) * c1 * t, s"mass for context '$w1'")
    }
  }

  test("classifierEval: planted confusion hits exact P/R/F1 with NULL guards") {
    import spark.implicits._
    val conf = Seq(("a", "a", 8L), ("a", "b", 2L), ("b", "b", 5L),
      ("b", "a", 1L), ("c", "a", 2L), ("b", "d", 1L))
    // margins: true a=10 b=7 c=2; pred a=11 b=7 d=1; tp a=8 b=5
    val got = ops.TextAnalysis.classifierEval(conf.toDF("t", "p", "n"),
      "t", "p", "n").collect()
      .map(r => r.getAs[String]("label") ->
        (r.getAs[Long]("n_true"), r.getAs[Long]("n_pred"), r.getAs[Long]("tp"),
          Option(r.getAs[java.lang.Double]("precision")).map(_.toDouble),
          Option(r.getAs[java.lang.Double]("recall")).map(_.toDouble),
          r.getAs[Double]("f1"))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got("a") == ((10L, 11L, 8L, Some(r6(8.0 / 11)), Some(0.8),
      r6(16.0 / 21))))
    assert(got("b") == ((7L, 7L, 5L, Some(r6(5.0 / 7)), Some(r6(5.0 / 7)),
      r6(10.0 / 14))))
    assert(got("c") == ((2L, 0L, 0L, None, Some(0.0), 0.0))) // never predicted
    assert(got("d") == ((0L, 1L, 0L, Some(0.0), None, 0.0))) // never true
  }

  test("cohenKappa: planted agreement exact; perfect and degenerate cases") {
    import spark.implicits._
    val conf = Seq(("a", "a", 8L), ("a", "b", 2L), ("b", "b", 5L),
      ("b", "a", 1L), ("c", "a", 2L), ("b", "d", 1L))
    // N=19, agree=13, pe_num = 10·11 + 7·7 = 159 →
    // κ = (13·19 − 159)/(361 − 159) = 88/202
    val got = ops.TextAnalysis.cohenKappa(conf.toDF("t", "p", "n"),
      "t", "p", "n").collect().head
    assert(got.getAs[Long]("n_docs") == 19L)
    assert(got.getAs[Long]("n_agree") == 13L)
    assert(got.getAs[Double]("kappa") == math.rint(88.0 / 202 * 1e6) / 1e6)
    // two balanced classes in perfect agreement → κ = 1 exactly
    val perfect = ops.TextAnalysis.cohenKappa(
      Seq(("x", "x", 2L), ("y", "y", 2L)).toDF("t", "p", "n"),
      "t", "p", "n").collect().head
    assert(perfect.getAs[Double]("kappa") == 1.0)
    // one class only: chance agreement is total → κ undefined (NULL)
    val degen = ops.TextAnalysis.cohenKappa(
      Seq(("x", "x", 4L)).toDF("t", "p", "n"), "t", "p", "n").collect().head
    assert(degen.isNullAt(degen.fieldIndex("kappa")))
  }

  test("q_classifier_eval + q_cohen_kappa: corpus metrics are coherent") {
    val eval = ops.TextAnalysis.classifierEval(spark, sfDir).collect()
    assert(eval.nonEmpty)
    eval.foreach { r =>
      val f1 = r.getAs[Double]("f1")
      assert(f1 >= 0.0 && f1 <= 1.0)
      assert(r.getAs[Long]("tp") <= r.getAs[Long]("n_true"))
      assert(r.getAs[Long]("tp") <= r.getAs[Long]("n_pred"))
    }
    val k = ops.TextAnalysis.cohenKappa(spark, sfDir).collect().head
    val (po, pe) = (k.getAs[Double]("po"), k.getAs[Double]("pe"))
    assert(po >= 0.0 && po <= 1.0 && pe >= 0.0 && pe <= 1.0)
    assert(k.getAs[Double]("kappa") <= 1.0)
    // Σ tp across classes = agreeing docs
    assert(eval.map(_.getAs[Long]("tp")).sum == k.getAs[Long]("n_agree"))
  }

  test("q_kn_bigram: bounded cut, probabilities inside (0, 1e6]") {
    val rows = ops.TextAnalysis.knBigram(spark, sfDir).collect()
    assert(rows.length == 500)
    val counts = rows.map(_.getAs[Long]("c12"))
    assert(counts.toSeq == counts.sortBy(-(_: Long)).toSeq)
    rows.foreach { r =>
      val p = r.getAs[Long]("kn_micro")
      assert(p > 0L && p <= 1000000L)
      // the discounted MLE part alone can never exceed the whole
      assert(r.getAs[Long]("c12") <= r.getAs[Long]("c1"))
    }
  }

  test("coverageCurve: planted tie occupancy exact; curve monotone, closes at vocab") {
    import spark.implicits._
    // counts: a×5, b×3, c×3, d×1 → 12 tokens, 4 terms
    val docs = Seq((1L, "a a a a a b b b c c c d")).toDF("doc_id", "text")
    val got = ops.TextAnalysis.coverageCurve(docs, "text", Seq(1L, 2L, 4L))
      .collect().map(r => r.getAs[Long]("k") -> r).toMap
    assert(got(1L).getAs[Long]("top_tokens") == 5L)
    assert(got(1L).getAs[Long]("coverage_bp") == 5L * 10000 / 12)
    // k=2: after a (gt=1), the b/c tie (cnt=2 terms) fills ONE slot
    // worth exactly count 3 — tie occupancy, not an arbitrary pick
    assert(got(2L).getAs[Long]("top_terms") == 2L)
    assert(got(2L).getAs[Long]("top_tokens") == 8L)
    // k ≥ vocab: the curve closes at the full token mass
    assert(got(4L).getAs[Long]("top_terms") == 4L)
    assert(got(4L).getAs[Long]("coverage_bp") == 10000L)
    // corpus: monotone non-decreasing coverage in k, total consistent
    val corpus = ops.TextAnalysis.coverageCurve(spark, sfDir).collect()
    assert(corpus.length == 3)
    val cov = corpus.sortBy(_.getAs[Long]("k")).map(_.getAs[Long]("coverage_bp"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
    assert(corpus.forall(r =>
      r.getAs[Long]("top_tokens") <= r.getAs[Long]("total_tokens")))
  }

  test("dsir: target-like documents outrank off-target ones; weights are zero when target = corpus") {
    import spark.implicits._
    // target slice speaks 'aa'; raw docs 10 (pure 'aa'), 11 (pure
    // 'zz'), 12 (mixed) must rank 10 > 12 > 11
    val docs = Seq(
      (1L, true, "aa aa aa aa"), (2L, true, "aa aa aa bb"),
      (10L, false, "aa aa aa aa"), (11L, false, "zz zz zz zz"),
      (12L, false, "aa aa zz zz")).toDF("doc_id", "tgt", "text")
    val got = ops.TextAnalysis.dsir(docs, "doc_id", "text", "tgt", 5)
      .collect().map(r => r.getAs[Long]("doc_id")
        -> r.getAs[Long]("dsir_micro")).toMap
    assert(got(10L) > got(12L) && got(12L) > got(11L), s"$got")
    assert(got(1L) == got(10L),
      "identical texts must score identically regardless of slice")
    // target == whole corpus: the two LMs coincide → every weight 0
    val all = Seq((1L, true, "x y"), (2L, true, "y z"))
      .toDF("doc_id", "tgt", "text")
    val z = ops.TextAnalysis.dsir(all, "doc_id", "text", "tgt", 5).collect()
    assert(z.forall(_.getAs[Long]("dsir_micro") == 0L))
    // corpus: 20 selected, scores non-increasing
    val corpus = ops.TextAnalysis.dsir(spark, sfDir).collect()
    assert(corpus.length == 20)
    val sc = corpus.map(_.getAs[Long]("dsir_micro"))
    assert(sc.toSeq == sc.sortBy(-(_: Long)).toSeq)
  }

  test("mcnemar: hand-traced 2x2 from the confusion census; no-discordance NULL") {
    import spark.implicits._
    // gold en×6 (pred en 4, de 2), de×4 (pred de 1, en 3); modal = en
    // n11=4 n01=2 n10=1 n00=3 → χ² = (1−2)²/3
    val conf = Seq(("en", "en", 4L), ("en", "de", 2L), ("de", "de", 1L),
      ("de", "en", 3L)).toDF("t", "p", "n")
    val r = ops.TextAnalysis.mcnemar(conf, "t", "p", "n").collect().head
    assert(r.getAs[String]("modal") == "en")
    assert(r.getAs[Long]("n_docs") == 10L)
    assert(r.getAs[Long]("n11") == 4L && r.getAs[Long]("n10") == 1L &&
      r.getAs[Long]("n01") == 2L && r.getAs[Long]("n00") == 3L)
    assert(r.getAs[Double]("chi2") == math.rint(1.0 / 3.0 * 1e4) / 1e4)
    // perfect single-class agreement → zero discordance → NULL χ²
    val mono = Seq(("en", "en", 5L)).toDF("t", "p", "n")
    val m = ops.TextAnalysis.mcnemar(mono, "t", "p", "n").collect().head
    assert(m.isNullAt(m.fieldIndex("chi2")))
    // corpus: the 2×2 partitions the doc mass
    val c = ops.TextAnalysis.mcnemar(spark, sfDir).collect().head
    assert(c.getAs[Long]("n11") + c.getAs[Long]("n10") +
      c.getAs[Long]("n01") + c.getAs[Long]("n00") ==
      c.getAs[Long]("n_docs"))
  }

  test("goodTuring: planted bigram census traces the exact Turing estimates") {
    import spark.implicits._
    // "x y x y" → bigrams (x,y)×2, (y,x)×1 → N_1=1, N_2=1, N=3
    val got = ops.TextAnalysis.goodTuring(
      Seq((1L, "x y x y")).toDF("doc_id", "text"), "doc_id", "text").collect()
    assert(got.length == 2)
    val r1 = got(0)
    assert(r1.getAs[Long]("r") == 1L && r1.getAs[Long]("n_r") == 1L)
    assert(r1.getAs[Long]("r_star_micro") == 2000000L) // (1+1)·N_2/N_1 = 2
    assert(r1.getAs[Long]("n_tok") == 3L)
    assert(r1.getAs[Long]("p0_micro") == 333333L)
    val r2 = got(1)
    assert(r2.getAs[Long]("r") == 2L && r2.getAs[Long]("n_r") == 1L)
    // no trigram bucket above r=2 → classic estimator undefined
    assert(r2.isNullAt(r2.fieldIndex("r_star_micro")))
    // corpus laws: token mass closes, p0 constant, grid strictly rises
    val c = ops.TextAnalysis.goodTuring(spark, sfDir).collect()
    val nTok = c.head.getAs[Long]("n_tok")
    assert(c.map(r => r.getAs[Long]("r") * r.getAs[Long]("n_r")).sum == nTok)
    assert(c.map(_.getAs[Long]("p0_micro")).distinct.length == 1)
    val rs = c.map(_.getAs[Long]("r"))
    assert(rs.zip(rs.tail).forall { case (a, b) => a < b })
  }

  test("rake: hand-scored phrases; duplicate phrases collapse with one score") {
    import spark.implicits._
    // stop = {the}: phrases "big data" (len 2) and "big data pipeline"
    // (len 3); freq(big)=freq(data)=2, deg=5 → ws=2.5; pipeline 3/1=3
    val docs = Seq((1L, "big data the big data pipeline")).toDF("doc_id", "text")
    val got = ops.TextAnalysis.rake(docs, "doc_id", "text", Seq("the"), 20)
      .collect().map(r => r.getAs[String]("phrase") ->
        (r.getAs[Long]("n_occ"), r.getAs[Long]("score_micro"))).toMap
    assert(got == Map(
      "big data pipeline" -> (1L, 8000000L),
      "big data" -> (1L, 5000000L)))
    // the same phrase in two docs dedups to n_occ=2, same score
    val two = Seq((1L, "alpha beta"), (2L, "alpha beta")).toDF("doc_id", "text")
    val g2 = ops.TextAnalysis.rake(two, "doc_id", "text", Seq("the"), 20)
      .collect()
    assert(g2.length == 1)
    assert(g2.head.getAs[String]("phrase") == "alpha beta")
    assert(g2.head.getAs[Long]("n_occ") == 2L)
    // leading/trailing stopwords only delimit — never appear in phrases
    val edge = Seq((1L, "the alpha the")).toDF("doc_id", "text")
    val g3 = ops.TextAnalysis.rake(edge, "doc_id", "text", Seq("the"), 20)
      .collect()
    assert(g3.length == 1 && g3.head.getAs[String]("phrase") == "alpha")
    // corpus: top-20, scores non-increasing, no stopword inside phrases
    val c = ops.TextAnalysis.rake(spark, sfDir).collect()
    assert(c.length == 20)
    val scs = c.map(_.getAs[Long]("score_micro"))
    assert(scs.toSeq == scs.sortBy(-(_: Long)).toSeq)
    val stop = Set("the", "a", "of", "and", "to", "in", "is")
    assert(c.forall(r =>
      r.getAs[String]("phrase").split(" ").forall(w => !stop.contains(w))))
  }
}
