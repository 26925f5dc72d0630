package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Library-API edge cases: the DataFrame-first operators must behave
  * sanely on degenerate corpora — empty input yields empty (or
  * empty-summary) output without throwing, a single document flows
  * through the pair-based ops as a singleton, and operators with hard
  * preconditions fail loudly rather than returning broken results.
  */
class EdgeCasesSpec extends AnyFunSuite {
  import SparkTestSession._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def docsOf(rows: Row*) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), docSchema)

  private lazy val empty = docsOf()
  private lazy val single = docsOf(Row(7L, "only one doc here with a few words", "en", "web", 34L))

  test("empty corpus flows through dedup/curation/text ops without throwing") {
    assert(ops.Dedup.dedupExact(empty, "doc_id", "text").count() == 0)
    assert(ops.Dedup.dedupMinhash(empty, "doc_id", "text").count() == 0)
    assert(ops.Dedup.canonicalize(empty).count() == 0)
    assert(ops.Dedup.dedupNgramJaccard(empty, "doc_id", "text", "lang", "n_chars")
      .count() == 0)
    assert(ops.Curation.repetitionStats(empty, "doc_id", "text").count() == 0)
    assert(ops.Curation.chunkTokens(empty, "doc_id", "text", 64).count() == 0)
    assert(ops.Curation.qualityFilter(empty, "doc_id", "text").count() == 0)
    assert(ops.Curation.packSequences(empty, "doc_id", "text", 256L, 8).count() == 0)
    assert(ops.TextAnalysis.tokenCount(empty, "doc_id", "text").count() == 0)
    assert(ops.TextAnalysis.tfidf(empty, "doc_id", "lang", "text").count() == 0)
    assert(ops.Sampling.trainSplit(empty, "doc_id", "lang").count() == 0)
  }

  test("single-document corpus: pair-based ops emit one clean singleton row") {
    val mh = ops.Dedup.dedupMinhash(single, "doc_id", "text").collect()
    assert(mh.length == 1 && mh(0).getAs[Long]("n_candidates") == 0)
    val ng = ops.Dedup.dedupNgramJaccard(single, "doc_id", "text", "lang", "n_chars")
      .collect()
    assert(ng.length == 1 && ng(0).getAs[Long]("n_dups") == 0
      && ng(0).getAs[Int]("in_dropped_bucket") == 0)
    val qf = ops.Curation.qualityFilter(single, "doc_id", "text").collect()
    assert(qf.length == 1)
    val chunks = ops.Curation.chunkTokens(single, "doc_id", "text", 3).collect()
    assert(chunks.map(_.getAs[Long]("n_chunk_toks")).sum == 8) // 8 whitespace tokens
  }

  test("empty and single-group corpora flow through the mixing ops") {
    assert(ops.Mixing.temperatureMix(empty, "doc_id", "lang").count() == 0)
    assert(ops.Mixing.tokenBudget(empty, "doc_id", "lang", "text", "n_chars", 100L)
      .count() == 0)
    assert(ops.Mixing.outlierBands(empty, "lang", "n_chars").count() == 0)
    assert(ops.Mixing.sourceDupRate(empty, "source", "text").count() == 0)
    // one language: it is its own rarest language → rate 10000, keeps all
    val one = ops.Mixing.temperatureMix(single, "doc_id", "lang").collect()
    assert(one.length == 1 && one(0).getAs[Long]("rate_bp") == 10000L
      && one(0).getAs[Long]("n_kept") == 1L)
    // one doc under budget: kept; its own percentile band: not an outlier
    assert(ops.Mixing.tokenBudget(single, "doc_id", "lang", "text", "n_chars", 100L)
      .count() == 1)
    val band = ops.Mixing.outlierBands(single, "lang", "n_chars").collect().head
    assert(band.getAs[Long]("n_outliers") == 0L)
  }

  test("annIvf fails loudly when the corpus is smaller than the cell count") {
    val few = docsOf() // build a 3-vector embedding frame instead
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val emb = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(0L, Seq.fill(8)(1.0f)), Row(1L, Seq.fill(8)(0.5f)), Row(2L, Seq.fill(8)(0.25f))), 1),
      embSchema)
    val ex = intercept[Exception] {
      ops.Similarity.annIvf(emb, "vec_id", "embedding",
        col("vec_id") < 1, nCells = 16, nProbe = 2, k = 1, iters = 1).count()
    }
    assert(ex.getMessage.contains("fewer than nCells"), s"wrong failure: ${ex.getMessage}")
    assert(few.count() == 0)
  }

  test("empty and singleton corpora flow through the round-4 ops") {
    import spark.implicits._
    assert(ops.Sampling.contentSplit(empty, "doc_id", "text").count() == 0)
    assert(ops.TextAnalysis.tokenEntropy(empty, "doc_id", "lang", "text").count() == 0)
    assert(ops.Mixing.dupSizeHistogram(empty, "text").count() == 0)
    assert(ops.Mixing.sourceOverlap(empty, "source", "text").count() == 0)
    // a single doc: entropy row exists and is finite, histogram is one k=1 cluster,
    // the one source yields an empty (no-pairs) but well-formed matrix
    val ent = ops.TextAnalysis.tokenEntropy(single, "doc_id", "lang", "text").collect()
    assert(ent.length == 1 && !ent.head.getAs[Double]("avg_entropy").isNaN)
    val h = ops.Mixing.dupSizeHistogram(single, "text").collect()
    assert(h.length == 1 && h.head.getAs[Long]("k") == 1L)
    assert(ops.Mixing.sourceOverlap(single, "source", "text").count() == 0)
    // group sample: k larger than any group returns every row, ranked
    assert(ops.Sampling.groupSample(empty, "doc_id", "lang", 3).count() == 0)
    val gs = ops.Sampling.groupSample(single, "doc_id", "lang", 3).collect()
    assert(gs.length == 1 && gs.head.getAs[Int]("rank") == 1)
    // an empty changelog side: every base row survives as 'kept'
    val base = Seq((1L, 1L, "click", 5.0, "2024-01-02"))
      .toDF("user_id", "event_id", "event_type", "value", "d")
      .withColumn("ts", col("d").cast("timestamp"))
      .withColumn("es", unix_timestamp(col("ts"))).drop("d")
    val merged = ops.Relational.mergeUpsert(base, lit("2024-01-10").cast("timestamp"))
      .collect()
    assert(merged.length == 1 && merged.head.getAs[String]("action") == "kept")
  }

  test("empty and singleton corpora flow through the round-5 ops") {
    assert(ops.TextAnalysis.unigramLm(empty, "doc_id", "text").count() == 0)
    assert(ops.Curation.curriculum(empty, "doc_id", "source", "n_chars").count() == 0)
    val lm = ops.TextAnalysis.unigramLm(single, "doc_id", "text").collect()
    assert(lm.length == 1 && lm.head.getAs[Double]("avg_logprob") < 0)
    val cur = ops.Curation.curriculum(single, "doc_id", "source", "n_chars").collect()
    assert(cur.length == 1 && cur.head.getAs[Long]("curriculum_pos") == 1L)
    val emptyVecs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 1),
      StructType(Seq(StructField("vec_id", LongType), StructField("label", IntegerType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(ops.Similarity.centroidDrift(emptyVecs, "vec_id", "label", "embedding")
      .count() == 0)
    assert(ops.Similarity.embeddingQuantize(emptyVecs, "vec_id", "embedding")
      .count() == 0)
    assert(ops.Curation.spanDedup(empty, "doc_id", "text", 4).count() == 0)
    // a single doc's spans are all unique-in-corpus: nothing dup, nothing removable
    val sd = ops.Curation.spanDedup(single, "doc_id", "text", 4).collect()
    assert(sd.length == 1 && sd.head.getAs[Long]("n_dup_spans") == 0L)
    // bm25: empty corpus scores nothing; a single matching doc surfaces
    assert(ops.TextAnalysis.bm25(empty, "doc_id", "text", Seq("words"), 5)
      .count() == 0)
    val b = ops.TextAnalysis.bm25(single, "doc_id", "text", Seq("words"), 5).collect()
    assert(b.length == 1 && b.head.getAs[Long]("doc_id") == 7L &&
      b.head.getAs[Long]("score_micro") > 0)
    // kmeans: a corpus smaller than k must fail loudly, not train a
    // degenerate clustering (the annIvf contract) — emptyVecs is the
    // shared empty embeddings frame defined earlier in this test
    val ex = intercept[Exception] {
      ops.Similarity.kmeansReport(emptyVecs, "vec_id", "label", "embedding", 2, 1)
        .count()
    }
    assert(ex.getMessage.contains("fewer than"), s"wrong failure: $ex")
    // threshold sweep: empty corpus still emits the full grid (zero
    // kept, NULL percentage) — a calibration report must not vanish
    val sweep = ops.Curation.thresholdSweep(empty, "doc_id", "text", Seq(0.5, 0.9))
      .collect()
    assert(sweep.length == 2 &&
      sweep.forall(r => r.getAs[Long]("n_kept") == 0L && r.isNullAt(3)))
    // weighted sample / compress ratio on empty corpora: empty, no throw
    assert(ops.Sampling.weightedSample(empty, "doc_id", "n_chars", 5).count() == 0)
    assert(ops.TextAnalysis.compressRatio(empty, "doc_id", "text").count() == 0)
  }

  test("empty and singleton corpora flow through the round-5 second-leg ops") {
    // boilerplate: empty → empty; a single doc's segments can never
    // reach the cross-doc frequency floor; a short doc scores 0 segs
    assert(ops.TextAnalysis.boilerplate(empty, "doc_id", "text").count() == 0)
    val bp = ops.TextAnalysis.boilerplate(single, "doc_id", "text").collect()
    assert(bp.length == 1 && bp.head.getAs[Long]("n_boiler") == 0L)
    // vocab coverage: empty → no language rows; single doc covers itself
    assert(ops.TextAnalysis.vocabCoverage(empty, "lang", "text").count() == 0)
    val vc = ops.TextAnalysis.vocabCoverage(single, "lang", "text").collect()
    assert(vc.length == 1 && vc.head.getAs[Double]("topk_share") == 1.0)
    // containment: empty and singleton corpora have no pairs
    assert(ops.Dedup.containmentPairs(empty, "doc_id", "text", 0.8).count() == 0)
    assert(ops.Dedup.containmentPairs(single, "doc_id", "text", 0.8).count() == 0)
    // containment profile: empty corpus is one all-zero row with NULL
    // coverage (no mass to cover); a singleton covers itself fully
    val cpEmpty = ops.Dedup.containmentProfile(empty, "doc_id", "text", cap = 100)
      .collect()
    assert(cpEmpty.length == 1 && cpEmpty.head.getAs[Long]("n_docs") == 0L
      && cpEmpty.head.getAs[Long]("shingle_rows") == 0L
      && cpEmpty.head.isNullAt(cpEmpty.head.fieldIndex("coverage_milli")),
      s"empty-corpus profile wrong: ${cpEmpty.toSeq}")
    val cpSingle = ops.Dedup.containmentProfile(single, "doc_id", "text", cap = 100)
      .collect().head
    assert(cpSingle.getAs[Long]("n_docs") == 1L
      && cpSingle.getAs[Long]("coverage_milli") == 1000L, s"$cpSingle")
    // source drift: empty → empty (guard path); a lone source matches
    // the global ECDF exactly → ks 0
    assert(ops.Mixing.sourceDrift(empty, "source", "n_chars").count() == 0)
    val dr = ops.Mixing.sourceDrift(single, "source", "n_chars").collect()
    assert(dr.length == 1 && dr.head.getAs[Double]("ks_stat") == 0.0)
    // anomaly: empty stream and too-short histories flag nothing
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 1),
      StructType(Seq(StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts", TimestampType), StructField("value", DoubleType))))
    assert(ops.Advanced.anomaly(emptyEvents, "event_id", "user_id", "ts", "value")
      .count() == 0)
    // semantic dedup: corpus smaller than the cell count fails loudly
    // (the shared-trainer contract), like annIvf/kmeans
    val fewVecs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, Seq(1.0f, 0.0f))), 1),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ex = intercept[Exception] {
      ops.Similarity.semanticDedup(fewVecs, "vec_id", "embedding",
        nCells = 4, iters = 1, tau = 0.97, maxCell = 10).count()
    }
    assert(ex.getMessage.contains("fewer than"), s"wrong failure: $ex")
  }

  test("schema-evolution union against an empty early snapshot still emits") {
    // unionByName(allowMissingColumns) where the old-schema side matches
    // zero rows: every customer must surface with n_early = 0 and the
    // late-side aggregates intact
    val tmp = java.nio.file.Files.createTempDirectory("graft-ubn-").toString
    try {
      Tables.orders(spark, "/root/testdata/sf0.001")
        .filter(col("o_orderdate") >= "1996-01-01")
        .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      val df = ops.Relational.unionByNameEvolved(spark, tmp).cache()
      assert(df.count() > 0, "empty early side must not blank the union")
      assert(df.filter(col("n_early") =!= 0).count() == 0)
      assert(df.filter(col("n_late") <= 0 || col("late_cents") <= 0).count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("empty and singleton corpora flow through pmi / bpe pairs / zipf fit") {
    // pmi: empty → empty; a lone doc's pairs stay below support
    assert(ops.TextAnalysis.pmiCollocations(empty, "lang", "text").count() == 0)
    assert(ops.TextAnalysis.pmiCollocations(single, "lang", "text").count() == 0)
    // bpe: empty → empty; a lone doc still yields ranked pairs
    assert(ops.TextAnalysis.bpePairs(empty, "lang", "text").count() == 0)
    val bp = ops.TextAnalysis.bpePairs(single, "lang", "text").collect()
    assert(bp.nonEmpty && bp.head.getAs[Int]("rank") == 1 && bp.length <= 20)
    // zipf: empty → no rows; an all-distinct-token doc fits slope 0
    assert(ops.TextAnalysis.zipfFit(empty, "lang", "text").count() == 0)
    val zf = ops.TextAnalysis.zipfFit(single, "lang", "text").head()
    assert(zf.getAs[Double]("zipf_slope") == 0.0 &&
      zf.getAs[Double]("zipf_intercept") == 0.0)
  }

  test("empty and singleton corpora flow through the round-6 ops") {
    import spark.implicits._
    // containment (bottom-k probe scheme): empty → empty; singleton has
    // no partner to contain
    assert(ops.Dedup.containmentPairs(empty, "doc_id", "text", 0.8).count() == 0)
    assert(ops.Dedup.containmentPairs(single, "doc_id", "text", 0.8).count() == 0)
    // sparse knn: empty → empty; singleton query has no other doc to rank
    assert(ops.TextAnalysis.sparseKnn(empty, "doc_id", "text", 10, 5).count() == 0)
    assert(ops.TextAnalysis.sparseKnn(single, "doc_id", "text", 10, 5).count() == 0)
    // streaks: empty → empty; one event is a 1-day streak
    val noEvents = Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "ts")
    assert(ops.Advanced.streaks(noEvents, "user_id", "ts").count() == 0)
    val one = Seq((5L, java.sql.Timestamp.valueOf("2024-03-03 12:00:00")))
      .toDF("user_id", "ts")
    val st = ops.Advanced.streaks(one, "user_id", "ts").head()
    assert(st.getLong(1) == 1L && st.getLong(2) == 1L && st.getLong(3) == 1L)
    // table profile: empty frame still emits one row per column with
    // zero counts and null bounds
    val prof = ops.Diagnostics.tableProfile(empty, Seq("doc_id", "text")).collect()
    assert(prof.length == 2 &&
      prof.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L))
    // pca: empty and sub-2-row corpora fail LOUDLY (a silent identity
    // spectrum would be corrupt analytics)
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    intercept[Exception](ops.Similarity.pcaReport(emptyVecs, "embedding", 3))
    val oneVec = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    intercept[Exception](ops.Similarity.pcaReport(oneVec, "embedding", 2))
    // streaming near-dup: an empty micro-batch frame produces no hits
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.streaming.StreamingDedup.nearDupIngest(noDocs, "doc_id", "text", 0.7)
      .count() == 0)
  }

  test("empty and singleton corpora flow through the round-6 diagnostics leg") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-03-04 12:00:00") // a Monday
    val noTyped = Seq.empty[(String, java.sql.Timestamp, Double)]
      .toDF("event_type", "ts", "value")
    val oneTyped = Seq(("a", ts, 2.5)).toDF("event_type", "ts", "value")
    // MAD: empty → empty; singleton → its own median, MAD 0, no outliers
    assert(ops.Mixing.madOutliers(noTyped, "event_type", "value").count() == 0)
    val m = ops.Mixing.madOutliers(oneTyped, "event_type", "value").head()
    assert(m.getLong(1) == 1L && m.getDouble(2) == 2.5 &&
      m.getDouble(3) == 0.0 && m.getLong(4) == 0L, s"singleton MAD: $m")
    // cusum: singleton series — deviation 0, change day = the only day
    assert(ops.Advanced.cusum(noTyped, "event_type", "ts", "value").count() == 0)
    val c = ops.Advanced.cusum(oneTyped, "event_type", "ts", "value").head()
    assert(c.getLong(2) == 0L && c.getLong(4) == 1L, s"singleton cusum: $c")
    // seasonality: one event owns its weekday outright
    assert(ops.Advanced.seasonality(noTyped, "event_type", "ts").count() == 0)
    val s = ops.Advanced.seasonality(oneTyped, "event_type", "ts").head()
    assert(s.getLong(1) == 1L && s.getLong(3) == 10000L && s.getBoolean(4),
      s"singleton seasonality: $s")
    val noUser = Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("user_id", "ts", "value")
    val oneUser = Seq((7L, ts, 2.5)).toDF("user_id", "ts", "value")
    // rolling distinct: singleton reports exactly its own day
    assert(ops.Advanced.rollingDistinct(noUser, "user_id", "ts", 7).count() == 0)
    val r = ops.Advanced.rollingDistinct(oneUser, "user_id", "ts", 7).collect()
    assert(r.length == 1 && r.head.getLong(1) == 1L, s"singleton rolling: ${r.toSeq}")
    // rfm: a lone user tops recency (nothing staler) and floors f/m
    assert(ops.Advanced.rfm(noUser, "user_id", "ts", "value").count() == 0)
    val f = ops.Advanced.rfm(oneUser, "user_id", "ts", "value").head()
    assert((f.getInt(0), f.getInt(1), f.getInt(2), f.getLong(3)) == ((5, 1, 1, 1L)),
      s"singleton rfm: $f")
    // record linkage: empty and singleton name sets pair nothing
    val noNames = Seq.empty[String].toDF("name")
    assert(ops.Dedup.recordLinkage(noNames, "name", 3, 1000).count() == 0)
    assert(ops.Dedup.recordLinkage(Seq("acme corp").toDF("name"), "name", 3, 1000)
      .count() == 0)
  }

  test("empty and singleton corpora flow through the round-6 second-leg ops") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    val oneDoc = Seq((1L, "solo words here", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    // heavy hitters: empty → empty; singleton → every term clears n/width
    assert(ops.TextAnalysis.heavyHitters(noDocs, "text", 16).count() == 0)
    assert(ops.TextAnalysis.heavyHitters(oneDoc, "text", 16).count() == 3)
    // script mix: empty → no groups; singleton → one clean row
    assert(ops.TextAnalysis.scriptMix(noDocs, "lang", "text").count() == 0)
    val sm = ops.TextAnalysis.scriptMix(oneDoc, "lang", "text").head()
    assert(sm.getLong(1) == 1L && sm.getLong(10) == 0L, s"singleton scriptMix: $sm")
    // dedup weight: a lone doc carries full unit weight
    assert(ops.Dedup.dedupWeight(noDocs, "doc_id", "text").count() == 0)
    val dw = ops.Dedup.dedupWeight(oneDoc, "doc_id", "text").head()
    assert(dw.getLong(1) == 1L && dw.getLong(2) == 1000000L)
    // hll sketch: singleton → its group row + __ALL__, both exact
    val hs = ops.Relational.hllSketch(oneDoc, "source", "text").collect()
    assert(hs.length == 2 && hs.forall(r => r.getLong(1) == 1L && r.getLong(3) == 0L),
      s"singleton hll: ${hs.toSeq}")
    // bpe apply: empty corpus → no rows; singleton tokenizes fully
    assert(ops.TextAnalysis.bpeApply(noDocs, "doc_id", "text", 4).count() == 0)
    val ba = ops.TextAnalysis.bpeApply(oneDoc, "doc_id", "text", 4).head()
    assert(ba.getLong(1) == 3L && ba.getLong(3) >= 3L, s"singleton bpeApply: $ba")
    // near-dup eval: nothing pairs in an empty or one-doc corpus
    assert(ops.Dedup.nearDupEval(noDocs, "doc_id", "text").count() == 0)
    assert(ops.Dedup.nearDupEval(oneDoc, "doc_id", "text").count() == 0)
    // freq itemsets: empty lineitem and single-item baskets emit nothing
    val noLines = Seq.empty[(Long, Long)].toDF("ok", "pk")
    assert(ops.Analytics.freqItemsets(noLines, "ok", "pk").count() == 0)
    assert(ops.Analytics.freqItemsets(Seq((1L, 10L)).toDF("ok", "pk"), "ok", "pk")
      .count() == 0)
    // cohort matrix: empty events → empty; one event → one full cell
    val noEv = Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "ts")
    assert(ops.Advanced.cohortMatrix(noEv, "user_id", "ts").count() == 0)
    val ts0 = java.sql.Timestamp.valueOf("2024-03-04 12:00:00")
    val cm = ops.Advanced.cohortMatrix(
      Seq((7L, ts0)).toDF("user_id", "ts"), "user_id", "ts").head()
    assert(cm.getLong(1) == 0L && cm.getLong(2) == 1L && cm.getLong(4) == 10000L,
      s"singleton cohort: $cm")
  }

  test("empty and singleton corpora flow through the round-7 ops") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val oneDoc = Seq((0L, "solo words here")).toDF("doc_id", "text")
    // sparse knn: empty → empty; a lone query doc has nothing to pair with
    assert(ops.TextAnalysis.sparseKnn(noDocs, "doc_id", "text", 1, 5).count() == 0)
    assert(ops.TextAnalysis.sparseKnn(oneDoc, "doc_id", "text", 1, 5).count() == 0)
    // revenue growth: empty orders → empty; one order → one row, both
    // growth columns null (no prior month/year exists)
    val noOrders = Seq.empty[(java.sql.Date, Double)].toDF("d", "price")
    assert(ops.Analytics.revenueGrowth(noOrders, "d", "price").count() == 0)
    val rg = ops.Analytics.revenueGrowth(
      Seq((java.sql.Date.valueOf("2024-05-02"), 12.34)).toDF("d", "price"),
      "d", "price").head()
    assert(rg.getLong(1) == 1234L && rg.isNullAt(3) && rg.isNullAt(4),
      s"singleton revenueGrowth: $rg")
    // media features: an empty catalog-shaped frame emits nothing
    val emptyCat = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.Encoders.product[ops.MediaRecord].schema)
    assert(ops.Multimodal.mediaFeatures(emptyCat).count() == 0)
    // exactly-once sink: an EMPTY micro-batch must still commit its
    // marker so a crash replay skips it instead of re-running
    val data = java.nio.file.Files.createTempDirectory("graft-eo-edge-data").toString
    val log = java.nio.file.Files.createTempDirectory("graft-eo-edge-log").toString
    assert(streaming.MicroBatch.exactlyOnceParquetAppend(
      noDocs, 0L, data, log))
    assert(!streaming.MicroBatch.exactlyOnceParquetAppend(
      noDocs, 0L, data, log), "empty batch must be marker-committed")
  }

  test("degenerate inputs flow through the round-7 second-leg ops") {
    import spark.implicits._
    // pageRank: an empty edge frame is a hard precondition — fail loudly
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    intercept[IllegalArgumentException] {
      ops.Graph.pageRank(noEdges, 5)
    }
    // textRank: no pair reaches the co-occurrence floor → same loud path
    intercept[IllegalArgumentException] {
      ops.Graph.textRank(Seq("every word distinct entirely").toDF("text"), "text")
    }
    // co-purchase: single-item baskets everywhere → no pairs, empty result
    val loyal = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("c", "s")
    assert(ops.Graph.coPurchase(loyal, "c", "s").count() == 0)
    // entity components: pair-free names are each their own entity
    val lone = Seq("aa one", "bb two").toDF("nm")
    val ec = ops.Graph.entityComponents(lone, "nm", 3, 1000, 8).collect()
    assert(ec.length == 2 && ec.forall(_.getAs[Boolean]("is_canonical")))
    // kaplan-meier: everyone censored → no event rows, empty curve
    def ts(d: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2020, 1, 1).plusDays(d).atStartOfDay())
    val active = Seq(("A", ts(0)), ("A", ts(100)), ("B", ts(60)), ("B", ts(100)))
      .toDF("k", "dt")
    assert(ops.Diagnostics.kaplanMeier(active, "k", "dt", 90).count() == 0)
    // cross-corr: a single event type has no pairs
    val mono = (0 until 30).map(i => ("only", ts(i))).toDF("t", "at")
    assert(ops.Advanced.crossCorr(mono, "t", "at").count() == 0)
    // holt: two months is the minimum series — forecasts extrapolate the
    // single observed step
    val two = Seq((ts(0), 10.0), (ts(31), 12.0)).toDF("dt", "price")
    val hf = ops.Analytics.holtForecast(two, "dt", "price").collect()
    assert(hf.length == 3 && hf.head.getAs[Long]("forecast_cents") == 1400L)
    assert(hf.forall(_.getAs[Long]("n_fit") == 0L))
  }

  test("degenerate inputs flow through the round-7 third-leg ops") {
    import spark.implicits._
    // triangles: single-item baskets everywhere → no edges, empty result
    val loyal = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("c", "s")
    assert(ops.Graph.triangles(loyal, "c", "s").count() == 0)
    // triangles: empty incidence flows through as empty, no throw
    assert(ops.Graph.triangles(Seq.empty[(Long, Long)].toDF("c", "s"),
      "c", "s").count() == 0)
    // bfsReach: a single edge — hop 0 is the (deg,id)-first endpoint,
    // hop 1 the other, then the frontier empties and rounds stop
    val one = ops.Graph.bfsReach(Seq((2L, 3L)).toDF("src", "dst"), 4)
      .collect().map(r => (r.getAs[Int]("hop"), r.getAs[Long]("n_nodes")))
    assert(one.toSeq == Seq((0, 1L), (1, 1L)))
    intercept[IllegalArgumentException] {
      ops.Graph.bfsReach(Seq((2L, 3L)).toDF("src", "dst"), 0)
    }
    // pplFilter: all-train corpus (every id hashes below 800) → nothing
    // to score, empty frame with the full schema
    val allTrain = Seq((0L, "a b c"), (1L, "a b"), (2L, "b c"))
      .toDF("doc_id", "text")
    val pf = ops.TextAnalysis.pplFilter(allTrain, "doc_id", "text")
    assert(pf.count() == 0 && pf.columns.toSeq ==
      Seq("doc_id", "n_bigrams", "sum_micro_lp", "avg_logprob", "keep"))
    // pplFilter: an entirely held-out corpus has no model (V=0) — the
    // smoothed ratio divides by zero and every score must come out
    // NULL rather than a spurious finite keep decision
    val allHeld = Seq((5L, "a b"), (9L, "b a")).toDF("doc_id", "text")
    val held = ops.TextAnalysis.pplFilter(allHeld, "doc_id", "text").collect()
    assert(held.forall(r => r.isNullAt(r.fieldIndex("sum_micro_lp"))),
      s"no-model scores must be NULL: ${held.toSeq}")
    // mutualInfo: a single observed cell — PMI ln(n·n/(n·n)) = 0, MI 0
    val mono = Seq.fill(4)(("x", "u")).toDF("a", "b")
    val mi = ops.Mixing.mutualInfo(mono, "a", "b").collect()
    assert(mi.length == 1 && mi.head.getAs[Long]("pmi_micro") == 0L &&
      mi.head.getAs[Long]("mi_total_micro") == 0L)
    // mutualInfo: empty input → empty output, no throw
    assert(ops.Mixing.mutualInfo(
      Seq.empty[(String, String)].toDF("a", "b"), "a", "b").count() == 0)
  }

  test("round-9 back-half ops behave on degenerate corpora") {
    import spark.implicits._
    // markov chain: a single event has no transition pairs → empty
    // output, no throw (both the stationary and entropy readings)
    val one = Seq((1L, 1L,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "click"))
      .toDF("eid", "u", "ts", "etype")
    assert(ops.Sequence.markovStationary(one, "eid", "u", "ts", "etype")
      .count() == 0)
    assert(ops.Sequence.entropyRate(one, "eid", "u", "ts", "etype")
      .count() == 0)
    // editJoin: identical keys everywhere → the complete clique at
    // distance 0; a singleton → no pairs
    val same = Seq((1L, "abcdef"), (2L, "abcdef"), (3L, "abcdef"))
      .toDF("id", "k")
    val clique = ops.Dedup.editJoin(same, "id", "k", 6, 2).collect()
    assert(clique.length == 3 && clique.forall(_.getLong(2) == 0L))
    assert(ops.Dedup.editJoin(same.limit(1), "id", "k", 6, 2)
      .count() == 0)
    // poisson dispersion: a single-day span has no variance basis →
    // NULL dispersion, chi2 still defined (0 deviations)
    val oneDay = Seq(("A",
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("t", "ts")
    val pd = ops.Diagnostics.poissonDispersion(oneDay, "t", "ts")
      .collect().head
    assert(pd.getAs[Long]("n_days") == 1 &&
      pd.isNullAt(pd.fieldIndex("dispersion_milli")))
    // cochran q: empty incidence → empty/zero-group frame, no throw
    assert(ops.Evaluation.cochranQ(
      Seq.empty[(Long, String)].toDF("s", "t"), "s", "t").collect()
      .forall(_.getAs[Long]("n_subjects") == 0L))
    // friedman: a single block still folds (no cross-block contrast,
    // statistic defined from that block's ranks alone)
    val oneBlock = Seq((1, "A", 1L), (1, "B", 2L)).toDF("b", "t", "v")
    assert(ops.Ranks.friedman(oneBlock, "b", "t", "v").count() == 2)
    // sax with w far beyond the day count: every non-empty segment
    // holds ≤ 1 day, empty segments are absent, no throw
    val twoDays = Seq(("2024-01-01", 1.0), ("2024-01-02", 2.0))
      .toDF("d", "p").select(col("d").cast("date").as("d"), col("p"))
    val sx = ops.Sequence.sax(twoDays, "d", "p", 8).collect()
    assert(sx.length == 2 && sx.forall(_.getAs[Long]("n_days") == 1L))
  }

  test("round-13 ops behave on degenerate corpora") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Long)].toDF("doc_id", "stratum", "v")
    // neyman: empty corpus → empty sample, no divide-by-zero in the
    // allocation; singleton corpus → sigma 0, proportional fallback
    // allocates min(budget, 1) = the one doc
    assert(ops.Sampling.neymanSample(empty, "doc_id", "stratum", "v", 10)
      .count() == 0)
    val one = Seq((7L, "A", 5L)).toDF("doc_id", "stratum", "v")
    val oneGot = ops.Sampling.neymanSample(one, "doc_id", "stratum", "v", 10)
      .collect()
    assert(oneGot.length == 1 && oneGot.head.getLong(0) == 7L)
    // similarityJoinProfile: empty corpus and an all-short corpus
    // (every doc under the 5-gram floor → zero shingles) both yield a
    // defined 1-row census with zero candidates
    val short = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    Seq(empty.select(col("doc_id"), col("stratum").as("text")), short)
      .foreach { d =>
        val r = ops.Dedup.similarityJoinProfile(d, "doc_id", "text",
          5, 500000L).collect().head
        assert(r.getAs[Long]("cand_pairs") == 0L &&
          r.getAs[Long]("hot_posting") == 0L)
      }
    // the guard accepts any budget on a zero-candidate corpus
    assert(ops.Dedup.similarityJoin(short, "doc_id", "text", 5, 500000L,
      maxCandPairs = 1L).count() == 0)
  }
}
