package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants for the curation operators (value correctness
  * is covered by the DuckDB oracle gate).
  */
class CurationSpec extends AnyFunSuite {
  import SparkTestSession._

  test("repetition stats: ratios in [0,1]; top word bounded below by uniform share") {
    val df = ops.Curation.repetitionStats(spark, sfDir).cache()
    assert(df.count() == Tables.documents(spark, sfDir).count())
    Seq("dup_word_ratio", "dup_2gram_ratio", "top_word_frac").foreach { c =>
      assert(df.filter(col(c) < 0 || col(c) > 1).count() == 0, s"$c out of range")
    }
    // the most frequent word's share is at least 1/n_toks by definition
    // (tolerance for the 4-decimal rounding of the published ratio)
    assert(df.filter(col("top_word_frac") * col("n_toks") < 0.99).count() == 0)
  }

  test("token chunks partition every document exactly") {
    val chunks = ops.Curation.chunkTokens(spark, sfDir)
    val perDoc = chunks.groupBy("doc_id")
      .agg(sum("n_chunk_toks").as("tok_sum"), count(lit(1)).as("n_chunks"),
        max("n_chunk_toks").as("max_chunk"))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
    val joined = perDoc.join(docs, Seq("doc_id")).cache()
    assert(joined.filter(col("tok_sum") =!= col("n_toks")).count() == 0,
      "chunk token counts do not sum back to the document length")
    assert(joined.filter(col("max_chunk") > 64).count() == 0, "oversized chunk")
    assert(joined.filter(col("n_chunks") =!= ceil(col("n_toks") / 64.0)).count() == 0)
  }

  test("contamination: exact copies of benchmark docs are flagged; benchmark excluded; no cartesian") {
    val df = ops.Curation.contamination(spark, sfDir).cache()
    assert(df.filter(col("doc_id") % 97 === 0).count() == 0, "benchmark doc in output")
    // a corpus doc with text identical to some benchmark doc shares all
    // its shingles — it must be flagged
    val docs = Tables.documents(spark, sfDir)
    val benchTexts = docs.filter(col("doc_id") % 97 === 0).select("text").distinct()
    val exactCopies = docs.filter(col("doc_id") % 97 =!= 0)
      .join(benchTexts, Seq("text"), "left_semi").select("doc_id")
    val missed = df.join(exactCopies, Seq("doc_id"))
      .filter(col("contaminated") =!= 1).count()
    assert(missed == 0, s"$missed exact benchmark copies not flagged")
    // the op checkpoints the hits set, whose explain is a LogicalRDD
    // scan that would hide the join shape: read every plan it runs
    RanPlans.assertEquiJoinsOnly("contamination (docs joined by brute force)",
      RanPlans.of(spark)(ops.Curation.contamination(spark, sfDir).collect()))
  }

  test("quality filter: verdict agrees with its own published signals; filtering is explainable") {
    val df = ops.Curation.qualityFilter(spark, sfDir).cache()
    assert(df.count() == Tables.documents(spark, sfDir).count())
    // the keep flag must be derivable from the published ratios — the
    // audit trail cannot contradict the verdict
    val recomputed = df.withColumn("expect",
      when(col("n_toks") < 20, "too_short")
        .when(col("dup_word_ratio") > 0.8, "too_repetitive")
        .when(col("top_word_frac") > 0.3, "one_word_dominates")
        .when(col("stop_ratio") < 0.01, "no_stopwords")
        .otherwise("ok"))
    assert(recomputed.filter(col("reason") =!= col("expect")).count() == 0)
    assert(df.filter((col("keep") === 1) =!= (col("reason") === "ok")).count() == 0)
  }

  test("sequence packing: per-shard pack ids start at 0, never decrease, and respect start offsets") {
    val df = ops.Curation.packSequences(spark, sfDir).cache()
    assert(df.count() == Tables.documents(spark, sfDir).count())
    val perShard = df.groupBy("shard").agg(min("pack_id").as("first_pack"))
    assert(perShard.filter(col("first_pack") =!= 0).count() == 0,
      "some shard's packing does not start at pack 0")
    // pack_id = floor(start_offset / budget): recompute via a window and compare
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val recomputed = df
      .withColumn("start", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .filter(col("pack_id") =!= floor(col("start") / 256))
    assert(recomputed.count() == 0, "pack assignment diverges from prefix sums")
  }

  test("observed quality filter reports the funnel in the same pass, exactly") {
    val (df, obs) = ops.Curation.qualityFilterObserved(
      Tables.documents(spark, sfDir), "doc_id", "text")
    val rows = df.collect() // one action drives both output and metrics
    val m = obs.get
    assert(m("n_docs") == rows.length.toLong)
    assert(m("n_kept") == rows.count(_.getAs[Int]("keep") == 1).toLong)
    assert(m("n_too_short") == rows.count(_.getAs[String]("reason") == "too_short").toLong)
    assert(m("n_too_repetitive") ==
      rows.count(_.getAs[String]("reason") == "too_repetitive").toLong)
  }

  test("curriculum: positions unique, round-robin head, quality-descending within source") {
    val df = ops.Curation.curriculum(spark, sfDir).cache()
    val n = Tables.documents(spark, sfDir).count()
    assert(df.count() == n)
    assert(df.select(countDistinct("curriculum_pos")).head().getLong(0) == n,
      "curriculum positions must be unique")
    val nSources = df.select(countDistinct("source")).head().getLong(0)
    // the first |sources| positions are exactly the rank-1 docs, one per source
    val head = df.orderBy("curriculum_pos").limit(nSources.toInt).cache()
    assert(head.select(countDistinct("source")).head().getLong(0) == nSources,
      "round-robin head must cover every source once")
    assert(head.filter(col("src_rank") =!= 1).count() == 0)
    // within a source, position order == quality order (n_chars desc, doc_id)
    val chars = Tables.documents(spark, sfDir).select("doc_id", "n_chars")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("curriculum_pos")
    val ooo = df.join(chars, Seq("doc_id"))
      .withColumn("prev", lag("n_chars", 1).over(w))
      .filter(col("prev").isNotNull && col("prev") < col("n_chars"))
    assert(ooo.count() == 0, "quality order violated within a source")
  }

  test("spanDedup: planted copies are fully flagged, one canonical copy survives") {
    import spark.implicits._
    // 3-token spans: doc 1 and doc 2 are byte-identical (2 spans each);
    // doc 3 shares nothing. Every span of docs 1+2 is duplicated; the
    // removable set is exactly doc 2's spans (doc 1 is canonical-first).
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z p q r"))
      .toDF("doc_id", "text")
    val got = ops.Curation.spanDedup(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    assert(got == List((1L, 2L, 2L, 0L), (2L, 2L, 2L, 2L), (3L, 2L, 0L, 0L)), s"got $got")
    // corpus invariants: removable <= dup <= total; census is consistent
    val corpus = ops.Curation.spanDedup(spark, sfDir).cache()
    assert(corpus.count() == Tables.documents(spark, sfDir).count())
    assert(corpus.filter(col("n_removable_spans") > col("n_dup_spans") ||
      col("n_dup_spans") > col("n_spans")).count() == 0)
    assert(corpus.filter(col("n_dup_spans") > 0).count() > 0,
      "test corpus is known to contain duplicated spans")
  }

  test("sentenceDedup: planted repeated sentence flagged at any offset; canonical survives; empty fragments ignored") {
    import spark.implicits._
    // the repeated DISCLAIMER sentence sits at different positions and
    // with different punctuation contexts; runs of punctuation produce
    // empty fragments that must not count as sentences
    val docs = Seq(
      (1L, "Unique opening. This is a disclaimer! Tail one."),
      (2L, "Other start?? This is a disclaimer. More text here. End bit."),
      (3L, "Nothing shared at all. Truly unique...")).toDF("doc_id", "text")
    val got = ops.Curation.sentenceDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // doc1: 3 sentences, 1 dup (the disclaimer, canonical-first)
    assert(got(1L) == ((3L, 1L, 0L, 0.3333)), s"doc1 ${got(1L)}")
    // doc2: 4 sentences, 1 dup and it IS removable (doc1 is canonical)
    assert(got(2L) == ((4L, 1L, 1L, 0.25)), s"doc2 ${got(2L)}")
    // doc3: the "..." run yields no phantom sentences
    assert(got(3L) == ((2L, 0L, 0L, 0.0)), s"doc3 ${got(3L)}")
    // a punctuation-only doc is absent, not a zero row
    val withEmpty = docs.union(Seq((4L, "?!...")).toDF("doc_id", "text"))
    val ids = ops.Curation.sentenceDedup(withEmpty, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L))
    // corpus invariants
    val c = ops.Curation.sentenceDedup(spark, sfDir).cache()
    assert(c.filter(col("n_removable_sentences") > col("n_dup_sentences") ||
      col("n_dup_sentences") > col("n_sentences")).count() == 0)
  }

  test("substringDedup: offset-shifted passage detected; exact driver-model recomputation") {
    import spark.implicits._
    // A 40-token passage planted in two docs at DIFFERENT offsets — the
    // case the fixed-grid spanDedup is structurally blind to and the
    // content-defined chunking exists for. Doc 3 is unique. The tokens
    // are crafted so an anchor (md5 opening '0': w18, w59, w65, …)
    // recurs every 4 tokens — the interior chunks shared by both
    // carriers then cover passage tokens 1..36 deterministically.
    val passage = ("w18 w0 w1 w2 w59 w3 w4 w5 w65 w6 w7 w8 w71 w9 w10 " +
      "w11 w74 w12 w13 w14 w87 w15 w16 w17 w89 w19 w20 w21 w134 w22 " +
      "w23 w24 w135 w25 w26 w27 w137 w28 w29 w30")
    val docs = Seq(
      (1L, s"alpha beta $passage tail1 tail2"),
      (2L, s"gamma $passage end"), // different prefix LENGTH → shifted
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
      .toDF("doc_id", "text")
    val got = ops.Curation.substringDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getDouble(6))).toMap
    // driver model: the chunking replayed literally (md5 via JDK)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def chunksOf(text: String): Seq[(Long, Long, String)] = {
      val tk = text.split(" ", -1)
      val starts = (1 to tk.length)
        .filter(i => i == 1 || md5hex(tk(i - 1)).startsWith("0"))
      starts.zipWithIndex.map { case (s0, zi) =>
        val end = if (zi + 1 < starts.length) starts(zi + 1) else tk.length + 1
        ((zi + 1).toLong, (end - s0).toLong,
          md5hex(tk.slice(s0 - 1, end - 1).mkString(" ")))
      }
    }
    val all = Seq(1L -> s"alpha beta $passage tail1 tail2",
      2L -> s"gamma $passage end",
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")
    val byDoc = all.map { case (id, t) => id -> chunksOf(t) }.toMap
    val occ = byDoc.toSeq.flatMap { case (id, cs) =>
      cs.map { case (ci, _, h) => (h, (id, ci)) } }
      .groupBy(_._1).map { case (h, xs) =>
        h -> (xs.length.toLong, xs.map(_._2).min) }
    all.foreach { case (id, t) =>
      val cs = byDoc(id)
      val nToks = t.split(" ", -1).length.toLong
      val dupFlags = cs.map { case (ci, len, h) =>
        (ci, len, occ(h)._1 > 1, occ(h)._1 > 1 && occ(h)._2 != ((id, ci))) }
      val dupT = dupFlags.filter(_._3).map(_._2).sum
      val remT = dupFlags.filter(_._4).map(_._2).sum
      val runs = dupFlags.foldLeft(List.empty[(Long, Long)]) {
        case (acc, (ci, len, true, _)) => acc match {
          case (lastCi, tot) :: rest if lastCi + 1 == ci =>
            (ci, tot + len) :: rest
          case _ => (ci, len) :: acc
        }
        case (acc, _) => acc
      }
      val maxRun = if (runs.isEmpty) 0L else runs.map(_._2).max
      val frac = math.rint(dupT.toDouble / nToks * 1e4) / 1e4
      assert(got(id) == ((nToks, cs.length.toLong, dupT, remT, maxRun, frac)),
        s"doc $id: got ${got(id)}, model " +
          s"${(nToks, cs.length.toLong, dupT, remT, maxRun, frac)}")
    }
    // the planted repeat is actually SEEN: both carriers report a long
    // duplicated run spanning most of the 40-token passage, the unique
    // doc reports nothing, and doc 1 (canonical-first) keeps its copy
    assert(got(1L)._5 >= 25L, s"passage run missing in doc 1: ${got(1L)}")
    assert(got(2L)._5 >= 25L, s"passage run missing in doc 2: ${got(2L)}")
    assert(got(3L)._3 == 0L && got(3L)._5 == 0L)
    assert(got(1L)._4 == 0L, "canonical-first doc must have nothing removable")
    assert(got(2L)._4 >= 25L, "the shifted copy must be removable")
    // corpus invariants at sfDir
    val corpus = ops.Curation.substringDedup(spark, sfDir).cache()
    assert(corpus.count() == Tables.documents(spark, sfDir).count())
    assert(corpus.filter(col("removable_tokens") > col("dup_tokens") ||
      col("dup_tokens") > col("n_toks") ||
      col("max_dup_run_tokens") > col("dup_tokens")).count() == 0)
  }

  test("threshold sweep: planted survival exact, monotone, one corpus scan's worth") {
    import spark.implicits._
    // ratios: "a a a a" -> 0.75, "a b c d" -> 0.0, "a a b b" -> 0.5
    val planted = Seq((1L, "a a a a"), (2L, "a b c d"), (3L, "a a b b"))
      .toDF("doc_id", "text")
    val got = ops.Curation.thresholdSweep(planted, "doc_id", "text",
      Seq(0.25, 0.5, 0.75))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(got == Map(0.25 -> 1L, 0.5 -> 2L, 0.75 -> 3L), s"got $got")
    // corpus: survival is monotone in the threshold, and the 0.8 point
    // agrees with the quality filter's repetition rule
    val sweep = ops.Curation.thresholdSweep(spark, sfDir).cache()
    val kept = sweep.orderBy("threshold").collect().map(_.getLong(1))
    assert(kept.zip(kept.tail).forall { case (a, b) => a <= b }, "not monotone")
    val at08 = ops.Curation.thresholdSweep(Tables.documents(spark, sfDir),
      "doc_id", "text", Seq(0.8)).head().getLong(1)
    val filterAgrees = ops.Curation.qualityFilter(spark, sfDir)
      .filter(col("dup_word_ratio") <= 0.8).count()
    assert(at08 == filterAgrees,
      "sweep and quality filter disagree on the same signal at the same cutoff")
  }

  test("quantileNormalize: same raw score calibrates differently per source; quantiles sane") {
    import spark.implicits._
    // source A scores 10..40, source B 30..60 — a doc scoring 40 is A's
    // best but only B's second; its GLOBAL quantile is shared
    val docs = Seq(
      (1L, "A", 10L), (2L, "A", 20L), (3L, "A", 30L), (4L, "A", 40L),
      (5L, "B", 30L), (6L, "B", 40L), (7L, "B", 50L), (8L, "B", 60L)
    ).toDF("doc_id", "source", "n_chars")
    val got = ops.Curation.quantileNormalize(docs, "doc_id", "source", "n_chars")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(4L)._1 == 0.875, s"A's best doc: ${got(4L)}")
    assert(got(6L)._1 == 0.375, s"B's second doc: ${got(6L)}")
    assert(got(4L)._2 == 0.625 && got(6L)._2 == 0.625,
      s"same raw score, same global quantile: ${got(4L)} vs ${got(6L)}")
    // corpus run: quantiles in (0, 1), within-source monotone in score
    val corpus = ops.Curation.quantileNormalize(spark, sfDir).cache()
    assert(corpus.filter(col("q_source_bin") <= 0 || col("q_source_bin") >= 1).count() == 0)
    assert(corpus.filter(col("q_global_bin") <= 0 || col("q_global_bin") >= 1).count() == 0)
    val inversions = corpus.as("x").join(corpus.as("y"),
        col("x.source") === col("y.source") &&
        col("x.score") < col("y.score") &&
        col("x.q_source_bin") > col("y.q_source_bin"))
      .count()
    assert(inversions == 0, s"$inversions within-source quantile inversions")
  }

  test("contaminationSpans: planted positions exact; clean and short docs report zeros") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e x y z a b c d e"),       // hits at shingle pos 1 and 9
      (2L, "no overlap here at all whatsoever truly"),
      (3L, "tiny doc"),                          // shorter than one shingle
      (100L, "a b c d e")).toDF("doc_id", "text")
    val got = ops.Curation.contaminationSpans(docs, "doc_id", "text",
        col("doc_id") >= 100)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) == ((2L, 1L, 9L, "1,9")), s"planted spans wrong: $got")
    assert(got(2L) == ((0L, 0L, 0L, "")), s"clean doc wrong: $got")
    assert(got(3L) == ((0L, 0L, 0L, "")), s"short doc wrong: $got")
    assert(!got.contains(100L), "benchmark rows must not appear in the report")
    // corpus: span counts recount the doc-level contamination flags
    val spans = ops.Curation.contaminationSpans(spark, sfDir).cache()
    val flags = ops.Curation.contamination(spark, sfDir)
      .select(col("doc_id"), col("contaminated"))
    val mismatch = spans.join(flags, "doc_id")
      .filter((col("n_hits") > 0) =!= (col("contaminated") === 1)).count()
    assert(mismatch == 0, "span report disagrees with the contamination flags")
  }

  test("kAnonymity: planted classes land in their bands with exact k and l") {
    import spark.implicits._
    // classes: a→k=1, b→k=3 (l=2), c→k=7, d→k=20, e→k=60 — one per band
    val rows =
      Seq(("a", "s1")) ++
      Seq(("b", "x"), ("b", "x"), ("b", "y")) ++
      (1 to 7).map(i => ("c", s"v${i % 3}")) ++
      (1 to 20).map(_ => ("d", "same")) ++
      (1 to 60).map(i => ("e", s"w${i % 5}"))
    val got = ops.Curation.kAnonymity(rows.toDF("qi", "sens"),
        Seq("qi"), "sens").collect()
      .map(r => r.getAs[Int]("band_id") -> r).toMap
    assert(got.keySet == Set(0, 1, 2, 3, 4))
    assert(got(0).getAs[Long]("n_rows") == 1L &&
      got(0).getAs[Long]("min_l") == 1L)
    assert(got(1).getAs[Long]("n_rows") == 3L &&
      got(1).getAs[Long]("min_l") == 2L &&
      got(1).getAs[Long]("avg_l_milli") == 2000L)
    assert(got(2).getAs[Long]("min_k") == 7L &&
      got(2).getAs[Long]("min_l") == 3L)
    assert(got(3).getAs[Long]("n_rows") == 20L &&
      got(3).getAs[Long]("min_l") == 1L) // 20 identical sensitives: l=1
    assert(got(4).getAs[Long]("max_k") == 60L &&
      got(4).getAs[Long]("min_l") == 5L)
    // pct closes over the table: 1+3+7+20+60 = 91 rows
    assert(got(0).getAs[Long]("pct_rows_bp") == 10000L * 1 / 91)
    assert(got(4).getAs[Long]("pct_rows_bp") == 10000L * 60 / 91)
    // corpus smoke: bands ordered, rows partition the table
    val corpus = ops.Curation.kAnonymity(spark, sfDir).collect()
    val total = corpus.map(_.getAs[Long]("n_rows")).sum
    assert(total == graft.Tables.customer(spark, sfDir).count())
  }

  test("lDiversity: planted classes — homogeneous l=1, balanced l=2 at exact entropy, skewed below it") {
    import spark.implicits._
    // class A: 4 rows all 's1'           → l=1, H = 0
    // class B: 2×'s1' + 2×'s2' (k=4)     → l=2, H = ln 2 exactly:
    //   per value: round(ln(4/2)·1e6)=693147, ·2 → term; sum=2772588,
    //   DIV 4 = 693147
    // class C: 3×'s1' + 1×'s2' (k=4)     → l=2, H < ln 2:
    //   round(ln(4/3)·1e6)=287682·3 + round(ln 4·1e6)=1386294·1
    //   = 863046+1386294=2249340, DIV 4 = 562335
    val rows = Seq.fill(4)(("A", "s1")) ++
      Seq(("B", "s1"), ("B", "s1"), ("B", "s2"), ("B", "s2")) ++
      Seq(("C", "s1"), ("C", "s1"), ("C", "s1"), ("C", "s2"))
    val got = ops.Curation.lDiversity(rows.toDF("qi", "sens"),
        Seq("qi"), "sens").collect()
      .map(r => r.getAs[Long]("l") ->
        ((r.getAs[Long]("n_classes"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("min_h_micro")))).toMap
    assert(got(1L) == ((1L, 4L, 0L)), s"homogeneous class wrong: $got")
    // both l=2 classes aggregate into one row; min entropy is C's
    assert(got(2L) == ((2L, 8L, 562335L)), s"l=2 rollup wrong: $got")
  }

  test("lDiversity on the corpus: rows close to the customer count and k-anonymity's l ledger") {
    val got = ops.Curation.lDiversity(spark, sfDir).collect()
    val total = got.map(_.getAs[Long]("n_rows")).sum
    assert(total == graft.Tables.customer(spark, sfDir).count(),
      "every customer row must land in exactly one l bucket")
    // kAnonymity reports min_l over all classes — the smallest l here
    // must agree with the smallest min_l there (same classes, same
    // sensitive attribute)
    val minLHere = got.map(_.getAs[Long]("l")).min
    val minLThere = ops.Curation.kAnonymity(spark, sfDir).collect()
      .map(_.getAs[Long]("min_l")).min
    assert(minLHere == minLThere, s"l ledgers disagree: $minLHere vs $minLThere")
  }

  test("tCloseness: extreme-mass classes hit EMD 1/2 exactly, global-matching class scores 0") {
    import spark.implicits._
    // global: 4 debt + 4 high in A/B extremes + C matching the mix.
    // A (all debt) vs global (half debt, half high): 1-D EMD over the
    // 3-point ordered domain = 0.5 → exactly 500000 ppm; C = 0
    val rows = Seq.fill(4)(("A", "debt")) ++ Seq.fill(4)(("B", "high")) ++
      Seq(("C", "debt"), ("C", "debt"), ("C", "high"), ("C", "high"))
    val got = ops.Curation.tCloseness(rows.toDF("qi", "sens"),
        Seq("qi"), "sens", Seq("debt", "mid", "high")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("t_ppm")).toMap
    // recompute global: debt 6, high 6 of N=12. A: cum (4,4,4)·12 vs
    // (6,6,12)·4: |48-24|+|48-24|+|48-48| = 48 → 48e6 DIV (4·12·2)
    // = 500000; C: cum (2,2,4): |24-12|... wait — use the op as spec'd:
    // the hand numbers below are the assertion
    assert(got("A") == got("B"), s"symmetric extremes must tie: $got")
    assert(got("C") < got("A"), s"global-matching class must score lower: $got")
    assert(got("A") == 500000L, s"extreme class EMD must be exactly 1/2: $got")
    assert(got("C") == 0L, s"global-matching class must be exactly 0: $got")
  }

  test("tCloseness: missing-cell grid fill keeps cumulative gaps exact") {
    import spark.implicits._
    // class D has ONLY 'mid' — its debt/high cells are ABSENT and must
    // be grid-filled. Global mix (D's rows included): debt 3, mid 6,
    // high 3 of N=12 → cumg/N = (1/4, 3/4, 1).
    //   D: cumc/k = (0, 1, 1)      → EMD = (1/4 + 1/4)/2 = 1/4
    //   E/F/G: cumc/k = (1/3, 2/3, 1) → EMD = (1/12 + 1/12)/2 = 1/12
    // A dropped-cell implementation would lose D's idx-1 gap entirely.
    val rows = Seq.fill(3)(("D", "mid")) ++
      Seq(("E", "debt"), ("E", "mid"), ("E", "high")) ++
      Seq(("F", "debt"), ("F", "mid"), ("F", "high")) ++
      Seq(("G", "debt"), ("G", "high"), ("G", "mid"))
    val got = ops.Curation.tCloseness(rows.toDF("qi", "sens"),
        Seq("qi"), "sens", Seq("debt", "mid", "high")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("t_ppm")).toMap
    assert(got("D") == 250000L, s"grid-filled EMD wrong: $got")
    assert(got("E") == 83333L && got("F") == 83333L && got("G") == 83333L,
      s"uniform-thirds classes must score exactly 1/12: $got")
  }

  test("tCloseness: observed values outside sensOrder (or NULL) fail loudly") {
    import spark.implicits._
    // 'unknown' is in the data but not the ordered domain — silently
    // counting it in k and N while dropping it from the CDF grid would
    // inflate every class's EMD identically in both engines
    val bad = Seq(("A", "debt"), ("A", "unknown"), ("B", "high"))
    val e1 = intercept[IllegalArgumentException] {
      ops.Curation.tCloseness(bad.toDF("qi", "sens"),
        Seq("qi"), "sens", Seq("debt", "mid", "high"))
    }
    assert(e1.getMessage.contains("outside"), e1.getMessage)
    val withNull = Seq(("A", "debt"), ("B", null: String))
    intercept[IllegalArgumentException] {
      ops.Curation.tCloseness(withNull.toDF("qi", "sens"),
        Seq("qi"), "sens", Seq("debt", "mid", "high"))
    }
  }

  test("impute: group median fills, global fallback for empty groups, audit trail exact") {
    import spark.implicits._
    val rows = Seq(
      (1L, "g1", 1.0, false), (2L, "g1", 3.0, false),
      (3L, "g1", 99.0, true),  // → g1 median 2.0
      (4L, "g2", 88.0, true),  // g2 has nothing observed → global 3.0
      (5L, "g3", 5.0, false))
      .toDF("id", "g", "v", "miss")
    val got = ops.Curation.impute(rows, "id", "g", "v", "miss").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("value_imputed"), r.getAs[String]("source"))).toMap
    assert(got(1L) == (1.0, "observed") && got(2L) == (3.0, "observed"))
    assert(got(3L) == (2.0, "group_median"), s"$got")
    assert(got(5L) == (5.0, "observed"))
    assert(got(4L) == (3.0, "global_median"), s"$got")
    // corpus: every row survives, error events never keep their raw
    // value path
    val corpus = ops.Curation.impute(spark, sfDir).cache()
    try {
      assert(corpus.count() == graft.Tables.events(spark, sfDir).count())
      assert(corpus.filter(col("source") === "observed").count() ==
        graft.Tables.events(spark, sfDir)
          .filter(col("event_type") =!= "error").count())
    } finally corpus.unpersist()
  }

  test("contextWindows: exact window layout for short, boundary and long docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 5).map(_ => "w").mkString(" ")),    // 5 toks → 1 win len 5
      (2L, (1 to 512).map(_ => "w").mkString(" ")),  // exactly 512 → 1 win
      (3L, (1 to 513).map(_ => "w").mkString(" ")),  // 513 → wins at 0 (512) and 384 (129)
      (4L, (1 to 1200).map(_ => "w").mkString(" "))  // 1200 → 0:512, 384:512, 768:432
    ).toDF("doc_id", "text")
    val got = ops.Curation.contextWindows(docs, "doc_id", "text", 512, 384)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, 5L),
      (2L, 0L, 0L, 512L),
      (3L, 0L, 0L, 512L), (3L, 1L, 384L, 129L),
      (4L, 0L, 0L, 512L), (4L, 1L, 384L, 512L), (4L, 2L, 768L, 432L)),
      s"window layout wrong: ${got.toSeq}")
  }

  test("contextWindows coverage law: windows tile every token with stride overlap, corpus-wide") {
    // for every doc: first window starts at 0, consecutive starts are
    // exactly stride apart, the last window ends at n_tokens, and every
    // non-final window is full-size — checked over the whole corpus
    val rows = ops.Curation.contextWindows(spark, sfDir).collect()
      .groupBy(_.getLong(0))
    rows.foreach { case (docId, ws) =>
      val sorted = ws.sortBy(_.getLong(1))
      val n = sorted.head.getLong(4)
      assert(sorted.head.getLong(2) == 0L, s"doc $docId: first window not at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(2) - a.getLong(2) == 384L,
            s"doc $docId: stride broken")
          assert(a.getLong(3) == 512L,
            s"doc $docId: non-final window not full")
        case _ => ()
      }
      val last = sorted.last
      assert(last.getLong(2) + last.getLong(3) == n,
        s"doc $docId: last window does not close the doc")
    }
  }
}
