package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral invariants for the corpus-composition operators beyond
  * the DuckDB oracle: the oracle pins exact values on the test corpus;
  * these pin the SEMANTIC contracts (rarest-language anchoring, budget
  * maximality, determinism) on planted data where the expected shape
  * is known by construction.
  */
class MixingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("temperatureMix: rarest language keeps everything, larger ones are down-sampled") {
    import spark.implicits._
    // 400 en, 100 de, 25 fr → rates ∝ 1/sqrt(n): fr (rarest) = 10000 bp,
    // de = sqrt(25/100) = 5000 bp, en = sqrt(25/400) = 2500 bp
    val docs = ((0 until 400).map(i => (i.toLong, "en")) ++
      (1000 until 1100).map(i => (i.toLong, "de")) ++
      (2000 until 2025).map(i => (i.toLong, "fr")))
      .toDF("doc_id", "lang")
    val out = ops.Mixing.temperatureMix(docs, "doc_id", "lang")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("rate_bp"), r.getAs[Long]("n_kept"))).toMap
    assert(out("fr") == ((25L, 10000L, 25L)), s"rarest language must keep all: $out")
    assert(out("de")._2 == 5000L && out("en")._2 == 2500L, s"rates off: $out")
    // hash membership is uniform-ish, not exact — bound it loosely; the
    // DETERMINISM is the contract (re-run must agree exactly)
    assert(out("en")._3 > 50 && out("en")._3 < 200, s"en keep count implausible: $out")
    val again = ops.Mixing.temperatureMix(docs, "doc_id", "lang")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_kept")).toMap
    assert(again == out.map { case (k, v) => k -> v._3 }, "mix is not deterministic")
  }

  test("tokenBudget: kept set is the maximal quality-ranked prefix within budget") {
    import spark.implicits._
    // 10 docs, 100 tokens each (quality = doc_id here), budget 350 →
    // exactly the top-3 quality docs fit (300 ≤ 350 < 400)
    val text = (1 to 100).map(_ => "w").mkString(" ")
    val docs = (0 until 10).map(i => (i.toLong, "en", text, i.toLong))
      .toDF("doc_id", "lang", "text", "quality")
    val out = ops.Mixing.tokenBudget(docs, "doc_id", "lang", "text", "quality", 350L)
      .collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(9L, 8L, 7L),
      s"must keep exactly the top-3 quality docs: ${out.mkString(",")}")
    assert(out.map(_.getAs[Long]("cum_tokens")).max == 300L)
  }

  test("outlierBands: flags exactly the planted extremes") {
    import spark.implicits._
    // 98 docs at length 100 plus two planted extremes → p05 = p95 = 100,
    // so exactly the extremes fall outside the band
    val docs = ((0 until 98).map(i => (i.toLong, "en", 100L)) ++
      Seq((98L, "en", 1L), (99L, "en", 100000L)))
      .toDF("doc_id", "lang", "n_chars")
    val row = ops.Mixing.outlierBands(docs, "lang", "n_chars").collect().head
    assert(row.getAs[Long]("n_docs") == 100L)
    assert(row.getAs[Long]("n_outliers") == 2L,
      s"expected exactly the two planted extremes: $row")
  }

  test("sourceDupRate: rate reflects planted duplication exactly") {
    import spark.implicits._
    val docs = (Seq.fill(8)("copy me") ++ Seq("a", "b")).zipWithIndex
      .map { case (t, i) => (i.toLong, if (i < 8) "dupsrc" else "clean", t) }
      .toDF("doc_id", "source", "text")
    val out = ops.Mixing.sourceDupRate(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_unique"), r.getAs[Double]("dup_rate"))).toMap
    assert(out("dupsrc") == ((8L, 1L, 0.875)), s"dup rate wrong: $out")
    assert(out("clean") == ((2L, 2L, 0.0)), s"clean source must show zero dup: $out")
  }

  test("dupSizeHistogram: planted cluster sizes land in the right buckets") {
    import spark.implicits._
    // one unique text, one pair, one triple → k = 1, 2, 3
    val docs = (Seq("solo") ++ Seq.fill(2)("pair") ++ Seq.fill(3)("triple"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = ops.Mixing.dupSizeHistogram(docs, "text")
      .collect().map(r => r.getAs[Long]("k") ->
        ((r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs")))).toMap
    assert(out == Map(1L -> ((1L, 1L)), 2L -> ((1L, 2L)), 3L -> ((1L, 3L))),
      s"histogram wrong: $out")
  }

  test("sourceDrift: hand-computed KS on a planted two-source split; corpus bounds hold") {
    import spark.implicits._
    // source A: all docs at the global minimum length; source B spread
    // across [100, 400]. Global ECDF below 200 chars = 5/8, A's = 1,
    // B's = 1/4 → both drift |3/8| = 0.375, argmax tie breaks to the
    // HIGHEST bin below 200: grid t_i = 100 + 300·i/20 < 200 ⇔ i ≤ 6
    val planted = Seq(
      ("A", 100L), ("A", 100L), ("A", 100L), ("A", 100L),
      ("B", 100L), ("B", 200L), ("B", 300L), ("B", 400L))
      .toDF("source", "n_chars")
    val got = ops.Mixing.sourceDrift(planted, "source", "n_chars")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getInt(3)))).toMap
    assert(got("A") == ((4L, 0.375, 6)), s"A wrong: $got")
    assert(got("B") == ((4L, 0.375, 6)), s"B wrong: $got")
    // corpus run: one row per source, ks within [0,1], bins in range
    val corpus = ops.Mixing.sourceDrift(spark, sfDir).cache()
    val nSources = Tables.documents(spark, sfDir).select("source").distinct().count()
    assert(corpus.count() == nSources)
    assert(corpus.filter(col("ks_stat") < 0 || col("ks_stat") > 1).count() == 0)
    assert(corpus.filter(col("ks_bin") < 0 || col("ks_bin") > 20).count() == 0)
  }

  test("sourceOverlapNear: planted cross-source near-dup counted symmetrically; exact dups included") {
    import spark.implicits._
    // docs 1 (src A) and 2 (src B) share 21 of 30 leading tokens →
    // J ≈ 0.68... make them near-identical instead: doc 2 = doc 1 with
    // the last token changed → J well above 0.7. doc 3 (src C) unrelated.
    // Same-source near-dups (docs 1,4 in A) must NOT appear (off-diagonal).
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val tweaked = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val other = (100 to 130).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, "A", base), (2L, "B", tweaked), (3L, "C", other), (4L, "A", base))
      .toDF("doc_id", "source", "text")
    val pairs = ops.Dedup.minhashVerifiedPairs(docs, "doc_id", "text")
    val got = ops.Mixing.sourceOverlapNear(docs, pairs, "doc_id", "source", 0.7)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // full off-diagonal matrix over {A,B,C}: 6 cells
    assert(got.size == 6, s"matrix wrong: $got")
    // pairs (1,2) and (4,2) cross A-B → 2 each direction
    assert(got(("A", "B")) == 2L && got(("B", "A")) == 2L, s"got $got")
    assert(got(("A", "C")) == 0L && got(("C", "B")) == 0L)
    // corpus run: symmetric, non-negative, full matrix
    val corpus = ops.Mixing.sourceOverlapNear(spark, sfDir).cache()
    val n = Tables.documents(spark, sfDir).select("source").distinct().count()
    assert(corpus.count() == n * (n - 1))
    val asMap = corpus.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(asMap.forall { case ((a, b), v) => asMap((b, a)) == v },
      "near-dup matrix not symmetric")
    // near-dups dominate the exact census cell-by-cell (J=1 ⊆ J≥0.7)
    val exact = ops.Mixing.sourceOverlap(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(exact.forall { case (k, v) => asMap(k) >= v },
      "exact overlap exceeded near-dup overlap somewhere")
  }

  test("law: sourceOverlapNear matrix equals a driver-side recount from the verified pairs") {
    // independent recomputation over the WHOLE corpus: collect the
    // verified pair list and the doc→source map, fold the symmetric
    // cross-source matrix by hand, compare every cell exactly (the
    // q_span_dedup driver-model discipline for a rows-only query)
    val pairs = ops.Dedup
      .minhashVerifiedPairs(Tables.documents(spark, sfDir), "doc_id", "text")
      .filter(col("jacc") >= 0.7)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val srcOf = Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val model = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    pairs.foreach { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      if (sa != sb) { model((sa, sb)) += 1L; model((sb, sa)) += 1L }
    }
    val got = ops.Mixing
      .sourceOverlapNear(Tables.documents(spark, sfDir),
        ops.Dedup.minhashVerifiedPairs(Tables.documents(spark, sfDir), "doc_id", "text"),
        "doc_id", "source", 0.7)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty && got.forall { case (k, v) => v == model(k) },
      s"matrix diverged from the driver recount: op $got vs model $model")
    assert(model.keySet.subsetOf(got.keySet), "model cell missing from the op matrix")
  }

  test("sourceOverlap: full matrix with exact planted counts and zero-filled cells") {
    import spark.implicits._
    // t2 in all three sources, t1 in A and B, t3 only in A; C shares
    // nothing with itself — and every ordered pair must still appear
    val docs = Seq(
      ("A", "t1"), ("A", "t2"), ("A", "t3"), ("A", "t1"), // within-source dup: counts once
      ("B", "t1"), ("B", "t2"),
      ("C", "t2"))
      .zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    val out = ops.Mixing.sourceOverlap(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_shared")).toMap
    assert(out == Map(
      ("A", "B") -> 2L, ("B", "A") -> 2L,
      ("A", "C") -> 1L, ("C", "A") -> 1L,
      ("B", "C") -> 1L, ("C", "B") -> 1L),
      s"overlap matrix wrong: $out")
  }

  test("chiSquare: independent table scores zero; diagonal dependence hits the closed form") {
    import spark.implicits._
    // perfectly independent 2×2: every cell 5 → expected 5, chi2 = 0
    val indep = (for (a <- Seq("x", "y"); b <- Seq("u", "v"); _ <- 1 to 5)
      yield (a, b)).toDF("lang", "source")
    val gotI = ops.Mixing.chiSquare(indep, "lang", "source").collect()
    assert(gotI.length == 4)
    assert(gotI.forall(_.getAs[Long]("chi2_micro") == 0L),
      s"independent table must score zero: ${gotI.toSeq}")
    assert(gotI.forall(_.getAs[Double]("expected") == 5.0))
    // diagonal-only 2×2 (5 on each diagonal cell): chi2 = N = 10, and the
    // zero cells MUST appear with their expected-count contribution (2.5e6
    // micro each) — dropping them would halve the statistic
    val dep = (Seq.fill(5)(("x", "u")) ++ Seq.fill(5)(("y", "v")))
      .toDF("lang", "source")
    val gotD = ops.Mixing.chiSquare(dep, "lang", "source").collect()
    assert(gotD.length == 4, s"zero cells missing from the grid: ${gotD.toSeq}")
    assert(gotD.forall(_.getAs[Long]("chi2_micro") == 10000000L),
      s"diagonal chi2 must equal N: ${gotD.toSeq}")
    val zeroCells = gotD.filter(_.getAs[Long]("observed") == 0L)
    assert(zeroCells.length == 2 &&
      zeroCells.forall(_.getAs[Long]("contrib_micro") == 2500000L),
      s"zero-cell contributions wrong: ${zeroCells.toSeq}")
    // corpus run: full grid, non-negative contributions, one shared stat
    val corpus = ops.Mixing.chiSquare(spark, sfDir).cache()
    val nLang = corpus.select("lang").distinct.count()
    val nSrc = corpus.select("source").distinct.count()
    assert(corpus.count() == nLang * nSrc, "grid incomplete")
    assert(corpus.filter(col("contrib_micro") < 0).count() == 0)
    assert(corpus.select("chi2_micro").distinct.count() == 1)
  }

  test("mutualInfo: independent table carries zero nats; diagonal carries exactly ln 2") {
    import spark.implicits._
    // perfectly independent 2×2 → every PMI is ln 1 = 0 → MI 0
    val indep = (for (a <- Seq("x", "y"); b <- Seq("u", "v"); _ <- 1 to 2)
      yield (a, b)).toDF("seg", "pri")
    val gotI = ops.Mixing.mutualInfo(indep, "seg", "pri").collect()
    assert(gotI.length == 4)
    assert(gotI.forall(_.getAs[Long]("pmi_micro") == 0L))
    assert(gotI.forall(_.getAs[Long]("mi_total_micro") == 0L))
    // diagonal-only 2×2 → each observed cell has PMI ln 2, MI = ln 2
    // (one bit); the zero cells are correctly ABSENT (0·ln 0 = 0)
    val dep = (Seq.fill(4)(("x", "u")) ++ Seq.fill(4)(("y", "v")))
      .toDF("seg", "pri")
    val gotD = ops.Mixing.mutualInfo(dep, "seg", "pri").collect()
    val ln2 = math.rint(math.log(2.0) * 1e6).toLong
    assert(gotD.length == 2, s"zero cells must not appear: ${gotD.toSeq}")
    assert(gotD.forall(_.getAs[Long]("pmi_micro") == ln2))
    assert(gotD.forall(_.getAs[Long]("mi_total_micro") == ln2))
    // corpus run: exact integer identities hold row-by-row
    val corpus = ops.Mixing.mutualInfo(spark, sfDir).collect()
    assert(corpus.nonEmpty)
    val n = corpus.map(r => r.getAs[Long]("n_xy")).sum
    val want = corpus.map(r =>
      r.getAs[Long]("n_xy") * r.getAs[Long]("pmi_micro")).sum / n
    assert(corpus.forall(_.getAs[Long]("mi_total_micro") == want),
      "global MI must be the exact integer fold of the cell PMIs")
    corpus.foreach { r =>
      val raw = math.log(r.getAs[Long]("n_xy").toDouble * n /
        (r.getAs[Long]("n_x").toDouble * r.getAs[Long]("n_y"))) * 1e6
      assert(math.abs(r.getAs[Long]("pmi_micro") - raw) <= 0.5000001)
    }
  }

  test("madOutliers: planted medians/MADs exact; MAD=0 degenerate case flags any deviation") {
    import spark.implicits._
    // "a": {1,2,3,4,100} → median 3, MAD 1, the 100 is the only |v−med|>3·MAD
    // "b": {1,2} → interpolated median 1.5, MAD 0.5, no outliers
    // "c": {5,5,5,9} → MAD 0 (majority identical): any deviation must flag
    val events = (Seq(1, 2, 3, 4, 100).map(v => ("a", v.toDouble)) ++
      Seq(1, 2).map(v => ("b", v.toDouble)) ++
      Seq(5, 5, 5, 9).map(v => ("c", v.toDouble)))
      .toDF("event_type", "value")
    val got = ops.Mixing.madOutliers(events, "event_type", "value")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("median_value"),
          r.getAs[Double]("mad_value"), r.getAs[Long]("n_outliers")))).toMap
    assert(got("a") == ((5L, 3.0, 1.0, 1L)), s"a wrong: ${got("a")}")
    assert(got("b") == ((2L, 1.5, 0.5, 0L)), s"b wrong: ${got("b")}")
    assert(got("c") == ((4L, 5.0, 0.0, 1L)), s"c wrong: ${got("c")}")
    // corpus run: outliers are a minority everywhere (robustness law —
    // by construction at most half the group can sit beyond 3·MAD when
    // MAD > 0), and MAD ≥ 0
    val corpus = ops.Mixing.madOutliers(spark, sfDir).cache()
    assert(corpus.filter(col("mad_value") < 0).count() == 0)
    assert(corpus.filter(col("mad_value") > 0 &&
      col("n_outliers") * 2 > col("n_events")).count() == 0)
  }

  test("mannWhitney: hand-computed doubled-U with ties; separated sources hit AUC 0 and 1") {
    import spark.implicits._
    // A={1,2}, B={2,3}: doubled midranks 2/5/8 → U2_A=1 (auc .125), U2_B=7 (auc .875)
    val tied = Seq(("A", 1L), ("A", 2L), ("B", 2L), ("B", 3L)).toDF("source", "val")
    val got = ops.Mixing.mannWhitney(tied, "source", "val").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("A") == ((2L, 1L, 0.125)) && got("B") == ((2L, 7L, 0.875)),
      s"tied hand-trace wrong: $got")
    // complete separation: every low doc in A → AUC exactly 0 / 1
    val sep = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("B", 14L), ("B", 15L), ("B", 16L))
      .toDF("source", "val")
    val g2 = ops.Mixing.mannWhitney(sep, "source", "val").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(g2 == Map("A" -> 0.0, "B" -> 1.0), s"separation wrong: $g2")
    // corpus: AUC within [0,1], masses recount, U bounded by 2·n·(nt−n)
    val corpus = ops.Mixing.mannWhitney(spark, sfDir).cache()
    assert(corpus.filter(col("auc") < 0 || col("auc") > 1).count() == 0)
    val nt = Tables.documents(spark, sfDir).count()
    assert(corpus.agg(sum("n")).head().getLong(0) == nt)
    assert(corpus.filter(col("u2") < 0 ||
      col("u2") > lit(2L) * col("n") * (lit(nt) - col("n"))).count() == 0)
  }
}
