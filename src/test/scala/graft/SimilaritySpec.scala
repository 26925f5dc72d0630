package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the similarity-search operators (SURVEY.md §7.5):
  * exact brute-force k-NN shape checks, and ANN-vs-exact recall for the
  * LSH path (not DuckDB-oracle-able — hyperplanes derive from Spark's
  * xxhash64).
  */
class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession._

  test("knnBrute: 10 queries x 5 ranks, sims in [-1,1], ranks contiguous") {
    val df = ops.Similarity.knnBrute(spark, sfDir).cache()
    assert(df.count() == 50)
    assert(df.select(countDistinct("query_id")).head().getLong(0) == 10)
    assert(df.filter(col("sim") < -1.0 || col("sim") > 1.0).count() == 0)
    val ranks = df.groupBy("query_id").agg(collect_set("rank").as("rs"))
    assert(ranks.filter(size(col("rs")) =!= 5).count() == 0)
  }

  test("annIvf: valid shape; no sim above the exact best; usable recall") {
    val ann = ops.Similarity.annIvf(spark, sfDir).cache()
    val brute = ops.Similarity.knnBrute(spark, sfDir).cache()
    val beyond = ann.groupBy("query_id").agg(max("sim").as("ann_max"))
      .join(brute.groupBy("query_id").agg(max("sim").as("ex_max")), Seq("query_id"))
      .filter(col("ann_max") > col("ex_max") + 1e-9)
    assert(beyond.count() == 0)
    val hit = brute.select(col("query_id"), col("neighbor_id"))
      .join(ann.select(col("query_id"), col("neighbor_id")), Seq("query_id", "neighbor_id"))
      .count()
    val recall = hit.toDouble / 50
    info(f"IVF recall@5 = $recall%.2f")
    // 8 cells × 4 probes × 2-cell multiple assignment holds 0.92 at
    // sf0.001 and 0.94 at sf0.01 — the floor leaves noise margin only
    assert(recall >= 0.85, f"IVF recall collapsed: $recall%.2f")
  }

  test("annLsh: valid shape; no sim above the exact best; usable recall") {
    val ann = ops.Similarity.annLsh(spark, sfDir).cache()
    val brute = ops.Similarity.knnBrute(spark, sfDir).cache()
    // ANN never reports a similarity above the exact per-query maximum
    val beyond = ann.groupBy("query_id").agg(max("sim").as("ann_max"))
      .join(brute.groupBy("query_id").agg(max("sim").as("ex_max")), Seq("query_id"))
      .filter(col("ann_max") > col("ex_max") + 1e-9)
    assert(beyond.count() == 0)
    // recall@5: fraction of exact top-5 pairs recovered by the LSH path
    val hit = brute.select(col("query_id"), col("neighbor_id"))
      .join(ann.select(col("query_id"), col("neighbor_id")), Seq("query_id", "neighbor_id"))
      .count()
    val recall = hit.toDouble / 50
    info(f"ANN recall@5 = $recall%.2f")
    // multi-probe (1-bit-flip neighbors per band) lifted this from
    // ~0.78 to 1.00 at the test SF — pin well above the single-probe level
    assert(recall >= 0.6, f"LSH recall collapsed: $recall%.2f")
  }

  test("centroidDrift: hand-computable planted geometry, bounded cosines at sfDir") {
    import spark.implicits._
    // label 0: two vectors on e1; label 1: one on e2. Global centroid
    // (2/3, 1/3): cos(L0) = 2/sqrt(5), cos(L1) = 1/sqrt(5).
    val planted = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(1.0f, 0.0f)), (3L, 1, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val got = ops.Similarity.centroidDrift(planted, "vec_id", "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toList
    assert(got == List((0, 2L, 0.8944), (1, 1L, 0.4472)), s"got $got")
    val corpus = ops.Similarity.centroidDrift(spark, sfDir).cache()
    assert(corpus.filter(col("cos_to_global") < -1 || col("cos_to_global") > 1).count() == 0)
    assert(corpus.agg(sum("n_vecs")).head().getLong(0) ==
      Tables.embeddings(spark, sfDir).count())
  }

  test("embeddingQuantize: endpoints hit the int8 rails, corpus vectors stay full-width") {
    import spark.implicits._
    // dim 0 range [0,2] with a midpoint, dim 1 constant -> qv 0
    val planted = Seq(
      (1L, Seq(0.0f, 5.0f)), (2L, Seq(1.0f, 5.0f)), (3L, Seq(2.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val got = ops.Similarity.embeddingQuantize(planted, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList
    assert(got == List((1L, "-128,0", -128L), (2L, "0,0", 0L), (3L, "127,0", 127L)),
      s"got $got")
    val corpus = ops.Similarity.embeddingQuantize(spark, sfDir).cache()
    assert(corpus.count() == Tables.embeddings(spark, sfDir).count())
    // every quantized vector keeps all 64 components, none escapes int8
    assert(corpus.filter(size(split(col("q_csv"), ",")) =!= 64).count() == 0)
    val comp = corpus.select(explode(split(col("q_csv"), ",")).as("c0"))
      .select(col("c0").cast("int").as("c"))
    assert(comp.filter(col("c") < -128 || col("c") > 127).count() == 0)
  }

  test("kmeansReport: planted orthogonal clusters recover perfectly; corpus report sane") {
    import spark.implicits._
    // three orthogonal directions, 20 near-identical members each —
    // k-means with k=3 must recover them with perfect purity
    val planted = (0 until 60).map { i =>
      val grp = i % 3
      val base = Array.fill(3)(0.01f)
      base(grp) = 1.0f + 0.001f * (i / 3) // tiny within-cluster spread
      (i.toLong, grp, base.toSeq)
    }.toDF("vec_id", "label", "embedding")
    val got = ops.Similarity.kmeansReport(planted, "vec_id", "label", "embedding",
      k = 3, iters = 4).collect()
    assert(got.length == 3)
    got.foreach { r =>
      assert(r.getAs[Long]("n_members") == 20L, s"uneven cluster: $r")
      assert(r.getAs[Double]("top_label_share") == 1.0, s"impure cluster: $r")
      assert(r.getAs[Double]("cohesion") > 0.999, s"loose cluster: $r")
    }
    assert(got.map(_.getAs[Int]("top_label")).toSet == Set(0, 1, 2))
    // corpus report: every vector lands in exactly one of k clusters
    val corpus = ops.Similarity.kmeansReport(spark, sfDir).cache()
    assert(corpus.count() <= 8 && corpus.count() >= 1)
    assert(corpus.agg(sum("n_members")).head().getLong(0) ==
      Tables.embeddings(spark, sfDir).count(),
      "every corpus vector must be assigned to exactly one cluster")
    assert(corpus.filter(col("cohesion") < -1.0001 || col("cohesion") > 1.0001)
      .count() == 0)
    assert(corpus.filter(col("top_label_share") <= 0.0 ||
      col("top_label_share") > 1.0).count() == 0)
  }

  test("annRecall: both methods reported per query; recall floors hold; perfect on planted") {
    val df = ops.Similarity.annRecall(spark, sfDir).cache()
    // 10 queries × 2 methods, recall in [0,1]
    assert(df.count() == 20, s"expected 2×10 rows, got ${df.count()}")
    assert(df.filter(col("recall") < 0 || col("recall") > 1).count() == 0)
    assert(df.select("method").distinct().collect().map(_.getString(0)).toSet ==
      Set("lsh", "ivf"))
    // the same floors SimilaritySpec pins on the raw indexes
    val mean = df.groupBy("method").agg(avg("recall").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(mean("lsh") >= 0.8 && mean("ivf") >= 0.85, s"recall too low: $mean")
  }

  test("gen-sf1 recall floors hold through the persisted-index read path") {
    // VERDICT r12 item 6: the sf0.001/0.01 floors say nothing about a
    // corpus where bucket densities differ — this pins recall at the
    // scale-proof corpus size (20k vectors, 10× the driver's largest),
    // and through the STORED index (the path production serves), not
    // an in-session rebuild. The embeddings-only generator keeps the
    // fixture cost to seconds; the dir is cached across suite runs.
    val dir = "target/gen/sf1-emb"
    if (!new java.io.File(s"$dir/embeddings.parquet").exists())
      GenData.generateEmbeddings(spark, 1.0, dir)
    ops.Similarity.writeAnnIndex(spark, dir, "recall_sf1_idx")
    val df = ops.Similarity
      .annRecallFromIndex(spark, dir, "recall_sf1_idx", nQueries = 10, k = 5)
      .cache()
    assert(df.count() == 20, s"expected 2×10 rows, got ${df.count()}")
    val mean = df.groupBy("method").agg(avg("recall").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // floors set just under the measured values at this corpus size
    // (DEPLOY §5 records the dial table the floors came from)
    assert(mean("ivf") >= 0.80, s"gen-sf1 IVF recall collapsed: $mean")
    assert(mean("lsh") >= 0.60, s"gen-sf1 LSH recall collapsed: $mean")
  }

  test("pcaReport: planted spectrum recovered exactly, invariant under rotation; corpus run sane") {
    import spark.implicits._
    // Rademacher patterns on bits of k are orthogonal and mean-zero
    // over a full cycle of 8 → population covariance diag(9, 4, 1, 0, 0, 0);
    // sample covariance scales by n/(n-1) = 8/7
    def s(k: Int, bit: Int): Double = if (((k >> bit) & 1) == 1) 1.0 else -1.0
    val planted = (0 until 8).map { k =>
      Seq(3.0 * s(k, 0), 2.0 * s(k, 1), 1.0 * s(k, 2), 0.0, 0.0, 0.0).map(_.toFloat)
    }
    val scale = 8.0 / 7.0
    val df = planted.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val got = ops.Similarity.pcaReport(df, "embedding", topP = 6).collect()
    assert(got.length == 6)
    val eig = got.map(_.getAs[Double]("eigenvalue"))
    assert(math.abs(eig(0) - 9 * scale) < 1e-4 && math.abs(eig(1) - 4 * scale) < 1e-4 &&
      math.abs(eig(2) - 1 * scale) < 1e-4 && eig.drop(3).forall(_ < 1e-6),
      s"planted spectrum wrong: ${eig.toSeq}")
    assert(math.abs(got.map(_.getAs[Double]("var_ratio")).sum - 1.0) < 1e-3)
    assert(math.abs(got.last.getAs[Double]("cum_ratio") - 1.0) < 1e-3)
    // rotate axes 0/1 by 45° — eigenvalues must not move (it's a real
    // eigensolve, not a diagonal read-off)
    val r = math.sqrt(2.0) / 2.0
    val rotated = planted.map { v =>
      Seq(r * v(0) - r * v(1), r * v(0) + r * v(1), v(2).toDouble, 0.0, 0.0, 0.0)
        .map(_.toFloat)
    }.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val eigR = ops.Similarity.pcaReport(rotated, "embedding", topP = 3)
      .collect().map(_.getAs[Double]("eigenvalue"))
    assert(math.abs(eigR(0) - 9 * scale) < 1e-4 && math.abs(eigR(1) - 4 * scale) < 1e-4 &&
      math.abs(eigR(2) - 1 * scale) < 1e-4, s"rotation moved the spectrum: ${eigR.toSeq}")
    // corpus run: descending non-negative spectrum, ratios in [0, 1]
    val corpus = ops.Similarity.pcaReport(spark, sfDir).collect()
    assert(corpus.length == 10)
    val ce = corpus.map(_.getAs[Double]("eigenvalue"))
    assert(ce.zip(ce.tail).forall { case (a, b) => a >= b - 1e-9 }, s"not descending: ${ce.toSeq}")
    assert(ce.forall(_ >= 0))
    val cum = corpus.map(_.getAs[Double]("cum_ratio"))
    assert(cum.zip(cum.tail).forall { case (a, b) => b >= a - 1e-9 })
    assert(cum.last <= 1.0 + 1e-6)
  }

  test("pcaProject: planted coordinates recovered up to pinned sign; projection is variance-sorted") {
    import spark.implicits._
    // same Rademacher construction as the report test: axis variances
    // 9 > 4 > 1, mean zero → pc1 = ±3, pc2 = ±2, pc3 = ±1 exactly
    def s(k: Int, bit: Int): Double = if (((k >> bit) & 1) == 1) 1.0 else -1.0
    val df = (0 until 8).map { k =>
      (k.toLong,
        Seq(3.0 * s(k, 0), 2.0 * s(k, 1), 1.0 * s(k, 2), 0.0, 0.0, 0.0).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val got = ops.Similarity.pcaProject(df, "vec_id", "embedding", p = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    (0 until 8).foreach { k =>
      val (p1, p2, p3) = got(k.toLong)
      // eigenvector sign is pinned (largest-|component| positive), and the
      // planted axes ARE the eigenvectors, so coordinates match exactly
      assert(math.abs(p1 - 3.0 * s(k, 0)) < 1e-6, s"k=$k pc1=$p1")
      assert(math.abs(p2 - 2.0 * s(k, 1)) < 1e-6, s"k=$k pc2=$p2")
      assert(math.abs(p3 - 1.0 * s(k, 2)) < 1e-6, s"k=$k pc3=$p3")
    }
    // corpus run: one row per vector, per-component variance descending
    val corpus = ops.Similarity.pcaProject(spark, sfDir).cache()
    assert(corpus.count() == Tables.embeddings(spark, sfDir).count())
    val vars = corpus.agg(
      variance(col("pc1")), variance(col("pc2")), variance(col("pc3")))
      .head()
    assert(vars.getDouble(0) >= vars.getDouble(1) - 1e-6 &&
      vars.getDouble(1) >= vars.getDouble(2) - 1e-6,
      s"projected variances not descending: $vars")
  }

  test("semanticDedup: planted duplicate groups keep only their min id; distinct vectors survive") {
    import spark.implicits._
    // two orthogonal clusters of 20; ids 0/4/8 share an IDENTICAL
    // vector (cos = 1 ≥ tau) — greedy keep-first must keep 0 and drop
    // 4 and 8. Every other vector carries a unique private dimension,
    // so any distinct pair's cosine is ≤ 1/√2 < tau wherever k-means
    // puts it.
    val planted = (0 until 40).map { i =>
      val grp = i % 2
      val base = Array.fill(42)(0.0f)
      base(grp) = 1.0f
      if (!(i == 0 || i == 4 || i == 8)) base(2 + i) = 1.0f
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
    val got = ops.Similarity.semanticDedup(planted, "vec_id", "embedding",
      nCells = 2, iters = 3, tau = 0.97, maxCell = 100).cache()
    assert(got.count() == 40, "one row per vector")
    val dropped = got.filter(!col("kept")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(dropped == Set(4L, 8L), s"wrong drop set: $dropped")
    assert(got.filter(col("in_oversized_cell")).count() == 0)
    // the duplicate group's survivors: id 0 kept with no closer dup
    val r0 = got.filter(col("vec_id") === 0L).head()
    assert(r0.getAs[Boolean]("kept") && r0.getAs[Long]("n_closer_dups") == 0L)
    // idempotence on the kept set: rerunning on survivors drops nothing
    val kept = planted.join(got.filter(col("kept")).select("vec_id"), Seq("vec_id"))
    val again = ops.Similarity.semanticDedup(kept, "vec_id", "embedding",
      nCells = 2, iters = 3, tau = 0.97, maxCell = 100)
    assert(again.filter(!col("kept")).count() == 0, "semanticDedup not idempotent")
    // oversized-cell visibility: cap of 1 forces every cell over, all
    // rows flagged and kept-by-default
    val capped = ops.Similarity.semanticDedup(planted, "vec_id", "embedding",
      nCells = 2, iters = 3, tau = 0.97, maxCell = 1)
    assert(capped.filter(!col("in_oversized_cell") || !col("kept")).count() == 0)
    // corpus run: one row per vector, flags well-formed
    val corpus = ops.Similarity.semanticDedup(spark, sfDir).cache()
    assert(corpus.count() == Tables.embeddings(spark, sfDir).count())
    assert(corpus.filter(!col("kept") && col("n_closer_dups") === 0).count() == 0)
  }

  test("semanticDedup auto-size: cell count tracks the corpus, clamped to [2, 256]") {
    // ceil(n / 250): the stock op no longer needs the manual nCells
    // dial at 10x data (the one default VERDICT r11 showed degrading)
    assert(ops.Similarity.autoCells(0L) == 2)
    assert(ops.Similarity.autoCells(500L) == 2)
    assert(ops.Similarity.autoCells(501L) == 3)
    // driver sf0.1 (2000 vectors) reproduces the historical default 8
    assert(ops.Similarity.autoCells(2000L) == 8)
    // gen-sf1 lands past the measured-good manual dial (8 -> 32)
    assert(ops.Similarity.autoCells(20000L) == 80)
    assert(ops.Similarity.autoCells(60000L) == 240)
    // flat-trainer cap: past this a flat index is the wrong tool
    assert(ops.Similarity.autoCells(10000000L) == 256)
  }

  // ---- second-algorithm laws: every rows-only (no DuckDB oracle)
  // query in this family gets an independent driver-side recomputation
  // agreeing with the Spark derivation, the q_span_dedup discipline.

  private def collectVecs(): Map[Long, Array[Double]] =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  test("law: kmeans report equals a driver-side refold of the raw assignments") {
    val report = ops.Similarity.kmeansReport(spark, sfDir).collect()
      .map(r => r.getAs[Int]("cluster") -> r).toMap
    val asg = ops.Similarity.kmeansAssignments(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("cluster"), r.getAs[Int]("label"),
        r.getAs[Double]("sim")))
    assert(asg.length == Tables.embeddings(spark, sfDir).count())
    asg.groupBy(_._1).foreach { case (cluster, rows) =>
      val rep = report(cluster)
      assert(rep.getAs[Long]("n_members") == rows.length.toLong,
        s"cluster $cluster member count")
      val cohesion = rows.map(_._3).sum / rows.length
      assert(math.abs(rep.getAs[Double]("cohesion") - cohesion) < 5e-4,
        s"cluster $cluster cohesion ${rep.getAs[Double]("cohesion")} vs $cohesion")
      // the op's argmax is max(struct(cnt, label)): count first, then
      // the LARGER label on a tie — replicate exactly
      val (topLabel, topCnt) = rows.groupBy(_._2).view.mapValues(_.length)
        .toSeq.maxBy { case (l, c) => (c, l) }
      assert(rep.getAs[Int]("top_label") == topLabel, s"cluster $cluster label")
      assert(math.abs(rep.getAs[Double]("top_label_share") -
        topCnt.toDouble / rows.length) < 5e-4, s"cluster $cluster share")
    }
    assert(report.keySet == asg.map(_._1).toSet, "report/assignment cluster sets differ")
  }

  test("law: semanticDedup flags equal a brute-force within-cell cosine recount") {
    // corpus constants of semanticDedup(spark, dir): tau, maxCell
    val tau = 0.97; val maxCell = 5000
    val out = ops.Similarity.semanticDedup(spark, sfDir).collect()
    val vecs = collectVecs()
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    val byCell = out.groupBy(_.getAs[Int]("cell"))
    byCell.foreach { case (_, members) =>
      val oversized = members.length > maxCell
      val ids = members.map(_.getAs[Long]("vec_id")).sorted
      members.foreach { r =>
        val id = r.getAs[Long]("vec_id")
        assert(r.getAs[Boolean]("in_oversized_cell") == oversized,
          s"oversized flag wrong for $id")
        val expected =
          if (oversized) 0L
          else ids.takeWhile(_ < id).count { u =>
            dot(vecs(id), vecs(u)) / (nrm(id) * nrm(u)) >= tau
          }.toLong
        assert(r.getAs[Long]("n_closer_dups") == expected,
          s"n_closer_dups wrong for $id: got ${r.getAs[Long]("n_closer_dups")}, want $expected")
        assert(r.getAs[Boolean]("kept") == (oversized || expected == 0L),
          s"kept flag wrong for $id")
      }
    }
  }

  test("law: pcaProject coordinates re-derive by direct centered matrix math on the driver") {
    val out = ops.Similarity.pcaProject(spark, sfDir).collect()
    val vecs = collectVecs()
    val n = vecs.size
    val dim = vecs.head._2.length
    val mean = Array.tabulate(dim)(j => vecs.values.iterator.map(_(j)).sum / n)
    // DIRECT centered covariance — deliberately a different formula
    // than the op's single-pass raw-moment aggregate
    val cov = Array.ofDim[Double](dim, dim)
    vecs.values.foreach { v =>
      var i = 0
      while (i < dim) {
        var j = i
        while (j < dim) {
          cov(i)(j) += (v(i) - mean(i)) * (v(j) - mean(j)); j += 1
        }
        i += 1
      }
    }
    for (i <- 0 until dim; j <- i until dim) {
      cov(i)(j) /= (n - 1); cov(j)(i) = cov(i)(j)
    }
    val (_, evs) = graft.functions.Jacobi.eigenDesc(cov)
    out.foreach { r =>
      val v = vecs(r.getAs[Long]("vec_id"))
      val centered = Array.tabulate(dim)(d => v(d) - mean(d))
      for (k <- 0 until 3) {
        val expected = dot(centered, evs(k))
        val got = r.getAs[Double](s"pc${k + 1}")
        assert(math.abs(got - expected) < 1e-3,
          s"pc${k + 1} for ${r.getAs[Long]("vec_id")}: got $got, want $expected")
      }
    }
  }

  test("law: pcaReport spectrum re-derives by power iteration and power-sum identities") {
    // Independent second derivation of the eigensolve (the q_kcenter
    // discipline): (a) the covariance is rebuilt on the driver with
    // the DIRECT centered formula, bypassing CovMomentsAggregator;
    // (b) Σλ and Σλ² are checked against tr(C) and tr(C²) — pure
    // functionals of C needing no eigensolve at all; (c) the top-3
    // eigenvalues are recomputed by POWER ITERATION with deflation —
    // a different algorithm than the op's cyclic Jacobi.
    val vecs = collectVecs()
    val n = vecs.size
    val dim = vecs.head._2.length
    val mean = Array.tabulate(dim)(j => vecs.values.iterator.map(_(j)).sum / n)
    val cov = Array.ofDim[Double](dim, dim)
    vecs.values.foreach { v =>
      var i = 0
      while (i < dim) {
        var j = i
        while (j < dim) {
          cov(i)(j) += (v(i) - mean(i)) * (v(j) - mean(j)); j += 1
        }
        i += 1
      }
    }
    for (i <- 0 until dim; j <- i until dim) {
      cov(i)(j) /= (n - 1); cov(j)(i) = cov(i)(j)
    }
    val full = ops.Similarity
      .pcaReport(Tables.embeddings(spark, sfDir), "embedding", topP = dim)
      .collect().map(_.getAs[Double]("eigenvalue"))
    assert(full.length == dim)
    assert(full.zip(full.tail).forall { case (a, b) => a >= b },
      "spectrum not descending")
    assert(full.forall(_ >= 0.0), "covariance eigenvalue went negative")
    // power-sum identities (rounding headroom: the op rounds each
    // eigenvalue to 1e-6, so the sums can move by ≤ dim·5e-7)
    val tr = (0 until dim).map(i => cov(i)(i)).sum
    val tr2 = (for (i <- 0 until dim; j <- 0 until dim)
      yield cov(i)(j) * cov(j)(i)).sum
    assert(math.abs(full.sum - tr) <= 1e-4 * math.max(1.0, math.abs(tr)),
      s"trace identity broken: sum(lambda)=${full.sum} vs tr=$tr")
    assert(math.abs(full.map(x => x * x).sum - tr2) <=
      1e-4 * math.max(1.0, math.abs(tr2)),
      s"Frobenius identity broken: sum(lambda^2)=${full.map(x => x * x).sum} vs tr2=$tr2")
    // top-3 by power iteration + deflation
    val c = cov.map(_.clone())
    val rnd = new scala.util.Random(7)
    val powered = (0 until 3).map { _ =>
      var v = Array.fill(dim)(rnd.nextGaussian())
      var lambda = 0.0
      for (_ <- 0 until 2000) {
        val w = Array.tabulate(dim)(i => dot(c(i), v))
        val nw = math.sqrt(dot(w, w))
        v = w.map(_ / nw)
        lambda = dot(v, Array.tabulate(dim)(i => dot(c(i), v)))
      }
      for (i <- 0 until dim; j <- 0 until dim)
        c(i)(j) -= lambda * v(i) * v(j)
      lambda
    }
    powered.zip(full.take(3)).zipWithIndex.foreach { case ((p, j), k) =>
      assert(math.abs(p - j) <= 1e-3 * math.max(1.0, math.abs(p)),
        s"lambda${k + 1}: power iteration $p vs Jacobi $j")
    }
  }

  test("ndcgReport: driver-side recomputation from the knn ranking agrees exactly") {
    val labels = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val w = (1 to 5).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
    val cum = w.scanLeft(0L)(_ + _).tail
    val byQuery = ops.Similarity.knnBrute(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("query_id"))
    val got = ops.Similarity.ndcgReport(spark, sfDir).collect()
    assert(got.length == byQuery.size)
    got.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val rels = byQuery(q).sortBy(_.getAs[Int]("rank"))
        .map(x => if (labels(x.getAs[Long]("neighbor_id")) == labels(q)) 1L else 0L)
      val nRel = rels.sum
      val dcg = rels.zip(w).map { case (rel, wi) => rel * wi }.sum
      assert(r.getAs[Long]("n_relevant") == nRel, s"q$q n_relevant")
      assert(r.getAs[Long]("dcg_micro") == dcg, s"q$q dcg")
      assert(r.getAs[Double]("precision_at_k") ==
        math.rint(nRel / 5.0 * 1e4) / 1e4)
      if (nRel == 0) assert(r.isNullAt(r.fieldIndex("ndcg_at_k")))
      else {
        val ndcg = r.getAs[Double]("ndcg_at_k")
        assert(ndcg > 0.0 && ndcg <= 1.0)
        assert(ndcg == math.rint(dcg.toDouble / cum(nRel.toInt - 1) * 1e6) / 1e6,
          s"q$q ndcg")
      }
    }
  }

  test("retrievalEval: MRR/AP/recall re-derived on the driver agree exactly") {
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val labels = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val labelN = labels.values.groupBy(identity).map { case (l, xs) => l -> xs.size }
    val byQuery = ops.Similarity.knnBrute(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("query_id"))
    val got = ops.Similarity.retrievalEval(spark, sfDir).collect()
    assert(got.length == byQuery.size)
    got.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val rels = byQuery(q).sortBy(_.getAs[Int]("rank"))
        .map(x => labels(x.getAs[Long]("neighbor_id")) == labels(q))
      val nRel = rels.count(identity)
      assert(r.getAs[Long]("n_relevant") == nRel)
      val first = rels.indexOf(true) + 1 // 0-based → rank, 0 if none
      if (first == 0) {
        assert(r.isNullAt(r.fieldIndex("first_rank")))
        assert(r.isNullAt(r.fieldIndex("rr")))
        assert(r.isNullAt(r.fieldIndex("ap_at_k")))
      } else {
        assert(r.getAs[Int]("first_rank") == first)
        assert(r.getAs[Double]("rr") == r6(1.0 / first))
        // AP@K via the exact 60ths: Σ_(rel r) cum(r)·(60/r), /60/nRel
        val cums = rels.scanLeft(0)((a, b) => a + (if (b) 1 else 0)).tail
        val apNum = rels.zipWithIndex.collect {
          case (true, i) => cums(i).toLong * (60L / (i + 1)) }.sum
        assert(r.getAs[Double]("ap_at_k") == r6(apNum / 60.0 / nRel),
          s"q$q ap")
      }
      val denom = math.min(labelN(labels(q)) - 1, 5)
      assert(r.getAs[Double]("recall_at_k") == r6(nRel.toDouble / denom))
      // MRR ≥ AP is a theorem when the first hit dominates… not in
      // general; instead: AP ≤ 1, recall ≤ 1, and a perfect list
      // (all 5 relevant) has AP exactly 1
      if (nRel == 5) assert(r.getAs[Double]("ap_at_k") == 1.0)
    }
  }

  /** Independent driver-side greedy k-center: same seed rule, same
    * round-6 HALF_UP quantization, same (smax, id) tie-break.
    */
  private def kCenterModel(pts: Seq[(Long, Array[Double])],
                           k: Int): Seq[(Long, Option[Double])] = {
    def q6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def nrm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    def sim(a: Array[Double], b: Array[Double]) =
      q6(a.zip(b).map { case (x, y) => x * y }.sum / (nrm(a) * nrm(b)))
    val seed = pts.minBy(_._1)
    var centers = Vector[(Long, Array[Double], Option[Double])](
      (seed._1, seed._2, None))
    for (_ <- 2 to k) {
      val cand = pts.filterNot(p => centers.exists(_._1 == p._1))
        .map { case (id, v) =>
          (centers.map(c => sim(v, c._2)).max, id, v)
        }
      if (cand.nonEmpty) {
        val best = cand.minBy { case (s, id, _) => (s, id) }
        centers = centers :+ ((best._2, best._3, Some(best._1)))
      }
    }
    centers.map(c => (c._1, c._3))
  }

  test("kCenter: planted geometry traces the exact greedy selection") {
    import spark.implicits._
    // seed 0 points along +x; the far pole, the orthogonal axis and
    // the diagonal must be picked before the near-duplicate of 0
    val pts = Seq(
      0L -> Array(1.0, 0.0), 1L -> Array(0.999, 0.045),
      2L -> Array(0.0, 1.0), 3L -> Array(-1.0, 0.0), 4L -> Array(1.0, 1.0))
    val got = ops.Similarity.kCenter(
      pts.toDF("vec_id", "embedding"), "vec_id", "embedding", 5)
      .collect()
      .map(r => (r.getAs[Long]("center_id"),
        if (r.isNullAt(r.fieldIndex("cover_sim6"))) None
        else Some(r.getAs[Double]("cover_sim6"))))
    assert(got.map(_._1).toSeq == Seq(0L, 3L, 2L, 4L, 1L))
    assert(got.toSeq == kCenterModel(pts.map(p => (p._1, p._2)), 5))
  }

  test("kCenter: k beyond the corpus exhausts cleanly; empty corpus is empty") {
    import spark.implicits._
    val pts = Seq(7L -> Array(1.0, 0.0), 8L -> Array(0.0, 1.0),
      9L -> Array(-1.0, 1.0))
    val got = ops.Similarity.kCenter(
      pts.toDF("vec_id", "embedding"), "vec_id", "embedding", 8).collect()
    assert(got.length == 3)
    assert(got.map(_.getAs[Long]("center_id")).toSet == Set(7L, 8L, 9L))
    val empty = ops.Similarity.kCenter(
      Seq.empty[(Long, Array[Double])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", 4)
    assert(empty.count() == 0)
  }

  test("q_kcenter: coverage curve is non-decreasing, centers distinct") {
    val rows = ops.Similarity.kCenter(spark, sfDir).collect()
    assert(rows.length == 8)
    assert(rows.map(_.getAs[Long]("center_id")).distinct.length == 8)
    assert(rows.head.isNullAt(rows.head.fieldIndex("cover_sim6")))
    val covers = rows.tail.map(_.getAs[Double]("cover_sim6"))
    assert(covers.zip(covers.tail).forall { case (a, b) => a <= b },
      s"coverage must saturate monotonically: ${covers.mkString(",")}")
    // matches the independent model on the real corpus too
    val pts = SparkTestSession.spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)).toSeq
    val want = kCenterModel(pts, 8)
    assert(rows.map(r => (r.getAs[Long]("center_id"),
      if (r.isNullAt(r.fieldIndex("cover_sim6"))) None
      else Some(r.getAs[Double]("cover_sim6")))).toSeq == want)
  }

  test("mmr: a perfect duplicate of the best hit loses to a diverse lower-relevance doc") {
    import spark.implicits._
    // q = e_x; ids 1 and 2 are the SAME direction (sim = 1, rel 0.9),
    // id 3 is less relevant (0.8) but diverse. Plain top-3 by rel
    // returns 1,2,3; MMR must pick 1, then 3 (dup penalty −0.3 beats
    // the 0.07·rel edge), then 2.
    val y = 0.4358898943540674 // sqrt(1 - 0.81): makes a1 unit-norm
    val pts: Seq[(Long, Array[Double])] = Seq(
      0L -> Array(1.0, 0.0, 0.0),
      1L -> Array(0.9, y, 0.0),
      2L -> Array(1.8, 2 * y, 0.0),
      3L -> Array(0.8, -0.6, 0.0))
    val got = ops.Similarity.mmr(pts.toDF("vec_id", "embedding"),
      "vec_id", "embedding", 0L, 3, 0.7).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 3L, 2L),
      s"diversity must reorder: ${got.mkString(",")}")
    assert(got.head.isNullAt(got.head.fieldIndex("max_sim6")))
    // the diverse pick's recorded max-sim is its sim to the first pick
    assert(got(1).getAs[Double]("max_sim6") == 0.458466)
    // the duplicate's penalty is the full sim=1
    assert(got(2).getAs[Double]("max_sim6") == 1.0)
    // corpus trajectory: k rows, rounds contiguous, scores are the
    // documented combination of their own row's rel/sim columns
    val corpus = ops.Similarity.mmr(spark, sfDir).collect()
    assert(corpus.length == 10)
    assert(corpus.map(_.getAs[Int]("round")).toSeq == (1 to 10))
    corpus.tail.foreach { r =>
      val want = 0.7 * r.getAs[Double]("rel6") -
        0.3 * r.getAs[Double]("max_sim6")
      assert(math.abs(r.getAs[Double]("mmr6") - want) < 1e-6)
    }
  }

  test("cosineCandidatePairs: null first embedding survives; dim sniff is layout-invariant") {
    import spark.implicits._
    // Row id=0 carries a NULL vector and sorts first in every layout a
    // limit(1) sniff might see — the old 1-row fetch NPE'd here. The
    // deterministic max(size) sniff must pick dim=4 regardless of which
    // task answers first, so the two planted near-duplicates still pair.
    val rows: Seq[(Long, Array[Double])] = Seq(
      0L -> null,
      1L -> Array(1.0, 2.0, 3.0, 4.0),
      2L -> Array(1.0, 2.0, 3.0, 4.001),
      3L -> Array(-4.0, 3.0, -2.0, 1.0))
    for (parts <- Seq(1, 3)) {
      val corpus = rows.toDF("vec_id", "embedding").repartition(parts)
      val got = ops.Similarity.cosineCandidatePairs(corpus, "vec_id", "embedding")
        .filter(col("sim") > 0.99)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L)),
        s"planted near-dup pair must survive a null row at $parts parts: $got")
    }
  }

  test("lazy-greedy contract: kCenter/mmr trajectories invariant under poolSize; scans bounded") {
    // the monotone-bound pool is a pure execution strategy: the
    // selection must be BIT-identical for every pool size, from the
    // most fallback-prone (1) through over-corpus (10000), and the
    // default pool must actually prune — fewer full scans than the
    // one-scan-per-round classic plan
    val emb = Tables.embeddings(spark, sfDir)
    def kTraj(p: Int) = {
      val (df, scans) = ops.Similarity.kCenterImpl(emb, "vec_id", "embedding", 8, p)
      (df.collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq, scans)
    }
    val (kRef, kRefScans) = kTraj(1)
    assert(kRef.size == 8)
    for (p <- Seq(4, 64, 10000)) {
      val (t, _) = kTraj(p)
      assert(t == kRef, s"kCenter trajectory changed at poolSize=$p")
    }
    val (_, kDefScans) = kTraj(64)
    assert(kDefScans <= kRefScans, "default pool must not scan more than pool=1")
    assert(kDefScans < 7, s"default pool must prune scans, did $kDefScans of 7")
    def mTraj(p: Int) = {
      val (df, scans) = ops.Similarity.mmrImpl(emb, "vec_id", "embedding",
        0L, 10, 0.7, p)
      (df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3), r.getDouble(4))).toSeq,
        scans)
    }
    val (mRef, mRefScans) = mTraj(1)
    assert(mRef.size == 10)
    for (p <- Seq(4, 80, 10000)) {
      val (t, _) = mTraj(p)
      assert(t == mRef, s"mmr trajectory changed at poolSize=$p")
    }
    val (_, mDefScans) = mTraj(80)
    assert(mDefScans <= mRefScans, "default pool must not scan more than pool=1")
    assert(mDefScans < 10, s"default pool must prune scans, did $mDefScans of 10")
    // the lazy-greedy bound is only valid for lambda in [0, 1] — an
    // out-of-range lambda must fail loudly, not select non-greedily
    for (bad <- Seq(-0.1, 1.5)) {
      val e = intercept[IllegalArgumentException] {
        ops.Similarity.mmr(emb, "vec_id", "embedding", 0L, 3, bad)
      }
      assert(e.getMessage.contains("lambda"), e.getMessage)
    }
  }
}
