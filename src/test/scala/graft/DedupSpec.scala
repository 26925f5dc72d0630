package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the dedup operators (SURVEY.md §7.5). The approximate
  * variants (MinHash, SimHash, n-gram blocking) are not DuckDB-oracle-able
  * (they depend on Spark's xxhash64 family), so their correctness is
  * pinned here instead: self-consistency, recall of planted exact
  * duplicates, and idempotence-style laws.
  */
class DedupSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val nDocs = Tables.documents(spark, sfDir).count()

  test("dedupExact: distinct texts == output rows; copies sum to corpus size") {
    val df = ops.Dedup.dedupExact(spark, sfDir).cache()
    val distinctTexts = Tables.documents(spark, sfDir).select("text").distinct().count()
    assert(df.count() == distinctTexts)
    val total = df.agg(sum("n_copies")).head().getLong(0)
    assert(total == nDocs)
  }

  test("dedupMinhash: one row per document; sims within [0,1]") {
    val df = ops.Dedup.dedupMinhash(spark, sfDir).cache()
    assert(df.count() == nDocs)
    assert(df.filter(col("max_sim") < 0 || col("max_sim") > 1).count() == 0)
    assert(df.filter(col("n_dups") > col("n_candidates")).count() == 0)
  }

  test("dedupMinhash: exact duplicates (Jaccard 1.0) are found as near-dups") {
    // every text with >1 exact copy must be flagged with max_sim == 1.0
    val dupIds = Tables.documents(spark, sfDir)
      .groupBy("text").agg(collect_list("doc_id").as("ids"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(explode(col("ids")).as("doc_id"))
    val flagged = ops.Dedup.dedupMinhash(spark, sfDir)
      .join(dupIds, Seq("doc_id"))
    val missed = flagged.filter(col("max_sim") < 1.0).count()
    assert(missed == 0, s"$missed exact-duplicate docs not flagged by MinHash-LSH")
  }

  test("dedupSimhash: one row per document; identical texts collide") {
    val df = ops.Dedup.dedupSimhash(spark, sfDir).cache()
    assert(df.count() == nDocs)
    val dupIds = Tables.documents(spark, sfDir)
      .groupBy("text").agg(collect_list("doc_id").as("ids"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(explode(col("ids")).as("doc_id"))
    val missed = df.join(dupIds, Seq("doc_id")).filter(col("n_dups") === 0).count()
    assert(missed == 0, s"$missed exact-duplicate docs not flagged by SimHash")
  }

  test("dedupEmbedding: one row per document; sims within [-1,1]; dup flags consistent") {
    val df = ops.Dedup.dedupEmbedding(spark, sfDir).cache()
    assert(df.count() == nDocs)
    assert(df.filter(col("max_sim") < -1.0 || col("max_sim") > 1.0001).count() == 0)
    assert(df.filter(col("n_dups") > col("n_candidates")).count() == 0)
    // flagged dups really have cosine >= 0.95
    assert(df.filter(col("n_dups") > 0 && col("max_sim") < 0.95).count() == 0)
  }

  test("dedupCanonical keeps exactly one doc per distinct text, the min id") {
    val df = ops.Dedup.dedupCanonical(spark, sfDir).cache()
    val distinctTexts = Tables.documents(spark, sfDir).select("text").distinct().count()
    assert(df.count() == distinctTexts)
  }

  test("canonicalize is idempotent: dedup(dedup(x)) == dedup(x)") {
    val docs = Tables.documents(spark, sfDir)
    val once = ops.Dedup.canonicalize(docs)
    val twice = ops.Dedup.canonicalize(once)
    assert(once.exceptAll(twice).count() == 0)
    assert(twice.exceptAll(once).count() == 0)
  }

  test("nearDupClusters: total coverage; exact dups share a cluster; labels are cluster minima") {
    val df = ops.Dedup.nearDupClusters(spark, sfDir).cache()
    assert(df.count() == nDocs)
    // every exact-duplicate text group ended up in one cluster
    val groups = Tables.documents(spark, sfDir)
      .join(df, Seq("doc_id"))
      .groupBy("text").agg(countDistinct("cluster").as("nc"), count(lit(1)).as("n"))
    assert(groups.filter(col("n") > 1 && col("nc") > 1).count() == 0,
      "identical texts split across clusters")
    // cluster label is the smallest member id, and that member is canonical
    val mins = df.groupBy("cluster").agg(min("doc_id").as("min_id"))
    assert(mins.filter(col("cluster") =!= col("min_id")).count() == 0)
    val canon = df.filter(col("is_canonical") === 1)
    assert(canon.count() == df.select(countDistinct("cluster")).head().getLong(0))
  }

  test("dedupNgramJaccard: one row per document; exact dups found") {
    val df = ops.Dedup.dedupNgramJaccard(spark, sfDir).cache()
    assert(df.count() == nDocs)
    val dupIds = Tables.documents(spark, sfDir)
      .groupBy("text").agg(collect_list("doc_id").as("ids"),
        first(col("lang")).as("lang"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(explode(col("ids")).as("doc_id"))
    val missed = df.join(dupIds, Seq("doc_id")).filter(col("max_sim") < 1.0).count()
    assert(missed == 0, s"$missed exact-duplicate docs not flagged by n-gram blocking")
  }

  test("dedupNgramJaccard: content-banded blocking keeps dropped-bucket loss visible and <1% at sf0.1") {
    // the scale check runs at the bench scale factor, not the tiny test
    // one: fixed-cardinality blocking is exactly the failure that only
    // shows up as the corpus grows
    val big = "/root/testdata/sf0.1"
    val df = ops.Dedup.dedupNgramJaccard(spark, big).cache()
    try {
      val n = df.count()
      assert(df.columns.contains("in_dropped_bucket"),
        "dropped-bucket visibility column missing")
      val dropped = df.filter(col("in_dropped_bucket") === 1).count()
      assert(dropped < n / 100,
        s"$dropped of $n docs sit in over-cap (silently dropped) buckets — " +
          "blocking key cardinality is not scaling with the corpus")
    } finally df.unpersist()
  }

  test("dedupNgramJaccard flags EXACTLY the members of a planted over-cap bucket") {
    // 1100 identical docs share all three bottom-shingle buckets, each
    // of size 1100 > the 1000 cap → every bucket they touch is dropped.
    // The visibility contract: each of them (and ONLY them) must come
    // back with in_dropped_bucket=1 and zero candidates — that flag is
    // how a pipeline owner measures the recall the cap cost, instead of
    // reading "no duplicates" for what are in fact exact copies.
    import spark.implicits._
    val boiler = (0 until 1100).map(i =>
      (i.toLong, "same boilerplate navigation footer text repeated on every page", "en", 62L))
    val unique = Seq(
      (5000L, "alpha beta gamma delta epsilon zeta eta theta iota", "en", 50L),
      (5001L, "one two three four five six seven eight nine ten", "en", 48L))
    val docs = (boiler ++ unique).toDF("doc_id", "text", "lang", "n_chars")
    val out = ops.Dedup
      .dedupNgramJaccard(docs, "doc_id", "text", "lang", "n_chars")
      .cache()
    try {
      val flagged = out.filter(col("in_dropped_bucket") === 1)
        .select("doc_id").as[Long].collect().toSet
      assert(flagged == (0L until 1100L).toSet,
        s"flag set wrong: ${flagged.size} flagged, expected the 1100 planted docs")
      assert(out.filter(col("in_dropped_bucket") === 1 && col("n_candidates") =!= 0)
        .count() == 0, "docs whose every bucket was dropped must report zero candidates")
      assert(out.filter(col("doc_id") >= 5000L && col("in_dropped_bucket") === 1)
        .count() == 0, "unique docs wrongly marked as dropped-bucket members")
    } finally out.unpersist()
  }

  test("fellegiSunterEm: planted-corruption recovery — estimated m beats the fixed m=0.95") {
    // 300 entities, two records each (the planted match pairs), sharing
    // a two-token name so the blocking pairs them; replica B's fields
    // are corrupted DETERMINISTICALLY 30% of the time, so the true
    // per-field m is 0.7 — far from the fixed-m default of 0.95. The EM
    // estimate must land near 0.7 (and the match prevalence near the
    // planted pair share), which is exactly the calibration the
    // fixed-m overload cannot do.
    import spark.implicits._
    def corrupted(e: Int, f: Int): Boolean = (e * 31 + f * 7) % 10 < 3
    val rows = (0 until 300).flatMap { e =>
      val name = s"entity ${e % 30} v$e"
      // field moduli must NOT divide the 30-entity block modulus: a
      // divisor (e.g. e%5) makes that field CONSTANT within each block,
      // so its within-block chance agreement is ~1 while the census u
      // says ~0.2 — a mis-specified u no estimator can survive
      val base = Seq(s"b${e % 7}", s"t${e % 11}", s"s${e % 13}")
      val a = (2L * e, name, base(0), base(1), base(2))
      val b = (2L * e + 1, name,
        if (corrupted(e, 0)) s"xb$e" else base(0),
        if (corrupted(e, 1)) s"xt$e" else base(1),
        if (corrupted(e, 2)) s"xs$e" else base(2))
      Seq(a, b)
    }
    val recs = rows.toDF("k", "name", "f1", "f2", "f3")
    val out = ops.Dedup.fellegiSunterEm(recs, "k", "name",
      Seq("f1", "f2", "f3"), maxBlock = 1000).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val m = r.getAs[Long]("m_micro")
      assert(math.abs(m - 700000L) < math.abs(950000L - 700000L),
        s"field ${r.getString(0)}: EM m=$m is no closer to the planted 0.7 " +
          "than the fixed default 0.95")
      assert(m > 450000L && m < 900000L, s"EM m=$m out of plausible range")
      // u stays well below m — the match class stayed anchored to the
      // agree-heavy component (no label switch)
      assert(r.getAs[Long]("u_micro") < m)
      assert(r.getAs[Long]("wa_micro") > 0 && r.getAs[Long]("wd_micro") < 0)
    }
  }

  test("fellegiSunterEm: dir form returns one row per field with exact integer state") {
    val out = ops.Dedup.fellegiSunterEm(spark, sfDir).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("p_brand", "p_size", "p_type"))
    out.foreach { r =>
      Seq("p_micro", "m_micro", "u_micro").foreach { c =>
        val v = r.getAs[Long](c)
        assert(v >= 1 && v <= 999999, s"$c=$v outside the clamped micro range")
      }
      assert(r.getAs[Long]("n_pairs") == out.head.getAs[Long]("n_pairs"))
    }
  }

  test("incremental dedup: index dups, increment dups and new docs classify exactly") {
    import spark.implicits._
    val old = Seq((0L, "alpha")).toDF("doc_id", "text")
    val inc = Seq((1L, "alpha"), (3L, "beta"), (5L, "beta"), (7L, "gamma"))
      .toDF("doc_id", "text")
    val got = ops.Dedup.dedupIncremental(old, inc, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "dup_of_index", 3L -> "new",
      5L -> "dup_in_increment", 7L -> "new"), s"got $got")
    // re-ingesting the same increment against old ∪ increment must
    // classify EVERY row dup_of_index — the incremental fixed point
    val again = ops.Dedup.dedupIncremental(old.union(inc), inc, "doc_id", "text")
    assert(again.filter(col("status") =!= "dup_of_index").count() == 0)
    // corpus run: every odd doc classified exactly once
    val corpus = ops.Dedup.dedupIncremental(spark, sfDir)
    val odd = Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 1).count()
    assert(corpus.count() == odd)
  }

  test("incremental near-dup: index matches, within-increment keep-first, fixed point") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val baseTweaked = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val fresh = (100 to 130).map(i => s"y$i").mkString(" ")
    val freshTweaked = (100 to 129).map(i => s"y$i").mkString(" ") + " qq"
    val unrelated = (200 to 230).map(i => s"z$i").mkString(" ")
    val old = Seq((10L, base)).toDF("doc_id", "text")
    val inc = Seq((11L, baseTweaked), (13L, fresh), (15L, freshTweaked),
      (17L, unrelated)).toDF("doc_id", "text")
    val got = ops.Dedup.dedupIncrementalNear(old, inc, "doc_id", "text", 0.7)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(11L -> "near_dup_of_index", 13L -> "new",
      15L -> "near_dup_in_increment", 17L -> "new"), s"got $got")
    // fixed point: re-ingesting the increment against old ∪ increment
    // classifies every row near_dup_of_index (each matches itself, J=1)
    val again = ops.Dedup.dedupIncrementalNear(old.union(inc), inc,
      "doc_id", "text", 0.7)
    assert(again.filter(col("status") =!= "near_dup_of_index").count() == 0)
    // corpus run: every odd doc classified exactly once; exact copies of
    // even docs must classify near_dup_of_index (J = 1 ≥ tau)
    val corpus = ops.Dedup.dedupIncrementalNear(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir)
    assert(corpus.count() == docs.filter(col("doc_id") % 2 === 1).count())
    val crossParity = docs.filter(col("doc_id") % 2 === 1).as("n")
      .join(docs.filter(col("doc_id") % 2 === 0).as("o"),
        col("n.text") === col("o.text"))
      .select(col("n.doc_id").as("doc_id")).distinct()
    val missed = crossParity.join(corpus, Seq("doc_id"))
      .filter(col("status") =!= "near_dup_of_index").count()
    assert(missed == 0, s"$missed exact cross-batch copies not classified near_dup_of_index")
  }

  test("containmentPairs: planted excerpt found at C=1.0 where Jaccard dedup misses it") {
    import spark.implicits._
    // doc 2 = the first 70% of doc 1: every shingle of 2 is in 1 →
    // containment 1.0, while Jaccard ≈ 0.68 sits UNDER the 0.7 minhash
    // dedup threshold. Unique-token filler keeps doc 3 unrelated.
    val big = (1 to 30).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 21).map(i => s"w$i").mkString(" ")
    val other = (100 to 130).map(i => s"x$i").mkString(" ")
    // the EXTREME size ratio: a 7-token "tweet" verbatim inside a
    // 500-token "book" — J ≈ 0.01, invisible to any Jaccard banding,
    // but C = 1.0; the bottom-k probe scheme must recover it
    val book = (1 to 500).map(i => s"b$i").mkString(" ")
    val tweet = (200 to 206).map(i => s"b$i").mkString(" ")
    val planted = Seq((1L, big), (2L, excerpt), (3L, other),
      (4L, book), (5L, tweet)).toDF("doc_id", "text")
    val got = ops.Dedup.containmentPairs(planted, "doc_id", "text", tau = 0.8)
      .collect()
    assert(got.length == 2, s"expected exactly the two planted pairs: ${got.toSeq}")
    val r = got.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getAs[Double]("containment") == 1.0, s"containment wrong: $r")
    assert(r.getAs[Double]("jacc") < 0.7,
      s"planted pair should sit under the symmetric dedup threshold: $r")
    val tb = got(1)
    assert(tb.getLong(0) == 4L && tb.getLong(1) == 5L, s"tweet-in-book pair missing: $tb")
    assert(tb.getAs[Double]("containment") == 1.0, s"tweet-in-book containment wrong: $tb")
    assert(tb.getAs[Double]("jacc") < 0.05,
      s"tweet-in-book should be a J→0 pair: $tb")
    // the symmetric minhash path indeed does NOT flag it as a dup at 0.7
    val sym = ops.Dedup.dedupMinhash(planted, "doc_id", "text", threshold = 0.7)
    assert(sym.filter(col("n_dups") > 0).count() == 0,
      "planted excerpt unexpectedly caught by symmetric Jaccard dedup")
    // corpus run: well-formed directed pairs, C ≥ jaccard always
    val corpus = ops.Dedup.containmentPairs(spark, sfDir).cache()
    assert(corpus.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(corpus.filter(col("containment") < col("jacc") - 1e-9).count() == 0)
    assert(corpus.filter(col("containment") < 0.8 || col("containment") > 1).count() == 0)
    // exact duplicate pairs (same text) must appear with C = 1
    val texts = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val exactPairs = texts.as("a").join(texts.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val missedExact = exactPairs.join(corpus, Seq("doc_a", "doc_b"), "left_anti").count()
    assert(missedExact == 0, s"$missedExact exact-dup pairs missing from containment output")
  }

  test("containmentProfile: full coverage on the corpus; saturation refuses loudly") {
    import spark.implicits._
    // corpus at test SF: vocabulary nowhere near saturation → every
    // posting list under the cap, coverage exactly 1000 milli
    val prof = ops.Dedup.containmentProfile(spark, sfDir).collect()
    assert(prof.length == 1)
    val p = prof.head
    assert(p.getAs[Long]("coverage_milli") == 1000L, s"expected full coverage: $p")
    assert(p.getAs[Long]("kept_vocab") == p.getAs[Long]("vocab"), s"$p")
    assert(p.getAs[Long]("kept_mass") == p.getAs[Long]("shingle_rows"), s"$p")
    assert(p.getAs[Long]("hot_df") >= 1 && p.getAs[Long]("n_docs") > 0, s"$p")
    // saturating corpus (the gen-sf3 finding in miniature): a 3-word
    // token pool mints ≤ 3³ = 27 possible 3-grams over 300 docs —
    // every posting list blows the df ≤ 100 cap
    val sat = (1L to 300L).map(i =>
      (i, Seq.tabulate(20)(j => s"t${(i + j) % 3}").mkString(" ")))
      .toDF("doc_id", "text")
    val sp = ops.Dedup.containmentProfile(sat, "doc_id", "text", cap = 100)
      .collect().head
    assert(sp.getAs[Long]("coverage_milli") == 0L, s"saturated corpus should have 0 coverage: $sp")
    assert(sp.getAs[Long]("kept_vocab") == 0L && sp.getAs[Long]("hot_df") > 100L, s"$sp")
    // ...and the operator refuses instead of silently returning 0 pairs
    val e = intercept[IllegalArgumentException] {
      ops.Dedup.containmentPairs(sat, "doc_id", "text", tau = 0.8)
    }
    assert(e.getMessage.contains("containmentProfile"), e.getMessage)
    assert(e.getMessage.contains("saturated"), e.getMessage)
  }

  test("containmentPairs ngram dial: widening the shingle recovers a corpus 3-grams saturate") {
    import spark.implicits._
    // 4-token pool: the 3-gram space (4³ = 64) saturates under 500
    // random docs (every posting list's df ≈ 220 >> 100) while the
    // 5-gram space (4⁵ = 1024) stays sparse (df ≈ 13) — the exact
    // regime the guard's "widen the shingle" advice targets
    val rnd = new scala.util.Random(42)
    val docs = (1L to 500L).map { i =>
      (i, Seq.fill(30)(s"p${rnd.nextInt(4)}").mkString(" "))
    }
    val big = docs.head._2
    val excerpt = big.split(" ").slice(5, 21).mkString(" ") // 16 tokens of doc 1
    val corpus = (docs :+ (9999L, excerpt)).toDF("doc_id", "text")
    // 3-gram profile says saturated; the default form refuses
    val p3 = ops.Dedup.containmentProfile(corpus, "doc_id", "text", cap = 100)
      .collect().head
    assert(p3.getAs[Long]("coverage_milli") < 500L, s"expected 3-gram saturation: $p3")
    intercept[IllegalArgumentException] {
      ops.Dedup.containmentPairs(corpus, "doc_id", "text", tau = 0.8)
    }
    // 5-gram profile says healthy; the widened form finds the excerpt
    val p5 = ops.Dedup.containmentProfile(corpus, "doc_id", "text", cap = 100, ngram = 5)
      .collect().head
    assert(p5.getAs[Long]("coverage_milli") >= 900L, s"expected 5-gram coverage: $p5")
    val got = ops.Dedup.containmentPairs(corpus, "doc_id", "text", tau = 0.8, ngram = 5)
      .filter(col("doc_a") === 1L && col("doc_b") === 9999L).collect()
    assert(got.length == 1, "planted excerpt not recovered by the widened shingle")
    assert(got.head.getAs[Double]("containment") == 1.0, s"${got.head}")
  }

  test("recordLinkage: near-variants pair with record counts; oversized and cross-block pairs excluded") {
    import spark.implicits._
    // "acme corp" (×3) vs "acme korp" (×1): dist 1, same block → linked.
    // "acme corporation": dist 7 from "acme corp" → beyond maxDist.
    // "zeta corp": different block — never paired despite dist 3 to "acme corp".
    val recs = (Seq.fill(3)("acme corp") ++ Seq("acme korp", "acme corporation",
      "zeta corp", "zeta corp")).toDF("name")
    val got = ops.Dedup.recordLinkage(recs, "name", maxDist = 3, maxBlock = 1000)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("acme corp", "acme korp", 1L, 3L, 1L)),
      s"linkage wrong: ${got.toSeq}")
    // a degenerate block larger than maxBlock is dropped from pairing
    val big = (0 until 20).map(i => s"inc variant$i").toDF("name")
    val capped = ops.Dedup.recordLinkage(big, "name", maxDist = 3, maxBlock = 10)
    assert(capped.count() == 0, "oversized block must not produce pairs")
    // corpus run: symmetric-free (a < b), dist within bound
    val corpus = ops.Dedup.recordLinkage(spark, sfDir).cache()
    assert(corpus.filter(col("name_a") >= col("name_b")).count() == 0)
    assert(corpus.filter(col("dist") < 1 || col("dist") > 3).count() == 0)
  }

  test("blockingProfile: planted saturation is a number; guarded linkage refuses loudly") {
    import spark.implicits._
    // blocks: "inc x" ×6 (dropped at maxBlock=4), "acme y" ×3, "solo z" ×1
    val recs = ((0 until 6).map(i => s"inc x$i") ++
      (0 until 3).map(i => s"acme y$i") :+ "solo z").toDF("name")
      .withColumn("block", split(col("name"), " ").getItem(0))
    val p = ops.Dedup.blockingProfile(recs, "block", maxBlock = 4).collect()
    assert(p.length == 1)
    val r = p(0)
    // hand-computed: 10 records, 3 blocks, max 6, mean 10*1000 DIV 3 =
    // 3333; 1 dropped block; 4 covered records -> 400 permille; pairs
    // from surviving blocks: C(3,2) + C(1,2) = 3
    assert(r.getLong(0) == 10L && r.getLong(1) == 3L && r.getLong(2) == 6L,
      s"shape wrong: $r")
    assert(r.getLong(3) == 3333L, s"mean_block_milli: $r")
    assert(r.getLong(4) == 1L && r.getLong(5) == 4L, s"drop census: $r")
    assert(r.getLong(6) == 400L, s"coverage_milli: $r")
    assert(r.getLong(7) == 3L, s"cand_pairs: $r")
    // empty frame: zero counts, NULL ratios
    val e = ops.Dedup.blockingProfile(recs.filter(lit(false)), "block", 4)
      .collect()(0)
    assert(e.getLong(0) == 0L && e.getLong(1) == 0L && e.isNullAt(3)
      && e.isNullAt(6) && e.getLong(7) == 0L, s"empty profile wrong: $e")
    // guarded recordLinkage: 60% of names dropped -> below a 700 permille
    // floor -> loud refusal naming the failure and the remedies
    val ex = intercept[IllegalArgumentException] {
      ops.Dedup.recordLinkage(recs, "name", maxDist = 3, maxBlock = 4,
        minCoverageMilli = 700L)
    }
    assert(ex.getMessage.contains("SATURATION")
      && ex.getMessage.contains("blockingProfile"), ex.getMessage)
    // same census passes when coverage clears the floor
    val ok = ops.Dedup.recordLinkage(recs, "name", maxDist = 3, maxBlock = 4,
      minCoverageMilli = 400L)
    assert(ok.columns.toSeq ==
      Seq("name_a", "name_b", "dist", "n_a", "n_b"))
    // guarded fellegiSunter over a saturating two-token key
    val fsRecs = (0 until 8).map(i => (i.toLong, "inc x common",
      s"b$i", "t", i)).toDF("k", "nm", "f1", "f2", "f3")
    val fx = intercept[IllegalArgumentException] {
      ops.Dedup.fellegiSunter(fsRecs, "k", "nm", Seq("f1", "f2", "f3"),
        maxBlock = 4, topN = 5, minCoverageMilli = 500L)
    }
    assert(fx.getMessage.contains("fellegiSunter")
      && fx.getMessage.contains("SATURATION"), fx.getMessage)
    // the profile's (spark, dir) form measures the fellegiSunter key:
    // at test SFs the default blocking is healthy (full coverage)
    val c = ops.Dedup.blockingProfile(spark, sfDir).collect()(0)
    assert(c.getLong(6) == 1000L,
      s"test-SF fellegiSunter blocking must be unsaturated: $c")
  }

  test("nearDupEval: identical pairs calibrate to 10000 bp with zero error; disjoint never pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact copy
      (3L, "one two three four five six seven eight"),
      (4L, "unrelated words entirely disjoint from all others completely")
    ).toDF("doc_id", "text")
    val got = ops.Dedup.nearDupEval(docs, "doc_id", "text").collect()
    // only the identical pair is a candidate: one decile-9 row
    assert(got.length == 1, s"expected only the identical pair: ${got.toSeq}")
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((9L, 1L, 10000L, 10000L, 0L)), s"calibration wrong: $r")
    // corpus: deciles within range, estimator means within basis-point rails
    val corpus = ops.Dedup.nearDupEval(spark, sfDir).cache()
    assert(corpus.filter(col("decile") < 0 || col("decile") > 9).count() == 0)
    assert(corpus.filter(col("avg_est_bp") < 0 || col("avg_est_bp") > 10000).count() == 0)
    assert(corpus.filter(col("avg_abs_err_bp") > 4000).count() == 0,
      "sketch estimate drifted wildly from exact Jaccard")
  }

  test("law: nearDupEval exact_bp equals a driver-side shingle-set Jaccard model on a partial-overlap pair") {
    import spark.implicits._
    // w1..w20 vs w1..w19+zz: 3-gram shingle sets share 17 of 19 distinct
    // shingles → J = 17/19, a NON-degenerate decile (the identical-pair
    // calibration above only exercises J = 1)
    val t1 = (1 to 20).map(i => s"w$i")
    val t2 = (1 to 19).map(i => s"w$i") :+ "zz"
    val docs = Seq((1L, t1.mkString(" ")), (2L, t2.mkString(" ")))
      .toDF("doc_id", "text")
    def shingles(ws: Seq[String]): Set[Seq[String]] =
      ws.sliding(3).map(_.toSeq).toSet
    val (sa, sb) = (shingles(t1), shingles(t2))
    val wantExact =
      math.floor(sa.intersect(sb).size.toDouble / sa.union(sb).size * 10000).toLong
    val got = ops.Dedup.nearDupEval(docs, "doc_id", "text").collect()
    assert(got.length == 1, s"exactly one candidate pair expected: ${got.toSeq}")
    val r = got.head
    assert(r.getAs[Long]("decile") == wantExact / 1000, s"decile wrong: $r")
    assert(r.getAs[Long]("n_pairs") == 1L, s"pair count wrong: $r")
    assert(r.getAs[Long]("avg_exact_bp") == wantExact,
      s"op exact_bp ${r.getAs[Long]("avg_exact_bp")} vs model $wantExact")
    // the recorded error is literally |est − exact| of the same row
    assert(r.getAs[Long]("avg_abs_err_bp") ==
      math.abs(r.getAs[Long]("avg_est_bp") - wantExact), s"err ledger wrong: $r")
  }

  test("law: dedupEmbedding planted geometry — copies pair at sim 1, sub-threshold neighbors never count") {
    import spark.implicits._
    val docs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // exact copy of 1 → cos 1
      (3L, Array(0.6f, 0.8f, 0.0f, 0.0f)), // cos 0.6 with 1/2 — below 0.95
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))  // orthogonal to everything
    ).toDF("doc_id", "embedding")
    val got = ops.Dedup.dedupEmbedding(docs, "doc_id", "embedding").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dups"), r.getAs[Double]("max_sim")))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), s"coverage wrong: $got")
    assert(got(1L) == ((1L, 1.0)) && got(2L) == ((1L, 1.0)),
      s"identical vectors must pair at cosine 1: $got")
    assert(got(3L)._1 == 0L && got(4L)._1 == 0L,
      s"sub-threshold/orthogonal vectors flagged as dups: $got")
  }

  test("dedupWeight: cluster weights floor at 1e6/n and nearly conserve unit mass per cluster") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaa"), (2L, "aaa"), (3L, "aaa"),
      (4L, "bbb"),
      (5L, "ccc"), (6L, "ccc")).toDF("doc_id", "text")
    val got = ops.Dedup.dedupWeight(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 3L, 333333L), (2L, 3L, 333333L), (3L, 3L, 333333L),
      (4L, 1L, 1000000L),
      (5L, 2L, 500000L), (6L, 2L, 500000L)), s"weights wrong: $got")
    // corpus invariant: every doc weighted, weights in (0, 1e6],
    // and effective size (Σw/1e6) never exceeds the distinct-text count
    val corpus = ops.Dedup.dedupWeight(spark, sfDir).cache()
    assert(corpus.count() == Tables.documents(spark, sfDir).count())
    assert(corpus.filter(col("weight_ppm") <= 0 ||
      col("weight_ppm") > 1000000L).count() == 0)
    val eff = corpus.agg(sum("weight_ppm")).head().getLong(0)
    val distinctTexts = Tables.documents(spark, sfDir)
      .select("text").distinct().count()
    assert(eff <= distinctTexts * 1000000L)
  }

  test("sortedNeighborhood: adjacent near-dups caught, window bound pinned") {
    import spark.implicits._
    // ids chosen so sort order (by normalized 16-char prefix, then id)
    // equals id order — makes dup_of assertions readable
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "ALPHA beta gamma DELTA!!"),    // normalizes near-identical → dup of 1
      (3L, "alpha beta XXXX YYYY ZZZZ QQQQ"), // same key prefix, J < 1/2 → kept
      (4L, "omega psi chi"),
      (5L, "zzz totally different words here")).toDF("doc_id", "text")
    val got = ops.Dedup.sortedNeighborhood(docs, "doc_id", "text",
        4, 16, 2, 1, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    assert(got.find(_._1 == 2L).get._3 == 1L, s"near-dup missed: $got")
    assert(got.find(_._1 == 3L).get._4, s"sub-threshold pair flagged: $got")
    assert(got.find(_._1 == 1L).get._4 && got.find(_._1 == 4L).get._4)
    // window semantics: a duplicate w ranks away is NOT seen (the
    // documented SNM trade — blocking recall comes from the sort key)
    val far = Seq(
      (1L, "match me twin"),
      (2L, "aaaa one"), (3L, "bbbb two"), (4L, "cccc three"),
      (5L, "dddd four"),
      (6L, "match me twin")).toDF("doc_id", "text")
    // sort keys: "aaaa…","bbbb…","cccc…","dddd…","match me twin"×2
    // → the twins ARE adjacent in sort order and caught even though
    // 5 ids apart; with window=2 a twin 2 ranks away would be missed
    val f = ops.Dedup.sortedNeighborhood(far, "doc_id", "text",
        4, 16, 2, 1, 2).collect()
    assert(f.find(_.getLong(0) == 6L).get.getLong(2) == 1L,
      "sort-adjacent twin missed")
    // every doc emits exactly one row; n_cand ≤ window−1
    val corpus = ops.Dedup.sortedNeighborhood(spark, sfDir).cache()
    assert(corpus.count() ==
      Tables.documents(spark, sfDir).count())
    assert(corpus.filter(col("n_cand") > 3).count() == 0)
    // kept ⟺ dup_of is null, bit-for-bit
    assert(corpus.filter(col("kept") =!= col("dup_of").isNull).count() == 0)
    corpus.unpersist()
  }

  test("snmMultipass: the second key catches a prefix-corrupted twin pass 1 misses") {
    import spark.implicits._
    // twins share chars 17+ but diverge in the first 16: pass 1 sorts
    // them apart (separated by the spacer docs), pass 2 pairs them
    val body = "the quick brown fox jumps over the lazy dog again"
    val docs = Seq(
      (1L, s"aaaaaaaaaaaaaaaa $body"),
      (2L, s"cccc interleaved spacer one with totally other words"),
      (3L, s"gggg another spacer document full of different tokens"),
      (4L, s"mmmm third spacer text keeping the twins distant apart"),
      (5L, s"zzzzzzzzzzzzzzzz $body")).toDF("doc_id", "text")
    val single = ops.Dedup.sortedNeighborhood(docs, "doc_id", "text",
      2, 16, 2, 1, 2).collect()
    assert(single.forall(_.getBoolean(3)),
      s"window-2 single pass should miss the distant twin")
    val multi = ops.Dedup.snmMultipass(docs, "doc_id", "text",
      2, 16, 2, 1, 2).collect()
    val twin = multi.find(_.getLong(0) == 5L).get
    assert(!twin.getBoolean(3) && twin.getLong(2) == 1L,
      s"pass 2 should pair the twins: ${multi.toSeq}")
    // keeper is the smaller id and never marked dup
    assert(multi.find(_.getLong(0) == 1L).get.getBoolean(3))
    // corpus: one row per doc; candidate degree bounded by
    // 2·passes·(window−1) (each pass sees a doc in ≤ 2(w−1) pairs);
    // dup_of always points at a smaller id (the id orientation)
    val m = ops.Dedup.snmMultipass(spark, sfDir).cache()
    assert(m.count() == Tables.documents(spark, sfDir).count())
    assert(m.filter(col("n_cand") > 12).count() == 0)
    assert(m.filter(col("dup_of") >= col("doc_id")).count() == 0)
    m.unpersist()
  }

  test("fellegiSunter: rare-field agreement outweighs common-field agreement; constant fields carry zero") {
    import spark.implicits._
    // one block; brand 'r1' shared by exactly 2 records (rare), cont
    // 'common' by 8 (common). FS must rank the rare agreement above
    // the common one — plain agree-counting cannot.
    val rows = Seq(
      (1L, "blk one", "r1", "c1"), (2L, "blk one", "r1", "c2"),
      (3L, "blk one", "b3", "common"), (4L, "blk one", "b4", "common"),
      (5L, "blk one", "b5", "common"), (6L, "blk one", "b6", "common"),
      (7L, "blk one", "b7", "common"), (8L, "blk one", "b8", "common"),
      (9L, "blk one", "b9", "common"), (10L, "blk one", "b10", "common"))
      .toDF("k", "nm", "brand", "cont")
    val got = ops.Dedup.fellegiSunter(rows, "k", "nm",
      Seq("brand", "cont"), maxBlock = 100, topN = 50).collect()
    val byPair = got.map(r => (r.getAs[Long]("k_a"), r.getAs[Long]("k_b"))
      -> r.getAs[Long]("score_micro")).toMap
    assert(byPair((1L, 2L)) > byPair((3L, 4L)),
      s"rare-brand pair must outscore common-container pair: $byPair")
    assert(got.head.getAs[Long]("k_a") == 1L
      && got.head.getAs[Long]("k_b") == 2L)
    // hand closed form for the top pair: agree rare brand (nu=2,
    // du=90), disagree container (nu=56): ln(.95·90/2) + ln(.05·90/34)
    val want = math.round(math.log(0.95 * 90 / 2.0) * 1e6) +
      math.round(math.log(0.05 * 90 / 34.0) * 1e6)
    assert(byPair((1L, 2L)) == want, s"${byPair((1L, 2L))} vs $want")
    // a constant field is non-informative: adding it changes no score
    val withConst = rows.withColumn("cst", lit("x"))
    val got2 = ops.Dedup.fellegiSunter(withConst, "k", "nm",
      Seq("brand", "cont", "cst"), maxBlock = 100, topN = 50).collect()
      .map(r => (r.getAs[Long]("k_a"), r.getAs[Long]("k_b"))
        -> r.getAs[Long]("score_micro")).toMap
    assert(got2 == byPair, "constant field must contribute exactly zero")
    // corpus: 20 rows, scores non-increasing
    val corpus = ops.Dedup.fellegiSunter(spark, sfDir).collect()
    assert(corpus.length == 20)
    val s = corpus.map(_.getAs[Long]("score_micro"))
    assert(s.toSeq == s.sortBy(-(_: Long)).toSeq)
  }

  test("similarityJoin: exact at the threshold boundary; below-threshold excluded") {
    import spark.implicits._
    // 2-gram shingles: d1={ab,bc,cd}, d2={ab,bc,ce} → J = 2/4 = exactly τ
    // d3 shares one shingle with d1/d2 (J=1/5) — candidate, then rejected
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "a b x y"),
      (4L, "z z2 z3")).toDF("doc_id", "text")
    val got = ops.Dedup.similarityJoin(docs, "doc_id", "text", 2, 500000L)
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(r.getAs[Long]("inter") == 2L && r.getAs[Long]("uni") == 4L)
    assert(r.getAs[Long]("j_micro") == 500000L)
  }

  test("similarityJoin: matches a driver-side brute force over all pairs") {
    import spark.implicits._
    // overlapping vocab so shared shingles are common but few pairs pass
    val texts = Seq(
      1L -> "p q r s t u", 2L -> "p q r s t v", 3L -> "p q r x y z",
      4L -> "m n p q r s", 5L -> "p q r s t u", 6L -> "u t s r q p",
      7L -> "a a a a a a", 8L -> "a a a a a b")
    val got = ops.Dedup.similarityJoin(texts.toDF("doc_id", "text"),
        "doc_id", "text", 3, 400000L)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("inter"), r.getAs[Long]("uni"), r.getAs[Long]("j_micro")))
      .toMap
    def shingles(t: String) =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val want = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      sa = shingles(ta); sb = shingles(tb)
      inter = (sa & sb).size.toLong
      uni = (sa | sb).size.toLong
      j = inter * 1000000L / uni if j >= 400000L
    } yield (ia, ib) -> (inter, uni, j)).toMap
    assert(got == want)
    assert(want.nonEmpty) // the fixture actually exercises matches
    // corpus: every emitted pair meets τ, ids ordered
    val c = ops.Dedup.similarityJoin(spark, sfDir).collect()
    assert(c.forall(_.getAs[Long]("j_micro") >= ops.Dedup.SimJoinTauMicro))
    assert(c.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
  }

  /** Textbook O(len²) Levenshtein — the spec-side independent model
    * for [[graft.ops.Dedup.editJoin]].
    */
  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = dp(0); dp(0) = j
      for (i <- 1 to a.length) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(a.length)
  }

  test("editJoin: boundary distances, shifted-segment capture, brute parity") {
    import spark.implicits._
    // keyLen 6, τ 2 (segments of 2): exact boundary inclusion and the
    // insertion-shift case only a ±τ window can catch
    val keys = Seq(
      (1L, "aabbcc"), // base
      (2L, "xabbcc"), // dist 1 (substitution)
      (3L, "xybbcc"), // dist 2 (two substitutions)
      (4L, "xyzbcc"), // dist 3 from base → excluded vs 1
      (5L, "abcdef"), // shift pair base
      (6L, "xabcde")) // ed 2 via front insert + tail delete; "ab"
                      // survives only at a +1-shifted window
      .toDF("id", "k")
    val got = ops.Dedup.editJoin(keys, "id", "k", 6, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.contains((1L, 2L, 1L)))
    assert(got.contains((1L, 3L, 2L)))
    assert(got.contains((5L, 6L, 2L)), "shifted-window candidate missed")
    assert(!got.exists(p => p._1 == 1L && p._2 == 4L), "dist-3 leaked")
    // brute-force parity on every planted pair
    val all = Seq((1L, "aabbcc"), (2L, "xabbcc"), (3L, "xybbcc"),
      (4L, "xyzbcc"), (5L, "abcdef"), (6L, "xabcde"))
    val brute = (for {
      (ia, ka) <- all; (ib, kb) <- all if ia < ib
      d = lev(ka, kb) if d <= 2
    } yield (ia, ib, d.toLong)).toSet
    assert(got == brute, s"blocked ≠ brute: ${got.diff(brute)} / ${brute.diff(got)}")
    // corpus law: the PassJoin plan reproduces the brute-force answer
    // EXACTLY on the real documents table (feasible at spec SF)
    val corpus = ops.Dedup.editJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ck = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= ops.Dedup.EditKeyLen)
      .select(col("doc_id"),
        lower(substring(col("text"), 1, ops.Dedup.EditKeyLen)))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val cb = (for {
      (ia, ka) <- ck; (ib, kb) <- ck if ia < ib
      d = lev(ka, kb) if d <= ops.Dedup.EditTau
    } yield (ia, ib, d.toLong)).toSet
    assert(corpus == cb, "corpus blocked ≠ corpus brute")
  }

  test("editJoinProfile: planted hot segment shows the candidate blow-up") {
    import spark.implicits._
    // five keys share the si=1 segment "aa" with pairwise-distance-4
    // suffixes — the documented PassJoin worst case: 10 candidates,
    // zero matches. A sixth/seventh pair ("bb" block, dist 1) adds one
    // candidate that DOES verify.
    val keys = Seq(
      (1L, "aaqwer"), (2L, "aatyui"), (3L, "aasdfg"),
      (4L, "aahjkl"), (5L, "aazxcv"),
      (6L, "bbccdd"), (7L, "bbccdx")).toDF("id", "k")
    val r = ops.Dedup.editJoinProfile(keys, "id", "k", 6, 2).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_docs") == 7L)
    assert(row.getAs[Long]("n_cand") == 11L,
      s"hot segment should emit 10 failing + 1 passing candidates, " +
        s"got ${row.getAs[Long]("n_cand")}")
    assert(row.getAs[Long]("n_match") == 1L)
    assert(row.getAs[Long]("cand_per_match_milli") == 11000L)
    assert(row.getAs[Long]("hot_seg_docs") == 5L,
      "the planted 5-doc hot bucket must be the census max")
    // zero matches → ratio NULL by contract, not divide-by-zero
    val none = ops.Dedup.editJoinProfile(
      keys.filter(col("id") <= 5), "id", "k", 6, 2).collect().head
    assert(none.getAs[Long]("n_cand") == 10L)
    assert(none.getAs[Long]("n_match") == 0L)
    assert(none.isNullAt(none.fieldIndex("cand_per_match_milli")))
    // corpus law: the profile's n_match IS the join's output size
    val prof = ops.Dedup.editJoinProfile(spark, sfDir).collect().head
    assert(prof.getAs[Long]("n_match") ==
      ops.Dedup.editJoin(spark, sfDir).count())
    assert(prof.getAs[Long]("n_cand") >= prof.getAs[Long]("n_match"))
    assert(prof.getAs[Long]("hot_seg_docs") >= 1L)
  }

  test("similarityJoinProfile: planted copies show exact candidate volume") {
    import spark.implicits._
    // three identical docs (3 bigram shingles each, prefix keeps the
    // 2 lexicographically-smallest at tau=0.5) and one unrelated doc:
    // two shared prefix postings of length 3 -> C(3,2)*2 = 6 candidates
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c d"),
      (4L, "x y z w")).toDF("doc_id", "text")
    val row = ops.Dedup.similarityJoinProfile(docs, "doc_id", "text",
      2, 500000L).collect().head
    assert(row.getAs[Long]("n_docs") == 4L)
    assert(row.getAs[Long]("shingle_rows") == 12L)
    assert(row.getAs[Long]("vocab") == 6L)
    assert(row.getAs[Long]("prefix_rows") == 8L)
    assert(row.getAs[Long]("cand_pairs") == 6L,
      s"two 3-doc postings imply 6 candidates, got ${row.getAs[Long]("cand_pairs")}")
    assert(row.getAs[Long]("hot_posting") == 3L)
    assert(row.getAs[Long]("cand_per_doc_milli") == 1500L)
    // corpus law: candidate volume bounds the join's verified output
    val prof = ops.Dedup.similarityJoinProfile(spark, sfDir).collect().head
    assert(prof.getAs[Long]("n_docs") == nDocs)
    assert(prof.getAs[Long]("cand_pairs") >=
      ops.Dedup.similarityJoin(spark, sfDir).count())
  }

  test("similarityJoin: maxCandPairs guard refuses a planted blow-up loudly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c d"),
      (4L, "x y z w")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      ops.Dedup.similarityJoin(docs, "doc_id", "text", 2, 500000L,
        maxCandPairs = 5L)
    }
    assert(e.getMessage.contains("similarityJoinProfile"),
      "refusal must point at the profile op")
    // at-budget passes and returns the same rows as the unguarded join
    val guarded = ops.Dedup.similarityJoin(docs, "doc_id", "text", 2,
      500000L, maxCandPairs = 6L).collect().toSeq
    val free = ops.Dedup.similarityJoin(docs, "doc_id", "text", 2,
      500000L).collect().toSeq
    assert(guarded == free && guarded.nonEmpty,
      "a passing guard must not change the join output")
    assert(ops.Dedup.similarityJoin(docs, "doc_id", "text", 2, 500000L,
      maxCandPairs = 0L).collect().toSeq == free)
  }

  test("editJoin: maxHotSegDocs guard refuses a planted hot segment loudly") {
    import spark.implicits._
    // the same 5-doc "aa" hot bucket as the profile spec, plus a
    // verifiable pair in a cold block
    val keys = Seq(
      (1L, "aaqwer"), (2L, "aatyui"), (3L, "aasdfg"),
      (4L, "aahjkl"), (5L, "aazxcv"),
      (6L, "bbccdd"), (7L, "bbccdx")).toDF("id", "k")
    val e = intercept[IllegalArgumentException] {
      ops.Dedup.editJoin(keys, "id", "k", 6, 2, maxHotSegDocs = 4L)
    }
    assert(e.getMessage.contains("hottest"), e.getMessage)
    assert(e.getMessage.contains("editJoinProfile"),
      "refusal must point at the profile op")
    // at-budget passes and returns the same rows as the unguarded join
    val guarded = ops.Dedup.editJoin(keys, "id", "k", 6, 2,
      maxHotSegDocs = 5L).collect().toSeq
    val free = ops.Dedup.editJoin(keys, "id", "k", 6, 2).collect().toSeq
    assert(guarded == free && guarded.nonEmpty,
      "a passing guard must not change the join output")
    // default (0) stays unguarded — the documented completeness posture
    assert(ops.Dedup.editJoin(keys, "id", "k", 6, 2, maxHotSegDocs = 0L)
      .collect().toSeq == free)
  }
}
