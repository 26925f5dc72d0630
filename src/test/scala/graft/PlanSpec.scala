package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, FilterExec, SparkPlan}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts: the plans we shipped are the plans we
  * want, and regressions (lost pushdown, un-broadcast dims, nested
  * loops sneaking in) fail here — not silently in the benchmark.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Every plan `op` executes: building it (its eager checkpoints and
    * guards) and one action on its result. The explain of a
    * materialized op is only a LogicalRDD scan of its last checkpoint,
    * which hides the join shapes these contracts pin.
    */
  private def ran(op: => DataFrame): Seq[SparkPlan] =
    RanPlans.of(spark)(op.collect())

  test("executed-plan census counts the final AQE plan once: one join, reuse as reuse") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.functions.col
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = spark.range(0, 1000, 1, 4).toDF("k")
      val r = spark.range(0, 1000, 1, 4).select(col("id").as("k"), (col("id") * 2).as("v"))
      val join = l.join(r, "k")
      join.collect()
      val ep = join.queryExecution.executedPlan
      val c = ExecutedPlan.census(ep)
      assert(c.joins == Map("SortMergeJoin" -> 1) && c.shuffles == 2 && c.reusedExchanges == 0,
        s"one shuffle join: $c\n$ep")
      // the AQE node prints its final AND its initial plan, one join
      // each; the census reads only the final one
      assert("SortMergeJoin".r.findAllIn(ep.toString).size == 2, s"$ep")
      val initial = ep.asInstanceOf[AdaptiveSparkPlanExec].initialPlan
      assert(initial.collect { case j: SortMergeJoinExec => j }.size == 1, s"$initial")

      val agg = spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count()
      val self = agg.join(agg.withColumnRenamed("count", "c2"), "k")
      self.collect()
      val s = ExecutedPlan.census(self.queryExecution.executedPlan)
      assert(s.reusedExchanges == 1 && s.shuffles == 1 && s.joins == Map("SortMergeJoin" -> 1),
        s"self-join of one aggregate: $s\n${self.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pricing summary pushes the date filter into the parquet scan and prunes columns") {
    val plan = formatted(ops.Relational.pricingSummary(spark, sfDir))
    // the comparison itself is the load-bearing pushdown; the IsNotNull
    // companion was an InferFiltersFromConstraints artifact (the rule is
    // excluded session-wide — GraftSession — because inferred per-branch
    // filters defeat exchange reuse; the explicit <= already drops NULLs)
    assert(plan.contains("PushedFilters: [LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$plan")
    // 7 of 11 lineitem columns read — the scan schema must not include the unused ones
    assert(!plan.contains("l_orderkey"), "column pruning lost: scan reads l_orderkey")
    assert(plan.contains("HashAggregate"), "expected partial+final hash aggregation")
  }

  test("customer-nation-region star join broadcasts both dimension tables") {
    val plan = formatted(ops.Relational.custNationJoin(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"dimensions not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "dimension join degraded to SMJ")
  }

  test("top orders compiles to TakeOrderedAndProject, not a global sort") {
    val plan = formatted(ops.Relational.topOrders(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k shape lost:\n$plan")
  }

  test("no ANN/dedup path plans a cartesian or unbounded nested-loop join") {
    // knnBrute is deliberately corpus × broadcast(10 queries) — a
    // bounded BroadcastNestedLoopJoin is its correct physical shape
    assert(!formatted(ops.Similarity.knnBrute(spark, sfDir)).contains("CartesianProduct"))
    // the approximate paths must stay on equi-joins over buckets/cells
    val ivf = formatted(ops.Similarity.annIvf(spark, sfDir))
    assert(!ivf.contains("CartesianProduct"), s"cartesian product:\n$ivf")
    assert(!ivf.contains("BroadcastNestedLoopJoin"), s"nested loop join:\n$ivf")
    RanPlans.assertEquiJoinsOnly("annLsh", ran(ops.Similarity.annLsh(spark, sfDir)))
    // the verified pairs are memoized per dataset: release them so the
    // op runs its candidate joins here
    RanPlans.assertEquiJoinsOnly("dedupMinhash", ran {
      ops.Dedup.releasePairs(spark, sfDir)
      ops.Dedup.dedupMinhash(spark, sfDir)
    })
  }

  test("as-of join costs one keyed shuffle, not an inequality nested loop") {
    val plan = formatted(ops.AsOf.eventOrderAsof(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"as-of degraded to a nested loop:\n$plan")
    // exchanges: the window key, the pre-dedup groupBy, the output sort —
    // but never more than 3, and exactly one for the window itself
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3, s"unexpected shuffle count $exchanges:\n$plan")
    assert(plan.contains("Window"), "window pass missing")
  }

  test("range join buckets to an equi-join — no inequality nested loop") {
    val plan = formatted(ops.AsOf.eventOrdersNearby(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join degraded to a nested loop:\n$plan")
  }

  test("salted skew join shuffles on (key, salt) — the hot key cannot land in one partition") {
    // force the shuffle-join path: with a broadcastable dim the planner
    // broadcasts and salting is moot (broadcast joins have no skew
    // problem); the salt contract matters exactly when the join shuffles
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = formatted(ops.Relational.skewJoin(spark, sfDir))
      assert("hashpartitioning\\([^)]*__salt".r.findFirstIn(plan).isDefined,
        s"join shuffle does not include the salt column:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("tfidf top-5 is a bounded partial aggregate, not a per-language window") {
    val plan = formatted(ops.TextAnalysis.tfidf(spark, sfDir))
    assert(!plan.contains("Window"),
      s"tfidf still ranks through a window exchange:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected the TopK UDAF aggregate in the plan:\n$plan")
  }

  test("tfidf joins tf to the vocabulary-sized df table by shuffle, never broadcast") {
    // kill size-estimate-driven broadcasts so any BroadcastExchange left
    // is hint-driven; the ONLY legitimate hint in tfidf is the 1-row
    // corpus count — a broadcast of the df side would ship the whole
    // vocabulary (1e8-1e9 terms on a web corpus) to every executor
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = formatted(ops.TextAnalysis.tfidf(spark, sfDir))
      // count tree nodes ("BroadcastExchange (n)"), not the per-node
      // detail section that repeats each operator name
      val broadcasts = "BroadcastExchange \\(\\d".r.findAllIn(plan).size
      assert(broadcasts == 1,
        s"expected exactly the 1-row corpus-count broadcast, got $broadcasts:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("unigram-LM and span-dedup join their vocabulary-sized sides by shuffle, never broadcast") {
    // same contract as tfidf's: the token-count vocabulary and the span
    // census are corpus-vocabulary-sized (1e8+ entries at web scale) —
    // only the 1-row corpus total may broadcast
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // another spec may have .cache()d an identical frame, which would
      // substitute its already-finalized adaptive plan (with its
      // size-estimate broadcasts) for the shape under test
      spark.catalog.clearCache()
      val lm = formatted(ops.TextAnalysis.unigramLm(spark, sfDir))
      val lmBroadcasts = "BroadcastExchange \\(\\d".r.findAllIn(lm).size
      assert(lmBroadcasts == 1,
        s"unigram-LM: expected exactly the 1-row total broadcast, got $lmBroadcasts:\n$lm")
      val sd = formatted(ops.Curation.spanDedup(spark, sfDir))
      val sdBroadcasts = "BroadcastExchange \\(\\d".r.findAllIn(sd).size
      assert(sdBroadcasts == 0,
        s"span-dedup: census must shuffle-join, got $sdBroadcasts broadcasts:\n$sd")
      assert(!sd.contains("CartesianProduct") && !sd.contains("BroadcastNestedLoopJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bm25's only join is the 1-row stats broadcast — never a vocabulary join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.catalog.clearCache()
      val plan = formatted(ops.TextAnalysis.bm25(spark, sfDir))
      val broadcasts = "BroadcastExchange \\(\\d".r.findAllIn(plan).size
      assert(broadcasts == 1,
        s"expected exactly the 1-row corpus-stats broadcast, got $broadcasts:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        s"bm25 must not shuffle-join anything:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"),
        s"top-20 must be a bounded heap, not a global sort:\n$plan")
      assert(!plan.contains("Window"), s"no window belongs in bm25:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("weighted sample is a row-local projection + TakeOrdered heap") {
    val plan = formatted(ops.Sampling.weightedSample(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"the k-cut must be a bounded heap:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin") &&
      !plan.contains("Exchange hashpartitioning"),
      s"nothing may shuffle before the cut:\n$plan")
  }

  test("exact dedup groups by the md5 digest, never the raw text") {
    val plan = formatted(ops.Dedup.dedupExact(spark, sfDir))
    assert(!plan.contains("Window"), s"exact dedup must be an aggregate:\n$plan")
    assert(plan.contains("md5"),
      s"exchange must be digest-keyed, not text-keyed:\n$plan")
    assert(!"Exchange hashpartitioning\\(text".r.findFirstIn(plan).isDefined,
      s"shuffle keyed on full document text:\n$plan")
  }

  test("canonicalize is a digest census + semi-join — no window, no text-keyed shuffle") {
    val plan = formatted(ops.Dedup.dedupCanonical(spark, sfDir))
    assert(!plan.contains("Window"),
      s"canonical pick must be the min-aggregate + semi-join, not a window:\n$plan")
    assert(!"Exchange hashpartitioning\\(text".r.findFirstIn(plan).isDefined,
      s"shuffle keyed on full document text:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"quadratic plan:\n$plan")
  }

  test("incremental dedup joins digest-keyed — no cartesian, no window") {
    val plan = formatted(ops.Dedup.dedupIncremental(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"quadratic plan:\n$plan")
    assert(!plan.contains("Window"),
      s"canonical pick must be the min-aggregate, not a window:\n$plan")
  }

  test("kmeans report never plans a window or cartesian; one corpus aggregation") {
    val plan = formatted(ops.Similarity.kmeansReport(spark, sfDir))
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"kmeans report must stay aggregate-shaped:\n$plan")
  }

  test("exact percentiles are one partial+final aggregate — no window, one shuffle") {
    val plan = formatted(ops.Relational.percentiles(spark, sfDir))
    assert(!plan.contains("Window"), s"percentiles rank through a window:\n$plan")
    // one hash exchange (the groupBy); the trailing orderBy is a range exchange
    val hashEx = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected exactly the group-by shuffle, got $hashEx:\n$plan")
    val exchanges = "Exchange \\(\\d".r.findAllIn(plan).size
    assert(exchanges <= 2, s"unexpected exchange count $exchanges:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected the percentile partial+final aggregate:\n$plan")
  }

  test("scalar/regex/array batteries stay inside whole-stage codegen") {
    Seq(
      ops.Relational.scalarFuncs(spark, sfDir),
      ops.Relational.regexFuncs(spark, sfDir)).foreach { df =>
      // "*(n)" prefixes mark whole-stage-codegen stages; AQE finalizes
      // them only at execution, so run the query first
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*(1)"), s"no codegen span:\n$plan")
    }
  }

  test("AQE re-plans at runtime: fact-fact join finalizes adaptively") {
    // the scale contract: plans stay adaptive so real clusters get
    // runtime partition coalescing / skew handling / join re-selection
    // from actual shuffle statistics, not estimates. Execute a
    // fact-fact join and require the finalized adaptive plan; at this
    // tiny SF the runtime stats also let AQE upgrade the static
    // sort-merge join to a broadcast join — assert at least one of the
    // adaptive artifacts (upgrade or AQEShuffleRead) materialized.
    val df = ops.Relational.orderLineitemJoin(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AdaptiveSparkPlan isFinalPlan=true"),
      s"query did not run through AQE:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("AQEShuffleRead"),
      s"no adaptive artifact (runtime join upgrade / shuffle read) in final plan:\n$plan")
  }

  test("ohlc open/close are argmin/argmax aggregates — no window, no join") {
    val plan = formatted(ops.Relational.ohlcResample(spark, sfDir))
    assert(!plan.contains("Window"),
      s"OHLC ranks first/last through a window sort:\n$plan")
    assert(!plan.contains("Join"), s"OHLC planned a join:\n$plan")
  }

  test("merge upsert is argmax-compact-then-one-full-outer-join — no window") {
    val plan = formatted(ops.Relational.mergeUpsert(spark, sfDir))
    assert(plan.contains("FullOuter"), s"merge lost its full-outer join:\n$plan")
    assert(!plan.contains("Window"),
      s"merge compacts through a window instead of the mergeable argmax agg:\n$plan")
  }

  test("batch sliding window assigns windows row-locally — no join against a window table") {
    val plan = formatted(ops.Relational.slidingWindowAgg(spark, sfDir))
    assert(!plan.contains("Join"), s"sliding window planned a join:\n$plan")
    assert(plan.contains("Expand") || plan.contains("Generate"),
      s"expected a row-local window-assignment generator:\n$plan")
  }

  // Both corpus plan-laws below tolerate ONE RoundRobinPartitioning
  // exchange beyond their data-keyed budget: Tables.documents fans a
  // narrow scan (fewer splits than half the cores — every test fixture
  // and any single-row-group export) out to the session width, and
  // that conditional fan-out is a round-robin repartition of the raw
  // rows, never a data-keyed shuffle. The laws stay strict on KEYED
  // exchanges — the shapes they exist to pin.
  private def keyedExchanges(plan: String): Int =
    "Exchange \\(\\d".r.findAllIn(plan).size -
      math.min(1, "RoundRobinPartitioning".r.findAllIn(plan).size)

  test("token entropy keeps tokens inside their rows: no explode, shuffles only after the fold") {
    val plan = formatted(ops.TextAnalysis.tokenEntropy(spark, sfDir))
    assert(!plan.contains("Generate"),
      s"entropy explodes tokens into a shuffle:\n$plan")
    // the per-language agg exchange and the output-order range exchange —
    // nothing else may move data (count tree nodes "Exchange (n)",
    // minus the scan fan-out round-robin)
    val exchanges = keyedExchanges(plan)
    assert(exchanges <= 2, s"entropy shuffles $exchanges times:\n$plan")
    assert("RoundRobinPartitioning".r.findAllIn(plan).size <= 1,
      s"more than one round-robin fan-out:\n$plan")
  }

  test("content split is a row-local projection — only the output-order exchange") {
    val plan = formatted(ops.Sampling.contentSplit(spark, sfDir))
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"content split is not row-local:\n$plan")
    assert(keyedExchanges(plan) <= 1,
      s"content split shuffles more than the output sort:\n$plan")
    assert("RoundRobinPartitioning".r.findAllIn(plan).size <= 1,
      s"more than one round-robin fan-out:\n$plan")
  }

  test("multi-distinct aggregation expands once — one scan, not three self-joins") {
    val plan = formatted(ops.Relational.multiDistinct(spark, sfDir))
    assert(plan.contains("Expand"),
      s"multi-distinct lost the Expand rewrite:\n$plan")
    assert(!plan.contains("Join"), s"multi-distinct planned a join:\n$plan")
    // exactly one scan of lineitem feeds all three distincts (count tree
    // nodes "Scan parquet … (n)" — the detail section repeats the name)
    assert("Scan parquet [^\n]*\\(\\d".r.findAllIn(plan).size == 1,
      s"multi-distinct scans the fact table more than once:\n$plan")
  }

  test("boilerplate joins the segment-vocabulary df table by shuffle, never broadcast; no window") {
    // the segment vocabulary is corpus-sized at web scale (like tfidf's
    // term df) — it must reach the per-segment lookup via shuffle join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.catalog.clearCache()
      val plan = formatted(ops.TextAnalysis.boilerplate(spark, sfDir))
      assert("BroadcastExchange \\(\\d".r.findAllIn(plan).size == 0,
        s"boilerplate broadcasts a corpus-sized side:\n$plan")
      assert(!plan.contains("Window"), s"boilerplate plans a window:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("vocab coverage is two aggregate levels — no window, no join, one corpus scan") {
    val plan = formatted(ops.TextAnalysis.vocabCoverage(spark, sfDir))
    assert(!plan.contains("Window"), s"vocab coverage ranks via a window:\n$plan")
    assert(!plan.contains("Join"), s"vocab coverage plans a join:\n$plan")
    assert("Scan parquet [^\n]*\\(\\d".r.findAllIn(plan).size == 1,
      s"vocab coverage scans the corpus more than once:\n$plan")
  }

  test("semantic dedup and containment stay on equi-joins — no cartesian, no nested loop") {
    import org.apache.spark.sql.functions.col
    // planted exact copies give the cell self-join rows: at this scale
    // the corpus has no near-duplicates, and AQE drops a join whose
    // side ran empty from the final plan. Cell count, iterations, tau
    // and cap are the corpus query's fixed historical ones.
    val emb = Tables.embeddings(spark, sfDir)
    val planted = emb.unionByName(emb.filter(col("vec_id") < 50)
      .withColumn("vec_id", col("vec_id") + 1000000L))
    RanPlans.assertEquiJoinsOnly("semanticDedup", ran(ops.Similarity.semanticDedup(
      planted, "vec_id", "embedding", nCells = 8, iters = 3, tau = 0.97, maxCell = 5000)))
    RanPlans.assertEquiJoinsOnly("containmentPairs", ran(ops.Dedup.containmentPairs(spark, sfDir)))
  }

  test("sparse knn stays on keyed equi-joins — no cartesian, only the 1-row stats broadcast") {
    val plans = ran(ops.TextAnalysis.sparseKnn(spark, sfDir))
    val names = RanPlans.names(plans)
    def plan = plans.map(_.treeString).mkString("\n")
    assert(!names.contains("CartesianProduct"), s"cartesian in sparse knn:\n$plan")
    // the n_docs scalar rides a 1-row broadcast nested loop — that one is
    // bounded and correct; anything unbounded is not
    assert(!names.contains("Window"), s"ranking must be the TopK aggregate:\n$plan")
    // the posting-list df cap must sit in the plan: hot terms are cut
    // BEFORE the weighted frame is cached or joined
    assert(RanPlans.nodes(plans).exists {
      case f: FilterExec => f.condition.toString.contains("<= 1000")
      case _ => false
    }, s"df cap filter missing from the plan:\n$plan")
  }

  test("revenue growth joins its prior-period months by broadcast, never a window over months") {
    val plan = formatted(ops.Analytics.revenueGrowth(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"prior-month/year frames not broadcast:\n$plan")
    assert(!plan.contains("Window"), s"calendar join regressed to a lag window:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in revenue growth:\n$plan")
  }

  test("source drift derives the global ECDF by reusing the per-source exchange, not a rescan") {
    val df = ops.Mixing.sourceDrift(spark, sfDir)
    df.collect() // AQE exchange reuse finalizes at runtime
    val ex = df.queryExecution.executedPlan.toString
    assert(ex.contains("ReusedExchange"),
      s"global ECDF rescans instead of reusing the per-source exchange:\n$ex")
  }

  test("anomaly is one keyed window pass — no join, no extra shuffle") {
    val plan = formatted(ops.Advanced.anomaly(spark, sfDir))
    assert(!plan.contains("Join"), s"anomaly plans a join:\n$plan")
    // the keyed-window exchange and the output-order range exchange
    assert("Exchange \\(\\d".r.findAllIn(plan).size <= 2,
      s"anomaly shuffles more than window + output sort:\n$plan")
    assert("Scan parquet [^\n]*\\(\\d".r.findAllIn(plan).size == 1,
      s"anomaly scans events more than once:\n$plan")
  }

  test("revenue concentration is windowless — two aggregate levels, one orders scan") {
    // the textbook decile formulation needs an unpartitioned ntile —
    // every customer through one task; this shape must never regress to it
    val plan = formatted(ops.Analytics.revenueConcentration(spark, sfDir))
    assert(!plan.contains("Window"), s"concentration ranks via a window:\n$plan")
    assert(!plan.contains("Join"), s"concentration plans a join:\n$plan")
    assert("Scan parquet [^\n]*\\(\\d".r.findAllIn(plan).size == 1,
      s"concentration scans orders more than once:\n$plan")
  }

  test("pmi joins the unigram vocabulary by shuffle — only metadata and the top-k broadcast") {
    // the two unigram joins carry vocabulary-sized sides (1e8+ terms at
    // web scale) and must shuffle; the ONLY legitimate broadcasts are
    // hint-driven metadata: |langs|-row token/bigram totals and the
    // k×|langs|-row top-k probe joined back for its support count
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.catalog.clearCache()
      val plan = formatted(ops.TextAnalysis.pmiCollocations(spark, sfDir))
      val broadcasts = "BroadcastExchange \\(\\d".r.findAllIn(plan).size
      assert(broadcasts == 3,
        s"expected exactly the 2 totals + top-k probe broadcasts, got $broadcasts:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
      assert(!plan.contains("Window"), s"pmi ranks through a window exchange:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bpe pair counts are joinless and windowless — pair derivation never shuffles a token") {
    val plan = formatted(ops.TextAnalysis.bpePairs(spark, sfDir))
    assert(!plan.contains("Join"), s"bpe pairs plans a join:\n$plan")
    assert(!plan.contains("Window"), s"bpe pairs ranks through a window:\n$plan")
    // (lang,pair) count + the bounded TopKTerm per-language cut — at most
    // two keyed exchanges before the output-order range exchange
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"bpe pairs shuffles more than its two aggregate levels:\n$plan")
  }

  test("zipf fit windows over the vocabulary aggregate, never the corpus") {
    // the ranking window must consume the (lang,term) aggregate: a plan
    // that windows the exploded token stream would sort the whole corpus
    // per language; above the aggregate it sorts vocab-sized input. Walk
    // down from the window's child — an aggregate must appear before any
    // Generate (the token explode).
    val sp = ops.TextAnalysis.zipfFit(spark, sfDir).queryExecution.sparkPlan
    val wins = sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.size == 1, s"expected exactly one ranking window:\n$sp")
    def aggBeforeGenerate(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case _: org.apache.spark.sql.execution.GenerateExec => false
      case other => other.children.nonEmpty && other.children.forall(aggBeforeGenerate)
    }
    assert(aggBeforeGenerate(wins.head.child),
      s"ranking window consumes the raw token stream, not the vocabulary aggregate:\n$sp")
    assert(!sp.toString.contains("Join"), s"zipf fit plans a join:\n$sp")
  }

  test("rolling distinct never plans a distinct aggregation or Expand") {
    // the whole point of the next-active-day construction: each
    // (user, end) is emitted once, so the final count is a PLAIN count —
    // a count(distinct) or Expand here means the rewrite regressed
    val plan = formatted(ops.Advanced.rollingDistinct(spark, sfDir))
    assert(!plan.toLowerCase.contains("count(distinct"),
      s"rolling distinct fell back to count-distinct:\n$plan")
    assert(!plan.contains("Expand"), s"rolling distinct plans an Expand:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("MAD outliers broadcast both stat frames and stay windowless") {
    val plan = formatted(ops.Mixing.madOutliers(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"median/MAD frames not broadcast:\n$plan")
    assert(!plan.contains("Window"), s"MAD outliers plan a window:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"stat-frame join degraded to SMJ:\n$plan")
  }

  test("cusum windows run above the daily aggregate with a broadcast total") {
    val sp = ops.Advanced.cusum(spark, sfDir).queryExecution.sparkPlan
    val wins = sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.nonEmpty, s"cusum lost its windows:\n$sp")
    def aggBelow(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case other => other.children.nonEmpty && other.children.forall(aggBelow)
    }
    assert(wins.forall(w => aggBelow(w.child)),
      s"a cusum window consumes raw events, not the daily aggregate:\n$sp")
    assert(!sp.toString.contains("SortMergeJoin"),
      s"per-type totals not broadcast:\n$sp")
  }

  test("rfm is windowless — quintile thresholds broadcast, no global ntile sort") {
    val plan = formatted(ops.Advanced.rfm(spark, sfDir))
    assert(!plan.contains("Window"), s"rfm plans a window (ntile regression):\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"rfm stat join degraded to SMJ:\n$plan")
  }

  test("record linkage stays on the blocking equi-join — no cartesian pairing") {
    val plan = formatted(ops.Dedup.recordLinkage(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"record linkage pairs outside the blocking join:\n$plan")
  }

  test("seasonality is joinless; its windows sit above the weekday aggregate") {
    val sp = ops.Advanced.seasonality(spark, sfDir).queryExecution.sparkPlan
    assert(!sp.toString.contains("Join"), s"seasonality plans a join:\n$sp")
    val wins = sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    def aggBelow(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case other => other.children.nonEmpty && other.children.forall(aggBelow)
    }
    assert(wins.nonEmpty && wins.forall(w => aggBelow(w.child)),
      s"seasonality windows the raw events:\n$sp")
  }

  test("heavy hitters: candidate-bounded final count — no join, no window, literal IN set") {
    val plan = formatted(ops.TextAnalysis.heavyHitters(spark, sfDir))
    assert(!plan.contains("Join"), s"heavy hitters joins its candidate set:\n$plan")
    assert(!plan.contains("Window"), s"heavy hitters ranks through a window:\n$plan")
    // one keyed exchange for the candidate-only count — candidates ride
    // as a literal IN filter, never a shuffled/broadcast frame
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"heavy hitters shuffles more than its single aggregate:\n$plan")
  }

  test("freq itemsets: row-local pair expansion, broadcast support joins, top-k heap") {
    val plan = formatted(ops.Analytics.freqItemsets(spark, sfDir))
    // the only acceptable non-equi join is the 1-row order-count
    // broadcast cross join (the bounded-stats pattern)
    assert(!plan.contains("CartesianProduct"),
      s"itemset pairing went quadratic:\n$plan")
    val bnlj = ops.Analytics.freqItemsets(spark, sfDir)
      .queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
    assert(bnlj.size <= 1, s"more than the 1-row stats cross join:\n$plan")
    // the bounded pair frame broadcasts into both support joins + the
    // 1-row order count — the |parts|-sized support side must stream
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"support joins lost the broadcast shape:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k cut is not a bounded heap:\n$plan")
  }

  test("cohort matrix is windowless; cohort sizes broadcast back") {
    val plan = formatted(ops.Advanced.cohortMatrix(spark, sfDir))
    assert(!plan.contains("Window"), s"cohort matrix ranks through a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cohort sizes not broadcast:\n$plan")
  }

  test("mann-whitney ranks over the bounded value grid, never the corpus") {
    val sp = ops.Mixing.mannWhitney(spark, sfDir).queryExecution.sparkPlan
    val wins = sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    def aggBelow(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case other => other.children.nonEmpty && other.children.forall(aggBelow)
    }
    assert(wins.size == 1 && wins.forall(w => aggBelow(w.child)),
      s"mann-whitney windows the raw corpus:\n$sp")
  }

  test("script mix and dedup weight keep their one-aggregate / census-join shapes") {
    val sm = formatted(ops.TextAnalysis.scriptMix(spark, sfDir))
    assert(!sm.contains("Join") && !sm.contains("Window"),
      s"script mix is not a pure scan+aggregate:\n$sm")
    val dw = formatted(ops.Dedup.dedupWeight(spark, sfDir))
    assert(!dw.contains("Window"), s"dedup weight ranks through a window:\n$dw")
    assert(!dw.contains("CartesianProduct"), s"dedup weight went quadratic:\n$dw")
  }

  test("native vec_dot participates in whole-stage codegen") {
    graft.functions.GraftFunctions.register(spark)
    val df = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_dot(transform(embedding, x -> CAST(x AS DOUBLE)), " +
        "transform(embedding, x -> CAST(x AS DOUBLE))) AS d")
    df.collect() // execute so codegen stages are finalized (and compile)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"vec_dot fell out of codegen:\n$plan")
  }

  test("co-purchase: row-local pair expansion, broadcast degree joins, top-k heap") {
    val plan = formatted(ops.Graph.coPurchase(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), s"pairing went quadratic:\n$plan")
    assert(!plan.contains("Window"), s"ranking through a window:\n$plan")
    // final cut reads the <= k-row checkpoint — a TakeOrdered ran inside
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan"),
      s"top-k not materialized from the bounded checkpoint:\n$plan")
  }

  test("textrank: edge derivation is row-local; no cartesian in the word graph") {
    val df = ops.Graph.textRank(spark, sfDir)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"), s"word pairing went quadratic:\n$plan")
    // like pageRank, the returned frame reads the final checkpointed
    // round: per-round join/agg cascades must not re-embed
    assert(!formatted(df).contains("SortMergeJoin"),
      s"iteration lineage leaked into the result plan:\n$plan")
  }

  test("linReg: windowless exact-moment aggregate; no cartesian pairing") {
    val plan = formatted(ops.Diagnostics.linReg(spark, sfDir))
    assert(!plan.contains("Window"), s"linReg ranks through a window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"linReg went quadratic:\n$plan")
    assert(plan.contains("HashAggregate"), "expected partial+final moments")
  }

  test("welch t-test: one corpus aggregate, pair expansion over broadcast stats") {
    val plan = formatted(ops.Diagnostics.welchTTest(spark, sfDir))
    // the k^2 pair expansion must be a broadcast nested loop over the
    // k-row stats frames — never a shuffle of event rows
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"pair expansion lost its broadcast shape:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"pair expansion went cartesian:\n$plan")
    assert(!plan.contains("Window"), s"welch t-test plans a window:\n$plan")
  }

  test("triangles: no cartesian, no window; result reads the bounded checkpoint") {
    val df = ops.Graph.triangles(spark, sfDir)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"),
      s"wedge enumeration went quadratic:\n$plan")
    assert(!plan.contains("Window"), s"ranking through a window:\n$plan")
    // the <= k-row localCheckpoint means the returned plan embeds no
    // join cascade — the wedge work ran inside the op
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan"),
      s"top-k not materialized from the bounded checkpoint:\n$plan")
  }

  test("mutual info: every join below the cell aggregate broadcasts") {
    val plan = formatted(ops.Mixing.mutualInfo(spark, sfDir))
    assert(!plan.contains("SortMergeJoin"),
      s"a bounded marginal join degraded to SMJ:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"went cartesian:\n$plan")
    assert(!plan.contains("Window"), s"plans a window:\n$plan")
  }

  test("ppl filter: model joins shuffle on the bigram vocabulary, V broadcasts") {
    val plan = formatted(ops.TextAnalysis.pplFilter(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), s"went cartesian:\n$plan")
    assert(!plan.contains("Window"), s"plans a window:\n$plan")
    // the 1-row vocabulary-size frame must broadcast into the scorer
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"V did not broadcast:\n$plan")
  }

  test("coPurchase degree joins: broadcast only when the caller vouches for the catalog") {
    // the shipped supplier-dimension query passes broadcastDegrees=true
    // (bounded catalog); the generic DataFrame-first form must NOT force
    // a broadcast — a 100M-item catalog would OOM the driver. With
    // size-estimate broadcasts killed (AQE's runtime threshold falls
    // back to the same setting), any BroadcastExchange left is
    // hint-driven, so the flag is directly observable in the plans the
    // op runs.
    import spark.implicits._
    val edges = (for (c <- 1L to 40L; s <- 1L to 6L if (c + s) % 2 == 0)
      yield (c, s)).toDF("c", "s")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def run(broadcastDegrees: Boolean) = {
        val plans = ran(ops.Graph.coPurchase(edges, "c", "s",
          maxBasket = 128, minShared = 1, k = 10, broadcastDegrees = broadcastDegrees))
        (RanPlans.names(plans), plans.map(_.treeString).mkString("\n"))
      }
      val (hinted, hintedPlan) = run(broadcastDegrees = true)
      val nHinted = hinted.count(_ == "BroadcastExchange")
      assert(nHinted == 2,
        s"vouched catalog: expected both degree-frame broadcasts, got $nHinted:\n$hintedPlan")
      val (generic, genericPlan) = run(broadcastDegrees = false)
      val nGeneric = generic.count(_ == "BroadcastExchange")
      assert(nGeneric == 0,
        s"generic form forced a degree broadcast (AQE must decide):\n$genericPlan")
      assert(generic.contains("SortMergeJoin") ||
        generic.contains("ShuffledHashJoin"),
        s"generic form lost the shuffle-join path:\n$genericPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("round-9 ops keep their scale shapes: TakeOrdered cuts, no cartesian, windowless fact paths") {
    // rrf / dsir / fellegi-sunter / countMin all cut with a bounded
    // TakeOrdered, never a global sort
    Seq(
      ops.Evaluation.rrfFusion(spark, sfDir),
      ops.TextAnalysis.dsir(spark, sfDir),
      ops.Dedup.fellegiSunter(spark, sfDir)).foreach { df =>
      val plan = formatted(df)
      assert(plan.contains("TakeOrderedAndProject"),
        s"top-k shape lost:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    }
    // the bootstrap's replicate expansion must stay row-local: its only
    // exchanges are the (group, replicate) and group aggregations plus
    // the output sort — and never a window
    val boot = formatted(ops.Sampling.bootstrapMean(spark, sfDir))
    assert(!boot.contains("Window"), s"bootstrap planned a window:\n$boot")
    assert(!boot.contains("CartesianProduct"), s"cartesian:\n$boot")
    // CUPED is two aggregations and one broadcast — no window, no SMJ
    // on the fact path
    val cu = formatted(ops.Evaluation.cuped(spark, sfDir))
    assert(!cu.contains("Window"), s"cuped planned a window:\n$cu")
    // kruskal-wallis ranks through the census scan: every Window in the
    // plan must sit on a post-aggregate (HashAggregate-fed) frame,
    // which shows as no Window DIRECTLY over the parquet scan — cheap
    // proxy: the plan contains at least one HashAggregate before the
    // first Window node
    val kw = formatted(ops.Ranks.kruskalWallis(spark, sfDir))
    val aggIdx = kw.indexOf("HashAggregate")
    val winIdx = kw.indexOf("Window")
    assert(aggIdx >= 0 && (winIdx < 0 || aggIdx < winIdx || kw.contains("AQEShuffleRead")),
      s"kruskal-wallis rank window not census-fed:\n$kw")
    // modularity: its only nested-loop shapes are broadcast-of-1-row
    // (m / q totals) — a CartesianProduct means the label join broke
    val mod = formatted(ops.Graph.modularity(spark, sfDir))
    assert(!mod.contains("CartesianProduct"),
      s"modularity planned a cartesian:\n$mod")
  }

  test("round-9 back-half ops: keyed candidate joins, pruned scans, no cartesian") {
    // editJoin: the candidate join is a keyed equi-join on (segment
    // index, 16-gram) and verification never plans a cartesian — the
    // whole point of PassJoin over the n² definition the oracle uses
    val ej = formatted(ops.Dedup.editJoin(spark, sfDir))
    assert(!ej.contains("CartesianProduct"),
      s"editJoin planned a cartesian:\n$ej")
    assert(!ej.contains("BroadcastNestedLoopJoin"),
      s"editJoin candidate join degenerated to a nested loop:\n$ej")
    // priceIndex: both year legs push their filter to the parquet scan.
    // The year(date) === y form NEVER pushed (a function of the column
    // is not a translatable predicate — its only pushed filter was the
    // inferred IsNotNull); the half-open range rewrite (yearEquals) is
    // row-identical and reaches the scan where min/max stats can prune.
    val pi = formatted(ops.Analytics.priceIndex(spark, sfDir))
    assert(pi.contains("PushedFilters: [GreaterThanOrEqual(l_shipdate")
        && pi.contains("LessThan(l_shipdate"),
      s"priceIndex year range not pushed:\n$pi")
    assert(!pi.contains("CartesianProduct"), s"cartesian:\n$pi")
    // tailRisk / qqDeciles rank through the census scan: no Window may
    // feed directly off a parquet scan (same census-fed proxy as the
    // kruskal-wallis contract)
    Seq(ops.Ranks.tailRisk(spark, sfDir),
      ops.Ranks.qqDeciles(spark, sfDir)).foreach { df =>
      val plan = formatted(df)
      val aggIdx = plan.indexOf("HashAggregate")
      val winIdx = plan.indexOf("Window")
      assert(aggIdx >= 0 && (winIdx < 0 || aggIdx < winIdx
        || plan.contains("AQEShuffleRead")),
        s"rank window not census-fed:\n$plan")
    }
    // the recurrence folds are windowless single-row plans — their only
    // corpus work is one keyed aggregate
    Seq(ops.Sequence.pageHinkley(spark, sfDir),
      ops.Sequence.croston(spark, sfDir),
      ops.Sequence.markovStationary(spark, sfDir)).foreach { df =>
      val plan = formatted(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    }
    // per-segment family: wilsonCi and cmh read the SegOrders
    // checkpoint — no parquet scan of orders/customer appears in a
    // SECOND caller's plan once the memo is warm
    ops.SegOrders.clear()
    ops.Evaluation.cmh(spark, sfDir).write.format("noop")
      .mode("overwrite").save()
    val wc = formatted(ops.Evaluation.wilsonCi(spark, sfDir))
    assert(!wc.contains("customer.parquet"),
      s"wilsonCi re-joined the dimension instead of reusing SegOrders:\n$wc")
    ops.SegOrders.clear()
  }

  test("round-10 plans: no cartesian anywhere; substring dedup joins digests by shuffle; heaps/dow censuses stay windowless") {
    // substringDedup: the census join must be digest-keyed shuffle
    // (the chunk census is corpus-vocabulary-sized at web scale) — pin
    // the at-scale shape with size-based broadcasts disabled, the
    // span-dedup contract verbatim; only EXPLICIT broadcast() hints
    // (none here) would survive the -1 threshold
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val sd = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.catalog.clearCache()
      formatted(ops.Curation.substringDedup(spark, sfDir))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(!sd.contains("CartesianProduct"), s"cartesian:\n$sd")
    assert(!sd.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$sd")
    assert("BroadcastExchange \\(\\d".r.findAllIn(sd).isEmpty,
      s"chunk census join must shuffle, not broadcast:\n$sd")
    assert(sd.contains("SortMergeJoin") || sd.contains("ShuffledHashJoin"),
      s"chunk census join not shuffled:\n$sd")
    // editJoinProfile: same candidate equi-join as editJoin + censuses;
    // the three 1-row aggregates meet by broadcast only
    val ep = formatted(ops.Dedup.editJoinProfile(spark, sfDir))
    assert(!ep.contains("CartesianProduct"), s"cartesian:\n$ep")
    // heapsLaw: the corpus-sized work is aggregates; the only joins are
    // 1-row broadcasts (probe/fit) — no window over the corpus
    val hl = formatted(ops.TextAnalysis.heapsLaw(spark, sfDir))
    assert(!hl.contains("CartesianProduct"), s"cartesian:\n$hl")
    assert(!hl.contains("Window"), s"heapsLaw planned a window:\n$hl")
    // burst/dow: censuses first — every Window/join runs on the
    // bounded daily frame AFTER an aggregate, never on raw events
    Seq(ops.Sequence.burstEpisodes(spark, sfDir),
      ops.Sequence.dowSeasonality(spark, sfDir)).foreach { df =>
      val plan = formatted(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
      // tree prints top-down: the FINAL aggregate (Hash or Sort — the
      // min-of-struct peak pick compiles to SortAggregate) must sit
      // above any Window, i.e. every window feeds an aggregate result
      val aggIdx = "(Hash|Sort|Object)Aggregate".r
        .findFirstMatchIn(plan).map(_.start).getOrElse(-1)
      val winIdx = plan.indexOf("Window")
      assert(aggIdx >= 0 && (winIdx < 0 || aggIdx < winIdx
        || plan.contains("AQEShuffleRead")),
        s"window not census-fed:\n$plan")
    }
  }
}
