package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Cache-lifecycle contract: ops that persist intermediates internally
  * must release them before returning — a user chaining dedup/ANN ops
  * over a 100 TB corpus must not leak executor storage memory one
  * op at a time (round-1 bench showed `CacheManager` re-cache warnings
  * from exactly this).
  */
class CacheLifecycleSpec extends AnyFunSuite {
  import SparkTestSession._

  test("dedup + similarity ops leave no retained SQL caches behind") {
    spark.catalog.clearCache()
    Seq[org.apache.spark.sql.DataFrame](
      ops.Dedup.dedupMinhash(spark, sfDir),
      ops.Dedup.nearDupClusters(spark, sfDir),
      ops.Dedup.dedupSimhash(spark, sfDir),
      ops.Dedup.dedupNgramJaccard(spark, sfDir),
      ops.Dedup.dedupEmbedding(spark, sfDir),
      ops.Similarity.knnBrute(spark, sfDir),
      ops.Similarity.annLsh(spark, sfDir),
      ops.Similarity.annIvf(spark, sfDir),
      ops.Dedup.nearDupEval(spark, sfDir),
      ops.TextAnalysis.sparseKnn(spark, sfDir),
      ops.Graph.pageRank(spark, sfDir),
      ops.Graph.coPurchase(spark, sfDir),
      ops.Graph.textRank(spark, sfDir),
      ops.Graph.entityComponents(spark, sfDir),
      ops.Graph.triangles(spark, sfDir),
      ops.Graph.bfsReach(spark, sfDir),
      ops.Dedup.containmentPairs(spark, sfDir),
      ops.Dedup.containmentProfile(spark, sfDir),
      ops.Dedup.dedupIncrementalNear(spark, sfDir),
      ops.Dedup.similarityJoinProfile(spark, sfDir),
      ops.Curation.contamination(spark, sfDir),
      ops.Curation.contaminationSpans(spark, sfDir),
      ops.Multimodal.mediaPhash(spark, sfDir),
      ops.Graph.hits(spark, sfDir),
      ops.Graph.kCore(spark, sfDir),
      ops.Graph.modularity(spark, sfDir),
      ops.Similarity.semanticDedup(spark, sfDir),
      ops.Similarity.annRecall(spark, sfDir)
    ).foreach(_.write.format("noop").mode("overwrite").save())
    assert(spark.sharedState.cacheManager.isEmpty,
      "an op returned without unpersisting its internal cache")
  }

  test("Cached: release on throw, checkpoint before release") {
    import org.apache.spark.sql.execution.LogicalRDD
    val cm = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    // counts how often the input rows are computed: once while cached,
    // once per read when not
    val evals = spark.sparkContext.longAccumulator("cached-input-evals")
    val bump = org.apache.spark.sql.functions.udf { (x: Long) => evals.add(1); x }
      .asNondeterministic()
    def input() = spark.range(0, 100, 1, 1).select(bump(col("id")).as("x"))

    val thrown = input()
    intercept[IllegalStateException] {
      ops.Cached.derive(thrown) {
        assert(!cm.isEmpty, "input not persisted")
        throw new IllegalStateException("body failed")
      }
    }
    assert(cm.isEmpty, "a throwing body left its input cached")

    val in = input()
    evals.reset()
    val out = ops.Cached.derive(in)(in.union(in).groupBy(col("x")).count())
    assert(cm.isEmpty, "derive left its input cached")
    assert(out.queryExecution.logical.isInstanceOf[LogicalRDD],
      "derived result is not a checkpoint scan")
    assert(evals.value == 100,
      s"input computed ${evals.value} times for 100 rows: checkpoint ran after the release")
    assert(out.count() == 100 && out.filter(col("count") =!= 2).isEmpty)
    assert(evals.value == 100, "reading the released result recomputed its input")
  }

  test("releasePairs frees the memoized MinHash checkpoint blocks") {
    // materialize (and memoize) the shared verified-pair set
    ops.Dedup.dedupMinhash(spark, sfDir).write.format("noop").mode("overwrite").save()
    val ids = ops.Dedup.memoRddIds(spark, sfDir)
    assert(ids.nonEmpty, "memo recorded no checkpointed RDDs")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    // intermediates among the tracked ids may already be gone — the
    // ContextCleaner frees checkpoints whose frames got GC'd; the
    // memoized final pair set itself MUST still be resident
    assert(ids.intersect(persisted).nonEmpty,
      s"no memo id among persisted RDDs $persisted — memo holds nothing")
    ops.Dedup.releasePairs(spark, sfDir)
    assert(ops.Dedup.memoRddIds(spark, sfDir).isEmpty, "memo entry not evicted")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.intersect(after).isEmpty,
      s"released RDD blocks still retained: ${ids.intersect(after)}")
  }

  test("releaseSigned frees the memoized signed-corpus checkpoint blocks") {
    ops.Similarity.annLsh(spark, sfDir).write.format("noop").mode("overwrite").save()
    val ids = ops.Similarity.signedMemoRddIds(spark, sfDir)
    assert(ids.nonEmpty, "signed memo recorded no checkpointed RDDs")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.intersect(persisted).nonEmpty,
      s"no signed-memo id among persisted RDDs $persisted — memo holds nothing")
    ops.Similarity.releaseSigned(spark, sfDir)
    assert(ops.Similarity.signedMemoRddIds(spark, sfDir).isEmpty,
      "signed memo entry not evicted")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.intersect(after).isEmpty,
      s"released signed-corpus blocks still retained: ${ids.intersect(after)}")
  }

  test("ann ops reuse ONE memoized signed corpus per (session, dir)") {
    ops.Similarity.clearSignedMemo()
    ops.Similarity.annLsh(spark, sfDir).write.format("noop").mode("overwrite").save()
    val ids1 = ops.Similarity.signedMemoRddIds(spark, sfDir)
    assert(ids1.nonEmpty)
    // a second op over the same dataset must serve the memo, not
    // checkpoint a second signed corpus
    ops.Dedup.dedupEmbedding(spark, sfDir).write.format("noop").mode("overwrite").save()
    assert(ops.Similarity.signedMemoRddIds(spark, sfDir) == ids1,
      "dedupEmbedding re-materialized the signed corpus instead of sharing the memo")
    ops.Similarity.releaseSigned(spark, sfDir)
  }

  test("signed memo recomputes when the embedding data under the path changes") {
    val dir = java.nio.file.Files.createTempDirectory("graftsigmemo").toString
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(d => (((seed * 31 + d) % 17) - 8).toFloat / 8f)
    def write(ids: Seq[Int]): Unit =
      ids.map(i => (i.toLong, if (i >= 20) vec(i % 2) else vec(i)))
        .toDF("vec_id", "embedding").repartition(1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // corpus A: queries 0..9 plus near-identical twins 20,21 of 0 and 1
    write((0 until 10) ++ Seq(20, 21))
    val first = ops.Similarity.annLsh(spark, dir).collect()
    assert(first.map(_.getAs[Long]("neighbor_id")).toSet.intersect(Set(20L, 21L)).nonEmpty,
      "planted twins not found on the first corpus")
    // corpus B: the twins move to ids 50,51 — a stale memo would still
    // emit neighbors 20/21, which no longer exist
    write((0 until 10) ++ Seq(50, 51))
    val second = ops.Similarity.annLsh(spark, dir).collect()
    val neighbors = second.map(_.getAs[Long]("neighbor_id")).toSet
    assert(neighbors.intersect(Set(20L, 21L)).isEmpty,
      "stale memoized signed corpus served after the data changed")
    assert(neighbors.subsetOf((0L until 10L).toSet ++ Set(50L, 51L)))
    ops.Similarity.releaseSigned(spark, dir)
  }

  test("pairs memo recomputes when the data under the path changes") {
    val dir = java.nio.file.Files.createTempDirectory("graftmemo").toString
    import spark.implicits._
    def write(rows: Seq[(Long, String, String, String, Long)]): Unit =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // two identical docs → a 1.0-similarity pair
    write(Seq((0L, "a b c d e f g", "en", "w", 13L), (1L, "a b c d e f g", "en", "w", 13L)))
    val first = ops.Dedup.dedupMinhash(spark, dir).collect()
    assert(first.length == 2 && first.forall(_.getAs[Double]("max_sim") == 1.0))
    // overwrite with three mutually-distinct docs: a stale memo would
    // still report the old 1.0 pair
    write(Seq((0L, "p q r s t u v", "en", "w", 13L), (1L, "h i j k l m n", "en", "w", 13L),
      (2L, "w x y z aa bb cc", "en", "w", 16L)))
    val second = ops.Dedup.dedupMinhash(spark, dir).collect()
    assert(second.length == 3, "doc list not refreshed")
    assert(second.forall(_.getAs[Long]("n_dups") == 0L),
      "stale memoized pairs served after the data changed")
    ops.Dedup.releasePairs(spark, dir)
  }

  test("releaseGraphMemo frees the shared purchase-graph checkpoint blocks") {
    // one structural query materializes all three memo layers
    // (edges → baskets → pair census); a second query must reuse them
    ops.Graph.adamicAdar(spark, sfDir).write.format("noop").mode("overwrite").save()
    val ids = ops.Graph.graphMemoRddIds(spark, sfDir)
    assert(ids.nonEmpty, "graph memo recorded no checkpointed RDDs")
    ops.Graph.coPurchase(spark, sfDir).write.format("noop").mode("overwrite").save()
    assert(ops.Graph.graphMemoRddIds(spark, sfDir) == ids,
      "coPurchase did not reuse the memoized purchase-graph frames")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.intersect(persisted).nonEmpty,
      s"no graph-memo id among persisted RDDs $persisted — memo holds nothing")
    ops.Graph.releaseGraphMemo(spark, sfDir)
    assert(ops.Graph.graphMemoRddIds(spark, sfDir).isEmpty,
      "graph memo entries not evicted")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.intersect(after).isEmpty,
      s"released graph-memo blocks still retained: ${ids.intersect(after)}")
  }

  test("SegOrders memo is shared across per-segment statistics and clears") {
    ops.SegOrders.clear()
    ops.Evaluation.cmh(spark, sfDir).write.format("noop")
      .mode("overwrite").save()
    val ids = ops.SegOrders.rddIds(spark, sfDir)
    assert(ids.nonEmpty, "SegOrders memo recorded no checkpointed RDDs")
    ops.Ranks.tailRisk(spark, sfDir).write.format("noop")
      .mode("overwrite").save()
    assert(ops.SegOrders.rddIds(spark, sfDir) == ids,
      "tailRisk did not reuse the memoized segment-labeled orders")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.intersect(persisted).nonEmpty,
      s"no SegOrders id among persisted RDDs — memo holds nothing")
    ops.SegOrders.clear()
    assert(ops.SegOrders.rddIds(spark, sfDir).isEmpty,
      "SegOrders memo entry not evicted")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.intersect(after).isEmpty,
      s"released SegOrders blocks still retained: ${ids.intersect(after)}")
  }
}
