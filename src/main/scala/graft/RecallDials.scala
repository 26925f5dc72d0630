package graft

import org.apache.spark.sql.functions._

/** Recall-vs-dial measurement main (build tooling, like [[GenData]] /
  * [[Explain]]): prints mean recall@5 of the PERSISTED-index read
  * paths at a generated corpus scale, per IVF `nProbe` dial and for
  * the LSH path at its build geometry — the provenance of DEPLOY §5's
  * dial table and of SimilaritySpec's gen-sf1 floors.
  *
  * Usage: `runMain graft.RecallDials [sf] [outDirBase]`
  * (defaults 1.0, target/gen). Generates the embeddings table if the
  * dir lacks it, builds a fresh stored index, then reports.
  */
object RecallDials {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(1.0)
    val base = args.lift(1).getOrElse("target/gen")
    // same naming as SimilaritySpec's cached fixture ("sf1-emb" for
    // 1.0) so tool and spec share one generated dir
    val sfName = if (sf == sf.toLong.toDouble) sf.toLong.toString else sf.toString
    val dir = s"$base/sf$sfName-emb"
    val spark = GraftSession.fromEnv("graft-recall-dials")
    if (!new java.io.File(s"$dir/embeddings.parquet").exists())
      GenData.generateEmbeddings(spark, sf, dir)
    ops.Similarity.writeAnnIndex(spark, dir, "recall_dials_idx")
    def mean(df: org.apache.spark.sql.DataFrame, method: String): Double =
      df.filter(col("method") === method).agg(avg(col("recall")))
        .head().getDouble(0)
    println(f"sf=$sf corpus=${spark.read.parquet(s"$dir/embeddings.parquet").count()} vectors")
    for (nProbe <- Seq(1, 2, 4, 8)) {
      val r = ops.Similarity.annRecallFromIndex(spark, dir, "recall_dials_idx",
        nQueries = 10, k = 5, nProbe = nProbe)
      println(f"ivf nProbe=$nProbe%d  recall@5=${mean(r, "ivf")}%.3f")
      if (nProbe == 1) // LSH has no read-side dial; print once
        println(f"lsh (8 bands x 4 rows, 1-bit multi-probe)  recall@5=${mean(r, "lsh")}%.3f")
    }
    spark.stop()
  }
}
