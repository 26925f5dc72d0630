package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for an expensive derived frame of one on-disk
  * table — the shared machinery behind [[Dedup]]'s verified-pair memo
  * and [[Similarity]]'s signed-corpus memo.
  *
  * Entries are keyed by (session, dataset dir) and carry a file-level
  * data version (part-file names + sizes + mtimes), so a REWRITE of the
  * data invalidates the entry instead of silently serving stale results
  * (parquet part names are unique per write, so even a
  * same-millisecond overwrite changes the version). The memoized frame
  * is expected to be an eagerly `localCheckpoint`ed result; the memo
  * records exactly which persisted RDD ids the computation created so
  * [[release]] can free their blocks — a memoized strong reference
  * defeats the ContextCleaner's GC-driven cleanup, which handles every
  * non-memoized checkpoint.
  */
private[graft] object DatasetMemo {
  /** ALL memo computations (across every [[DatasetMemo]] instance)
    * serialize on this one lock: [[DatasetMemo.getOrCompute]] attributes
    * every RDD persisted on the SparkContext during `compute` to the new
    * entry via a keyset diff, so two interleaved computations — same key,
    * or different memos — would capture each other's blocks, and a later
    * `release` would unpersist a live entry's storage. Computations are
    * rare and expensive (the serve path never takes the lock), so
    * serializing them costs nothing in practice. Known residual: a
    * concurrent NON-memo persist on another thread is still captured by
    * the diff — callers running memoized ops concurrently with unrelated
    * caching pipelines should expect release() to drop those blocks too
    * (they recompute, never corrupt).
    */
  private val computeLock = new Object

  /** Every memo constructed in this JVM, so one call resets them all. */
  private val instances = new java.util.concurrent.ConcurrentLinkedQueue[DatasetMemo]()

  /** Release every entry of every memo — the per-round reset of the
    * bench and the profiler, which then cannot miss a new memo owner.
    */
  private[graft] def clearAll(): Unit = instances.forEach(_.clear())
}

private[ops] final class DatasetMemo(tableFile: String) {
  private val memo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, DataFrame, Set[Int])]
  DatasetMemo.instances.add(this)

  /** Cheap fingerprint of `dir`/`tableFile`: part names, sizes, mtimes.
    * `private[ops]` so index-freshness guards ([[Similarity]]'s stored
    * ANN index) can compare against the SAME version the memo keys on.
    */
  private[ops] def dataVersion(spark: SparkSession, dir: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$tableFile")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|").hashCode.toString
  }

  /** Serve the memoized frame if the data under `dir` is unchanged;
    * otherwise release any stale entry's blocks, run `compute`, and
    * memoize the result under the current data version.
    */
  def getOrCompute(spark: SparkSession, dir: String)(compute: => DataFrame): DataFrame = {
    val ver = dataVersion(spark, dir)
    memo.get((spark, dir)) match {
      case Some((v, df, _)) if v == ver => df
      case _ => DatasetMemo.computeLock.synchronized {
        // double-check under the lock: a racing caller may have computed
        // and memoized while this thread waited — serve its entry instead
        // of computing twice and orphaning the loser's checkpoint blocks
        memo.get((spark, dir)) match {
          case Some((v, df, _)) if v == ver => df
          case stale =>
            if (stale.isDefined) release(spark, dir)
            val before = spark.sparkContext.getPersistentRDDs.keySet
            val df = compute
            val ids = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
            memo.put((spark, dir), (ver, df, ids.toSet))
            df
        }
      }
    }
  }

  /** Unpersist the entry's checkpointed RDD blocks and drop it. */
  def release(spark: SparkSession, dir: String): Unit =
    memo.remove((spark, dir)).foreach { case (_, _, ids) =>
      val persisted = spark.sparkContext.getPersistentRDDs
      ids.foreach(id => persisted.get(id).foreach(_.unpersist(blocking = true)))
    }

  /** Release every entry across all sessions/datasets. */
  def clear(): Unit =
    memo.keys.toSeq.foreach { case (s, d) => release(s, d) }

  /** Retained checkpointed-RDD ids for (session, dir) — exposed for the
    * cache-lifecycle contract tests.
    */
  def rddIds(spark: SparkSession, dir: String): Set[Int] =
    memo.get((spark, dir)).map(_._3).getOrElse(Set.empty)
}
