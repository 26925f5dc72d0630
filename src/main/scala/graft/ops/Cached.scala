package graft.ops

import org.apache.spark.sql.DataFrame

/** The operators' one cache lifecycle: persist the frames a body reads
  * more than once, derive a small result from them, checkpoint that
  * result eagerly while they are still cached, release them.
  *
  * The order is the whole contract. A checkpoint taken AFTER the
  * release recomputes every cached input instead of reading it (the
  * cache then costs one extra pass rather than saving one), so
  * [[derive]] checkpoints inside the [[hold]] and callers never
  * unpersist by hand.
  *
  * Nested lifecycles must checkpoint once: an inner [[derive]] under an
  * outer [[hold]] (or the reverse), never two derives of one frame —
  * re-checkpointing a checkpoint runs one more job and stores the rows
  * twice.
  *
  * Every eager `localCheckpoint` of the operators goes through
  * [[checkpoint]], except the [[DatasetMemo]] computes (the memo
  * attributes their blocks itself). Plan contracts read the plans these
  * checkpoints execute, not the explain of their LogicalRDD scans.
  */
private[graft] object Cached {

  /** Persist `frames` in order, run `body`, unpersist them in reverse
    * order in `finally` — also when `body` throws. A frame derived from
    * an earlier one is listed after it, so it reads that cache and is
    * released first.
    */
  def hold[A](frames: DataFrame*)(body: => A): A =
    try {
      frames.foreach(_.persist())
      body
    } finally frames.reverseIterator.foreach(_.unpersist())

  /** [[hold]] whose body's frame is checkpointed before the release. */
  def derive(frames: DataFrame*)(body: => DataFrame): DataFrame =
    hold(frames: _*)(checkpoint(body))

  /** Eager `localCheckpoint`: materializes `df` now and cuts its lineage. */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(true)
}
