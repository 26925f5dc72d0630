package graft.streaming

import graft.pipeline.{BatchContext, BatchPolicy, Pipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

/** Structured-Streaming realization of the reference's polling pipeline
  * (SURVEY.md §2.1): the micro-batch engine IS the dispatcher loop —
  * `Trigger.ProcessingTime` is the poll clock (`FetchNextBatch` +
  * empty-fetch backoff, `batch_processor.go:104-112,131-136`),
  * `foreachBatch` is the processor+finalizer seam, and
  * `query.stop()` + `awaitTermination` is the graceful drain
  * (`batch_processor.go:86-97`).
  *
  * Error policy matches the reference (at-most-once): a processor
  * failure is reported to the finalizer and the STREAM CONTINUES with
  * the next trigger — the batch is not retried, the query is not
  * failed. That policy (deadline context, panic recovery, timeout
  * substitution, finalizer isolation) is `graft.pipeline.BatchPolicy`,
  * the same code [[graft.pipeline.Pipeline]] runs per batch.
  */
object MicroBatch {

  /** Start a micro-batch pipeline over a streaming DataFrame.
    *
    * @param stream    a streaming DataFrame (`spark.readStream...`)
    * @param processor per-batch transform; runs on the driver, free to
    *                  use the full DataFrame API (distributed execution)
    * @param finalizer receives (processed batch, error) per trigger —
    *                  the `OnBatchProcessed` hook (`batch_processor.go:26-28`)
    * @param pollInterval trigger period ↔ `noBatchSleepInterval`
    * @param processorTimeout per-batch deadline; non-positive → default
    * @param availableNow `Trigger.AvailableNow`: process what the source
    *                     reports available when the query starts, then
    *                     stop. Over SupplierSource that is one sweep (up
    *                     to `defaultParallelism` supplier batches, at most
    *                     `SupplierSource.MaxSweep`), not a drained supplier
    * @param checkpoint  checkpoint directory for restartable pipelines:
    *                    a restarted query resumes from the write-ahead
    *                    log and never re-delivers a COMMITTED batch —
    *                    recovery the reference's at-most-once loop
    *                    cannot offer (it drops in-flight work on stop,
    *                    `batch_processor.go:137-140`). An UNCOMMITTED
    *                    in-flight batch (failure after the finalizer's
    *                    side effects, before the commit log write) IS
    *                    re-executed on restart, so finalizer side
    *                    effects are at-least-once and should be
    *                    idempotent (keyed upsert / overwrite-by-batch),
    *                    not blind appends
    */
  def start(
      stream: DataFrame,
      processor: (BatchContext, DataFrame) => Try[DataFrame],
      finalizer: (Option[DataFrame], Option[Throwable]) => Unit = (_, _) => (),
      pollInterval: FiniteDuration = 1.second,
      processorTimeout: Duration = Pipeline.DefaultTimeout,
      availableNow: Boolean = false,
      checkpoint: Option[String] = None): StreamingQuery = {
    require(processor != null, "invalid processor")
    launch(stream, "graft-micro-batch", pollInterval, processorTimeout, availableNow,
      checkpoint) { (ctx, df, _) => BatchPolicy.run(ctx, processor, finalizer, df) }
  }

  /** The writer both entry points share: trigger (`ProcessingTime`
    * poll clock or `AvailableNow` drain), query name, optional
    * checkpoint, and a fresh deadline context per micro-batch.
    */
  private def launch(
      stream: DataFrame, name: String, pollInterval: FiniteDuration,
      processorTimeout: Duration, availableNow: Boolean, checkpoint: Option[String])(
      batch: (BatchContext, DataFrame, Long) => Unit): StreamingQuery = {
    val timeout = BatchPolicy.timeout(processorTimeout)
    val trigger =
      if (availableNow) Trigger.AvailableNow()
      else Trigger.ProcessingTime(pollInterval.toMillis)
    val writer = stream.writeStream.queryName(name).trigger(trigger)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        batch(BatchPolicy.context(timeout), df, batchId)
      }
      .start()
  }

  /** Idempotent batch commit: append `out` to a parquet table such
    * that replaying the SAME `batchId` — which Structured Streaming's
    * write-ahead log does after any crash between the sink write and
    * the engine's offset commit — can never land a second copy.
    *
    * Two mechanisms stack:
    *  1. rows are written under a `_batch_id=<id>` partition with
    *     DYNAMIC partition overwrite, so a replayed write REPLACES the
    *     partial files of the crashed attempt instead of appending
    *     beside them;
    *  2. a batchId-keyed marker in `logDir` records completed commits,
    *     so a replay after a COMPLETE write skips the work entirely
    *     (returns false).
    * Crash windows: before the data write → clean replay; between data
    * write and marker → dynamic overwrite replaces, marker lands on
    * the replay; after the marker → skipped. In every case exactly one
    * copy of the batch is visible to readers.
    *
    * The marker is a zero-byte file created with overwrite=false
    * through the Hadoop FileSystem API — atomic on HDFS/ABFS/GCS; on
    * S3 the create is read-after-write consistent since 2020, but a
    * concurrent DOUBLE-writer (two drivers sharing one checkpoint,
    * already unsupported by Structured Streaming) is not defended
    * against. `_batch_id` stays in the table as a partition column —
    * the audit trail of which trigger produced which rows, and the
    * pruning key for batch-targeted repair.
    */
  def exactlyOnceParquetAppend(out: DataFrame, batchId: Long,
                               dataDir: String, logDir: String): Boolean = {
    val hconf = out.sparkSession.sparkContext.hadoopConfiguration
    val logPath = new org.apache.hadoop.fs.Path(logDir)
    val fs = logPath.getFileSystem(hconf)
    val marker = new org.apache.hadoop.fs.Path(logPath, f"$batchId%020d")
    if (fs.exists(marker)) return false
    out.withColumn("_batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch_id")
      .parquet(dataDir)
    fs.mkdirs(logPath)
    fs.create(marker, false).close()
    true
  }

  /** [[start]] with an exactly-once parquet sink instead of a
    * caller-supplied finalizer. DELIBERATE error-policy divergence
    * from the reference facade, documented here: [[start]] ports the
    * reference's at-most-once loop (a failed batch is reported and the
    * stream moves on), but an exactly-once sink is a DELIVERY
    * contract — so a processor failure here FAILS the query, and the
    * restart replays the batch from the write-ahead log into
    * [[exactlyOnceParquetAppend]], whose commit log de-duplicates the
    * replay. So it shares only the writer and the deadline context
    * with [[start]]: no panic recovery, no timeout substitution.
    * MicroBatchSpec pins the crash-replay/no-duplicate contract.
    */
  def startExactlyOnce(
      stream: DataFrame,
      processor: (BatchContext, DataFrame) => Try[DataFrame],
      dataDir: String,
      logDir: String,
      pollInterval: FiniteDuration = 1.second,
      processorTimeout: Duration = Pipeline.DefaultTimeout,
      availableNow: Boolean = false,
      checkpoint: Option[String] = None): StreamingQuery = {
    require(processor != null, "invalid processor")
    launch(stream, "graft-micro-batch-eo", pollInterval, processorTimeout, availableNow,
      checkpoint) { (ctx, df, batchId) =>
      processor(ctx, df) match {
        case Success(out) => exactlyOnceParquetAppend(out, batchId, dataDir, logDir)
        case Failure(e)   => throw e // fail the query: WAL replays the batch
      }
    }
  }

  /** Graceful drain: the in-flight micro-batch completes before stop
    * returns (`Stop()`'s busy-wait join, `batch_processor.go:86-97`).
    */
  def stopGracefully(query: StreamingQuery): Unit = {
    query.stop()
    query.awaitTermination()
  }
}
