package graft.pipeline

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import java.util.concurrent.locks.LockSupport
import java.util.concurrent.{ExecutorService, Executors, ThreadFactory}
import scala.concurrent.duration._
import scala.util.control.NonFatal
import scala.util.{Failure, Success, Try}

object Pipeline {
  /** `DefaultTimeout` = 2147483647 ms ≈ 24.8 days — "effectively no
    * timeout" (`batch_processor.go:30`).
    */
  val DefaultTimeout: FiniteDuration = Int.MaxValue.toLong.millis

  def apply[T](maxConcurrentBatches: Int,
               supplier: () => Try[Seq[T]],
               processor: (BatchContext, Seq[T]) => Try[Seq[T]]): Pipeline[T] =
    new Pipeline[T](maxConcurrentBatches, supplier, processor,
      (_, _) => (), 1.second, DefaultTimeout)
}

/** Batch-pipeline facade reproducing the reference framework's entire
  * public surface and error policy (`batch_processor.go:1-194`; SURVEY.md
  * §2.1 rows 1-16, §2.2 error matrix, §7.4):
  *
  *  - poll a supplier for batches; a supplier error skips the batch
  *    with no retry (`:127-130`); an empty batch sleeps
  *    `noBatchSleep` and continues (`:131-136`)
  *  - fan non-empty batches to at most `maxConcurrentBatches`
  *    concurrent workers (`:115-145`); at-most-once: a failed batch is
  *    reported, never retried
  *  - per-batch timeout is cooperative: if the deadline passed and the
  *    processor still returned success, the timeout error is
  *    substituted before finalize (`:157-164`)
  *  - any throwable from the processor is caught (`recover()`,
  *    `:169-180`) and handed to the finalizer as `(None, Some(e))`
  *  - these two rules, the timeout coercion and the finalizer's
  *    exception isolation live in [[BatchPolicy]], the one per-batch
  *    policy this facade shares with `graft.streaming.MicroBatch`
  *  - `stop()` blocks until in-flight workers drain (10 ms poll,
  *    `:86-97`), then shuts the worker pool down; a batch fetched
  *    during shutdown is dropped unprocessed (`:137-140`), never run
  *    after `stop()` returns; `start()` after `stop()` is a no-op
  *    (`:100-102`)
  *
  * Deliberate non-ports: the reference's 50 ms post-spawn sleep
  * (`:142-143`) patched a counter race — here the in-flight counter is
  * incremented synchronously before submit, so the race doesn't exist.
  * The reference's dispatcher spins hot; this one blocks while the pool
  * is full and is woken by the worker that frees a slot, sweeps again
  * at once after a sweep that dispatched, and pauses 1 ms only after a
  * sweep that fetched nothing (every poll empty or failed), so an idle
  * or failing source is polled about `maxConcurrentBatches` times per ms.
  *
  * Spark usage: the processor closure runs on the driver and is free
  * to submit Spark jobs (`spark.read...` / DataFrame actions) per
  * batch; concurrent pipelines interleave via Spark's scheduler. Spark
  * task retries do NOT apply to the facade path — the processor runs
  * once per batch, preserving the reference's at-most-once policy
  * (SURVEY.md §2.1 row 14).
  */
final class Pipeline[T] private (
    val maxConcurrentBatches: Int,
    supplier: () => Try[Seq[T]],
    processor: (BatchContext, Seq[T]) => Try[Seq[T]],
    finalizer: (Option[Seq[T]], Option[Throwable]) => Unit,
    noBatchSleep: FiniteDuration,
    processorTimeout: FiniteDuration) {

  require(supplier != null, "invalid supplier")     // panic, batch_processor.go:45-47
  require(processor != null, "invalid processor")   // panic, batch_processor.go:48-50
  require(maxConcurrentBatches > 0, "maxConcurrentBatches must be positive")

  private val inFlight = new AtomicInteger(0)
  private val stopRequested = new AtomicBoolean(false)
  private val started = new AtomicBoolean(false)
  /** Set by `start()`; a worker freeing a slot unparks it. */
  @volatile private var dispatcher: Thread = null
  private[graft] def dispatcherThread: Option[Thread] = Option(dispatcher)

  /** Created on first dispatch, so fluent copies spawn no pool. */
  @volatile private var poolCreated = false
  private lazy val workers = {
    poolCreated = true
    Executors.newCachedThreadPool(new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "graft-pipeline-worker"); t.setDaemon(true); t
      }
    })
  }

  /** The worker pool, if one was ever created. */
  private[graft] def workerPool: Option[ExecutorService] =
    if (poolCreated) Some(workers) else None

  /** Fluent config, mirroring `WithFinalizer` (`batch_processor.go:63-66`). */
  def withFinalizer(f: (Option[Seq[T]], Option[Throwable]) => Unit): Pipeline[T] =
    new Pipeline(maxConcurrentBatches, supplier, processor, f, noBatchSleep, processorTimeout)

  /** Mirrors `WithNoBatchSleepIntervalInMilliseconds` (`batch_processor.go:69-72`). */
  def withNoBatchSleep(d: FiniteDuration): Pipeline[T] =
    new Pipeline(maxConcurrentBatches, supplier, processor, finalizer, d, processorTimeout)

  /** Mirrors `WithProcessorTimeout`: non-positive values reset to the
    * default (`batch_processor.go:74-83`).
    */
  def withProcessorTimeout(d: Duration): Pipeline[T] =
    new Pipeline(maxConcurrentBatches, supplier, processor, finalizer, noBatchSleep,
      BatchPolicy.timeout(d))

  /** One dispatch sweep: fetch and dispatch up to the number of free
    * worker slots (`tryProcessBatch`, `batch_processor.go:115-145`);
    * returns the number of batches dispatched. Package-visible so
    * behavioral tests can drive sweeps directly, exactly as the
    * reference's tests do.
    */
  private[graft] def tryProcessBatch(): Int = {
    val available = maxConcurrentBatches - inFlight.get()
    var dispatched = 0
    var i = 0
    while (i < available) {
      if (stopRequested.get()) return dispatched
      supplier() match {
        case Failure(_) =>
          // supplier error: skip, no retry, keep sweeping (:127-130)
          ()
        case Success(batch) if batch == null || batch.isEmpty =>
          // empty source: back off, keep sweeping (:131-136)
          if (noBatchSleep > Duration.Zero) Thread.sleep(noBatchSleep.toMillis)
        case Success(batch) =>
          // Take the slot before checking for shutdown: either stop()
          // sees it and waits for the batch, or the batch sees stop()
          // and is dropped (:137-140) — never run after stop() returns.
          inFlight.incrementAndGet()
          if (stopRequested.get()) { release(); return dispatched }
          try {
            workers.submit(new Runnable { def run(): Unit = runBatch(batch) })
            dispatched += 1
          } catch { case NonFatal(_) => release() }
      }
      i += 1
    }
    dispatched
  }

  /** Free a worker slot and wake the dispatcher if it waits for one. */
  private def release(): Unit = {
    inFlight.decrementAndGet()
    LockSupport.unpark(dispatcher)
  }

  /** Worker body: the shared per-batch policy ([[BatchPolicy.run]]),
    * then release the worker slot.
    */
  private def runBatch(batch: Seq[T]): Unit =
    try BatchPolicy.run(BatchPolicy.context(processorTimeout), processor, finalizer, batch)
    finally release()

  /** Spawn the dispatcher loop (`Start`, `batch_processor.go:99-113`).
    * No-op once `stop()` has been requested (`:100-102`). While the
    * pool is full the dispatcher parks until `release()` or `stop()`
    * unparks it; after a sweep that dispatched it sweeps again at once;
    * after a sweep that fetched nothing it pauses 1 ms instead of the
    * reference's hot spin.
    */
  def start(): Unit = {
    if (stopRequested.get() || !started.compareAndSet(false, true)) return
    val t = new Thread("graft-pipeline-dispatcher") {
      override def run(): Unit =
        while (!stopRequested.get()) {
          if (inFlight.get() >= maxConcurrentBatches) LockSupport.park(this)
          else if (tryProcessBatch() == 0) Thread.sleep(1)
        }
    }
    t.setDaemon(true)
    dispatcher = t
    t.start()
  }

  /** Graceful stop: no new dispatches; blocks until in-flight batches
    * finish (10 ms drain poll, `batch_processor.go:86-97`), then shuts
    * the worker pool down if one was created.
    */
  def stop(): Unit = {
    stopRequested.set(true)
    LockSupport.unpark(dispatcher)
    while (inFlight.get() > 0) Thread.sleep(10)
    if (poolCreated) workers.shutdown()
  }
}
