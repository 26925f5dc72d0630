package graft.pipeline

import java.util.concurrent.TimeoutException
import scala.concurrent.duration._
import scala.util.control.NonFatal
import scala.util.{Failure, Success, Try}

/** Cooperative per-batch cancellation signal handed to the processor —
  * the Scala analogue of the `context.Context` the reference passes to
  * `ProcessBatch` (`batch_processor.go:21-23,157-159`). Like Go's, it
  * is advisory: a processor that ignores it simply runs long, and the
  * timeout error is substituted after it returns.
  */
trait BatchContext {
  /** True once the per-batch deadline has passed. */
  def isExpired: Boolean
  /** Nanotime deadline for this batch. */
  def deadlineNanos: Long
}

/** The reference's per-batch policy (`processBatchAsync` +
  * `recoverIfNeeded` + `finalizeIfConfigured`, `batch_processor.go:147-186`),
  * written once and shared by the thread facade ([[Pipeline]]) and the
  * micro-batch bridge (`graft.streaming.MicroBatch`). Generic over the
  * batch type: `Seq[T]` on the facade, `DataFrame` on the bridge.
  */
private[graft] object BatchPolicy {

  /** `WithProcessorTimeout`: non-positive (or infinite) values reset to
    * [[Pipeline.DefaultTimeout]] (`batch_processor.go:74-83`).
    */
  def timeout(d: Duration): FiniteDuration = d match {
    case f: FiniteDuration if f > Duration.Zero => f
    case _ => Pipeline.DefaultTimeout
  }

  /** A context whose deadline is `timeout` from now. */
  def context(timeout: FiniteDuration): BatchContext = {
    val deadline = System.nanoTime() + timeout.toNanos
    new BatchContext {
      def isExpired: Boolean = System.nanoTime() > deadline
      def deadlineNanos: Long = deadline
    }
  }

  /** At-most-once run of one batch: a throwing processor is recovered
    * into `(None, Some(e))` (`:169-180`); a success returned after the
    * deadline carries the substituted timeout error (`:157-164`); the
    * outcome goes to the finalizer, whose own exceptions are swallowed
    * so neither the facade nor the stream stops on them.
    */
  def run[X](ctx: BatchContext,
             processor: (BatchContext, X) => Try[X],
             finalizer: (Option[X], Option[Throwable]) => Unit,
             batch: X): Unit = {
    val result =
      try processor(ctx, batch)
      catch { case NonFatal(e) => Failure(e) }
    result match {
      case Success(out) if ctx.isExpired =>
        finalizeIfConfigured(finalizer, Some(out), Some(new TimeoutException("context canceled")))
      case Success(out) => finalizeIfConfigured(finalizer, Some(out), None)
      case Failure(e)   => finalizeIfConfigured(finalizer, None, Some(e))
    }
  }

  private def finalizeIfConfigured[X](f: (Option[X], Option[Throwable]) => Unit,
                                      p: Option[X], e: Option[Throwable]): Unit =
    if (f != null) {
      try f(p, e) catch { case NonFatal(_) => () }
    }
}
