package graft

import graft.pipeline.{BatchContext, Pipeline}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit, TimeoutException}
import scala.collection.mutable
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}
import org.scalatest.funsuite.AnyFunSuite

/** The 13 behavioral invariants of the reference framework
  * (`batch_processor_unit_test.go:16-268`), ported against the
  * Pipeline facade with plain closures + atomic counters instead of
  * mockery mocks (SURVEY.md §5.2). Tests drive `tryProcessBatch()`
  * directly where the reference tests do, avoiding async timing.
  */
class PipelineSpec extends AnyFunSuite {

  private def ok[T](xs: T*): Try[Seq[T]] = Success(xs.toSeq)
  private val noop = (_: BatchContext, b: Seq[String]) => Success(b)

  /** A finalizer that records every (processed, error) call. */
  private class RecFinalizer {
    val calls = mutable.ArrayBuffer.empty[(Option[Seq[String]], Option[Throwable])]
    def fn: (Option[Seq[String]], Option[Throwable]) => Unit =
      (p, e) => calls.synchronized { calls += ((p, e)) }
    def count: Int = calls.synchronized(calls.size)
  }

  /** Waits until `cond` holds (≤ 2 s) — replaces the reference's raw sleeps. */
  private def eventually(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 2.seconds.toNanos
    while (!cond && System.nanoTime() < deadline) Thread.sleep(5)
    assert(cond)
  }

  // 1-2: constructor panics on nil supplier/processor (test :17, :28)
  test("invalid supplier is rejected at construction") {
    assertThrows[IllegalArgumentException](Pipeline[String](1, null, noop))
  }
  test("invalid processor is rejected at construction") {
    assertThrows[IllegalArgumentException](Pipeline[String](1, () => ok("x"), null))
  }

  // 3: full pool → no fetch (test :39)
  test("slow processing waits for free workers: no fetch while pool is full") {
    val fetches = new AtomicInteger(0)
    val release = new CountDownLatch(1)
    val started = new CountDownLatch(1)
    val p = Pipeline[String](1,
      () => { fetches.incrementAndGet(); ok("m") },
      (_, b) => { started.countDown(); release.await(2, TimeUnit.SECONDS); Success(b) })
      .withNoBatchSleep(0.millis)
    p.tryProcessBatch()                       // dispatches the one slot
    assert(started.await(2, TimeUnit.SECONDS))
    p.tryProcessBatch()                       // pool full → zero fetches
    assert(fetches.get() == 1)
    release.countDown()
  }

  // 4: timeout substitution (test :56)
  test("processor outliving the timeout finalizes with the timeout error") {
    val fin = new RecFinalizer
    val p = Pipeline[String](1, () => ok("m"),
      (_, b) => { Thread.sleep(150); Success(b) })
      .withProcessorTimeout(30.millis)
      .withFinalizer(fin.fn)
      .withNoBatchSleep(0.millis)
    p.tryProcessBatch()
    eventually(fin.count == 1)
    val (processed, err) = fin.calls.head
    assert(processed.contains(Seq("m"))) // processed batch still delivered (go:161-165)
    assert(err.exists(_.isInstanceOf[TimeoutException]))
    assert(err.exists(_.getMessage == "context canceled"))
  }

  // 5: empty fetch → no process (test :82)
  test("empty batches never reach the processor") {
    val procs = new AtomicInteger(0)
    val fin = new RecFinalizer
    val p = Pipeline[String](2, () => ok(),
      (_, b) => { procs.incrementAndGet(); Success(b) })
      .withFinalizer(fin.fn).withNoBatchSleep(1.millis)
    p.tryProcessBatch()
    assert(procs.get() == 0 && fin.count == 0)
  }

  // 6: supplier error → skip, one attempt per free slot (test :101)
  test("supplier errors skip the batch with no retry, one fetch per slot") {
    val fetches = new AtomicInteger(0)
    val procs = new AtomicInteger(0)
    val p = Pipeline[String](2,
      () => { fetches.incrementAndGet(); Failure(new RuntimeException("fetch boom")) },
      (_, b) => { procs.incrementAndGet(); Success(b) })
      .withNoBatchSleep(0.millis)
    p.tryProcessBatch()
    assert(fetches.get() == 2) // 2 free slots → 2 attempts in the sweep
    assert(procs.get() == 0)
  }

  // 7: partial supplier error (test :114)
  test("one supplier error among successes: the good batches process") {
    val seq = Iterator[Try[Seq[String]]](
      Failure(new RuntimeException("boom")), ok("a"), ok("b"))
    val procs = new AtomicInteger(0)
    val p = Pipeline[String](3, () => seq.next(),
      (_, b) => { procs.incrementAndGet(); Success(b) })
      .withNoBatchSleep(0.millis)
    p.tryProcessBatch()
    eventually(procs.get() == 2)
  }

  // 8: error + empty + proper batch → exactly 1 process (test :130)
  test("mixed error/empty/real outcomes in one sweep process exactly one batch") {
    val seq = Iterator[Try[Seq[String]]](
      Failure(new RuntimeException("boom")), ok(), ok("real"))
    val procs = new AtomicInteger(0)
    val p = Pipeline[String](3, () => seq.next(),
      (_, b) => { procs.incrementAndGet(); Success(b) })
      .withNoBatchSleep(1.millis)
    p.tryProcessBatch()
    eventually(procs.get() == 1)
    Thread.sleep(50)
    assert(procs.get() == 1)
  }

  // 9: processor errors don't stop dispatch (test :148)
  test("processor failures are finalized and dispatch continues") {
    val boom = new RuntimeException("process boom")
    val fin = new RecFinalizer
    val p = Pipeline[String](3, () => ok("m"),
      (_, _) => Failure(boom))
      .withFinalizer(fin.fn).withNoBatchSleep(0.millis)
    p.tryProcessBatch()
    eventually(fin.count == 3) // all 3 slots dispatched despite failures
    assert(fin.calls.forall { case (p0, e) => p0.isEmpty && e.contains(boom) })
  }

  // 10: panic recovered (test :170)
  test("a throwing processor is recovered and reported to the finalizer") {
    val fin = new RecFinalizer
    val p = Pipeline[String](1, () => ok("m"),
      (_, _) => throw new IllegalStateException("panic in worker"))
      .withFinalizer(fin.fn).withNoBatchSleep(0.millis)
    p.tryProcessBatch()
    eventually(fin.count == 1)
    assert(fin.calls.head._2.exists(_.getMessage == "panic in worker"))
  }

  // 11: error-typed panic passed through as-is (test :194)
  test("a typed exception thrown by the processor is passed through unchanged") {
    class DomainError extends RuntimeException("domain")
    val fin = new RecFinalizer
    val p = Pipeline[String](1, () => ok("m"),
      (_, _) => throw new DomainError)
      .withFinalizer(fin.fn).withNoBatchSleep(0.millis)
    p.tryProcessBatch()
    eventually(fin.count == 1)
    assert(fin.calls.head._2.exists(_.isInstanceOf[DomainError]))
  }

  // 12: finalizer on success gets the TRANSFORMED batch (test :216)
  test("finalizer receives the processed batch and no error on success") {
    val fin = new RecFinalizer
    val p = Pipeline[String](1, () => ok("m"),
      (_, b) => Success(b.map(_.toUpperCase)))
      .withFinalizer(fin.fn).withNoBatchSleep(0.millis)
    p.tryProcessBatch()
    eventually(fin.count == 1)
    assert(fin.calls.head == ((Some(Seq("M")), None)))
  }

  // 13: graceful stop (test :236)
  test("stop drains in-flight work; queued batches never start; restart is a no-op") {
    val fetches = new AtomicInteger(0)
    val procs = new AtomicInteger(0)
    val fin = new RecFinalizer
    val inProc = new CountDownLatch(1)
    val batches = Iterator(ok("first")) ++ Iterator.continually(ok())
    val p = Pipeline[String](2,
      () => { fetches.incrementAndGet(); batches.next() },
      (_, b) => { inProc.countDown(); procs.incrementAndGet(); Thread.sleep(100); Success(b) })
      .withFinalizer(fin.fn).withNoBatchSleep(300.millis)
    p.start()
    assert(inProc.await(2, TimeUnit.SECONDS)) // first batch is in flight
    p.stop()                                  // must block until it completes
    assert(procs.get() == 1 && fin.count == 1)
    val fetchesAtStop = fetches.get()
    p.start()                                 // start after stop: no-op (go:100-102)
    Thread.sleep(100)
    assert(fetches.get() == fetchesAtStop)
  }

  // timeout coercion: WithProcessorTimeout(≤0) resets to default (go:74-83)
  test("non-positive timeout is coerced to the default (no spurious timeout)") {
    val fin = new RecFinalizer
    val p = Pipeline[String](1, () => ok("m"),
      (_, b) => { Thread.sleep(30); Success(b) })
      .withProcessorTimeout(Duration.Zero)
      .withFinalizer(fin.fn).withNoBatchSleep(0.millis)
    p.tryProcessBatch()
    eventually(fin.count == 1)
    assert(fin.calls.head._2.isEmpty)
  }

  // cooperative cancellation: the context exposes deadline expiry (go:157-164)
  test("processor can observe cooperative cancellation via the batch context") {
    val sawExpired = new AtomicInteger(0)
    val p = Pipeline[String](1, () => ok("m"),
      (ctx, b) => {
        Thread.sleep(80)
        if (ctx.isExpired) sawExpired.incrementAndGet()
        Success(b)
      })
      .withProcessorTimeout(20.millis).withNoBatchSleep(0.millis)
    p.tryProcessBatch()
    eventually(sawExpired.get() == 1)
  }

  // finalizer isolation (shared with MicroBatch through BatchPolicy)
  test("a throwing finalizer neither stops the facade nor skips the next batch's finalize") {
    val fin = new RecFinalizer
    val batches = Iterator(ok("a"), ok("b")) ++ Iterator.continually(ok[String]())
    val p = Pipeline[String](1, () => batches.next(), noop)
      .withFinalizer { (b, e) =>
        fin.fn(b, e)
        if (fin.count == 1) throw new IllegalStateException("finalizer boom")
      }
      .withNoBatchSleep(1.millis)
    p.start()
    eventually(fin.count == 2)
    p.stop()
    assert(fin.calls.toSeq == Seq((Some(Seq("a")), None), (Some(Seq("b")), None)))
  }

  // dispatcher: a freed slot wakes it, so a one-slot pool drains fast
  test("a one-slot pool drains 2000 queued batches in under a second") {
    val queue = new ConcurrentLinkedQueue[String]()
    (1 to 2000).foreach(i => queue.add(i.toString))
    val done = new CountDownLatch(2000)
    val p = Pipeline[String](1, () => Option(queue.poll()).fold(ok[String]())(ok(_)), noop)
      .withFinalizer((_, _) => done.countDown())
      .withNoBatchSleep(1.millis)
    val t0 = System.nanoTime()
    p.start()
    val drained = done.await(5, TimeUnit.SECONDS)
    val tookMs = (System.nanoTime() - t0) / 1000000
    p.stop()
    assert(drained)
    assert(tookMs < 1000, s"took $tookMs ms") // a 1 ms park after every sweep takes ≥ 2 s
  }

  // dispatcher: a full pool blocks it — no fetch and no spin
  test("a full pool neither fetches nor spins while its batch is blocked") {
    val fetches = new AtomicInteger(0)
    val inProc = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val p = Pipeline[String](1,
      () => { fetches.incrementAndGet(); ok("m") },
      (_, b) => { inProc.countDown(); release.await(2, TimeUnit.SECONDS); Success(b) })
      .withNoBatchSleep(0.millis)
    p.start()
    assert(inProc.await(2, TimeUnit.SECONDS))
    val cpu = ManagementFactory.getThreadMXBean
    val dispatcherId = p.dispatcherThread.get.getId
    val fetchesBefore = fetches.get()
    val cpuBefore = cpu.getThreadCpuTime(dispatcherId)
    Thread.sleep(200)
    val spentMs = (cpu.getThreadCpuTime(dispatcherId) - cpuBefore) / 1000000
    val fetchesAfter = fetches.get()
    release.countDown()
    p.stop()
    assert(fetchesAfter == fetchesBefore)
    assert(spentMs < 20, s"dispatcher used $spentMs ms of CPU in 200 ms") // a spin uses ~200
  }

  // dispatcher: an empty or failing source is polled at most ~slots per ms
  test("an idle or failing source is polled at about one sweep per ms") {
    val sources = Seq[() => Try[Seq[String]]](() => ok(), () => Failure(new RuntimeException("down")))
    sources.foreach { source =>
      val calls = new AtomicInteger(0)
      val p = Pipeline[String](4, () => { calls.incrementAndGet(); source() }, noop)
        .withNoBatchSleep(0.millis)
      val t0 = System.nanoTime()
      p.start()
      Thread.sleep(300)
      p.stop()
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(calls.get() > 0)
      assert(calls.get() < 2 * 4 * elapsedMs, s"${calls.get()} calls in $elapsedMs ms")
    }
  }

  // stop() releases the worker pool; an unused fluent base never makes one
  test("stop shuts down the worker pool; fluent copies spawn none") {
    val fin = new RecFinalizer
    val batches = Iterator(ok("a")) ++ Iterator.continually(ok[String]())
    val base = Pipeline[String](2, () => batches.next(), noop)
    val p = base.withFinalizer(fin.fn).withNoBatchSleep(1.millis)
    assert(p.workerPool.isEmpty)
    p.start()
    eventually(fin.count == 1)
    p.stop()
    assert(p.workerPool.exists(_.isShutdown))
    assert(p.workerPool.exists(_.awaitTermination(2, TimeUnit.SECONDS)))
    assert(base.workerPool.isEmpty)
  }
}
