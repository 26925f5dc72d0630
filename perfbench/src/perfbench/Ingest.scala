package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
import java.util.concurrent.locks.LockSupport
import scala.concurrent.duration._
import scala.util.Try
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, substring_index}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.pipeline.Pipeline
import graft.sources.SupplierRegistry
import graft.streaming.{MicroBatch, StreamingDedup}

/** Seeded document-text event stream: `n` events whose texts repeat an
  * earlier event's text with probability `dupShare`; the rest are fresh
  * 8–40-word texts over a 64-word vocabulary.
  */
final class EventStream(seed: Long, val n: Int, dupShare: Double) {
  private val rng = new java.util.Random(seed)
  val texts = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Index into `texts` of each event's text. */
  val textOf: Array[Int] = new Array[Int](n)
  (0 until n).foreach { i =>
    textOf(i) =
      if (i > 0 && rng.nextDouble() < dupShare) textOf(rng.nextInt(i))
      else {
        texts += Seq.fill(8 + rng.nextInt(33))(EventStream.Vocab(rng.nextInt(64))).mkString(" ")
        texts.length - 1
      }
  }
  def text(i: Int): String = texts(textOf(i))
}

object EventStream {
  private val Vocab: IndexedSeq[String] = (for {
    a <- Seq("data", "batch", "stream", "query", "table", "spark", "window", "vector")
    b <- Seq("", "s", "ed", "ing", "er", "ly", "al", "ish")
  } yield a + b).toIndexedSeq
}

/** Open-loop generator: event i is due at `startNs + i / rate` and is
  * enqueued at its due time whatever the system is doing; `enq` records
  * when it actually was (its lateness is the generator's lag).
  */
final class Generator(val n: Int, rate: Double, val startNs: Long) extends Thread("perfbench-generator") {
  val queue = new ConcurrentLinkedQueue[Integer]()
  val due: Array[Long] = Array.tabulate(n)(i => startNs + (i * 1e9 / rate).toLong)
  val enq: Array[Long] = new Array[Long](n)
  setDaemon(true)
  override def run(): Unit = {
    var i = 0
    while (i < n) {
      var now = Clock.now()
      while (now < due(i)) { LockSupport.parkNanos(due(i) - now); now = Clock.now() }
      enq(i) = now
      queue.add(i)
      i += 1
    }
  }
}

object Generator {
  /** A queue already holding events `0 until n`: a burst. */
  def queued(n: Int): ConcurrentLinkedQueue[Integer] = {
    val q = new ConcurrentLinkedQueue[Integer]()
    (0 until n).foreach(i => q.add(i))
    q
  }
}

/** Per-event timestamps (ns on [[Clock]]) and outcomes, plus the
  * supplier that drains the generator's queue into them.
  */
final class Events(val stream: EventStream, queue: ConcurrentLinkedQueue[Integer], maxBatch: Int) {
  val n: Int = stream.n
  val pickup, procStart, procEnd, fin = Array.fill(n)(-1L)
  val status: Array[Int] = Array.fill(n)(-1)
  val batch: Array[Int] = Array.fill(n)(-1)
  val digest: Array[String] = new Array[String](n)
  val finalized = new AtomicInteger(0)
  val duplicates = new AtomicInteger(0)
  val supplierCalls, emptyPolls = new AtomicLong(0)

  /** The benchmark's supplier: drains up to `maxBatch` queued events. */
  def supply(): Seq[Int] = {
    supplierCalls.incrementAndGet()
    val b = Vector.newBuilder[Int]
    var k = 0
    var next = queue.poll()
    while (next != null) {
      b += next.intValue; k += 1
      next = if (k < maxBatch) queue.poll() else null
    }
    val got = b.result()
    if (got.isEmpty) emptyPolls.incrementAndGet()
    else { val t = Clock.now(); got.foreach(pickup(_) = t) }
    got
  }

  def finish(i: Int, t: Long, st: Int, b: Int): Unit =
    if (fin(i) >= 0) duplicates.incrementAndGet()
    else { fin(i) = t; status(i) = st; batch(i) = b; finalized.incrementAndGet() }

  def awaitAll(): Unit = awaitCount(n)

  /** Waits (at most 30 s) until `k` events have been finalized. */
  def awaitCount(k: Int): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while (finalized.get() < k && System.nanoTime() < deadline) LockSupport.parkNanos(50000L)
  }

  /** Events lost or finalized twice. */
  def failures: Int = n - finalized.get() + duplicates.get()

  def write(out: Out, gen: Generator, trace: Boolean): Unit = {
    out.longs("due", gen.due.toSeq)
    out.longs("fin", fin.toSeq)
    out.raw("status", Json.arr(status.toSeq.map(_.toString)))
    out.raw("batch", Json.arr(batch.toSeq.map(_.toString)))
    out.raw("text_of", Json.arr(stream.textOf.toSeq.map(_.toString)))
    out.raw("texts", Json.arr(stream.texts.map(Json.str)))
    out.num("duplicates", duplicates.get().toDouble)
    out.num("supplier_calls", supplierCalls.get().toDouble)
    out.num("empty_polls", emptyPolls.get().toDouble)
    if (digest.exists(_ != null))
      out.raw("digest", Json.arr(digest.toSeq.map(d => if (d == null) "null" else Json.str(d))))
    if (trace) {
      out.longs("enq", gen.enq.toSeq)
      out.longs("pickup", pickup.toSeq)
      out.longs("proc_start", procStart.toSeq)
      out.longs("proc_end", procEnd.toSeq)
    }
  }
}

/** The two ingest workloads: the same seeded event stream through the
  * thread facade (`pipeline_facade`) or through SupplierSource →
  * exactDedupIngest under MicroBatch (`stream_dedup`). Each measures
  * its path's capacity (a queued burst drained as fast as the path
  * goes) and, at a fixed offered rate below it, each event's latency
  * from its due time to the moment the finalizer sees it.
  */
object Ingest {
  /** Offered load, as a share of each path's capacity: light, so event
    * latency shows the path's own per-event and per-batch overheads
    * rather than queueing.
    */
  val LoadShare = 0.1
  /** Burst drain rates (events/s) measured with this benchmark on a
    * 4-vCPU VM, rounded down (perfbench/README.md, "Offered load").
    */
  val FacadeCapacity = 220000.0
  val StreamCapacity = 12000.0
  val FacadeRate: Double = LoadShare * FacadeCapacity
  val StreamRate: Double = LoadShare * StreamCapacity
  /** Share of events repeating an earlier event's text. */
  val DupShare = 0.3
  val FacadeWarmupSeconds = 2.0 // events before the timed window: checked, not timed
  val StreamWarmupSeconds = 3.0
  /** Per-poll caps. At the offered rates a poll finds fewer events than
    * this (about 25 per facade sweep, 1200 per 1 s trigger), so the cap
    * binds only in bursts, where it sets the batch and trigger size.
    */
  val FacadeBatch = 64
  val StreamBatch = 5000
  val FacadeWorkers = 4       // maxConcurrentBatches
  val FacadeBackoff: FiniteDuration = 1.millis // replaces the 1 s empty-poll default
  /** Facade set-ups: fresh pipelines timed from construction to the
    * first finalized event.
    */
  val FacadeSetups = 31
  val FacadeBurst = 50000     // events per facade burst
  val FacadeBursts = 5        // timed bursts, after one untimed
  val StreamBurst: Int = 4 * StreamBatch // four back-to-back triggers
  val StreamBursts = 5        // timed bursts, after StreamWarmBursts untimed
  val StreamWarmBursts = 3
  /** Stream set-ups: the first pays JVM and Spark start-up, and the
    * next few still warm up, so the median needs five.
    */
  val StreamSetups = 5
  val StreamPeriod: FiniteDuration = 1.second // ProcessingTime period: MicroBatch's default

  /** Status codes shared with run.py. */
  val New = 0
  val DupInIncrement = 1
  val DupOfIndex = 2
  val Dup = 3

  /** A started facade whose processor md5-digests and exact-dedups each
    * event (in-JVM work only) and whose finalizer marks events finalized.
    * Each batch logs `[size, pickup, proc_start, proc_end, fin_start,
    * fin_end, in_flight]` when traced.
    */
  final class Facade(ev: Events, trace: Boolean) {
    private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private val inFlight = new AtomicInteger(0)
    private val batchNo = new AtomicInteger(0)
    val maxInFlight = new AtomicInteger(0)
    val batches = new ConcurrentLinkedQueue[String]()

    val pipeline: Pipeline[Int] = Pipeline[Int](FacadeWorkers, () => Try(ev.supply()), (_, batch) => Try {
      val s = Clock.now()
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      batch.foreach { i =>
        ev.procStart(i) = s
        val d = Digest.md5(ev.stream.text(i))
        ev.digest(i) = d
        ev.status(i) = if (seen.add(d)) New else Dup
      }
      val e = Clock.now()
      batch.foreach(ev.procEnd(_) = e)
      batch
    }).withNoBatchSleep(FacadeBackoff).withFinalizer { (res, _) =>
      val f = Clock.now()
      val b = batchNo.getAndIncrement()
      res.foreach(_.foreach(i => ev.finish(i, f, ev.status(i), b)))
      if (trace) res.foreach { batch =>
        batches.add(Json.arr(Seq(batch.length.toLong, ev.pickup(batch.head), ev.procStart(batch.head),
          ev.procEnd(batch.head), f, Clock.now(), inFlight.get().toLong).map(_.toString)))
      }
      inFlight.decrementAndGet()
    }
  }

  /** A fresh facade over a queued burst of `n` events, timed from its
    * construction until `k` of them are finalized; returns that time
    * and the events lost or finalized twice once all `n` are through.
    */
  private def drain(seed: Long, n: Int, k: Int): (Long, Int) = {
    val ev = new Events(new EventStream(seed, n, DupShare), Generator.queued(n), FacadeBatch)
    val t = Clock.now()
    val f = new Facade(ev, false)
    f.pipeline.start()
    ev.awaitCount(k)
    val took = ev.fin.filter(_ >= 0).sorted.lift(k - 1).getOrElse(Clock.now()) - t
    ev.awaitAll()
    f.pipeline.stop()
    (took, ev.failures)
  }

  def facade(cfg: Config, out: Out): Unit = {
    // set-up: a fresh pipeline takes a queued event to its finalizer
    val setups = (1 to FacadeSetups).map(k => drain(cfg.seed + 1000 + k, 1, 1))
    out.longs("setup_ns", setups.map(_._1))
    // capacity: a fresh pipeline drains a queued burst
    val bursts = (0 to FacadeBursts).map(k => drain(cfg.seed + 2000 + k, FacadeBurst, FacadeBurst))
    out.longs("burst_ns", bursts.tail.map(_._1))
    out.num("burst_events", FacadeBurst)
    out.num("burst_failed", (setups ++ bursts).map(_._2).sum.toDouble)
    out.num("burst_attempted", (setups.length + bursts.length * FacadeBurst).toDouble)

    out.num("rate", FacadeRate)
    val gen = new Generator(((FacadeWarmupSeconds + cfg.seconds) * FacadeRate).toInt, FacadeRate,
      Clock.now() + 1000000L)
    val ev = new Events(new EventStream(cfg.seed, gen.n, DupShare), gen.queue, FacadeBatch)
    val f = new Facade(ev, cfg.trace)
    val s = Clock.now()
    f.pipeline.start()
    out.num("start_call_ns", (Clock.now() - s).toDouble)
    window(cfg, out, gen, ev, FacadeWarmupSeconds)
    val t = Clock.now()
    f.pipeline.stop()
    out.num("stop_call_ns", (Clock.now() - t).toDouble)
    out.num("in_flight_max", f.maxInFlight.get().toDouble)
    ev.write(out, gen, cfg.trace)
    if (cfg.trace) out.raw("batches", Json.arr(f.batches.toArray.map(_.toString)))
  }

  /** Starts the generator, sleeps through warm-up and the timed window,
    * records the backlog at its end, then lets every event finish.
    */
  private def window(cfg: Config, out: Out, gen: Generator, ev: Events, warmupSeconds: Double): Unit = {
    out.num("first_op_ns", gen.startNs.toDouble)
    gen.start()
    val ws = gen.startNs + (warmupSeconds * 1e9).toLong
    val we = ws + cfg.secondsNs
    out.longs("window", Seq(ws, we))
    while (Clock.now() < we) Thread.sleep(1)
    out.num("backlog_end", gen.queue.size.toDouble)
    gen.join()
    ev.awaitAll()
  }

  /** Streams started in this JVM; numbers their supplier ids and checkpoints. */
  private var streams = 0

  /** SupplierSource → exactDedupIngest under MicroBatch. The processor
    * runs the micro-batch (collects its statuses); the finalizer marks
    * each doc id as arrived.
    */
  private def startStream(cfg: Config, ev: Events, spans: Spans, parent: Long,
                          finalizeNs: ConcurrentLinkedQueue[java.lang.Long],
                          period: FiniteDuration): StreamingQuery = {
    val spark = SparkSession.getDefaultSession.get
    import spark.implicits._
    streams += 1
    val id = s"perfbench-$streams"
    spans.timed("SupplierRegistry.register", parent)(_ =>
      SupplierRegistry.register(id, () => Try(ev.supply().map(i => s"$i\t${ev.stream.text(i)}"))))
    val docs = spark.readStream.format("graft.sources.SupplierSource").option("supplierId", id).load()
      .select(substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        expr("substring(value, instr(value, '\t') + 1)").as("text"))
    val statuses = spans.timed("StreamingDedup.exactDedupIngest", parent)(_ =>
      StreamingDedup.exactDedupIngest(docs, "doc_id", "text"))
    val rows = new AtomicReference[Array[(Long, String)]](Array.empty)
    val batchNo = new AtomicInteger(0)
    val ckpt = java.nio.file.Paths.get(cfg.scratch, s"checkpoint-$id")
    if (java.nio.file.Files.exists(ckpt)) {
      val stale = java.nio.file.Files.walk(ckpt)
      try stale.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally stale.close()
    }
    spans.timed("MicroBatch.start", parent)(_ => MicroBatch.start(
      statuses.toDF(),
      processor = (_, df) => Try {
        val s = Clock.now()
        val got = df.as[(Long, String)].collect()
        val e = Clock.now()
        got.foreach { case (i, _) => ev.procStart(i.toInt) = s; ev.procEnd(i.toInt) = e }
        rows.set(got)
        df
      },
      finalizer = (res, _) => {
        val f = Clock.now()
        val b = batchNo.getAndIncrement()
        if (res.isDefined) rows.get.foreach { case (i, st) =>
          ev.finish(i.toInt, f, st match {
            case "new" => New
            case "dup_in_increment" => DupInIncrement
            case _ => DupOfIndex
          }, b)
        }
        finalizeNs.add(Clock.now() - f)
      },
      pollInterval = period,
      checkpoint = Some(ckpt.toAbsolutePath.toString)))
  }

  def stream(cfg: Config, out: Out): Unit = {
    // set-up: a fresh session and query taking one event to its finalizer
    var setupFailed = 0
    val spark = Session.setups(cfg, out, StreamSetups) { _ =>
      val ev = new Events(new EventStream(cfg.seed + 1000 + streams, 1, DupShare), Generator.queued(1), StreamBatch)
      val q = startStream(cfg, ev, new Spans(false), -1, new ConcurrentLinkedQueue(), StreamPeriod)
      ev.awaitAll()
      q.stop()
      setupFailed += ev.failures
    }
    streamBursts(cfg, out, setupFailed)
    out.num("rate", StreamRate)
    val spans = new Spans(cfg.trace)
    val probes = if (cfg.trace) Some(new Probes(spark)) else None
    val finalizeNs = new ConcurrentLinkedQueue[java.lang.Long]()
    val root = spans.nextId()
    val t = Clock.now()
    val gen = new Generator(((StreamWarmupSeconds + cfg.seconds) * StreamRate).toInt, StreamRate,
      Clock.now() + 1000000000L)
    val ev = new Events(new EventStream(cfg.seed, gen.n, DupShare), gen.queue, StreamBatch)
    val query = startStream(cfg, ev, spans, root, finalizeNs, StreamPeriod)
    window(cfg, out, gen, ev, StreamWarmupSeconds)
    val s = Clock.now()
    query.stop()
    out.num("stop_call_ns", (Clock.now() - s).toDouble)
    spans.add(root, -1, "workload", t, Clock.now())
    ev.write(out, gen, cfg.trace)
    out.longs("finalize_ns", finalizeNs.toArray.map(_.asInstanceOf[java.lang.Long].longValue).toSeq)
    probes.foreach(_.write(out))
    if (cfg.trace) out.raw("spans", spans.render)
  }

  /** Capacity: a query whose triggers run back to back (period 0) drains
    * queued bursts of `StreamBurst` events, `StreamBatch` per trigger;
    * each burst is timed from its enqueue to its last finalized event.
    * The first bursts warm the query up (JIT, codegen), untimed.
    */
  private def streamBursts(cfg: Config, out: Out, setupFailed: Int): Unit = {
    val queue = new ConcurrentLinkedQueue[Integer]()
    val n = (StreamWarmBursts + StreamBursts) * StreamBurst
    val ev = new Events(new EventStream(cfg.seed + 2000, n, DupShare), queue, StreamBatch)
    val query = startStream(cfg, ev, new Spans(false), -1, new ConcurrentLinkedQueue(), Duration.Zero)
    var queued = 0
    def burst(k: Int): Long = {
      val t = Clock.now()
      (queued until queued + k).foreach(i => queue.add(i))
      queued += k
      ev.awaitCount(queued)
      ev.fin.slice(queued - k, queued).max - t
    }
    (1 to StreamWarmBursts).foreach(_ => burst(StreamBurst))
    out.longs("burst_ns", (1 to StreamBursts).map(_ => burst(StreamBurst)))
    query.stop()
    out.num("burst_events", StreamBurst)
    out.num("burst_failed", (setupFailed + ev.failures).toDouble)
    out.num("burst_attempted", (StreamSetups + n).toDouble)
  }
}
