// Steady-state trigger breakdown of the stream ingest: SupplierSource ->
// exactDedupIngest under MicroBatch.start, triggers back to back.
//
// Queues (20 + triggers) * defaultParallelism supplier batches of 5000
// "<doc_id>\t<text>" rows (texts of 8-40 words over a 64-word vocabulary,
// ~30% repeats; the supplier hands out one batch per call), enough for
// every trigger to take a full sweep (a build that takes fewer batches
// per trigger runs more triggers over the same rows), skips the first
// 20 non-empty triggers, and prints for the rest:
//   - the p50 of each StreamingQueryProgress durationMs key, of the state
//     operator's commitTimeMs and allUpdatesTimeMs, rows per trigger and
//     rows per second of trigger time
//   - per stage position in a trigger (0: the map stage reading the
//     batches, 1: the stateful result stage): p50 wall time and summed
//     task run and deserialize time
//   - a wall-clock split of the stream execution thread: its stack is
//     sampled every 1 ms and each sample is charged to the innermost
//     marker frame (job wait, closure cleaning, query planning, broadcast,
//     input-partition planning) or to "other"
//
// Build the library (bash perfbench/build.sh <classes> <spark-jars>), then
//   java -cp "<spark-jars>/*" scala.tools.nsc.Main -d <out> \
//     -classpath "<classes>:<spark-jars>/*" tools/TriggerBreakdown.scala
//   java <the --add-opens list of perfbench/run.py> -Xmx4g \
//     -cp "<out>:<classes>:<spark-jars>/*" TriggerBreakdown \
//     <checkpoint-dir> [triggers=40]
// The checkpoint directory must not exist yet.

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.{col, expr, substring_index}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.GraftSession
import graft.sources.SupplierRegistry
import graft.streaming.{MicroBatch, StreamingDedup}

object TriggerBreakdown {
  val BatchRows = 5000
  val Warm = 20
  val SampleMs = 1

  /** Marker frames, matched on "class.method"; a sample goes to the
    * innermost frame that matches one.
    */
  val Markers: Seq[(String, String)] = Seq(
    "job wait" -> "DAGScheduler.runJob",
    "ClosureCleaner" -> "ClosureCleaner",
    "queryPlanning" -> "IncrementalExecution",
    "TorrentBroadcast" -> "TorrentBroadcast",
    "planInputPartitions" -> "planInputPartitions")

  def p50(xs: Seq[Long]): Long = if (xs.isEmpty) -1L else xs.sorted.apply(xs.size / 2)

  /** Seeded batches, as perfbench's EventStream draws its texts. */
  def batches(n: Int): ConcurrentLinkedQueue[Seq[String]] = {
    val vocab = for {
      a <- Seq("data", "batch", "stream", "query", "table", "spark", "window", "vector")
      b <- Seq("", "s", "ed", "ing", "er", "ly", "al", "ish")
    } yield a + b
    val rng = new java.util.Random(7)
    val texts = mutable.ArrayBuffer.empty[String]
    val q = new ConcurrentLinkedQueue[Seq[String]]()
    var doc = 0L
    (0 until n).foreach { _ =>
      q.add((0 until BatchRows).map { _ =>
        val text =
          if (texts.nonEmpty && rng.nextDouble() < 0.3) texts(rng.nextInt(texts.size))
          else { texts += Seq.fill(8 + rng.nextInt(33))(vocab(rng.nextInt(64))).mkString(" "); texts.last }
        doc += 1
        s"$doc\t$text"
      })
    }
    q
  }

  /** Charges stack samples of the thread named `prefix...` to markers
    * while `on` is set.
    */
  final class Sampler(prefix: String) extends Thread("trigger-breakdown-sampler") {
    @volatile var on = false
    @volatile var done = false
    val counts = new ConcurrentHashMap[String, Long]()
    setDaemon(true)
    override def run(): Unit = {
      var target: Option[Thread] = None
      while (!done) {
        if (target.forall(!_.isAlive))
          target = Thread.getAllStackTraces.keySet.asScala.find(_.getName.startsWith(prefix))
        if (on) target.foreach { t =>
          val stack = t.getStackTrace
          if (stack.nonEmpty) {
            val frames = stack.toSeq.map(f => s"${f.getClassName}.${f.getMethodName}")
            // unmarked samples go to their innermost Spark or graft frame
            val name = frames.flatMap(f => Markers.find(m => f.contains(m._2)).map(_._1)).headOption
              .getOrElse("other: " + frames.find(f => f.startsWith("org.apache.spark") || f.startsWith("graft"))
                .getOrElse(frames.head))
            counts.merge(name, 1L, _ + _)
          }
        }
        LockSupport.parkNanos(SampleMs * 1000000L)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val ckpt = args(0)
    val triggers = args.lift(1).fold(40)(_.toInt)
    val spark = GraftSession.local(4, "trigger-breakdown").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val slots = spark.sparkContext.defaultParallelism
    val queue = batches((Warm + triggers) * slots)
    val rows = queue.asScala.map(_.size.toLong).sum
    SupplierRegistry.register("breakdown", () => Success(Option(queue.poll()).getOrElse(Seq.empty)))

    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val delivered = new AtomicInteger(0)
    val sampler = new Sampler("stream execution thread for graft-micro-batch")
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) {
          progress.add(e.progress)
          if (delivered.incrementAndGet() == Warm) sampler.on = true
        }
    })
    // stage id -> micro-batch; (micro-batch, stage id) -> (wall, run, deserialize) ms
    val batchOf = new ConcurrentHashMap[Int, Long]()
    val stages = new ConcurrentHashMap[(Long, Int), (Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => e.stageIds.foreach(batchOf.put(_, b.toLong)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        Option(batchOf.get(i.stageId)).foreach { b =>
          val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(-1L)
          stages.put((b, i.stageId), (wall, i.taskMetrics.executorRunTime, i.taskMetrics.executorDeserializeTime))
        }
      }
    })

    val docs = spark.readStream.format("graft.sources.SupplierSource").option("supplierId", "breakdown").load()
      .select(substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        expr("substring(value, instr(value, '\t') + 1)").as("text"))
    sampler.start()
    val query = MicroBatch.start(StreamingDedup.exactDedupIngest(docs, "doc_id", "text").toDF(),
      processor = (_, df) => Try { df.collect(); df },
      pollInterval = 0.seconds,
      checkpoint = Some(ckpt))
    val deadline = System.nanoTime() + 600L * 1000000000L
    while (progress.asScala.map(_.numInputRows).sum < rows && System.nanoTime() < deadline) Thread.sleep(50)
    sampler.done = true
    query.stop()

    val measured = progress.asScala.toSeq.sortBy(_.batchId).drop(Warm)
    val keys = measured.flatMap(_.durationMs.keySet.asScala).distinct.sorted
    println(s"triggers ${measured.size} (after $Warm warm), slots $slots")
    println(f"rows per trigger mean ${measured.map(_.numInputRows).sum.toDouble / measured.size.max(1)}%.0f, " +
      f"rows/s of trigger time ${measured.map(_.numInputRows).sum * 1000.0 /
        measured.map(_.durationMs.get("triggerExecution").longValue).sum.max(1L)}%.0f")
    keys.foreach(k => println(s"  durationMs.$k p50 ${p50(measured.flatMap(p => Option(p.durationMs.get(k)).map(_.longValue)))}"))
    val ops = measured.flatMap(_.stateOperators.headOption)
    println(s"  state commitTimeMs p50 ${p50(ops.map(_.commitTimeMs))}, allUpdatesTimeMs p50 ${p50(ops.map(_.allUpdatesTimeMs))}")
    val ids = measured.map(_.batchId).toSet
    val byBatch = stages.asScala.toSeq.filter(s => ids(s._1._1)).groupBy(_._1._1).values
      .map(_.sortBy(_._1._2).map(_._2))
    (0 until byBatch.map(_.size).maxOption.getOrElse(0)).foreach { pos =>
      val at = byBatch.flatMap(_.lift(pos)).toSeq
      println(s"  stage $pos p50: wall ${p50(at.map(_._1))} ms, task run ${p50(at.map(_._2))} ms, " +
        s"task deserialize ${p50(at.map(_._3))} ms")
    }
    val samples = sampler.counts.asScala.toSeq
    val total = samples.map(_._2).sum.max(1L)
    val (other, marked) = samples.partition(_._1.startsWith("other: "))
    println(s"stream execution thread, $total samples every $SampleMs ms:")
    (marked :+ ("other" -> other.map(_._2).sum)).sortBy(-_._2).foreach { case (k, n) =>
      println(f"  $k%-20s ${100.0 * n / total}%5.1f%%")
    }
    other.sortBy(-_._2).take(8).foreach { case (k, n) => println(f"    ${100.0 * n / total}%5.1f%% $k") }
    spark.stop()
  }
}
