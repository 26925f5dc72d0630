package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Local property naming the benchmark span a Spark job belongs to. */
object SpanProperty { val Key = "perfbench.span" }

/** One Spark job with its stages' task-metric totals. */
final class JobRec(val id: Int, val start: Long, val span: Long, val batch: Long) {
  @volatile var end: Long = -1L
  val m: Array[Long] = new Array[Long](JobRec.Metrics.length)
  def json: String = Json.obj(Seq(
    "id" -> id.toString, "start" -> start.toString, "end" -> end.toString,
    "span" -> span.toString, "batch" -> batch.toString) ++
    JobRec.Metrics.zip(m).map { case (k, v) => k -> v.toString })
}

object JobRec {
  /** Task-metric totals kept per job; times in ns, sizes in bytes. */
  val Metrics: Seq[String] = Seq("stages", "tasks", "run_ns", "cpu_ns", "gc_ns", "deser_ns",
    "shuffle_write_bytes", "shuffle_write_ns", "shuffle_read_bytes", "fetch_wait_ns",
    "spill_bytes", "input_bytes", "input_records")
}

/** SparkListener: job intervals (attributed through [[SpanProperty]] or
  * the `streaming.sql.batchId` property) and per-stage task metrics.
  */
final class SparkProbe extends SparkListener {
  private val open = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val done = new ConcurrentLinkedQueue[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val rec = new JobRec(e.jobId, Clock.fromEpochMs(e.time),
      prop(SpanProperty.Key).map(_.toLong).getOrElse(-1L),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L))
    e.stageIds.foreach(stageJob.put(_, rec))
    open.put(e.jobId, rec)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { r =>
      val t = e.stageInfo.taskMetrics
      val ms = 1000000L
      val add = Seq(1L, e.stageInfo.numTasks.toLong) ++ (if (t == null) Seq.fill(11)(0L) else Seq(
        t.executorRunTime * ms, t.executorCpuTime, t.jvmGCTime * ms,
        t.executorDeserializeTime * ms,
        t.shuffleWriteMetrics.bytesWritten, t.shuffleWriteMetrics.writeTime,
        t.shuffleReadMetrics.totalBytesRead, t.shuffleReadMetrics.fetchWaitTime * ms,
        t.memoryBytesSpilled + t.diskBytesSpilled,
        t.inputMetrics.bytesRead, t.inputMetrics.recordsRead))
      r.m.synchronized { add.indices.foreach(i => r.m(i) += add(i)) }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { r =>
      r.end = Clock.fromEpochMs(e.time)
      done.add(r)
    }

  /** Listener delivery is asynchronous: wait until every started job
    * has been seen to end (bounded), then give trailing events a beat.
    */
  def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (!open.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(300)
  }

  def json: String = Json.arr(done.asScala.toSeq.sortBy(_.id).map(_.json))
}

/** Executed-plan census of one query execution, built by walking the
  * plan tree: the AQE current (final) plan, query stages, subqueries,
  * and reused exchanges/subqueries counted where they are reused. The
  * initial AQE plan is never visited, so nothing is counted twice.
  */
final class Census {
  var fileScans, shuffles, broadcasts, reusedExchanges, subqueries, reusedSubqueries = 0L
  var scanTimeNs, scanRows = 0L

  def walk(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec        => walk(s.plan)
      case c: CommandResultExec     => walk(c.commandPhysicalPlan)
      case _: ReusedExchangeExec    => reusedExchanges += 1
      case f: FileSourceScanExec =>
        fileScans += 1
        f.metrics.get("scanTime").foreach(m => scanTimeNs += m.value * 1000000L)
        f.metrics.get("numOutputRows").foreach(m => scanRows += m.value)
      case _: ShuffleExchangeExec   => shuffles += 1
      case _: BroadcastExchangeExec => broadcasts += 1
      case _ =>
    }
    p.children.foreach(walk)
    p.subqueries.foreach {
      case _: ReusedSubqueryExec => reusedSubqueries += 1
      case s => subqueries += 1; walk(s)
    }
  }

  def json: String = Json.obj(Seq(
    "file_scans" -> fileScans, "shuffle_exchanges" -> shuffles,
    "broadcast_exchanges" -> broadcasts, "reused_exchanges" -> reusedExchanges,
    "subqueries" -> subqueries, "reused_subqueries" -> reusedSubqueries,
    "scan_time_ns" -> scanTimeNs, "scan_rows" -> scanRows).map { case (k, v) => k -> v.toString })
}

/** QueryExecutionListener: planning phases from `qe.tracker` and the
  * executed-plan census of every query execution that ran.
  */
final class QeProbe extends QueryExecutionListener {
  private val recs = new ConcurrentLinkedQueue[String]()

  private def record(func: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.sortBy(_._1).map { case (n, ph) =>
      n -> Json.arr(Seq(Clock.fromEpochMs(ph.startTimeMs), Clock.fromEpochMs(ph.endTimeMs)).map(_.toString))
    }
    val census = new Census
    try census.walk(qe.executedPlan)
    catch { case scala.util.control.NonFatal(_) => () }
    recs.add(Json.obj(Seq("func" -> Json.str(func), "phases" -> Json.obj(phases),
      "census" -> census.json)))
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(func, qe)

  def json: String = Json.arr(recs.asScala)
}

/** StreamingQueryListener: one record per trigger (micro-batch). */
final class StreamProbe extends StreamingQueryListener {
  private val recs = new ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val durations = p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }
    val state = p.stateOperators.headOption
    recs.add(Json.obj(Seq(
      "batch" -> p.batchId.toString, "start" -> start.toString,
      "duration_ms" -> p.batchDuration.toString, "rows" -> p.numInputRows.toString,
      "durations_ms" -> Json.obj(durations),
      "state_rows" -> state.map(_.numRowsTotal).getOrElse(0L).toString,
      "state_memory_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L).toString,
      "state_commit_ms" -> state.map(_.commitTimeMs).getOrElse(0L).toString)))
  }
  def json: String = Json.arr(recs.asScala)
}

/** The three probes, registered on a session with public APIs only. */
final class Probes(spark: SparkSession) {
  val jobs = new SparkProbe
  val qes = new QeProbe
  val streams = new StreamProbe
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(qes)
  spark.streams.addListener(streams)

  def write(out: Out): Unit = {
    jobs.awaitQuiet()
    out.raw("jobs", jobs.json)
    out.raw("qes", qes.json)
    out.raw("triggers", streams.json)
  }
}
