package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Runs one benchmark workload in this JVM and writes its raw
  * measurements as one JSON file; `perfbench/run.py` turns that file
  * into metrics and checks the outputs.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <sf dir> --scratch <dir> --out <file> --cores <n>`.
  */
object Main {

  /** Hard wall-clock cap for one run: the launcher kills at 175 s. */
  private val LimitSeconds = 170L

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(
      workload = opt("workload"),
      seed = opt("seed").toLong,
      seconds = opt("seconds").toDouble,
      trace = opt("trace") == "1",
      data = opt("data"),
      scratch = opt("scratch"),
      cores = opt("cores").toInt)
    val watchdog = new Thread("perfbench-watchdog") {
      override def run(): Unit = {
        Thread.sleep(LimitSeconds * 1000)
        System.err.println(s"perfbench: run exceeded $LimitSeconds s, aborting")
        Runtime.getRuntime.halt(3)
      }
    }
    watchdog.setDaemon(true)
    watchdog.start()

    val out = new Out
    out.num("t0_epoch_ms", Clock.t0EpochMs.toDouble)
    cfg.workload match {
      case "queries_light"   => Queries.run(cfg, Queries.Light, out)
      case "queries_heavy"   => Queries.run(cfg, Queries.Heavy, out)
      case "pipeline_facade" => Ingest.facade(cfg, out)
      case "stream_dedup"    => Ingest.stream(cfg, out)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    Files.writeString(Paths.get(opt("out")), out.render)
    SparkSession.getDefaultSession.foreach(_.stop())
    System.exit(0)
  }
}

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, scratch: String, cores: Int) {
  def secondsNs: Long = (seconds * 1e9).toLong
}

/** One monotonic clock for the whole run: nanoseconds since `t0`.
  * Spark's listener events carry epoch milliseconds; `fromEpochMs`
  * maps them onto the same axis (calibrated at a millisecond tick, so
  * the mapping is off by well under a millisecond).
  */
object Clock {
  val (t0: Long, t0EpochMs: Long) = {
    val m = System.currentTimeMillis()
    var e = m
    while (e == m) e = System.currentTimeMillis()
    (System.nanoTime(), e)
  }
  def now(): Long = System.nanoTime() - t0
  def fromEpochMs(ms: Long): Long = (ms - t0EpochMs) * 1000000L
}

/** Ordered map of already-rendered JSON values: the raw result file. */
final class Out {
  private val fields = scala.collection.mutable.LinkedHashMap.empty[String, String]
  def raw(k: String, json: String): Unit = synchronized { fields(k) = json }
  def num(k: String, v: Double): Unit = raw(k, Json.num(v))
  def longs(k: String, xs: Iterable[Long]): Unit = raw(k, Json.arr(xs.map(_.toString)))
  def render: String = fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",\n", "}")
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** In-memory span store, written out once at the end of a traced run.
  * A span is `[id, parent, name, start_ns, end_ns]`; parent -1 is a root.
  * With tracing off every call is a no-op apart from running the body.
  */
final class Spans(enabled: Boolean) {
  private final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  def nextId(): Long = if (enabled) ids.incrementAndGet() else -1L

  def add(id: Long, parent: Long, name: String, start: Long, end: Long): Unit =
    if (enabled) spans.add(Span(id, parent, name, start, end))

  def timed[T](name: String, parent: Long)(body: Long => T): T = {
    val id = nextId()
    val s = Clock.now()
    try body(id) finally add(id, parent, name, s, Clock.now())
  }

  def render: String = {
    import scala.jdk.CollectionConverters._
    Json.arr(spans.asScala.toSeq.sortBy(_.id).map(s =>
      s"[${s.id},${s.parent},${Json.str(s.name)},${s.start},${s.end}]"))
  }
}
