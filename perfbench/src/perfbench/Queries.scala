package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{GraftSession, SparkEntry}
import graft.ops.Relational

/** Builds the session every Spark workload runs on: the library's own
  * local posture, with scratch space kept inside the benchmark's
  * scratch directory.
  */
object Session {
  /** Set-ups per run; the first pays JVM class loading, the median does not. */
  val Setups = 3

  def fresh(cfg: Config): SparkSession = {
    SparkSession.getDefaultSession.foreach(_.stop())
    val spark = GraftSession.local(cfg.cores, "perfbench")
      .config("spark.local.dir", s"${cfg.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.scratch}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.quietBoundedWindowWarnings()
    spark
  }

  /** Median-of-`n` set-up: each set-up builds a fresh session and runs
    * `warm` on it; the session of the last set-up is returned.
    */
  def setups(cfg: Config, out: Out, n: Int = Setups)(warm: SparkSession => Unit): SparkSession = {
    val times = (1 to n).map { _ =>
      val t = Clock.now()
      warm(fresh(cfg))
      Clock.now() - t
    }
    out.longs("setup_ns", times)
    SparkSession.getDefaultSession.get
  }
}

/** Closed-loop query workloads: one client runs the mix pass after
  * pass, each query being the op call (construct) plus execution into
  * a `noop` sink (execute). Every pass uses a seeded shuffle of the mix.
  */
object Queries {
  val Light: Seq[String] = Seq("top_orders", "scalar_funcs", "argmax", "hof_battery",
    "merge_upsert", "events_sessionize", "session_window", "seasonality", "subqueries",
    "retention", "rolling_distinct", "purchase_gaps", "gumbel_return", "top_supplier",
    "cust_distribution", "revenue_growth", "market_share", "cramers_v", "mutual_info",
    "table_profile", "chunk_tokens", "quality_filter", "k_anonymity", "span_dedup",
    "dedup_exact", "record_linkage", "dedup_canonical", "skew_profile", "changepoint",
    "winsorize", "constraint_check", "cmh", "ips", "eb_shrinkage", "js_divergence",
    "token_budget", "source_dup_rate", "chi_square", "stratified_sample", "group_sample",
    "sax", "dow_seasonality", "pca", "knn_brute", "readability", "text_stats", "bm25",
    "media_catalog").map("q_" + _)

  val Heavy: Seq[String] = Seq("copurchase", "kcore", "hits", "pagerank", "spearman",
    "conformal", "similarity_join", "dedup_clusters", "fellegi_sunter", "abc_xyz").map("q_" + _)

  /** Timed passes run until `--seconds` have passed, and at least enough
    * for 20 query samples, so that the tail percentile (10 samples beyond
    * it) exists: one pass of the light mix, two of the heavy one.
    */
  def minPasses(names: Seq[String]): Int = math.ceil(20.0 / names.size).toInt

  /** The four memo owners, cleared between passes exactly as `graft.Bench`
    * does, so every pass pays the real work.
    */
  def clearMemos(): Unit = graft.PerfbenchMemos.clear()

  def run(cfg: Config, names: Seq[String], out: Out): Unit = {
    val spark = Session.setups(cfg, out) { s =>
      Relational.pricingSummary(s, cfg.data).write.format("noop").mode("overwrite").save()
      clearMemos()
    }
    val sc = spark.sparkContext
    val fns = names.map(n => n -> SparkEntry.queries(n))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // Untimed warm-up pass (codegen, JIT, footer caches) that is also the
    // output check: an order-insensitive digest of every query's result.
    out.raw("digests", Json.obj(fns.map { case (name, f) =>
      name -> (try Json.str(Digest.of(f(spark, cfg.data)))
               catch { case scala.util.control.NonFatal(e) => Json.str("error: " + e) })
    }))
    clearMemos()

    val spans = new Spans(cfg.trace)
    val probes = if (cfg.trace) Some(new Probes(spark)) else None
    val rng = new java.util.Random(cfg.seed)
    val samples = Seq.newBuilder[String]
    val passes = Seq.newBuilder[String]
    val workload = spans.nextId()
    val start = Clock.now()
    out.num("first_op_ns", start.toDouble)
    var pass = 0
    while (pass < minPasses(names) || Clock.now() - start < cfg.secondsNs) {
      clearMemos()
      val order = shuffled(fns, rng)
      val ps = Clock.now()
      spans.timed("pass", workload) { passId =>
        order.foreach { case (name, f) =>
          spans.timed(name, passId) { qid =>
            val t0 = Clock.now()
            var t1 = t0
            val err = try {
              val df = spans.timed("construct", qid) { id =>
                sc.setLocalProperty(SpanProperty.Key, id.toString)
                f(spark, cfg.data)
              }
              t1 = Clock.now()
              spans.timed("execute", qid) { id =>
                sc.setLocalProperty(SpanProperty.Key, id.toString)
                noop(df)
              }
              None
            } catch { case scala.util.control.NonFatal(e) => Some(e.toString) }
            finally sc.setLocalProperty(SpanProperty.Key, null)
            samples += Json.obj(Seq("pass" -> pass.toString, "name" -> Json.str(name),
              "span" -> qid.toString, "start" -> t0.toString, "constructed" -> t1.toString,
              "end" -> Clock.now().toString, "error" -> err.fold("null")(Json.str)))
          }
        }
      }
      passes += Json.arr(Seq(ps.toString, Clock.now().toString))
      pass += 1
    }
    spans.add(workload, -1, "workload", start, Clock.now())
    out.raw("queries", Json.arr(samples.result()))
    out.raw("passes", Json.arr(passes.result()))
    probes.foreach(_.write(out))
    if (cfg.trace) out.raw("spans", spans.render)
  }

  private def shuffled[T: scala.reflect.ClassTag](xs: Seq[T], rng: java.util.Random): Seq[T] = {
    val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** Order-insensitive result digest: md5 over the schema and the sorted
  * md5s of the rows. Floating-point values are written with 10
  * significant digits so last-bit noise from task order cannot flip it.
  */
object Digest {
  def md5(s: String): String =
    java.util.HexFormat.of().formatHex(MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))

  private def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.10g".format(d)
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => "0x" + java.util.HexFormat.of().formatHex(b)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def of(df: DataFrame): String = {
    val rows = df.collect().map(r => md5(canon(r))).sorted
    md5(df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",") +
      "\n" + rows.mkString("\n"))
  }
}
