package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job profiler for one named query: runs it warmup+N times against
  * a data dir and prints every Spark JOB's wall time, task count and
  * first-stage name — the direct view of where an iterative
  * (many-job-barrier) query spends its time that `Bench`'s one number
  * per query cannot give (guide §1: measure first; §7.1 without a UI).
  * Usage: `run_main.sh graft.Profile <sfDir> <queryName> [iters]`.
  * Builds its session like Bench. Diagnostic only — not part of
  * the driver contract.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val iters = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.fromEnv("graft-profile")

    case class Job(id: Int, desc: String, ms: Long, nTasks: Int, nStages: Int,
                   names: Seq[String])
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Int)]() // jobId -> (stages, tasks)
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, List[String]]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(e.jobId, (e.time, d, e.stageIds.length))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val j = stageJob.getOrDefault(e.stageInfo.stageId, -1)
        if (j >= 0) {
          stages.merge(j, (1, e.stageInfo.numTasks),
            (a, b) => (a._1 + b._1, a._2 + b._2))
          val ms = e.stageInfo.completionTime.getOrElse(0L) -
            e.stageInfo.submissionTime.getOrElse(0L)
          // task-metric totals for the stage: where the wall time goes
          // (cpu vs gc vs shuffle io vs scheduler/deser overhead)
          val tm = e.stageInfo.taskMetrics
          val det = if (tm == null) "" else {
            val parts = Seq(
              "run" -> (tm.executorRunTime),
              "cpu" -> (tm.executorCpuTime / 1000000),
              "gc" -> tm.jvmGCTime,
              "deser" -> tm.executorDeserializeTime,
              "swT" -> (tm.shuffleWriteMetrics.writeTime / 1000000),
              "swB" -> (tm.shuffleWriteMetrics.bytesWritten / 1024),
              "srB" -> ((tm.shuffleReadMetrics.localBytesRead +
                tm.shuffleReadMetrics.remoteBytesRead) / 1024),
              "fetch" -> tm.shuffleReadMetrics.fetchWaitTime
            ).collect { case (k, v) if v > 0 => s"$k=${v}" }
            if (parts.isEmpty) "" else parts.mkString("[", " ", "]")
          }
          // operator identity: the stage's RDD operation scopes name the
          // physical operators (WholeStageCodegen(n) / Exchange / ...)
          // where the AQE callsite is always the same opaque lambda
          val ops = e.stageInfo.rddInfos.sortBy(_.id)
            .flatMap(_.scope).map(_.name).distinct.mkString(">")
          stageNames.merge(j,
            List(s"${ops.take(90)}(${ms}ms)$det"),
            (a, b) => a ++ b)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(e.jobId)).foreach { case (t0, d, _) =>
          val (cs, ct) = stages.getOrDefault(e.jobId, (0, 0))
          done.add(Job(e.jobId, d, e.time - t0, ct, cs,
            stageNames.getOrDefault(e.jobId, Nil)))
        }
      }
    })

    val fn = SparkEntry.queries(name)
    for (round <- 0 to iters) {
      Bench.clearMemos()
      done.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e6
      // listener events are async; a short drain keeps the per-round
      // table complete without reaching into private SparkContext API
      Thread.sleep(300)
      val js = done.toArray(Array.empty[Job]).sortBy(_.id)
      val tag = if (round == 0) "warmup" else s"round $round"
      println(f"== $name $tag: wall ${wall}%.0f ms, ${js.length} jobs, " +
        f"job-sum ${js.map(_.ms).sum} ms ==")
      js.foreach { j =>
        println(f"  job ${j.id}%3d ${j.ms}%6d ms  stages=${j.nStages}%2d tasks=${j.nTasks}%4d  ${j.desc.take(40)} ${j.names.mkString(" | ")}")
      }
    }
    spark.stop()
  }
}
