package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit main: prints a one-line shuffle/join summary (and with
  * `-v` the full formatted plan) for each named query — or all of them.
  * Usage: `runMain graft.Explain [sfDir] [queryName ...] [-v]`.
  * This is the iterate-on-the-plan feedback loop: after a query goes
  * oracle-green, its plan gets audited here before it counts as done.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val verbose = args.contains("-v")
    // -x: EXECUTE the query through the noop sink first and print the
    // FINAL adaptive plan (AQE re-plans join strategies and inserts
    // AQEShuffleReads at runtime; the pre-execution plan cannot show
    // which side was actually built/broadcast or what got coalesced)
    val execute = args.contains("-x")
    val rest = args.filterNot(a => a == "-v" || a == "-x")
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (rest.length > 1) rest.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.fromEnv("graft-explain", logLevel = "ERROR")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val plan =
        if (execute) {
          // execute THIS QueryExecution (a noop write would clone the
          // plan and leave this one's AQE state untouched)
          val ep = df.queryExecution.executedPlan
          ep.execute().count()
          ep.toString
        } else df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val nEx = "Exchange".r.findAllIn(plan).size
      val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
        .r.findAllIn(plan).toSeq.groupBy(identity).map { case (k, v) => s"$k×${v.size}" }
      val scans = "Scan parquet".r.findAllIn(plan).size
      println(s"$n: exchanges=$nEx scans=$scans joins=${joins.mkString(",")}")
      if (verbose) println(plan)
    }
    spark.stop()
  }
}
