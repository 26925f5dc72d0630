package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit main: prints a one-line operator census (and with `-v`
  * the full formatted plan) for each named query — or all of them.
  * Usage: `runMain graft.Explain [sfDir] [queryName ...] [-v] [-x]`.
  * This is the iterate-on-the-plan feedback loop: after a query goes
  * oracle-green, its plan gets audited here before it counts as done.
  * The census is [[ExecutedPlan.census]] in both modes, so each
  * operator counts once.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val verbose = args.contains("-v")
    // -x: EXECUTE the query first and census/print the FINAL adaptive
    // plan (AQE re-plans join strategies, reuses exchanges and inserts
    // AQEShuffleReads at runtime; the pre-execution plan cannot show
    // which side was actually built/broadcast or what got coalesced)
    val execute = args.contains("-x")
    val rest = args.filterNot(a => a == "-v" || a == "-x")
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (rest.length > 1) rest.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.fromEnv("graft-explain", logLevel = "ERROR")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val ep = df.queryExecution.executedPlan
      // execute THIS QueryExecution (a noop write would clone the
      // plan and leave this one's AQE state untouched)
      if (execute) ep.execute().count()
      println(s"$n: ${ExecutedPlan.census(ep).summary}")
      if (verbose)
        println(if (execute) ep.toString
          else df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
