package graft

import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

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
    // -x: EXECUTE the query and census every plan it ran: its ops'
    // eager checkpoints and guards, the frames they cached (once each),
    // and the FINAL adaptive plan of its result (AQE re-plans join
    // strategies, reuses exchanges and inserts AQEShuffleReads at
    // runtime; the pre-execution plan cannot show which side was
    // actually built/broadcast or what got coalesced)
    val execute = args.contains("-x")
    val rest = args.filterNot(a => a == "-v" || a == "-x")
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (rest.length > 1) rest.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.fromEnv("graft-explain", logLevel = "ERROR")
    names.foreach { n =>
      def build() = SparkEntry.queries(n)(spark, dir).queryExecution
      if (execute) {
        ops.DatasetMemo.clearAll() // a memo hit would skip the op's work
        val plans = ExecutedPlan.ran(spark) {
          // execute THIS QueryExecution (a noop write would clone the
          // plan and leave this one's AQE state untouched), under an
          // execution id so the capture sees it
          val qe = build()
          SQLExecution.withNewExecutionId(qe, Some("explain"))(qe.executedPlan.execute().count())
        }
        println(s"$n: ${ExecutedPlan.census(plans: _*).summary}")
        if (verbose) plans.foreach(println)
      } else {
        val qe = build()
        println(s"$n: ${ExecutedPlan.census(qe.executedPlan).summary}")
        if (verbose) println(qe.explainString(ExplainMode.fromString("formatted")))
      }
    }
    spark.stop()
  }
}
