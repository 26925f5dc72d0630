package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.Assertions._

/** Plan contracts on what a block ran. A materialized op's plans are
  * read through [[ExecutedPlan.ran]] (its eager checkpoints, its guards
  * and the action on its result) and walked by
  * [[ExecutedPlan.nodesWithCaches]]: the explain of its result is only
  * a scan of its last checkpoint.
  */
object RanPlans {
  def of(spark: SparkSession)(block: => Unit): Seq[SparkPlan] =
    ExecutedPlan.ran(spark)(block)

  /** Every operator the plans ran, each cached frame's plan once. */
  def nodes(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    ExecutedPlan.nodesWithCaches(plans)

  def names(plans: Seq[SparkPlan]): Seq[String] = nodes(plans).map(_.nodeName)

  /** The approximate-join contract: the plans ran a join, and every
    * join they ran is keyed — no cartesian product, no nested loop.
    */
  def assertEquiJoinsOnly(what: String, plans: Seq[SparkPlan]): Unit = {
    val ran = names(plans)
    def dump = plans.map(_.treeString).mkString("\n")
    assert(ran.exists(_.endsWith("Join")), s"$what ran no join:\n$dump")
    assert(!ran.contains("CartesianProduct"), s"$what: cartesian product:\n$dump")
    assert(!ran.contains("BroadcastNestedLoopJoin"), s"$what: nested loop join:\n$dump")
  }
}
