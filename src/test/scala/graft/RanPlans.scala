package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Assertions._

/** The executed plans of every query execution a block runs — an op's
  * eager checkpoints, its guards and the action on its result — walked
  * by [[ExecutedPlan.nodesWithCaches]]. Plan contracts on a
  * materialized op read these: the explain of its result is only a
  * scan of its last checkpoint.
  *
  * Listener delivery is asynchronous but ordered, so the block is
  * framed by two marker queries: records before the first belong to
  * earlier work, and once the second has arrived every record of the
  * block has too.
  */
object RanPlans {
  private val Marker = "ran_plans_marker"

  def of(spark: SparkSession)(block: => Unit): Seq[SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val markers = new CountDownLatch(2)
    val listener = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == Marker)) markers.countDown()
        else if (markers.getCount == 1) seen.add(qe)
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
        if (markers.getCount == 1) seen.add(qe)
    }
    def marker(): Unit = spark.range(1).toDF(Marker).collect()
    spark.listenerManager.register(listener)
    try {
      marker()
      block
      marker()
      assert(markers.await(120, TimeUnit.SECONDS), "marker query never reached the listener")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.map(_.executedPlan)
  }

  /** Every operator the plans ran, cached frames included. */
  def nodes(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(ExecutedPlan.nodesWithCaches)

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
