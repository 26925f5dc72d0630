package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{BaseSubqueryExec, CommandResultExec, FileSourceScanExec, QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The one walker over an EXECUTED physical plan: the plan a query
  * ran, not the one it started from.
  *
  * Under AQE it visits the final plan and its query stages, never the
  * initial plan (which `AdaptiveSparkPlanExec.toString` also prints, so
  * a regex over that string counts every operator twice). Subquery
  * plans are entered; a reused exchange or subquery is visited as the
  * reuse node only, since its plan ran where it was first built.
  *
  * Known blind spot: AQE's empty-relation propagation replaces a join
  * whose input ran empty by an empty relation, so the final plan no
  * longer holds a join that did run. A census misses that join, and a
  * plan pin on it passes vacuously unless its inputs are non-empty (as
  * PlanSpec's planted duplicates make them).
  */
private[graft] object ExecutedPlan {
  private val Marker = "executed_plan_marker"

  /** The executed plan of every query execution `block` runs — an
    * op's eager checkpoints, its guards and the action on its result.
    * Listener delivery is asynchronous but ordered, so the block is
    * framed by two marker queries: records before the first belong to
    * earlier work, and once the second has arrived every record of the
    * block has too.
    */
  def ran(spark: SparkSession)(block: => Unit): Seq[SparkPlan] = {
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
      if (!markers.await(120, TimeUnit.SECONDS))
        throw new IllegalStateException("marker query never reached the listener")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.map(_.executedPlan)
  }

  /** Every operator of `p` that ran, parents before children. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec        => nodes(s.plan)
    case c: CommandResultExec     => nodes(c.commandPhysicalPlan)
    case _ =>
      Iterator.single(p) ++ p.children.iterator.flatMap(nodes) ++
        p.subqueries.iterator.flatMap {
          case r: ReusedSubqueryExec => Iterator.single(r)
          case s                     => nodes(s)
        }
  }

  /** [[nodes]] of `plans` plus the plans of the cached frames they
    * read. A frame persisted inside an op is computed once, by the
    * first query that reads it, so its plan is entered once however
    * many of the plans read it (keyed by its cache builder, which every
    * copy of one cached relation shares).
    */
  def nodesWithCaches(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
    val entered = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def walk(p: SparkPlan): Iterator[SparkPlan] = nodes(p).flatMap {
      case m: InMemoryTableScanExec if entered.add(m.relation.cacheBuilder) =>
        Iterator.single(m) ++ walk(m.relation.cachedPlan)
      case n => Iterator.single(n)
    }
    plans.flatMap(walk)
  }

  /** Operator counts of executed plans; `joins` by physical join
    * operator name (`SortMergeJoin`, `BroadcastHashJoin`, …).
    */
  final case class Census(fileScans: Int, shuffles: Int, broadcasts: Int,
                          reusedExchanges: Int, subqueries: Int,
                          joins: Map[String, Int]) {
    def summary: String =
      s"shuffles=$shuffles broadcasts=$broadcasts reused=$reusedExchanges " +
        s"scans=$fileScans subqueries=$subqueries " +
        s"joins=${joins.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString(",")}"
  }

  /** Counts over [[nodesWithCaches]]: what the plans ran, each cached
    * frame's plan once.
    */
  def census(plans: SparkPlan*): Census = {
    val ns = nodesWithCaches(plans)
    def n(f: PartialFunction[SparkPlan, Unit]) = ns.count(f.isDefinedAt)
    Census(
      fileScans = n { case _: FileSourceScanExec => },
      shuffles = n { case _: ShuffleExchangeExec => },
      broadcasts = n { case _: BroadcastExchangeExec => },
      reusedExchanges = n { case _: ReusedExchangeExec => },
      subqueries = n { case s: BaseSubqueryExec if !s.isInstanceOf[ReusedSubqueryExec] => },
      joins = ns.collect { case j: BaseJoinExec => j.nodeName }
        .groupBy(identity).map { case (k, v) => k -> v.size })
  }
}
