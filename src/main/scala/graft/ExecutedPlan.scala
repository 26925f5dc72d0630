package graft

import org.apache.spark.sql.execution.{BaseSubqueryExec, CommandResultExec, FileSourceScanExec, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** The one walker over an EXECUTED physical plan: the plan a query
  * ran, not the one it started from.
  *
  * Under AQE it visits the final plan and its query stages, never the
  * initial plan (which `AdaptiveSparkPlanExec.toString` also prints, so
  * a regex over that string counts every operator twice). Subquery
  * plans are entered; a reused exchange or subquery is visited as the
  * reuse node only, since its plan ran where it was first built.
  */
private[graft] object ExecutedPlan {

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

  /** [[nodes]] plus the plans of the cached frames `p` reads. A frame
    * persisted inside an op is computed by the first query that reads
    * it, so a contract on what an op runs must see its plan; a census
    * leaves it out, since it runs once however many queries read it.
    */
  def nodesWithCaches(p: SparkPlan): Iterator[SparkPlan] = nodes(p).flatMap {
    case m: InMemoryTableScanExec =>
      Iterator.single(m) ++ nodesWithCaches(m.relation.cachedPlan)
    case n => Iterator.single(n)
  }

  /** Operator counts of one executed plan; `joins` by physical join
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

  def census(p: SparkPlan): Census = {
    val ns = nodes(p).toSeq
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
