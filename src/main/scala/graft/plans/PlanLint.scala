package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.{FilterExec, GlobalLimitExec, InputAdapter, LocalTableScanExec, ProjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}

/** Static plan linting: walk a physical plan and flag the shapes that
  * work at test scale and melt at 100 TB. The same checks the repo's
  * `PlanShapeSpec` pins for its own queries, packaged as an API so a
  * pipeline can gate ANY DataFrame before launching it on a cluster
  * (`require(PlanLint.lint(df).isEmpty, ...)` in CI, or log-and-proceed
  * in production).
  *
  * Findings, not verdicts: each hit names the operator and why it can
  * bite. A partition-less window below a limit is fine (top-k
  * postprocessing) and is NOT flagged; everything else that funnels
  * unbounded data through one task is.
  */
object PlanLint {

  final case class Finding(rule: String, node: String, why: String) {
    override def toString: String = s"[$rule] $node — $why"
  }

  /** Lint the ANALYZED (pre-AQE) physical plan of `df`. Runs no job. */
  def lint(df: DataFrame): Seq[Finding] = walk(df.queryExecution.sparkPlan)

  private def boundedBelow(p: SparkPlan): Boolean = p match {
    case _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
    case other => other.children.exists(boundedBelow)
  }

  /** Provably at most one row: a grouping-less final aggregate (one global
    * summary row), seen through row-preserving/reducing unaries only.
    * `GenerateExec` and joins are deliberately NOT passed through — they
    * can expand. Used to auto-pass the `crossJoin(broadcast(totals))`
    * shape: scanning a one-row broadcast per probe row is free at any
    * scale, unlike a genuine nested-loop build side.
    */
  private def provablySingleRow(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    // a literal <=1-row frame (the seed of an iterative one-row
    // carry, e.g. a Newton/GD beta frame) is as provable as a
    // groupless aggregate
    case l: LocalTableScanExec => l.rows.lengthCompare(1) <= 0
    case u @ (_: ProjectExec | _: FilterExec | _: SortExec | _: Exchange |
              _: WholeStageCodegenExec | _: InputAdapter) =>
      provablySingleRow(u.children.head)
    case q: QueryStageExec => provablySingleRow(q.plan)
    // a join of two <=1-row sides is <=1 row (the totals-x-totals shape)
    case j @ (_: BroadcastNestedLoopJoinExec | _: CartesianProductExec) =>
      j.children.forall(provablySingleRow)
    case _ => false
  }

  private def walk(p: SparkPlan): Seq[Finding] = {
    val self: Seq[Finding] = p match {
      case w: WindowExec if w.partitionSpec.isEmpty && !w.children.exists(boundedBelow) =>
        Seq(Finding("global-window", w.nodeName,
          "partition-less window funnels every row through ONE task; rank via " +
            "a bounded-heap aggregate or partition the window"))
      case c: CartesianProductExec =>
        Seq(Finding("cartesian", c.nodeName,
          "O(n×m) cross join with no key; add a join condition or broadcast+bucket"))
      case j: BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match {
          case BuildLeft  => j.left
          case BuildRight => j.right
        }
        if (provablySingleRow(build)) Nil
        else Seq(Finding("nested-loop-join", j.nodeName,
          "non-equi broadcast loop join scans the broadcast per row; bin the range " +
            "condition into an equi-join key (see RangeJoin) if the build side grows"))
      case s: ShuffleExchangeExec if s.outputPartitioning.numPartitions == 1 =>
        Seq(Finding("single-partition-exchange", s.nodeName,
          "exchange into ONE partition serializes the job; usually a repartition(1) " +
            "or global sort that should be a write option or TakeOrdered"))
      case _ => Nil
    }
    val sub = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case _ => Nil
    }
    self ++ sub ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
  }
}
