package graft.functions

import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, CollectLimitExec, FilterExec, GlobalLimitExec, InputAdapter, LocalLimitExec, LocalTableScanExec, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small final result in one task.
  *
  * `EnsureRequirements` puts a range-partition exchange under every global
  * sort, and adaptive execution runs that exchange as two Spark jobs: one
  * samples the input for range bounds, one shuffles it. For a result of a
  * few rows that is most of a statement's latency. This rule replaces such
  * an exchange with `CoalesceExec(1)` when an upper bound on its input's
  * size is at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the
  * partition size adaptive execution aims for when it coalesces shuffle
  * output. One partition satisfies the sort's ordered distribution, so the
  * sort stays global and the result is the same.
  *
  * Only a sort in the final stage changes: one whose output reaches the
  * plan root through operators that require no child distribution, and
  * only while the final stage's partitioning may change (the cache turns
  * that off for plans whose partitioning other plans rely on).
  *
  * The bound is rows × the columns' default sizes, and rows come only from
  * known facts: a materialized query stage's row count, a local table's
  * rows, carried through operators that never add rows and through
  * broadcast hash joins. Any other operator gives no bound, so a sort over
  * a file scan keeps its exchange.
  *
  * [[GraftExtensions]] installs it as a query-stage preparation rule: it
  * runs right after `EnsureRequirements` on the first adaptive plan and on
  * every re-plan, so a sort above a stage qualifies once the stage has run.
  * Without adaptive execution it never runs. */
object SmallSorts extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS)) plan
    else finalSort(plan, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  /** `plan` with the global sort its root reaches coalesced, if small. */
  private def finalSort(plan: SparkPlan, maxBytes: Long): SparkPlan = plan match {
    case s @ SortExec(_, true,
        ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
        if bytes(child).exists(_ <= maxBytes) =>
      s.copy(child = CoalesceExec(1, child))
    case _: ProjectExec | _: FilterExec | _: LocalLimitExec | _: GlobalLimitExec |
        _: CollectLimitExec =>
      plan.withNewChildren(Seq(finalSort(plan.children.head, maxBytes)))
    case _ => plan
  }

  /** An upper bound on the bytes `plan` returns. */
  private def bytes(plan: SparkPlan): Option[BigInt] =
    rows(plan).map(_ * plan.output.map(_.dataType.defaultSize).sum)

  /** An upper bound on the rows `plan` returns, or None if unknown. */
  private def rows(plan: SparkPlan): Option[BigInt] = plan match {
    case s: ShuffleQueryStageExec if s.isMaterialized => s.getRuntimeStatistics.rowCount
    case s: BroadcastQueryStageExec if s.isMaterialized => s.getRuntimeStatistics.rowCount
    case l: LocalTableScanExec => Some(l.rows.size)
    case _: ProjectExec | _: FilterExec | _: HashAggregateExec |
        _: ObjectHashAggregateExec | _: SortAggregateExec | _: AQEShuffleReadExec |
        _: WholeStageCodegenExec | _: InputAdapter =>
      rows(plan.children.head)
    case j: BroadcastHashJoinExec => j.joinType match {
      case LeftSemi | LeftAnti | _: ExistenceJoin => rows(j.left)
      // an outer join keeps the rows of one side when the other is empty
      case _ => for (l <- rows(j.left); r <- rows(j.right)) yield l.max(1) * r.max(1)
    }
    case _ => None
  }
}
