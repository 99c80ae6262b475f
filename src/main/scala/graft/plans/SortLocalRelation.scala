package graft.plans

import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** A global ORDER BY over rows the driver already holds is answered on the
  * driver. The reference answers SHOW and `system.*` as SELECTs over
  * in-memory system tables (fusequery/query/src/sql/plan_parser.rs:107-127,
  * datasources/system/system_database.rs); here those tables, VALUES lists
  * and DESCRIBE results are `LocalRelation`s.
  *
  * Spark's `ConvertToLocalRelation` folds Project, Filter and Limit over a
  * `LocalRelation` but not Sort, so Spark plans a sort over a handful of
  * catalog rows as a range exchange: a sampling job, a map stage and a
  * result job. This rule sorts the relation's rows on the driver (a stable
  * sort, so ties keep their input order; an interpreted ordering, so no
  * code is generated per sort shape) and then re-applies
  * `ConvertToLocalRelation`, so the Project and Limit above the sort fold
  * too and the whole statement plans as a `LocalTableScanExec`, which
  * `collect()` answers without a job.
  *
  * It matches only deterministic orders with evaluable keys over a
  * non-streaming relation. Injected as an optimizer rule by
  * [[graft.GraftExtensions]].
  */
object SortLocalRelation extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    var fired = false
    val sorted = plan.transformUp {
      case Sort(order, true, lr: LocalRelation, _) if !lr.isStreaming &&
          order.forall(o => o.deterministic &&
            !ConvertToLocalRelation.hasUnevaluableExpr(o.child)) =>
        fired = true
        lr.copy(data = lr.data.sorted(new InterpretedOrdering(order, lr.output)))
    }
    if (fired) ConvertToLocalRelation(sorted) else plan
  }
}
