package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Port of the reference's `StatisticsExactOptimizer`
  * (fusequery/query/src/optimizers/optimizer_statistics_exact.rs:29-89):
  * a bare `SELECT count(...)` over a source with exact statistics is answered
  * from metadata instead of scanning.
  *
  * Spark restatement: an unfiltered, ungrouped `count(1)` over a parquet
  * relation is rewritten to a `LocalRelation` holding the row count summed
  * from the parquet FOOTERS — O(#files) metadata reads instead of a
  * cluster-wide scan job. (Spark's vectorized reader already skips column
  * materialization for count(*), but still schedules a task per split; at
  * 100 TB that is thousands of tasks for an answer the footers contain.)
  *
  * Conservative match: exactly one aggregate = count(constant), no GROUP BY,
  * no DISTINCT, no filter anywhere between the aggregate and the scan, no
  * partition pruning in play. Injected as an optimizer rule by
  * [[graft.GraftExtensions]].
  */
object CountFromStats extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(Nil, Seq(alias @ Alias(ae: AggregateExpression, _)), child, _) =>
      (ae.aggregateFunction, ae.filter, ae.isDistinct) match {
        case (Count(Seq(Literal(_, _))), None, false) =>
          unwrapScan(child) match {
            case Some(files) =>
              footerRowCount(files) match {
                case Some(n) =>
                  LocalRelation(Seq(alias.toAttribute),
                    Seq(InternalRow(n)))
                case None => agg
              }
            case None => agg
          }
        case _ => agg
      }
  }

  /** The child must be a bare parquet scan — any Filter/Join/etc. means the
    * footer count is wrong, so only alias/projection wrappers are unwrapped. */
  private def unwrapScan(plan: LogicalPlan): Option[Seq[String]] = plan match {
    case SubqueryAlias(_, c) => unwrapScan(c)
    case Project(projectList, c) if projectList.forall(_.deterministic) => unwrapScan(c)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
        Some(fs.location.inputFiles.toSeq)
      case _ => None
    }
    case _ => None
  }

  /** Sum of row counts from the parquet footers; None on any read problem
    * (fall back to the scan — never fail the query for an optimization). */
  private def footerRowCount(files: Seq[String]): Option[Long] = try {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    var total = 0L
    files.foreach { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try total += reader.getRecordCount
      finally reader.close()
    }
    Some(total)
  } catch { case _: Throwable => None }
}
