package graft.plans

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{InputAdapter, ShuffledRowRDD, SortExec, SparkPlan, SparkStrategy, UnaryExecNode, UnsafeRowSerializer, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}

/** The final merge of a root ORDER BY, on the driver — the Spark form of
  * the reference's sort cascade (fusequery/query/src/pipelines/processors/
  * pipeline_builder.rs:220-261): each stream is sorted, then the sorted
  * streams merge N→1 at the single consumer.
  *
  * `child` is a per-partition `SortExec`. [[executeCollect]] collects its
  * partitions in one job — each one a sorted run — and merges the runs with
  * a stable sort (TimSort merges k sorted runs in O(n log k)), then applies
  * the projection. Spark's global sort would add a range-sampling job and a
  * range shuffle (under AQE, a stage job too) for rows that end on the
  * driver anyway. `executeToIterator` (a wire server's `toLocalIterator`)
  * and `executeTake` hand over the same merged array.
  *
  * [[doExecute]] serves consumers that are not the driver (`.rdd`,
  * `cache()`, `localCheckpoint()`): it range-partitions the sort's input
  * into as many partitions as that input has and sorts each one, as Spark's
  * global sort does, so rows stay on the executors and read back in order,
  * partition by partition. */
case class DriverMergeExec(
    order: Seq[SortOrder],
    projectList: Option[Seq[NamedExpression]],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    projectList.map(_.map(_.toAttribute)).getOrElse(child.output)
  override protected def withNewChildInternal(newChild: SparkPlan): DriverMergeExec =
    copy(child = newChild)

  private lazy val writeMetrics =
    SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics =
    SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics = readMetrics ++ writeMetrics

  override def executeCollect(): Array[InternalRow] = executeQuery {
    // executeCollect (not execute().collect()): whole-stage codegen reuses
    // its output row buffer, so a raw RDD collect would alias the rows
    val runs = child.executeCollect()
    java.util.Arrays.sort(runs, new LazilyGeneratedOrdering(order, child.output))
    projectList.fold(runs) { plist =>
      val proj = UnsafeProjection.create(plist, child.output)
      runs.map(r => proj(r).copy(): InternalRow)
    }
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)
  override def executeToIterator(): Iterator[InternalRow] = executeCollect().iterator

  /** The plan feeding the per-partition sort. Whole-stage codegen may have
    * fused the sort with that plan, which then runs as a stage of its own;
    * `RemoveRedundantSorts` drops the sort when the input is already sorted
    * within each partition. */
  private def sortInput: SparkPlan = child match {
    case s: SortExec => s.child
    case w @ WholeStageCodegenExec(s: SortExec) => s.child match {
      case InputAdapter(in) => in
      case in => WholeStageCodegenExec(in)(w.codegenStageId)
    }
    case in => in
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val input = sortInput
    val rows = input.execute()
    val dep = ShuffleExchangeExec.prepareShuffleDependency(rows, input.output,
      RangePartitioning(order, rows.getNumPartitions),
      new UnsafeRowSerializer(input.output.size), writeMetrics)
    val sort = SortExec(order, global = true, input)
    val sorted = new ShuffledRowRDD(dep, readMetrics).mapPartitions { it =>
      sort.createSorter().sort(it.asInstanceOf[Iterator[UnsafeRow]])
    }
    projectList.fold(sorted) { plist =>
      val attrs = input.output
      sorted.mapPartitions(it => it.map(UnsafeProjection.create(plist, attrs)))
    }
  }
}

/** Planner strategy: a root ORDER BY (`ReturnAnswer(Sort)`, or a
  * deterministic projection over it) → [[DriverMergeExec]] over a
  * per-partition sort. It applies when every sort key is deterministic, the
  * input is not streaming, and the input's size estimate is within
  * `spark.driver.maxResultSize` (the bound Spark puts on every `collect()`;
  * 0 means unlimited). Anything else falls through to Spark's range sort.
  * Injected by [[graft.GraftExtensions]]. */
object RootSortStrategy extends SparkStrategy {

  private def eligible(order: Seq[SortOrder], child: LogicalPlan): Boolean = {
    lazy val maxResult =
      SparkEnv.get.conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    order.forall(_.deterministic) && !child.isStreaming &&
      (maxResult <= 0 || child.stats.sizeInBytes <= maxResult)
  }

  private def merge(order: Seq[SortOrder], plist: Option[Seq[NamedExpression]],
      child: LogicalPlan): SparkPlan =
    DriverMergeExec(order, plist, SortExec(order, global = false, planLater(child)))

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Sort(order, true, child, _)) if eligible(order, child) =>
      merge(order, None, child) :: Nil
    case ReturnAnswer(Project(plist, Sort(order, true, child, _)))
        if plist.forall(_.deterministic) && eligible(order, child) =>
      merge(order, Some(plist), child) :: Nil
    case _ => Nil
  }
}
