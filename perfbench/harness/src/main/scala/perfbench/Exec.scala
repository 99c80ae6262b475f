package perfbench

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.sql.GraftSession

/** A booted engine: the Spark session, the dialect session on it, and the
  * tracer when the run is traced. */
final class Env(val spark: SparkSession, val graft: GraftSession, val work: String,
    val data: String, val tracer: Option[Tracer])

/** Runs statements in-process and records them. Untraced, an op is exactly
  * what a client does: `GraftSession.sql(text).collect()` (or a driver
  * entry's DataFrame, collected). Traced, the same calls are made one phase
  * at a time under spans, and each phase is timed from outside. */
object Exec extends AdaptiveSparkPlanHelper {

  private val opSeq = new AtomicInteger(0)

  /** Canonical text of one value: the form the oracle check compares. */
  def canon(v: Any): String = v match {
    case null => "null"
    case b: java.lang.Boolean => b.toString
    case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long) =>
      n.toString
    case d: java.lang.Double => canonDouble(d)
    case f: java.lang.Float => canonDouble(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case s: String => Json.str(s)
    case t: java.sql.Timestamp => Json.str(TsFormat.format(t.toLocalDateTime))
    case t: java.time.LocalDateTime => Json.str(TsFormat.format(t))
    case t: java.time.Instant =>
      Json.str(TsFormat.format(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => Json.str(d.toLocalDate.toString)
    case d: java.time.LocalDate => Json.str(d.toString)
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"[${canon(k)},${canon(x)}]" }.sorted.mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case other => Json.str(other.toString)
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) Json.str(d.toString) else d.toString

  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def rowsOf(df: DataFrame, rows: Array[Row]): (Seq[String], Seq[String]) =
    (df.schema.fieldNames.toSeq, rows.toSeq.map(canon))

  private def names(p: SparkPlan): Seq[String] =
    collectWithSubqueries(p) { case n => n.getClass.getSimpleName }

  private def hasScan(p: LogicalPlan): Boolean =
    p.collectFirst { case _: LogicalRelation => true }.isDefined

  /** Time Catalyst's own tracker gave phase `name` of `qe` (ms). */
  def phaseMs(qe: QueryExecution, name: String): Double =
    qe.tracker.phases.get(name).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)

  /** Which of the engine's plan-time shortcuts answered the statement (1/0):
    * its TopK operators, the RangeAgg kernel over `numbers(N)`, and
    * CountFromStats, seen as a file scan the optimizer replaced with a
    * local relation. Read from the executed plan by operator name. */
  def planFlags(qe: QueryExecution): Seq[(String, Double)] = {
    val plan = names(qe.executedPlan)
    def flag(b: Boolean) = if (b) 1.0 else 0.0
    Seq(
      "plans.topk_share" -> flag(plan.exists(_.contains("TopK"))),
      "plans.rangeagg_share" -> flag(plan.exists(_.startsWith("RangeAgg"))),
      "plans.countfromstats_share" -> flag(hasScan(qe.analyzed) &&
        !hasScan(qe.optimizedPlan) &&
        qe.optimizedPlan.collectFirst { case l: LocalRelation => l }.isDefined))
  }

  /** Run `build.collect()` as one op of pass `pass`, record it, and return
    * its rows on success. With `checkRows`, the rows must equal the first
    * result of the same statement text. */
  def inProcess(env: Env, rec: Recorder, stmt: Stmt, pass: Int, traced: Boolean,
      checkRows: Boolean = true)(build: => DataFrame): Option[Array[Row]] = {
    val op = opSeq.incrementAndGet()
    val start = Tracer.nowMs()
    var rows: Array[Row] = null
    val outcome: Either[String, Option[(Seq[String], Seq[String])]] = try {
      val df = env.tracer.filter(_ => traced) match {
        case None =>
          val df = build
          rows = df.collect()
          df
        case Some(t) => tracedOp(env, t, rec.layerOf(op, pass), op, build, r => rows = r)
      }
      Right(if (checkRows) Some(rowsOf(df, rows)) else None)
    } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ok = rec.record(stmt, stmt.text, pass, traced, start, start, Tracer.nowMs(), outcome)
    if (ok) Some(rows) else None
  }

  private def tracedOp(env: Env, t: Tracer,
      fig: scala.collection.mutable.Map[String, Double], op: Int,
      build: => DataFrame, done: Array[Row] => Unit): DataFrame = {
    val sc = env.spark.sparkContext
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val fd0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val fh0 = HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount
    sc.setLocalProperty(Tracer.OpProperty, op.toString)
    try t.span("op", op) {
      val t0 = Tracer.nowMs()
      val df = t.span("sql", op)(build)
      val qe = df.queryExecution
      val t1 = Tracer.nowMs()
      t.span("optimize", op)(qe.optimizedPlan)
      val t2 = Tracer.nowMs()
      t.span("plan", op)(qe.executedPlan)
      val t3 = Tracer.nowMs()
      val rows = t.span("collect", op)(df.collect())
      done(rows)
      val parse = phaseMs(qe, "parsing")
      val analysis = phaseMs(qe, "analysis")
      fig ++= planFlags(qe) ++ Seq(
        "sql.front_ms" -> math.max(0.0, (t1 - t0) - parse - analysis),
        "catalyst.parse_ms" -> parse,
        "catalyst.analysis_ms" -> analysis,
        "catalyst.optimize_ms" -> (t2 - t1),
        "catalyst.plan_ms" -> (t3 - t2),
        "result_rows" -> rows.length.toDouble,
        "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0).toDouble,
        "tables.files_discovered" ->
          (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - fd0).toDouble,
        "tables.file_cache_hits" ->
          (HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount - fh0).toDouble)
      df
    } finally sc.setLocalProperty(Tracer.OpProperty, null)
  }

  /** Open loop: statement `i` is due at `t0 + due(i)` and starts on the
    * first of `workers` slots that is free once it is due. Each slot runs
    * `exec(slot, i, dueMs)`, which records the op with its due time, so
    * latency counts queueing behind busy slots and lateness shows it.
    * With `workers` due times of 0 it starts that many users at once, each
    * running its own closed loop inside `exec`. */
  def openLoop(due: IndexedSeq[Double], workers: Int, t0: Double)(
      exec: (Int, Int, Double) => Unit): Unit = {
    val next = new AtomicInteger(0)
    val threads = (0 until workers).map { w =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < due.length) {
          val at = t0 + due(i)
          var wait = at - Tracer.nowMs()
          while (wait > 0) {
            LockSupport.parkNanos((wait * 1e6).toLong)
            wait = at - Tracer.nowMs()
          }
          exec(w, i, at)
          i = next.getAndIncrement()
        }
      })
      th.setName(s"perfbench-client-$w")
      th.start()
      th
    }
    threads.foreach(_.join())
  }
}

/** Just enough JSON writing for the run report. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
