package perfbench

import scala.collection.mutable

/** Turns a run's records into its figures: the end-to-end metrics (what a
  * user of the engine sees), the per-layer metrics of a traced run, and
  * run-level extras. */
final case class Report(w: Workload, rec: Recorder, env: Env, traced: Boolean,
    counters: Counters) {
  import Report._

  private val measured = rec.samples.toSeq.filter(s => !w.warmup || s.pass > 0)
  private val primary = measured.filter(s => w.primary.isEmpty || w.primary(s.kind))
  private def lat(xs: Seq[Sample]) = xs.map(_.latencyMs)

  /** Walls of the measured passes (s). An open loop has no passes of its
    * own: there a pass is a block of consecutive arrivals, and its figure is
    * the latency its statements summed, what the block cost its users. */
  def passWalls: Seq[Double] =
    if (rec.passes.nonEmpty)
      rec.passes.toSeq.filter { case (p, _, _) => !w.warmup || p > 0 }.map(_._3 / 1000)
    else
      primary.sortBy(_.dueMs).grouped(Statements.wireBlockKinds.length)
        .filter(_.length == Statements.wireBlockKinds.length)
        .map(b => b.map(_.latencyMs).sum / 1000).toSeq

  val endToEnd: Seq[(String, Double)] = {
    val window = (primary.map(_.endMs).max - primary.map(_.dueMs).min) / 1000
    Seq(
      "stmt_p50_ms" -> Stats.median(lat(primary)),
      "stmt_tail_ms" -> Stats.percentile(lat(primary), w.tail),
      "stmt_per_s" -> primary.length / window,
      "pass_s" -> Stats.median(passWalls))
  }

  val extra: Seq[(String, Double)] = rec.extra.toSeq ++ Seq(
    "stmt_tail_pct" -> w.tail,
    "stmt_samples" -> primary.length.toDouble,
    "passes" -> passWalls.length.toDouble,
    "run.error_share" -> rec.failed.toDouble / math.max(1, rec.attempted),
    "loadgen.late_ms" -> Stats.median(measured.map(_.lateMs)),
    "loadgen.repeat_share" -> measured.count(_.repeat).toDouble / math.max(1, measured.length)) ++
    measured.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) => s"p50_ms.$k" -> Stats.median(lat(ss)) }

  val perLayer: Seq[(String, Double)] = env.tracer.filter(_ => traced) match {
    case None => Nil
    case Some(t) =>
      t.drain()
      t.addJobSpans()
      val figs = if (rec.opLayers.nonEmpty) inProcessLayers(t) else wireLayers(t)
      val overhead = {
        val after = primary.filter(_.pass > 0)
        val (on, off) = after.partition(_.traced)
        if (on.isEmpty || off.isEmpty) 0.0 else Stats.median(lat(on)) - Stats.median(lat(off))
      }
      val known = (figs ++ extra).toMap + ("trace.overhead_ms" -> overhead)
      PerLayerNames.map(n => n -> known.getOrElse(n, 0.0))
  }

  /** Per statement, averaged over traced statements: counts over the first
    * traced pass (a pure function of the seed, so they repeat exactly),
    * times over every traced pass. */
  private def inProcessLayers(t: Tracer): Seq[(String, Double)] = {
    val opSpan = t.allSpans.filter(_.name == "op").map(s => s.op -> s).toMap
    val rows = rec.opLayers.toSeq.map { case (op, (pass, fig)) =>
      val wk = t.work(op)
      val wall = opSpan.get(op).map(s => (s.startMs, s.endMs))
      val jobsInOp = wall.map { case (a, b) =>
        wk.jobSpans.toSeq.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
          .filter { case (s, e) => e > s }
      }.getOrElse(Nil)
      val all = mutable.LinkedHashMap[String, Double]() ++ fig ++ Seq(
        "sched.jobs" -> wk.jobs.toDouble, "sched.stages" -> wk.stages.toDouble,
        "sched.tasks" -> wk.tasks.toDouble, "sched.attempts" -> wk.attempts.toDouble,
        "sched.job_busy_ms" -> Tracer.covered(wk.jobSpans.toSeq),
        "sched.driver_gap_ms" -> wall.map { case (a, b) => b - a - Tracer.covered(jobsInOp) }
          .getOrElse(0.0),
        "sched.task_wait_ms" -> wk.taskWaitMs) ++ workFigures(wk)
      (pass, all)
    }
    val first = rows.map(_._1).min
    def mean(xs: Seq[mutable.Map[String, Double]], n: String) =
      xs.map(_.getOrElse(n, 0.0)).sum / math.max(1, xs.length)
    val firstPass = rows.filter(_._1 == first).map(_._2)
    val every = rows.map(_._2)
    val names = every.flatMap(_.keys).distinct
    names.map(n => n -> mean(if (CountNames(n)) firstPass else every, n)) ++ Seq(
      "sched.attempts_per_task" ->
        every.map(_("sched.attempts")).sum / math.max(1.0, every.map(_("sched.tasks")).sum),
      "exec.records_per_result_row" -> firstPass.map(_("exec.input_records")).sum /
        math.max(1.0, firstPass.map(_.getOrElse("result_rows", 0.0)).sum))
  }

  /** The wire server's statements run on its threads, so the wire run
    * reports run totals divided by the statements issued while tracing. */
  private def wireLayers(t: Tracer): Seq[(String, Double)] = {
    val n = math.max(1, measured.count(_.traced)).toDouble
    val all = math.max(1, measured.length).toDouble
    val wk = t.runWork
    def phase(p: String) = Option(t.phaseTotals.get(p)).map(_.doubleValue).getOrElse(0.0)
    val busy = Tracer.covered(wk.jobSpans.toSeq)
    val service = measured.filter(_.traced).map(s => s.endMs - s.startMs).sum
    Seq(
      "catalyst.parse_ms" -> phase("parsing") / n,
      "catalyst.analysis_ms" -> phase("analysis") / n,
      "catalyst.optimize_ms" -> phase("optimization") / n,
      "catalyst.plan_ms" -> phase("planning") / n,
      "plans.topk_share" -> phase("plans.topk_share") / n,
      "plans.rangeagg_share" -> phase("plans.rangeagg_share") / n,
      "plans.countfromstats_share" -> phase("plans.countfromstats_share") / n,
      "codegen.compiles" -> counters.compiles / all,
      "tables.files_discovered" -> counters.filesDiscovered / all,
      "tables.file_cache_hits" -> counters.fileCacheHits / all,
      "sched.jobs" -> wk.jobs / n, "sched.stages" -> wk.stages / n,
      "sched.tasks" -> wk.tasks / n,
      "sched.attempts_per_task" -> wk.attempts / math.max(1.0, wk.tasks.toDouble),
      "sched.job_busy_ms" -> busy / n,
      "sched.driver_gap_ms" -> math.max(0.0, service - busy) / n,
      "sched.task_wait_ms" -> wk.taskWaitMs / n,
      "exec.records_per_result_row" -> wk.inputRecords / math.max(1.0, rec.extra.getOrElse("wire.rows", 1.0))
    ) ++ workFigures(wk).map { case (k, v) => k -> v / n }
  }

  private def workFigures(wk: Work): Seq[(String, Double)] = Seq(
    "exec.run_ms" -> wk.runMs, "exec.cpu_ms" -> wk.cpuMs, "exec.gc_ms" -> wk.gcMs,
    "exec.input_records" -> wk.inputRecords.toDouble,
    "exec.input_bytes" -> wk.inputBytes.toDouble,
    "exec.shuffle_write_bytes" -> wk.shuffleWriteBytes.toDouble,
    "exec.shuffle_records" -> wk.shuffleRecords.toDouble,
    "exec.shuffle_fetch_wait_ms" -> wk.fetchWaitMs,
    "exec.spill_bytes" -> wk.spillBytes.toDouble,
    "tables.bytes_written" -> wk.outputBytes.toDouble)

  /** Mean self time per traced statement of each span name (ms). */
  def selfMs(spans: Seq[Span]): Seq[(String, Double)] = {
    val self = Tracer.selfTimes(spans)
    val ops = math.max(1, measured.count(_.traced))
    spans.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (name, ss) => name -> ss.map(s => self(s.id)).sum / ops }
  }
}

object Report {
  /** Counters that are a function of the statements alone. */
  val CountNames: Set[String] = Set("sched.jobs", "sched.stages", "sched.tasks",
    "exec.input_records", "exec.input_bytes", "exec.shuffle_write_bytes",
    "exec.shuffle_records", "exec.spill_bytes", "codegen.compiles",
    "tables.files_discovered", "tables.file_cache_hits", "tables.files_written",
    "tables.bytes_written")

  /** Every per-layer metric, in the order BENCHMARK.json lists them. A
    * layer a workload does not reach reports 0. */
  val PerLayerNames: Seq[String] = Seq(
    "sql.front_ms",
    "catalyst.parse_ms", "catalyst.analysis_ms", "catalyst.optimize_ms", "catalyst.plan_ms",
    "codegen.compiles",
    "plans.topk_share", "plans.rangeagg_share", "plans.countfromstats_share",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.job_busy_ms", "sched.driver_gap_ms",
    "sched.task_wait_ms", "sched.attempts_per_task",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.input_records", "exec.input_bytes",
    "exec.shuffle_write_bytes", "exec.shuffle_records", "exec.shuffle_fetch_wait_ms",
    "exec.spill_bytes", "exec.records_per_result_row",
    "tables.files_discovered", "tables.file_cache_hits", "tables.files_written",
    "tables.bytes_written",
    "server.connect_ms", "server.first_row_ms", "server.stream_ms", "server.wire_bytes_per_row",
    "loadgen.late_ms", "loadgen.repeat_share",
    "ingest.insert_rows_per_s", "ingest.insert_p50_ms", "ingest.insert_tail_ms",
    "ingest.stored_bytes_per_row",
    "run.error_share", "trace.overhead_ms")
}
