package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sql.GraftSession

/** Harness entry point.
  *
  * {{{
  * perfbench.Main gen <dataDir>
  * perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *                    --data <dataDir> --work <scratchDir> --out <report.json>
  *                    [--spawn-ms <epoch ms the process was launched>]
  * }}}
  *
  * `run` sets up three times — once cold, from process launch to the first
  * statement, and twice more in the warm process after the measurement —
  * and reports all three; the runner takes the median as `setup_s`. */
object Main {

  def boot(work: String, traced: Boolean): SparkSession = {
    val b = graft.SparkBoot.builder("perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    val spark = (if (traced) b.config("spark.sql.queryExecutionListeners",
      classOf[PhaseListener].getName) else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Boot the engine and the workload: everything before its first
    * statement. */
  def setup(w: Workload, data: String, work: String, traced: Boolean): (Env, AnyRef) = {
    val spark = boot(work, traced)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    Tracer.current = tracer
    val env = new Env(spark, GraftSession.cached(spark), work, data, tracer)
    w.tables.foreach { t =>
      spark.sql(s"CREATE TABLE IF NOT EXISTS $t USING parquet " +
        s"LOCATION '$data/${w.sf}/$t.parquet'")
    }
    (env, w.prepare(env))
  }

  def teardown(w: Workload, env: Env, state: AnyRef): Unit = {
    w.release(state)
    env.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: dir :: Nil =>
      val spark = boot(s"$dir/_gen", traced = false)
      DataGen.write(spark, s"$dir/sf0.01", 0.01)
      DataGen.write(spark, s"$dir/sf0.1", 0.1)
      spark.stop()
    case "run" :: rest =>
      val opts = rest.grouped(2).collect { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap
      run(Workloads.byName(opts("workload")), opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", opts("data"), opts("work"), opts("out"),
        opts.get("spawn-ms").map(_.toDouble))
      System.exit(0)
    case _ =>
      System.err.println("usage: perfbench.Main gen <dir> | run --workload W --seed N " +
        "--seconds S --trace 0|1 --data D --work W --out F [--spawn-ms T]")
      System.exit(2)
  }

  def run(w: Workload, seed: Long, seconds: Double, traced: Boolean, data: String,
      work: String, out: String, spawnMs: Option[Double]): Unit = {
    val launched = spawnMs.getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val setups = mutable.ArrayBuffer[Double]()
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(Tracer.nowMs() - launched) / 1000}%.2f s: $what")
    mark("jvm up")
    val (env, state) = setup(w, data, work, traced)
    setups += (Tracer.nowMs() - launched) / 1000
    mark("set up")
    val rec = new Recorder
    val counters0 = Counters.read()
    w.run(env, state, seed, seconds, rec)
    val counters = Counters.read().minus(counters0)
    mark("measured")
    val heapMb = liveHeapMb()
    val report = Report(w, rec, env, traced, counters)
    val spans = env.tracer.map(_.allSpans).getOrElse(Nil)
    mark("reported")
    teardown(w, env, state)
    mark("stopped")
    (1 to 2).foreach { _ =>
      val t0 = Tracer.nowMs()
      val (e, s) = setup(w, data, work, traced = false)
      setups += (Tracer.nowMs() - t0) / 1000
      teardown(w, e, s)
    }
    mark("set up twice more")
    if (traced) writeSpans(s"$out.spans.jsonl", spans)
    val json = Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "errors" -> Json.arr(rec.errors.toSeq.map(Json.str)),
      "setup_s" -> Json.arr(setups.toSeq.map(Json.num)),
      "heap_live_mb" -> Json.num(heapMb),
      "pass_s" -> Json.arr(report.passWalls.map(Json.num)),
      "end_to_end" -> Json.obj(report.endToEnd.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(report.perLayer.map { case (k, v) => k -> Json.num(v) }),
      "extra" -> Json.obj(report.extra.map { case (k, v) => k -> Json.num(v) }),
      "self_ms" -> Json.obj(report.selfMs(spans).map { case (k, v) => k -> Json.num(v) }),
      "checks" -> Json.arr(rec.checks.values.filter(_.oracle.isDefined).toSeq.map { c =>
        Json.obj(Seq(
          "kind" -> Json.str(c.kind), "text" -> Json.str(c.text),
          "oracle" -> Json.str(c.oracle.get), "executions" -> c.executions.toString,
          "columns" -> Json.arr(c.columns.map(Json.str)),
          "rows" -> Json.arr(c.rows)))
      })))
    val f = new java.io.PrintWriter(out, "UTF-8")
    try f.println(json) finally f.close()
  }

  /** Used heap after a forced, completed collection (MiB). */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val f = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startMs).foreach { s =>
      f.println(Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "op" -> s.op.toString, "parent" -> s.parent.toString,
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))))
    } finally f.close()
  }
}

/** Process-wide engine counters Spark publishes as metrics sources. */
final case class Counters(compiles: Long, filesDiscovered: Long, fileCacheHits: Long) {
  def minus(o: Counters): Counters = Counters(compiles - o.compiles,
    filesDiscovered - o.filesDiscovered, fileCacheHits - o.fileCacheHits)
}

object Counters {
  import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
  def read(): Counters = Counters(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
    HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)
}
