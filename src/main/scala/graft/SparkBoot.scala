package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one session builder: the driver-contract mains (Verify, Bench), the
  * front doors (Serve, Shell), EntrySmoke, the tests and the dev tools all
  * build through [[SparkBoot.builder]], which applies [[GraftExtensions]]
  * (rules, strategies, functions) to every session it makes.
  *
  * The default master is `local[cpus]` (the sandbox has one machine), but the
  * 100 TB design claim needs at least one run where task closures, broadcast
  * variables, custom Catalyst expressions and UDAF buffers cross a REAL
  * process boundary. `SPARK_GRAFT_MASTER=local-cluster[4,8,6144]` switches the
  * same binaries onto Spark's local-cluster mode: an in-process standalone
  * Master + Workers that fork genuine executor JVMs and shuffle over Netty —
  * the closest a single box gets to a multi-node cluster.
  *
  * local-cluster executors are launched from `SPARK_HOME` and know nothing of
  * this repo, so when it is selected we also ship:
  *   - `spark.executor.extraClassPath` → the classes dir this very class was
  *     loaded from (plus `SPARK_GRAFT_EXTRA_CP` if set), so graft expressions
  *     and aggregators resolve on the executor side;
  *   - `spark.executor.extraJavaOptions` → the same `--add-opens` set the
  *     driver needs on JDK 17 (Platform/Unsafe access in Tungsten).
  */
object SparkBoot {
  /** JDK-17 module opens Spark needs; mirrored to forked executors. */
  val addOpens: Seq[String] = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"
  ).map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")

  def cpus: String = sys.env.getOrElse(
    "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)

  /** Classpath root that holds graft classes (works for target/classes and
    * for an assembled jar alike). */
  private def ownClasspath: String = {
    val self = getClass.getProtectionDomain.getCodeSource.getLocation.toURI
    new java.io.File(self).getAbsolutePath
  }

  /** Running total of the bytes tasks spilled (memory + disk) on this
    * session's SparkContext since the call — the spill receipt of the
    * constrained-heap protocol (PERFNOTES). */
  def spillCounter(spark: SparkSession): () => Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          bytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled))
    })
    () => bytes.get
  }

  def builder(appName: String): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder()
      .withExtensions(GraftExtensions)
      .appName(appName)
      .master(master)
      .config("spark.log.level", "WARN")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val b2 = if (master.startsWith("local-cluster")) {
      val cp = (ownClasspath +: sys.env.get("SPARK_GRAFT_EXTRA_CP").toSeq)
        .mkString(java.io.File.pathSeparator)
      b.config("spark.executor.extraClassPath", cp)
        .config("spark.executor.extraJavaOptions", addOpens.mkString(" "))
        // local-cluster workers inherit no SPARK_LOCAL_DIRS; keep shuffle
        // files in /tmp like the local[] runs do.
        .config("spark.local.dir", sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    } else b
    // Retry-determinism fault mode (dev/gate.sh GATE_FAULT): inject
    // executor kills (ChaosPlugin halts each executor JVM after a bounded
    // staggered lifetime), enable speculative execution, widen task/stage
    // retry budgets, and switch every iterative operator's lineage
    // truncation to RELIABLE checkpoints (localCheckpoint blocks die with
    // the executor that computed them — graft.ops.Checkpoints). The gate
    // then asserts the full Verify suite still hash-matches DuckDB: the
    // proof that every operator is deterministic under task retries,
    // re-run stages and speculative duplicate attempts — not just on the
    // clean runs the round-9 boundary proof covered.
    if (sys.env.get("SPARK_GRAFT_FAULT").contains("1")) {
      b2.config("spark.plugins", "graft.dev.ChaosPlugin")
        .config("spark.graft.chaos.periodMs",
          sys.env.getOrElse("SPARK_GRAFT_CHAOS_PERIOD_MS", "120000"))
        .config("spark.task.maxFailures", "8")
        .config("spark.stage.maxConsecutiveAttempts", "10")
        .config("spark.speculation", "true")
        .config("spark.graft.reliableCheckpoint", "true")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        // the standalone Master aborts an app after N executor failures
        // with none running; chaos kills are continuous by design
        .config("spark.deploy.maxExecutorRetries", "-1")
    } else b2
  }
}
