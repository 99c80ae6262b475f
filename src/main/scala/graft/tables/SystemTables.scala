package graft.tables

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The reference's virtual system database
  * (fusequery/query/src/datasources/system/system_database.rs:19-58):
  * `system.one`, `system.databases`, `system.tables`, `system.settings`,
  * `system.functions`, `system.contributors`, `system.clusters`,
  * `system.processes` — small metadata relations over engine state.
  *
  * Spark-native restatement: tiny literal DataFrames over the session
  * catalog and the session conf, registered as temp views. Temp-view names
  * cannot carry a dot, so the SQL dialect layer rewrites `system.x` → `system_x`
  * (graft.sql.Dialect). These relations are driver-side by design — metadata,
  * never data-scale.
  */
object SystemTables {

  /** `system.one` (datasources/system/one_table.rs): one row, `dummy=1`;
    * the scan target for constant-only SELECTs. */
  def one(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(1.toByte).toDF("dummy")
  }

  def databases(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.sessionState.catalog.listDatabases().toDF("name")
  }

  /** Catalog tables across ALL databases plus the virtual system tables
    * themselves (tables_table.rs lists them under database `system` with
    * `System<Name>` engines); temp views are engine machinery, not tables.
    * The engine column is read from the shared catalog, so every session
    * lists the same engines. */
  def tables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // the session catalog, not the Catalog API, which runs each listing as
    // a Spark job; getTablesByName skips a table dropped since the listing
    val sc = spark.sessionState.catalog
    val catalog = sc.listDatabases().flatMap(db =>
      sc.getTablesByName(sc.listTables(db, "*", includeLocalTempViews = false))
        .map { t =>
          // a dialect-created table carries its reference engine label
          // ("CSV", "remote", …) as a table property — tables_table.rs
          // renders Table::engine(); Spark's tableType stands in for
          // tables created outside the dialect
          (db, t.identifier.table,
            t.properties.getOrElse(graft.sql.GraftSession.EngineProperty, t.tableType.name))
        })
    val virtual = all.map(n => ("system", n, s"System${n.capitalize}"))
    (catalog ++ virtual).toDF("database", "name", "engine")
  }

  /** The reference's settings table (system/settings_table.rs): the
    * dialect settings and this session's conf, one row per name
    * ([[graft.sql.GraftSession.settings]], which `/v1/configs` serves too). */
  def settings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.GraftSession.settings(spark).toDF("name", "value")
  }

  /** The names `spark.catalog.listFunctions()` gives, without its two
    * Spark jobs: the session catalog's functions of the current database
    * plus the operators (`!=`, `<>`, `case`, `||`) the Catalog API adds. */
  def functions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sc = spark.sessionState.catalog
    (sc.listFunctions(sc.getCurrentDatabase, "*").map(_._1.funcName) ++
      FunctionRegistry.builtinOperators.keys).sorted.toDF("name")
  }

  /** Static metadata tables (contributors_table.rs, clusters_table.rs,
    * processes_table.rs) — shape parity; content is this engine's. */
  def contributors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("graft").toDF("name")
  }

  def clusters(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("local", "localhost", 0L)).toDF("name", "address", "priority")
  }

  def processes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.sparkContext.statusTracker.getActiveJobIds().map(_.toLong)
      .toSeq.toDF("id")
  }

  // ---- system.tracing -----------------------------------------------------

  /** `system.tracing` analogue (tracing_table.rs:32-44): the reference
    * tails its own JSON tracing log — one row per engine event, schema
    * (v, name, msg, level, hostname, pid, time). The Spark-native
    * restatement keeps a bounded per-session ring of engine events: one
    * per front-door statement ([[graft.sql.GraftSession]].sql) and one per
    * action completion (QueryExecutionListener), with `msg` carrying the
    * statement/action text plus duration and row count — the same
    * free-text cost-message style as the reference's log lines. Driver-
    * side metadata by design, never data-scale: the ring caps at 1024. */
  private val traceBufs =
    new java.util.WeakHashMap[SparkSession,
      java.util.ArrayDeque[(String, Int, java.time.Instant)]]

  private def traceBuf(spark: SparkSession) = traceBufs.synchronized {
    var b = traceBufs.get(spark)
    if (b == null) {
      b = new java.util.ArrayDeque[(String, Int, java.time.Instant)]()
      traceBufs.put(spark, b)
    }
    b
  }

  /** Append one trace event (level follows the reference's numeric log
    * levels — 20 info, 50 error). */
  def trace(spark: SparkSession, msg: String, level: Int = 20): Unit = {
    val b = traceBuf(spark)
    b.synchronized {
      b.addLast((msg, level, java.time.Instant.now()))
      if (b.size > 1024) b.removeFirst()
    }
  }

  /** Process-wide query totals across every session the recorder is
    * installed on (the wire connections' sessions included) — what
    * `/metrics` exports. */
  val queriesTotal = new AtomicLong
  val queryFailures = new AtomicLong
  val queryRows = new AtomicLong
  val queryNanos = new AtomicLong

  /** The engine's one QueryExecutionListener: each action completion lands
    * a `system.tracing` row on its session and bumps the process-wide
    * totals. Events arrive asynchronously on the listener bus; readers of
    * `system.tracing` see completed actions on the next scan, exactly as
    * the reference sees flushed log lines. */
  private final class QueryRecorder(spark: SparkSession) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val rows = qe.executedPlan.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      queriesTotal.incrementAndGet()
      queryNanos.addAndGet(durationNs)
      if (rows > 0) queryRows.addAndGet(rows)
      trace(spark, s"action $funcName: $rows rows, cost ${durationNs / 1000000} ms")
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = {
      queriesTotal.incrementAndGet()
      queryFailures.incrementAndGet()
      trace(spark, s"action $funcName FAILED: ${ex.getMessage}", 50)
    }
  }

  private val recorded = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** Install the [[QueryRecorder]] once per session (idempotent). */
  def installTraceListener(spark: SparkSession): Unit =
    if (recorded.putIfAbsent(spark, java.lang.Boolean.TRUE) == null)
      spark.listenerManager.register(new QueryRecorder(spark))

  /** Current ring depth WITHOUT a Spark action — metrics endpoints must not
    * fire the very QueryExecutionListener whose counters they report. */
  def tracingDepth(spark: SparkSession): Int = {
    val b = traceBuf(spark)
    b.synchronized(b.size)
  }

  def tracing(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val b = traceBuf(spark)
    val snap = b.synchronized {
      val it = b.iterator(); val out = Seq.newBuilder[(String, Int, java.time.Instant)]
      while (it.hasNext) out += it.next()
      out.result()
    }
    val pid = ProcessHandle.current().pid()
    snap.map { case (msg, level, t) =>
      (0L, "graft", msg, level.toByte, "localhost", pid,
        java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME.format(
          t.atOffset(java.time.ZoneOffset.UTC)))
    }.toDF("v", "name", "msg", "level", "hostname", "pid", "time")
  }

  val all: Seq[String] = Seq("one", "databases", "tables", "settings",
    "functions", "contributors", "clusters", "processes", "tracing")

  /** (Re-)register ONE system table as its `system_<name>` temp view —
    * the on-use form: these views are CATALOG SNAPSHOTS (session-catalog
    * listings for `databases`, `tables` and `functions`), so building all
    * nine per statement would pay for eight listings the statement never
    * reads. The SQL layer registers exactly the views a statement
    * references, at reference semantics (live metadata on every scan —
    * system_database.rs). Every view is a driver-held `LocalRelation`: a
    * read of it, sorted or not, starts no Spark job
    * ([[graft.plans.SortLocalRelation]]). */
  def register(spark: SparkSession, name: String): Unit = (name match {
    case "one" => one(spark)
    case "databases" => databases(spark)
    case "tables" => tables(spark)
    case "settings" => settings(spark)
    case "functions" => functions(spark)
    case "contributors" => contributors(spark)
    case "clusters" => clusters(spark)
    case "processes" => processes(spark)
    case "tracing" => tracing(spark)
    case other => throw new IllegalArgumentException(s"no system table $other")
  }).createOrReplaceTempView(s"system_$name")
}
