package graft.sql

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col

import graft.tables.Hfs.rmTree
import graft.tables.SystemTables

/** The engine's SQL entry point — the Spark restatement of the reference's
  * session + PlanParser front door (fusequery/query/src/sessions/,
  * sql/plan_parser.rs:87-130):
  *
  *   - `sql(text)` accepts the reference dialect (SHOW, numbers(), LIMIT BY,
  *     combinator suffixes, system tables, `CREATE TABLE ... ENGINE = ...`)
  *     and delegates everything else to Spark SQL — SELECT/INSERT/DDL/SET/
  *     EXPLAIN/DESCRIBE/USE are native;
  *   - system tables register as `system_*` views (SystemTables).
  *
  * The instance holds no state of its own; the dialect's state lives where
  * Spark keeps the same kind of state. A table's reference engine and its
  * declared NOT NULL columns are table properties in the shared catalog
  * (the reference's `Table::engine()` and `DataField.nullable`), so every
  * session sees them. `SET name = v` settings live in the session conf,
  * one per session like the reference's settings object. The Remote
  * engine's store node is one per SparkContext.
  *
  * Functions, rules and strategies are not wired here: every session built
  * by [[graft.SparkBoot.builder]] already carries them
  * ([[graft.GraftExtensions]]).
  *
  * Interpreter dispatch (interpreters/interpreter_factory.rs) and the
  * optimizer (optimizers/optimizer.rs) have no code here on purpose: Catalyst
  * subsumes them (SURVEY.md §4.1).
  */
class GraftSession(val spark: SparkSession) {

  // system views register ON USE (sql() below): they are catalog snapshots
  // whose eager construction cost 2-3 s of front-door latency per session
  // and was refreshed wholesale on every system query — the round-7 q38
  // profiling finding. Reference semantics are unchanged: a scan reads
  // live metadata, because the view re-registers right before each use.
  SystemTables.installTraceListener(spark)

  /** `CREATE TABLE name (cols) ENGINE = CSV|Parquet|Memory|Null
    * [location = 'p'] [has_header = true]` (sql/sql_parser.rs:126-186,
    * datasources/local: csv_table.rs, parquet_table.rs, null_table.rs)
    * → Spark `USING csv|parquet OPTIONS(...)`.
    * Memory/Null map to managed parquet tables (Null's discard-on-write has
    * no Spark catalog analogue; reads-start-empty holds either way). */
  private val CreateTableRe =
    """(?is)^(CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[\w.]+\s*\(.*?\))\s*ENGINE\s*=\s*(\w+)(.*)$""".r
  private val LocationRe = """(?i)location\s*=\s*'([^']+)'""".r
  private val HeaderRe = """(?i)has_header\s*=\s*(true|1)""".r

  private val CreateDbRe =
    """(?is)^(CREATE\s+DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?[\w.]+)\s+ENGINE\s*=\s*\w+\s*$""".r

  private val NotNullRe = """(?i)\bnot\s+null\b""".r
  /** A trailing bare `NULL`: the reference's nullable declaration. */
  private val NullableRe = """(?i)(?<!not|default)\s+null\s*$""".r

  /** Column definitions in Spark's DDL. Reference columns default to NOT
    * NULL (`DataField.nullable=false` unless declared — data_field.rs:11)
    * where Spark's default is nullable, and Spark has no bare `NULL`. */
  private def notNullColumns(cols: String): String =
    splitTopLevel(mapRefTypes(cols)).map(_.trim).map { c =>
      if ("""(?i)\bnull\b""".r.findFirstIn(c).isDefined) NullableRe.replaceFirstIn(c, "")
      else c + " NOT NULL"
    }.mkString(", ")

  /** The table facts a dialect CREATE records in the catalog: the
    * reference engine label and the columns declared NOT NULL. Spark's
    * file-source catalog relaxes nullability, so DESCRIBE reads the
    * declaration back from here. */
  private def tableFacts(label: String, cols: String): String = {
    val notNull = splitTopLevel(notNullColumns(cols)).map(_.trim)
      .filter(NotNullRe.findFirstIn(_).isDefined)
      .map(_.split("\\s+").head.toLowerCase)
    s" TBLPROPERTIES ('${GraftSession.EngineProperty}' = '$label', " +
      s"'${GraftSession.NotNullProperty}' = '${notNull.mkString(",")}')"
  }

  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; var start = 0
    s.zipWithIndex.foreach {
      case ('(', _) => depth += 1
      case (')', _) => depth -= 1
      case (',', i) if depth == 0 => out += s.substring(start, i); start = i + 1
      case _ =>
    }
    out += s.substring(start)
    out.toSeq
  }

  private val CreateHeadRe =
    """(?is)^(CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+))\s*\((.*)\)$""".r

  /** Reference engine label per dialect-created engine keyword — what
    * `system.tables` renders (the reference's `Table::engine()` strings:
    * csv_table.rs:65 "CSV", remote_table.rs "remote", …). It is recorded
    * as the table's `graft.engine` property. */
  private def engineLabel(engine: String): String = engine.toLowerCase match {
    case "csv" => "CSV"
    case "parquet" => "Parquet"
    case "json" => "JSON"
    case "orc" => "ORC"
    case "memory" => "Memory"
    case "null" => "Null"
    case "remote" => "remote"
    case other => other
  }

  /** Reference column types Spark's DDL parser lacks a bare spelling for. */
  private def mapRefTypes(cols: String): String =
    cols.replaceAll("(?i)\\bvarchar\\b(?!\\s*\\()", "STRING")
      .replaceAll("(?i)\\bdatetime\\b", "TIMESTAMP")

  /** `db.name` or `name` → the catalog identifier (lower-case, as the
    * session catalog stores it; the current database when unqualified). */
  private def identifier(tbl: String): TableIdentifier = {
    val parts = tbl.toLowerCase.split("\\.")
    if (parts.length == 2) TableIdentifier(parts(1), Some(parts(0)))
    else TableIdentifier(parts(0), Some(spark.sessionState.catalog.getCurrentDatabase))
  }

  /** `ENGINE = Remote` (and bare CREATEs under `SET default_engine =
    * remote`, the reference's distributed-build default): the table's data
    * lives in the SparkContext's STORE NODE (GraftSession.Store — an
    * HttpApiServer with the /v1/remote endpoints, the fusestore analogue)
    * and the catalog entry reads/writes it through the `graft-remote` DSv2
    * connector, so INSERT streams over the wire (staged append + commit)
    * and SELECT fetches splits with pushdown — remote_table.rs semantics
    * end to end. */
  private def remoteCreate(head: String, tbl: String, cols: String): String = {
    val store = GraftSession.storeOf(spark)
    val id = identifier(tbl)
    if (!spark.sessionState.catalog.tableExists(id)) {
      // fresh incarnation: a leftover dir from a dropped same-name table
      // must not resurrect its rows
      rmTree(new java.io.File(store.dir(id)))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        notNullColumns(cols).replaceAll("(?i)\\s+not\\s+null", ""))
      store.server.registerRemoteTable(store.key(id), store.dir(id), Some(schema))
    }
    s"$head (${notNullColumns(cols)}) USING `graft-remote` " +
      s"OPTIONS (url 'http://127.0.0.1:${store.port}', `table` '${store.key(id)}')" +
      tableFacts(engineLabel("remote"), cols)
  }

  private def rewriteCreate(sql: String): Option[String] = sql.trim match {
    case CreateTableRe(head, engine, rest) if engine.equalsIgnoreCase("remote") =>
      val _ = rest // Remote takes no location options
      head match {
        case CreateHeadRe(h, tbl, cols) => Some(remoteCreate(h, tbl, cols))
        case _ => throw new IllegalArgumentException(s"cannot parse: $head")
      }
    case CreateTableRe(head, engine, rest) =>
      val opts = scala.collection.mutable.ArrayBuffer[String]()
      LocationRe.findFirstMatchIn(rest).foreach(m => opts += s"path '${m.group(1)}'")
      if (HeaderRe.findFirstIn(rest).isDefined) opts += "header 'true'"
      val using = engine.toLowerCase match {
        case "csv" => "csv"
        case "parquet" => "parquet"
        case "json" => "json" // beyond-reference formats Spark gives for free
        case "orc" => "orc"
        case "memory" | "null" => "parquet"
        case other => throw new IllegalArgumentException(s"unknown engine $other")
      }
      val optClause = if (opts.nonEmpty) opts.mkString(" OPTIONS (", ", ", ")") else ""
      head match {
        case CreateHeadRe(h, _, cols) =>
          Some(s"$h (${notNullColumns(cols)}) USING $using$optClause" +
            tableFacts(engineLabel(engine), cols))
        case _ => Some(s"$head USING $using$optClause")
      }
    // bare CREATE under the remote default engine (the reference's
    // distributed build defaults to the remote/fusestore engine — the 09_*
    // suites' CREATEs carry no ENGINE clause)
    case CreateHeadRe(h, tbl, cols)
        if spark.conf.getOption("default_engine").exists(_.equalsIgnoreCase("remote")) =>
      Some(remoteCreate(h, tbl, cols))
    case CreateDbRe(create) => Some(create) // ENGINE=Local is the only engine
    case _ => None
  }

  /** `DESCRIBE t` with reference type names (§1.2 mapping, reversed) and
    * reference nullability rendering (10_0000_describe_table golden). */
  private val DescRe = """(?is)^DESC(?:RIBE)?\s+(?:TABLE\s+)?([\w.]+)\s*$""".r

  private def refTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => "Int8"
      case ShortType => "Int16"
      case IntegerType => "Int32"
      case LongType => "Int64"
      case FloatType => "Float32"
      case DoubleType => "Float64"
      case StringType => "Utf8"
      case BooleanType => "Boolean"
      case BinaryType => "Binary"
      case DateType => "Date32"
      case _: TimestampType => "Timestamp"
      case NullType => "Null"
      case other => other.sql
    }
  }

  private def describe(table: String): DataFrame = {
    import spark.implicits._
    val schema = spark.table(table).schema // throws first if the table is absent
    // the session catalog keeps table properties for `[db.]name` only
    val notNull =
      if (table.count(_ == '.') > 1) None
      else spark.sessionState.catalog
        .getTempViewOrPermanentTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
        .properties.get(GraftSession.NotNullProperty).map(_.split(',').toSet)
    schema.fields.toSeq
      .map { f =>
        val nullable = notNull.fold(f.nullable)(nn => !nn.contains(f.name.toLowerCase))
        (f.name, refTypeName(f.dataType), if (nullable) "YES" else "NO")
      }
      .toDF("Field", "Type", "Null")
  }

  /** Engine settings (sessions/settings.rs): `SET name = value` with a
    * dot-free reference setting name sets `name` in this session's conf;
    * `max_threads` also sets the one Spark knob with the same meaning for
    * a local pipeline. Reference SET produces no result rows. Spark does
    * not know these names, so a new session (a wire connection,
    * [[GraftSession.forConnection]]) starts from their defaults. */
  private val SetRe = """(?is)^SET\s+([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+?)\s*$""".r

  /** `EXPLAIN GRAPH <stmt>` (sql_parser.rs:196, plan_display.rs:18-34):
    * one Utf8 `explain` row holding a GraphViz digraph of the optimized
    * plan. The reference renders an empty `digraph {}` (display_graphviz is
    * a TODO); here the nodes and dataflow edges are real. */
  private val ExplainGraphRe = """(?is)^EXPLAIN\s+GRAPH\s+(.+)$""".r

  /** Restricted MERGE surface over parquet snapshot directories (the
    * reference has no MERGE; this is the SQL spelling of
    * [[graft.tables.Snapshots.upsertByKey]] — full-row semantics only, the
    * form a corpus-maintenance pipeline actually issues):
    * {{{
    * MERGE INTO LOCATION '<dir>' USING (<select>) ON <key>
    *   WHEN MATCHED THEN UPDATE SET *
    *   WHEN NOT MATCHED THEN INSERT *
    * }}}
    * `USING <table>` (unparenthesized) is accepted as shorthand for
    * `USING (SELECT * FROM <table>)`. Returns one row
    * (n_source_rows, n_matched, snapshot_rows) so scripts can assert
    * effect — n_matched is the count of source keys that hit an existing
    * snapshot row (an UPDATE), computed against the pre-merge snapshot. */
  private val MergeRe =
    ("""(?is)^MERGE\s+INTO\s+LOCATION\s+'([^']+)'\s+USING\s+(?:\((.+)\)|([\w.]+))\s+""" +
      """ON\s+(\w+)\s+WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s+""" +
      """WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*$""").r

  private def runMerge(path: String, sourceSql: String, key: String): DataFrame = {
    // localCheckpoint (eager): the source SELECT executes exactly ONCE — a
    // non-deterministic source must merge and report the SAME row set, and
    // the matched-count probe below must see the rows that were written
    val updates = sql(sourceSql).transform(graft.ops.Checkpoints.truncate(_))
    // matched = source keys present in the PRE-merge snapshot (true UPDATE
    // count); computed before upsert rewrites the directory
    // readSnapshot resolves either commit protocol: a flat parquet dir or a
    // VersionedTable root (pointer-swap commits) both accept MERGE INTO
    val nMatched = updates.select(col(key)).distinct()
      .join(graft.tables.Snapshots.readSnapshot(spark, path).select(col(key)).distinct(),
        Seq(key), "left_semi")
      .count()
    val nSource = updates.count()
    graft.tables.Snapshots.upsertByKey(spark, path, updates, key)
    val total = graft.tables.Snapshots.readSnapshot(spark, path).count()
    spark.createDataFrame(Seq((nSource, nMatched, total)))
      .toDF("n_source_rows", "n_matched", "snapshot_rows")
  }

  private def explainGraph(inner: String): DataFrame = {
    import spark.implicits._
    val plan = spark.sql(Dialect.rewrite(inner)).queryExecution.optimizedPlan
    val sb = new StringBuilder
    sb.append("// Begin Graft GraphViz Plan (see https://graphviz.org)\n")
    sb.append("digraph {\n")
    var nextId = 0
    def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
      val id = nextId; nextId += 1
      sb.append(s"""  n$id [label="${esc(p.simpleString(4))}"];\n""")
      // dataflow direction: child feeds parent
      p.children.foreach(c => sb.append(s"  n${walk(c)} -> n$id;\n"))
      id
    }
    walk(plan)
    sb.append("}\n")
    sb.append("// End Graft GraphViz Plan")
    Seq(sb.toString).toDF("explain")
  }

  private val SysViewRe = """(?i)system_(one|databases|tables|settings|functions|contributors|clusters|processes|tracing)""".r

  /** Front door with statement tracing: every statement lands one
    * `system.tracing` row carrying its text and plan-time cost (execution
    * cost arrives separately via the action listener). The trace appends
    * AFTER the dispatched statement plans, so a query over system.tracing
    * reads the snapshot taken at view refresh and never contains itself. */
  def sql(text: String): DataFrame = {
    val t0 = System.nanoTime()
    try {
      val out = sqlDispatch(text)
      SystemTables.trace(spark, s"statement: ${text.trim.take(256)}, " +
        s"plan cost ${(System.nanoTime() - t0) / 1000000} ms")
      out
    } catch { case e: Throwable =>
      SystemTables.trace(spark,
        s"statement FAILED: ${text.trim.take(256)}: ${e.getMessage}", 50)
      throw e
    }
  }

  private val DropTableStmtRe =
    """(?is)^(DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.]+))\s*$""".r
  private val DropDbStmtRe =
    """(?is)^(DROP\s+DATABASE\s+(?:IF\s+EXISTS\s+)?([\w.]+))\s*$""".r

  /** The Remote tables among `ids` (all in one database), read from the
    * catalog before a DROP removes their entries: a successful DROP then
    * releases their store registrations and data dirs
    * ([[GraftSession.release]]; the reference's drop reaches the store
    * service the same way). */
  private def remoteTables(db: String, ids: => Seq[TableIdentifier]): Seq[TableIdentifier] = {
    val catalog = spark.sessionState.catalog
    if (!catalog.databaseExists(db)) Nil
    else catalog.getTablesByName(ids)
      .filter(_.properties.get(GraftSession.EngineProperty).contains(engineLabel("remote")))
      .map(_.identifier)
  }

  private def sqlDispatch(text: String): DataFrame = text.trim.stripSuffix(";").trim match {
    case SetRe(key, value) if !key.contains(".") =>
      spark.conf.set(key.toLowerCase, value)
      if (key.equalsIgnoreCase("max_threads"))
        spark.conf.set("spark.sql.shuffle.partitions", value)
      spark.emptyDataFrame
    case DropTableStmtRe(whole, tbl) =>
      val id = identifier(tbl)
      val remote = remoteTables(id.database.get, Seq(id))
      val df = spark.sql(whole) // throws first if the table is absent
      GraftSession.release(remote)
      df
    case DropDbStmtRe(whole, db) =>
      val remote = remoteTables(db.toLowerCase, spark.sessionState.catalog
        .listTables(db.toLowerCase, "*", includeLocalTempViews = false))
      val df = spark.sql(s"$whole CASCADE") // reference drops tables too
      GraftSession.release(remote)
      df
    case DescRe(table) => describe(table)
    case ExplainGraphRe(inner) => explainGraph(inner)
    case MergeRe(path, subquery, table, key) =>
      runMerge(path,
        Option(subquery).getOrElse(s"SELECT * FROM $table"), key)
    case t =>
      val rewritten = rewriteCreate(t).getOrElse(Dialect.rewrite(t))
      // system views are catalog snapshots — (re-)register exactly the
      // ones this statement references, right before use, so DDL executed
      // since the last registration is visible (system_database.rs reads
      // live metadata on every scan) and statements touching none pay
      // nothing
      SysViewRe.findAllMatchIn(rewritten).map(_.group(1).toLowerCase)
        .toSet[String].foreach(SystemTables.register(spark, _))
      spark.sql(rewritten)
  }
}

object GraftSession {
  def apply(spark: SparkSession): GraftSession = new GraftSession(spark)

  /** One dialect session per driver SparkSession: construction installs
    * the query listener (system views register lazily on use — the
    * catalog enumeration that once cost ~2-3 s per construction is gone).
    * Driver queries that enter through the SQL front door share the cached
    * instance the way a real application holds one session. The cached
    * instance references its key, so an entry is never collected: this is
    * for the few long-lived driver sessions, not for connections
    * ([[forConnection]] caches nothing). */
  private val sessions = new java.util.WeakHashMap[SparkSession, GraftSession]

  def cached(spark: SparkSession): GraftSession = sessions.synchronized {
    var g = sessions.get(spark)
    if (g == null) { g = new GraftSession(spark); sessions.put(spark, g) }
    g
  }

  /** One ISOLATED session per wire-protocol connection — the Spark
    * restatement of the reference's per-session `FuseQueryContext`
    * (fusequery/query/src/sessions/settings.rs:21-33, one settings object
    * per session): `root.newSession()` shares the SparkContext, cached
    * blocks and the persistent catalog — with the engine label and NOT
    * NULL columns every dialect CREATE records there — but owns its
    * SQLConf, current database, temp views and function registry. So one
    * connection's `USE db` / `SET x = y` is invisible to every other
    * connection, and a table made on one connection looks the same on
    * all. The new session carries the graft functions, rules and
    * strategies already ([[graft.GraftExtensions]]). */
  def forConnection(root: SparkSession): GraftSession = {
    val s = root.newSession()
    // a fresh session starts from SparkConf defaults, not the root's RUNTIME
    // conf — inherit the server operator's tuning (ansi mode, shuffle
    // partitions, …) as the connection's STARTING point, the way a freshly
    // accepted reference session snapshots the server settings; the
    // connection's own SETs then apply to its session only. Dialect
    // settings (`max_threads`, …) are not Spark confs, so isModifiable is
    // false for them and the connection starts from their defaults.
    val defaults = s.conf.getAll
    root.conf.getAll.foreach { case (k, v) =>
      if (defaults.get(k) != Some(v) && s.conf.isModifiable(k))
        s.conf.set(k, v)
    }
    new GraftSession(s)
  }

  /** Table properties a dialect CREATE writes: the reference engine label
    * (`system.tables`) and the comma-separated columns declared NOT NULL
    * (`DESCRIBE`). */
  private[graft] val EngineProperty = "graft.engine"
  private[graft] val NotNullProperty = "graft.not_null"

  /** What `system.settings` and the HTTP `/v1/configs` serve: the reference
    * settings' defaults overlaid by everything this session's conf holds,
    * `SET name = v` settings included, sorted by name. */
  def settings(spark: SparkSession): Seq[(String, String)] =
    (Map("max_threads" -> String.valueOf(Runtime.getRuntime.availableProcessors),
      "max_block_size" -> "10000") ++ spark.conf.getAll).toSeq.sorted

  /** The STORE NODE for ENGINE=Remote tables — the fusestore analogue: an
    * HttpApiServer (its /v1/remote endpoints are the store API) plus a
    * scratch root for table data. There is one per SparkContext, the scope
    * of the catalog its tables are registered in: every session's Remote
    * tables live on the same node, and a DROP on any session releases
    * them. It starts on the first Remote CREATE, on a session of its own
    * (no connection's SETs reach the serve side), and stops, its data root
    * deleted, when the SparkContext ends. */
  private final class Store(session: SparkSession) {
    val server = new graft.server.HttpApiServer(session)
    val port: Int = server.start()
    private val root = java.nio.file.Files.createTempDirectory("graft-store").toFile
    def key(id: TableIdentifier): String = s"${id.database.get}__${id.table}"
    def dir(id: TableIdentifier): String = s"$root/${id.database.get}/${id.table}"
    def stop(): Unit = { server.stop(); rmTree(root) }
  }

  private var store: Store = _ // guarded by GraftSession's monitor

  /** The running store node, started on first use. SparkContext.stop
    * delivers the application end before it returns, so a later context
    * never sees the store of an earlier one. */
  private def storeOf(spark: SparkSession): Store = synchronized {
    if (store == null) {
      store = new Store(spark.newSession())
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          GraftSession.synchronized { store.stop(); store = null }
      })
    }
    store
  }

  /** Release dropped Remote tables from the store: their registrations
    * and data dirs. */
  private def release(dropped: Seq[TableIdentifier]): Unit = synchronized {
    if (store != null) dropped.foreach { id =>
      store.server.dropRemoteTable(store.key(id))
      rmTree(new java.io.File(store.dir(id)))
    }
  }
}
