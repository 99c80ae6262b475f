package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.sql.GraftSession
import graft.sql.Render.{jsonString => jStr}
import graft.tables.Hfs.rmTree
import graft.tables.SystemTables

/** HTTP admin + observability front door — the reference's third entry
  * point, restated over JDK's built-in HTTP server (no extra deps):
  *
  *   - `GET /v1/hello`   → engine identity + config summary (the
  *     reference's hello returns its Config debug dump;
  *     api/http/v1/hello.rs:12)
  *   - `GET /v1/configs` → the settings map as JSON, from the same
  *     [[graft.sql.GraftSession.settings]] `system.settings` serves: the
  *     dialect settings' defaults overlaid by this server's session conf
  *     (api/http/v1/config.rs:12)
  *   - `GET /v1/cluster/list`, `POST /v1/cluster/add`,
  *     `POST /v1/cluster/remove` → in-memory cluster-node registry,
  *     seeded with the local node; add/remove take the reference's
  *     `{name, priority, address}` JSON body (api/http/v1/cluster.rs:24)
  *   - `GET /metrics`    → Prometheus text format (the reference runs a
  *     prometheus exporter as a sibling server, metric_service.rs:30):
  *     the process-wide query counters the `system.tracing` listener keeps
  *     (every session, wire connections included), the ring depth, and JVM
  *     heap/GC gauges.
  *
  * The reference's `/debug/home` + pprof handlers are deliberately out of
  * scope: pprof is a CPU-profile format of the Rust runtime; the JVM-side
  * equivalents (Spark UI, JFR) already exist outside this process's job.
  *
  * Cluster-registry semantics: metadata only, exactly like the
  * reference's (its add/remove mutate a node list the scheduler MAY use;
  * here local[n] IS the cluster). Single-writer maps guarded by the
  * registry's own lock; handlers are small and allocation-light. */
class HttpApiServer(spark: SparkSession, port: Int = 0) {

  @volatile private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  // ---- cluster registry ------------------------------------------------

  /** (name → (priority, address)); seeded with the local node, matching
    * system.clusters' static row. */
  private val nodes = scala.collection.mutable.LinkedHashMap[String, (Long, String)](
    "local" -> ((0L, "localhost")))

  // ---- remote table store ------------------------------------------------

  /** Tables this node serves to `graft-remote` clients (name → parquet
    * path). The store half of the reference's Remote engine
    * (`store_client_provider.rs` + fusestore's read_plan/read_partition),
    * restated over the HTTP front door:
    *
    *   - `GET /v1/remote/tables`             → registered names
    *   - `GET /v1/remote/schema?table=T`     → Spark schema JSON (lossless
    *     `DataType.fromJson` round-trip)
    *   - `GET /v1/remote/splits?table=T`     → the table's file-grained
    *     parts (≈ read_plan's `Vec<Part>`)
    *   - `GET /v1/remote/read?table=T&split=F[&cols=..][&where=..][&limit=n]
    *     [&count_only=1]` → gzip'd ndjson of that split, with the pushed
    *     projection/predicate/limit applied by THIS session's Catalyst
    *     inside the parquet scan (≈ read_partition's ReadAction.push_down)
    *
    * Split paths are validated against the table's own file list — the
    * endpoint can serve exactly the registered tables, nothing else on the
    * filesystem. Serve jobs run on this session's executors: co-hosting
    * client and server on one session works (the gate does) but shares task
    * slots; production shape is a dedicated serving node. */
  private val remoteTables =
    scala.collection.mutable.LinkedHashMap[String, (String, Option[org.apache.spark.sql.types.StructType])]()
  // name → (schema, split files); computed once per registration/commit
  private val remoteMeta =
    scala.collection.mutable.HashMap[String, (org.apache.spark.sql.types.StructType, Set[String])]()

  /** Serve an existing parquet table (schema inferred from its footers). */
  def registerRemoteTable(name: String, path: String): Unit =
    registerRemoteTable(name, path, None)

  /** Serve a table with a DECLARED schema — required for tables that start
    * empty (CREATE … ENGINE=Remote) where there is no footer to infer from;
    * the dir is created if absent. */
  def registerRemoteTable(name: String, path: String,
      schema: Option[org.apache.spark.sql.types.StructType]): Unit =
    remoteTables.synchronized {
      require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad table name: $name")
      if (schema.isDefined) new java.io.File(path).mkdirs(): Unit
      remoteTables(name) = (path, schema)
      remoteMeta.remove(name): Unit
      dropScanPlans(name)
    }

  def dropRemoteTable(name: String): Unit = remoteTables.synchronized {
    remoteTables.remove(name); remoteMeta.remove(name): Unit
    dropScanPlans(name)
  }

  /** File-grained parts of a served path — local listing, no Spark. */
  private def listSplits(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (f.isFile) Seq(f)
    else Option(f.listFiles).getOrElse(Array.empty).toSeq
      .filter(x => x.isFile && x.getName.endsWith(".parquet") &&
        !x.getName.startsWith(".") && !x.getName.startsWith("_"))
      .sortBy(_.getName)
  }

  /** Table metadata, computed JOBLESS and outside the registry lock:
    * `spark.read.parquet` schema inference can launch a footer-merge job,
    * and holding the lock across it once deadlocked the whole store — four
    * client write tasks held every slot, one handler held this monitor
    * waiting for a task slot, the rest piled on the monitor. Listing is a
    * local readdir, the schema one parquet-mr footer read
    * (LocalScan.parquetFileSchema); a double-compute race is benign. */
  private def remoteTableMeta(name: String)
      : (org.apache.spark.sql.types.StructType, Set[String]) = {
    val (path, declared, cached) = remoteTables.synchronized {
      val (p, d) = remoteTables.getOrElse(name,
        throw new NoSuchElementException(s"remote table not registered: $name"))
      (p, d, remoteMeta.get(name))
    }
    cached.getOrElse {
      val files = listSplits(path)
      val schema = declared.getOrElse {
        require(files.nonEmpty,
          s"cannot infer the schema of empty remote table $name")
        org.apache.spark.sql.graft.LocalScan
          .parquetFileSchema(spark, files.head.getAbsolutePath)
      }
      val meta = (schema, files.map(_.toURI.toString).toSet)
      remoteTables.synchronized { remoteMeta.getOrElseUpdate(name, meta) }
    }
  }

  private def remotePathOf(name: String): String = remoteTables.synchronized {
    remoteTables.getOrElse(name,
      throw new NoSuchElementException(s"remote table not registered: $name"))._1
  }

  /** Last /v1/remote/read query params — observability hook; the spec uses
    * it to pin that pushdown actually crossed the wire. */
  @volatile private[graft] var lastRemoteRead: Map[String, String] = Map.empty

  /** Serving plans per (table, cols, where) — the analyzer resolution and
    * reader compilation are per-shape, not per-split. Cleared when a table
    * is (re)registered or dropped; appends keep the schema, so plans stay
    * valid across commits. */
  private val scanPlans = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), org.apache.spark.sql.graft.LocalScan.Plan]

  private def dropScanPlans(table: String): Unit =
    scanPlans.keySet.removeIf(_._1 == table): Unit

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
      .filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) kv -> ""
        else java.net.URLDecoder.decode(kv.take(i), "UTF-8") ->
          java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
      }.toMap

  /** Serve one split: a JOBLESS local parquet scan (LocalScan) with the
    * pushed predicate/projection applied on this thread — the query
    * cluster's task slots are never touched, so a co-hosted client can
    * saturate them with scan tasks without deadlocking the serve side
    * (the production shape — a store node serving its own files — needs no
    * query cluster at all, matching fusestore's do_read). */
  private def remoteRead(ex: HttpExchange, params: Map[String, String]): Unit = {
    val table = params.getOrElse("table",
      throw new IllegalArgumentException("missing table param"))
    val split = params.getOrElse("split",
      throw new IllegalArgumentException("missing split param"))
    val (schema, files) = remoteTableMeta(table)
    require(files.contains(split), s"split not owned by $table: $split")
    lastRemoteRead = params
    val countOnly = params.get("count_only").contains("1")
    val cols: Seq[String] =
      if (countOnly) Nil
      else params.get("cols") match {
        case Some(cs) if cs.nonEmpty => cs.split(',').toSeq
        case _ => schema.fieldNames.toSeq
      }
    val where = params.get("where")
    val plan = scanPlans.computeIfAbsent(
      (table, cols.mkString(","), where.getOrElse("")),
      _ => org.apache.spark.sql.graft.LocalScan.plan(spark, schema, cols, where))
    val encode: org.apache.spark.sql.catalyst.InternalRow => String =
      if (countOnly) _ => "{}"
      else graft.sources.RemoteWire.encoder(plan.outSchema)
    var it = org.apache.spark.sql.graft.LocalScan.scanFile(plan, split)
    params.get("limit").foreach(n => it = it.take(n.toInt))
    // touch the scan BEFORE committing a 200: reader errors surface as a
    // 500 the client task can retry on, not a truncated stream
    val first = if (it.hasNext) Some(encode(it.next())) else None
    ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
    ex.getResponseHeaders.set("Content-Encoding", "gzip")
    ex.sendResponseHeaders(200, 0)
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.BufferedOutputStream(ex.getResponseBody, 1 << 16))
    try {
      def emit(line: String): Unit = {
        out.write(line.getBytes(UTF_8)); out.write('\n')
      }
      first.foreach(emit)
      while (it.hasNext) emit(encode(it.next()))
    } finally out.close()
  }

  // ---- remote append (the reference's Table::append_data over the store:
  // remote_table.rs:116-134 streams blocks to the service; here each
  // EXECUTOR posts its partition as gzip ndjson, staged per task attempt,
  // and the client's driver-side BatchWrite.commit names the winning
  // attempts — speculative duplicates stage side by side and are discarded,
  // never merged) --------------------------------------------------------

  private def stagingDir(path: String, writer: String) =
    new java.io.File(path, s".graft-staging-$writer")

  /** Stage one partition attempt: the gzip ndjson body is re-validated and
    * spooled to disk WITHOUT touching Spark — client write tasks may be
    * holding every task slot while they stream, so a serve-side job here
    * could deadlock a co-hosted session. The spool → parquet conversion
    * runs at COMMIT time, after all client tasks have released their slots.
    * A killed client truncates the gzip stream → EOFException mid-copy →
    * the partial spool is deleted and a 500 returned; the retried attempt
    * stages under its own taskId. */
  private def remoteAppend(ex: HttpExchange, params: Map[String, String]): Unit = {
    val table = params("table")
    val writer = params("writer")
    val part = params("part") // "<partitionId>-<taskId>", unique per attempt
    require(writer.matches("[A-Za-z0-9-]+") && part.matches("[0-9-]+"),
      "bad writer/part id")
    remoteTableMeta(table): Unit // 500 early for unknown tables
    val staging = stagingDir(remotePathOf(table), writer)
    staging.mkdirs()
    val spool = new java.io.File(staging, s"part-$part.ndjson.gz")
    val in =
      if ("gzip".equalsIgnoreCase(ex.getRequestHeaders.getFirst("Content-Encoding")))
        new java.util.zip.GZIPInputStream(ex.getRequestBody)
      else ex.getRequestBody
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(spool), 1 << 16))
    var rows = 0L
    try {
      val rd = new java.io.BufferedReader(new java.io.InputStreamReader(in, UTF_8), 1 << 16)
      var line = rd.readLine()
      while (line != null) {
        out.write(line.getBytes(UTF_8)); out.write('\n')
        rows += 1
        line = rd.readLine()
      }
      out.close()
    } catch { case e: Throwable =>
      try out.close() catch { case _: Throwable => () }
      spool.delete()
      throw e
    }
    json(ex, 200, s"""{"staged":${jStr(s"part-$part")},"rows":$rows}""")
  }

  private def remoteCommit(ex: HttpExchange, params: Map[String, String]): Unit = {
    val table = params("table")
    val writer = params("writer")
    val path = remotePathOf(table)
    val staging = stagingDir(path, writer)
    val keep = params.get("parts").map(_.split(',').filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    keep.foreach(p => require(p.matches("[0-9-]+"), s"bad part id: $p"))
    val spools = keep.toSeq.sorted
      .map(p => new java.io.File(staging, s"part-$p.ndjson.gz"))
      .filter(_.exists)
    var moved = 0
    if (spools.nonEmpty) {
      // land all winning spools as ONE parquet file, written JOBLESS on
      // this thread (LocalScan.writeParquetFile) into staging, then moved
      // into the table dir — readers see the append atomically or not at
      // all, and no task slot is ever needed on the serve side
      val (schema, _) = remoteTableMeta(table)
      val decode = graft.sources.RemoteWire.decoder(schema)
      val landing = new java.io.File(staging,
        s"part-graft-$writer-${spools.hashCode.toHexString}.parquet")
      val lines = spools.iterator.flatMap { f =>
        val rd = new java.io.BufferedReader(new java.io.InputStreamReader(
          new java.util.zip.GZIPInputStream(
            new java.io.FileInputStream(f)), UTF_8), 1 << 16)
        Iterator.continually(rd.readLine()).takeWhile(_ != null) ++ {
          rd.close(); Iterator.empty
        }
      }
      org.apache.spark.sql.graft.LocalScan.writeParquetFile(
        spark, schema, landing.toString,
        lines.map(l => decode(graft.sources.RemoteWire.parseLine(l))))
      java.nio.file.Files.move(landing.toPath,
        new java.io.File(path, landing.getName).toPath)
      moved = 1
    }
    rmTree(staging) // losers of speculative races vanish here
    remoteTables.synchronized { remoteMeta.remove(table): Unit }
    json(ex, 200, s"""{"committed":$moved}""")
  }

  private def remoteAbort(ex: HttpExchange, params: Map[String, String]): Unit = {
    rmTree(stagingDir(remotePathOf(params("table")), params("writer")))
    json(ex, 200, """{"aborted":true}""")
  }

  private def handleRemote(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    (ex.getRequestMethod, ex.getRequestURI.getPath) match {
      case ("GET", "/v1/remote/tables") =>
        json(ex, 200, remoteTables.synchronized {
          remoteTables.keys.map(jStr).mkString("""{"tables":[""", ",", "]}")
        })
      case ("GET", "/v1/remote/schema") =>
        val t = params.getOrElse("table", "")
        val (schema, _) = remoteTableMeta(t)
        json(ex, 200, s"""{"table":${jStr(t)},"schema":${schema.json}}""")
      case ("GET", "/v1/remote/splits") =>
        val t = params.getOrElse("table", "")
        val (_, files) = remoteTableMeta(t)
        json(ex, 200,
          files.toSeq.sorted.map(jStr).mkString("""{"splits":[""", ",", "]}"))
      case ("GET", "/v1/remote/read") => remoteRead(ex, params)
      case ("POST", "/v1/remote/append") => remoteAppend(ex, params)
      case ("POST", "/v1/remote/commit") => remoteCommit(ex, params)
      case ("POST", "/v1/remote/abort") => remoteAbort(ex, params)
      case (meth, path) =>
        json(ex, 404, s"""{"error":${jStr(s"no route $meth $path")}}""")
    }
  }

  // ---- JSON input (parsed with Spark's bundled Jackson) -----------------

  private def parseNode(body: String): Either[String, (String, Long, String)] =
    try {
      val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      val name = Option(m.get("name")).map(_.asText()).filter(_.nonEmpty)
      val addr = Option(m.get("address")).map(_.asText()).filter(_.nonEmpty)
      val prio = Option(m.get("priority")).map(_.asLong()).getOrElse(0L)
      (name, addr) match {
        case (Some(n), Some(a)) if prio >= 0 && prio <= 10 => Right((n, prio, a))
        case (Some(_), Some(_)) => Left("priority must be in [0, 10]")
        case _ => Left("body must be {\"name\", \"priority\", \"address\"}")
      }
    } catch { case e: Exception => Left(s"bad JSON: ${e.getMessage}") }

  // ---- handlers ----------------------------------------------------------

  private def respond(ex: HttpExchange, code: Int, contentType: String,
      body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def json(ex: HttpExchange, code: Int, body: String): Unit =
    respond(ex, code, "application/json; charset=utf-8", body)

  private def hello: String =
    s"""{"name":"graft","version":${jStr(spark.version)},""" +
      s""""master":${jStr(spark.sparkContext.master)},""" +
      s""""settings_overridden":${GraftSession.settings(spark).count(!_._1.contains('.'))},""" +
      s""""endpoints":["/v1/hello","/v1/configs","/v1/cluster/list",""" +
      s""""/v1/remote/tables","/metrics"]}"""

  private def configs: String =
    GraftSession.settings(spark).map { case (k, v) => s"${jStr(k)}:${jStr(v)}" }
      .mkString("{", ",", "}")

  private def clusterList: String = nodes.synchronized {
    nodes.map { case (n, (p, a)) =>
      s"""{"name":${jStr(n)},"priority":$p,"address":${jStr(a)}}"""
    }.mkString("[", ",", "]")
  }

  private def metrics: String = {
    val sb = new StringBuilder
    def m(name: String, help: String, tpe: String, v: Any): Unit = {
      sb.append(s"# HELP $name $help\n# TYPE $name $tpe\n$name $v\n")
    }
    m("graft_queries_total", "Completed query executions (incl. failures).",
      "counter", SystemTables.queriesTotal.get)
    m("graft_query_failures_total", "Failed query executions.",
      "counter", SystemTables.queryFailures.get)
    m("graft_query_rows_total", "Rows produced by completed executions.",
      "counter", SystemTables.queryRows.get)
    m("graft_query_seconds_total", "Wall seconds spent in completed executions.",
      "counter", SystemTables.queryNanos.get / 1e9)
    // ring depth read directly — a Spark action here would fire the
    // QueryExecutionListener and inflate the counters this page reports
    // (and bill every Prometheus scrape one Spark job)
    m("graft_tracing_events", "Events currently in the system.tracing ring.",
      "gauge", SystemTables.tracingDepth(spark))
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage
    m("jvm_heap_used_bytes", "Used JVM heap.", "gauge", mem.getUsed)
    m("jvm_heap_max_bytes", "Max JVM heap.", "gauge", mem.getMax)
    var gcMs = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => gcMs += math.max(0L, b.getCollectionTime))
    m("jvm_gc_seconds_total", "Cumulative GC seconds.", "counter", gcMs / 1e3)
    sb.toString
  }

  // ---- lifecycle ---------------------------------------------------------

  def start(): Int = synchronized {
    require(server == null, "HttpApiServer already started")
    SystemTables.installTraceListener(spark)
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/v1/hello", (ex: HttpExchange) =>
      handle(ex) { json(ex, 200, hello) })
    server.createContext("/v1/configs", (ex: HttpExchange) =>
      handle(ex) { json(ex, 200, configs) })
    server.createContext("/v1/cluster", (ex: HttpExchange) => handle(ex) {
      (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case ("GET", "/v1/cluster/list") => json(ex, 200, clusterList)
        case ("POST", "/v1/cluster/add") =>
          parseNode(new String(ex.getRequestBody.readAllBytes(), UTF_8)) match {
            case Left(err) => json(ex, 400, s"""{"error":${jStr(err)}}""")
            case Right((n, p, a)) =>
              val added = nodes.synchronized {
                if (nodes.contains(n)) false
                else { nodes(n) = (p, a); true }
              }
              if (added) json(ex, 200, clusterList)
              else json(ex, 409, s"""{"error":${jStr(s"node $n already exists")}}""")
          }
        case ("POST", "/v1/cluster/remove") =>
          parseNode(new String(ex.getRequestBody.readAllBytes(), UTF_8)) match {
            case Left(err) => json(ex, 400, s"""{"error":${jStr(err)}}""")
            case Right((n, _, _)) =>
              val removed = nodes.synchronized {
                if (n == "local") false else nodes.remove(n).isDefined
              }
              if (removed) json(ex, 200, clusterList)
              else json(ex, 404, s"""{"error":${jStr(s"no removable node $n")}}""")
          }
        case (meth, path) =>
          json(ex, 404, s"""{"error":${jStr(s"no route $meth $path")}}""")
      }
    })
    server.createContext("/v1/remote", (ex: HttpExchange) =>
      handle(ex) { handleRemote(ex) })
    server.createContext("/metrics", (ex: HttpExchange) =>
      handle(ex) { respond(ex, 200, "text/plain; version=0.0.4", metrics) })
    pool = java.util.concurrent.Executors.newFixedThreadPool(4,
      r => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  private def handle(ex: HttpExchange)(body: => Unit): Unit =
    try body
    catch {
      case e: Throwable =>
        try json(ex, 500, s"""{"error":${jStr(String.valueOf(e.getMessage))}}""")
        catch { case _: Throwable => () }
    } finally ex.close()

  /** Stops serving and ends the handler threads (HttpServer.stop leaves
    * its executor running). */
  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null; pool.shutdown() }
  }
}
