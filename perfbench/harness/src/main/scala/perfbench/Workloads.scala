package perfbench

import scala.collection.mutable

import graft.server.MySqlServer
import graft.sql.{GraftSession, Render}

/** A named workload. `prepare` is the workload's part of set-up and returns
  * its state; `run` measures for `seconds` and records into the recorder. */
trait Workload {
  def name: String
  /** scale-factor directory under the data root */
  def sf: String
  def tables: Seq[String]
  /** Tail percentile reported as `stmt_tail_ms`, fixed per workload by
    * [[Stats.tailPercentile]] at the smallest sample count seen in the
    * steadiness runs. */
  def tail: Double
  /** whether the run starts with warm-up passes, left out of the figures */
  def warmup: Boolean = true
  /** kinds of statement the stmt_* figures are over (all when empty) */
  def primary: Set[String] = Set.empty
  def prepare(env: Env): AnyRef = None
  def run(env: Env, state: AnyRef, seed: Long, seconds: Double, rec: Recorder): Unit
  def release(state: AnyRef): Unit = ()
}

object Workloads {
  val StarTables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[Workload] = Seq(OlapMix, WireShort, PipelineIter, IngestRw)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))

  /** Warm-up before the measured part (s): within a run, statement walls
    * settle only after the JIT has compiled the hot paths, and measuring
    * before that makes each run's level depend on how fast it got there. */
  val WarmupSeconds = 12.0

  /** Odd passes are traced in a traced run; even passes give the untraced
    * baseline the tracing overhead is measured against. Warm-up passes
    * (numbered -1, -2, ...) and pass 0 are never traced. */
  def tracedPass(env: Env, pass: Int): Boolean = env.tracer.isDefined && pass % 2 == 1

  def setActive(env: Env, on: Boolean): Unit = env.tracer.foreach(_.active = on)

  /** Closed loop over passes. `warmupPasses` passes, numbered -1, -2, ...,
    * run first and are left out of the figures; a fixed count (about
    * [[WarmupSeconds]] of work) keeps the first measured pass the same for
    * a seed. Then the measured passes, 1, 2, ... (0, 1, ... without warm-up),
    * run until `seconds` have passed and at least `minPasses` are complete. */
  def closedLoop(env: Env, rec: Recorder, seconds: Double, warmupPasses: Int,
      minPasses: Int)(pass: (Int, Boolean) => Unit): Unit = {
    (1 to warmupPasses).foreach(w => pass(-w, false))
    val warmup = warmupPasses > 0
    val deadline = Tracer.nowMs() + seconds * 1000
    var p = if (warmup) 1 else 0
    var complete = 0
    while (Tracer.nowMs() < deadline || complete < minPasses) {
      val traced = tracedPass(env, p)
      setActive(env, traced)
      val t0 = Tracer.nowMs()
      pass(p, traced)
      rec.passes += ((p, traced, Tracer.nowMs() - t0))
      complete += 1
      p += 1
    }
    setActive(env, false)
  }
}

/** Dashboard shape: one in-process client, statements from small literal
  * sets over the sf0.1 star schema. */
object OlapMix extends Workload {
  val name = "olap_mix"
  val sf = "sf0.1"
  val tables: Seq[String] = Workloads.StarTables
  val tail = 75.0

  def run(env: Env, state: AnyRef, seed: Long, seconds: Double, rec: Recorder): Unit =
    Workloads.closedLoop(env, rec, seconds, warmupPasses = 3, minPasses = 3) { (pass, traced) =>
      Statements.olapPass(seed, pass).foreach { s =>
        Exec.inProcess(env, rec, s, pass, traced)(env.graft.sql(s.text))
      }
    }
}

/** Fixpoint operators of the driver contract, one driver, repeated passes. */
object PipelineIter extends Workload {
  val name = "pipeline_iter"
  val sf = "sf0.01"
  val tables: Seq[String] = Nil // the entries read their parquet files directly
  val tail = 50.0
  override val warmup = false

  final case class State(entries: Map[String, (org.apache.spark.sql.SparkSession, String) =>
    org.apache.spark.sql.DataFrame], oracle: Map[String, String])

  override def prepare(env: Env): AnyRef =
    State(graft.SparkEntry.queries, graft.SparkEntry.oracleSql)

  def run(env: Env, state: AnyRef, seed: Long, seconds: Double, rec: Recorder): Unit = {
    val st = state.asInstanceOf[State]
    val dir = s"${env.data}/$sf"
    val order = new Rng(seed).shuffle(Statements.pipelineEntries)
    Workloads.closedLoop(env, rec, seconds, warmupPasses = 0, minPasses = 3) { (pass, traced) =>
      order.foreach { e =>
        Exec.inProcess(env, rec, Stmt(e, e, st.oracle.get(e)), pass, traced)(
          st.entries(e)(env.spark, dir))
      }
    }
  }
}

/** Write path beside reads: seeded INSERT batches into a Memory-engine
  * table, with a GROUP BY and a range count after every few inserts, both
  * checked against the benchmark's own count of what it inserted. */
object IngestRw extends Workload {
  val name = "ingest_rw"
  val sf = "sf0.1"
  val tables: Seq[String] = Nil
  val tail = 50.0
  override val primary: Set[String] = Set("groupby", "range_count")
  val RowsPerInsert = 200
  val InsertsPerPass = 3

  override def prepare(env: Env): AnyRef = {
    env.graft.sql(s"DROP TABLE IF EXISTS ${Statements.IngestTable}")
    org.apache.commons.io.FileUtils.deleteDirectory(tableDir(env))
    env.graft.sql(s"CREATE TABLE ${Statements.IngestTable} " +
      "(k BIGINT, g INT, v DOUBLE, s STRING) ENGINE = Memory")
    None
  }

  private def tableDir(env: Env): java.io.File =
    new java.io.File(s"${env.work}/warehouse/${Statements.IngestTable}")

  private def dataFiles(env: Env): Seq[java.io.File] =
    Option(tableDir(env).listFiles).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  def run(env: Env, state: AnyRef, seed: Long, seconds: Double, rec: Recorder): Unit = {
    val r = new Rng(seed)
    var inserted = 0L
    val count = new Array[Long](Statements.IngestGroups)
    val keySum = new Array[Long](Statements.IngestGroups)
    val insertMs = mutable.ArrayBuffer[Double]()
    Workloads.closedLoop(env, rec, seconds, warmupPasses = 10, minPasses = 3) { (pass, traced) =>
      (0 until InsertsPerPass).foreach { _ =>
        val (stmt, groups) = Statements.ingestInsert(r, inserted, RowsPerInsert)
        val files0 = if (traced) dataFiles(env).length else 0
        val t0 = Tracer.nowMs()
        if (Exec.inProcess(env, rec, stmt, pass, traced, checkRows = false)(
            env.graft.sql(stmt.text)).isDefined) {
          if (pass > 0) insertMs += Tracer.nowMs() - t0
          groups.zipWithIndex.foreach { case (g, i) =>
            count(g) += 1; keySum(g) += inserted + i
          }
          inserted += RowsPerInsert
          if (traced) rec.opLayers.last match {
            case (_, (_, fig)) => fig("tables.files_written") = (dataFiles(env).length - files0).toDouble
          }
        }
      }
      val want = count.indices.filter(count(_) > 0)
        .map(g => s"[$g,${count(g)},${keySum(g)}]")
      read(env, rec, Statements.ingestGroupBy, pass, traced, want)
      val (range, lo, hi) = Statements.ingestRange(r, inserted)
      read(env, rec, range, pass, traced,
        Seq(s"[${math.max(0L, math.min(hi, inserted) - math.min(lo, inserted))}]"))
    }
    val bytes = dataFiles(env).map(_.length).sum
    rec.extra ++= Seq(
      "ingest.insert_rows_per_s" -> insertMs.length * RowsPerInsert / (insertMs.sum / 1000.0),
      "ingest.insert_p50_ms" -> Stats.median(insertMs.toSeq),
      "ingest.insert_tail_ms" ->
        Stats.percentile(insertMs.toSeq, Stats.tailPercentile(insertMs.length)),
      "ingest.stored_bytes_per_row" -> bytes.toDouble / inserted,
      "ingest.rows" -> inserted.toDouble,
      "ingest.files" -> dataFiles(env).length.toDouble)
  }

  /** A read whose rows must equal `want`, the benchmark's own count. */
  private def read(env: Env, rec: Recorder, stmt: Stmt, pass: Int, traced: Boolean,
      want: Seq[String]): Unit = {
    Exec.inProcess(env, rec, stmt, pass, traced, checkRows = false)(env.graft.sql(stmt.text))
      .foreach { rows =>
        val got = rows.toSeq.map(Exec.canon)
        if (got != want)
          rec.fail(s"${stmt.kind}: got ${got.take(3).mkString(" ")} want ${want.take(3).mkString(" ")}")
      }
  }
}

/** The front door under concurrent users: four MySQL connections to an
  * in-process [[MySqlServer]], each sending its next statement as soon as
  * the last one returns (a closed loop). An open loop at 40% of capacity
  * was tried first; its median moved by a quarter between runs of one seed,
  * as point lookups queued behind heavy statements or did not
  * (`receipt/open_loop`). */
object WireShort extends Workload {
  val name = "wire_short"
  val sf = "sf0.1"
  val tables: Seq[String] = Workloads.StarTables
  val tail = 90.0
  val Connections = 4
  /** Share of statements whose wire rows are compared in-process. */
  val CheckShare = 0.05

  final class State(val server: MySqlServer, val clients: IndexedSeq[MySqlClient],
      val connectMs: Seq[Double])

  override def prepare(env: Env): AnyRef = {
    val server = new MySqlServer(env.spark, 0)
    val port = server.start()
    val timed = (0 until Connections).map { _ =>
      val t0 = Tracer.nowMs()
      val c = new MySqlClient("127.0.0.1", port)
      (c, Tracer.nowMs() - t0)
    }
    new State(server, timed.map(_._1), timed.map(_._2))
  }

  override def release(state: AnyRef): Unit = {
    val st = state.asInstanceOf[State]
    st.clients.foreach(_.close())
    st.server.stop()
  }

  def run(env: Env, state: AnyRef, seed: Long, seconds: Double, rec: Recorder): Unit = {
    val st = state.asInstanceOf[State]
    val sizes = DataGen.Sizes(0.1)
    // warm-up, pass -1: closed loop on every connection for WarmupSeconds
    val warm = Statements.wireStatements(seed + 1, 10000, sizes)
    val until = Tracer.nowMs() + Workloads.WarmupSeconds * 1000
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    Exec.openLoop(IndexedSeq.fill(Connections)(0.0), Connections, Tracer.nowMs()) { (w, _, _) =>
      while (Tracer.nowMs() < until)
        issue(env, rec, st.clients(w), warm(next.getAndIncrement()), -1, traced = false,
          Tracer.nowMs())
    }
    // four users, each sending its next statement when the last one returns
    val stmts = Statements.wireStatements(seed, 20000, sizes)
    val coin = new Rng(seed ^ 0x51ed)
    val sample = stmts.indices.filter(_ => coin.unit() < CheckShare).toSet
    val kept = new java.util.concurrent.ConcurrentHashMap[Int, WireResult]()
    val timings = new java.util.concurrent.ConcurrentLinkedQueue[Timing]()
    val t0 = Tracer.nowMs()
    val deadline = t0 + seconds * 1000
    val taken = new java.util.concurrent.atomic.AtomicInteger(0)
    // tracing alternates by one-second slices of the window (even: off)
    val slicer = env.tracer.map { t =>
      val th = new Thread(() => {
        try while (true) {
          t.active = ((Tracer.nowMs() - t0) / 1000).toInt % 2 == 1
          Thread.sleep(5)
        } catch { case _: InterruptedException => t.active = false }
      })
      th.setDaemon(true); th.start(); th
    }
    Exec.openLoop(IndexedSeq.fill(Connections)(0.0), Connections, t0) { (w, _, _) =>
      while (Tracer.nowMs() < deadline) {
        val i = taken.getAndIncrement()
        val traced = env.tracer.exists(_.active)
        issue(env, rec, st.clients(w), stmts(i), 1, traced, Tracer.nowMs()).foreach { r =>
          timings.add(Timing(traced, r.firstRowMs - r.sentMs, r.doneMs - r.firstRowMs,
            r.bytes, r.rows.length))
          if (sample.contains(i)) kept.put(i, r)
        }
      }
    }
    slicer.foreach { th => th.interrupt(); th.join() }
    check(env, rec, stmts, kept)
    import scala.jdk.CollectionConverters._
    serverFigures(rec, st, timings.asScala.toSeq)
  }

  /** Socket-side figures of one measured statement. */
  final case class Timing(traced: Boolean, firstRowMs: Double, streamMs: Double,
      bytes: Long, rows: Int)

  private def issue(env: Env, rec: Recorder, c: MySqlClient, s: Stmt, pass: Int,
      traced: Boolean, due: Double): Option[WireResult] = {
    val start = Tracer.nowMs()
    val res = try Right(c.query(s.text)) catch { case e: Throwable => Left(e.toString) }
    val end = Tracer.nowMs()
    val outcome = res.flatMap(r => r.error.toLeft(None))
    rec.record(s, s.text, pass, traced, due, start, end, outcome)
    res.toOption.filter(_.error.isEmpty).map { r =>
      env.tracer.filter(_ => traced).foreach { t =>
        t.add("wire.first_row", -1, -1, r.sentMs, r.firstRowMs)
        t.add("wire.stream", -1, -1, r.firstRowMs, r.doneMs)
      }
      r
    }
  }

  /** Replays the sampled statements in-process on a fresh connection session
    * and compares the rendered rows with what came over the wire. Also times
    * the front door (`GraftSession.sql` minus Catalyst parse and analysis)
    * on those statements, the one layer a server-side statement does not
    * expose from outside. */
  private def check(env: Env, rec: Recorder, stmts: IndexedSeq[Stmt],
      kept: java.util.concurrent.ConcurrentHashMap[Int, WireResult]): Unit = {
    val session = GraftSession.forConnection(env.spark)
    val front = mutable.ArrayBuffer[Double]()
    kept.forEach { (i, wire) =>
      val s = stmts(i)
      try {
        val t0 = Tracer.nowMs()
        val df = session.sql(s.text)
        val t1 = Tracer.nowMs()
        val pa = Seq("parsing", "analysis").map(Exec.phaseMs(df.queryExecution, _)).sum
        front += math.max(0.0, t1 - t0 - pa)
        val cols = if (df.schema.isEmpty) Nil else df.schema.fieldNames.toSeq
        val rows = if (df.schema.isEmpty) Nil else df.collect().toSeq.map(r =>
          (0 until r.length).map(j => if (r.isNullAt(j)) null else Render.value(r.get(j))))
        if (cols != wire.columns || rows != wire.rows)
          rec.fail(s"${s.kind}: wire rows differ from in-process rows for: ${s.text.take(120)}")
      } catch { case e: Throwable => rec.fail(s"${s.kind}: in-process replay failed: $e") }
    }
    rec.extra("sql.front_ms") = if (front.isEmpty) 0.0 else front.sum / front.length
    rec.extra("wire.checked") = kept.size.toDouble
  }

  private def serverFigures(rec: Recorder, st: State, ts: Seq[Timing]): Unit = {
    val withRows = ts.filter(_.rows > 0)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    rec.extra ++= Seq(
      "server.connect_ms" -> mean(st.connectMs),
      "server.first_row_ms" -> mean(withRows.map(_.firstRowMs)),
      "server.stream_ms" -> mean(withRows.map(_.streamMs)),
      "server.wire_bytes_per_row" ->
        withRows.map(_.bytes).sum.toDouble / math.max(1, withRows.map(_.rows).sum),
      "wire.rows" -> ts.filter(_.traced).map(_.rows).sum.toDouble)
  }
}
