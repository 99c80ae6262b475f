package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.TableIdentifier
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.server.{ClickHouseServer, MySqlServer}
import graft.sql.{GraftSession, Render}
import graft.tables.SystemTables

/** Statements whose answer the driver already holds — SHOW, DESCRIBE,
  * `system.*` and closed-form `numbers(N)` aggregates — start no Spark job,
  * in-process and over both wire front doors, and send the same rows either
  * way. A root ORDER BY is merged on the driver
  * ([[graft.plans.DriverMergeExec]]), so it starts the jobs of the same
  * statement without ORDER BY, and the same number over the wire. A result
  * the driver does not hold still streams one partition per job.
  *
  * Jobs are counted by a SparkListener, after the listener bus drains, and
  * only for jobs carrying this spec's local property: it is set on the test
  * thread before the servers start, so their accept and connection threads
  * inherit it and the jobs of other suites' leftover work are not counted. */
class DriverLocalJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val spark = TestSpark.spark
  private val sc = spark.sparkContext
  private val Mark = "graft.test.driverLocalJobs"
  private val jobs = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty(Mark) == "on")
        jobs.incrementAndGet()
  }
  private var mysql: MySqlServer = _
  private var ch: ClickHouseServer = _
  private var mysqlPort = 0
  private var chPort = 0

  /** The statement shapes answered from driver-held rows. */
  private val shapes = Seq(
    "SHOW TABLES",
    "SHOW DATABASES",
    "SHOW FUNCTIONS",
    "SHOW SETTINGS",
    "DESCRIBE default.dlj_mem",
    "SELECT * FROM system.one",
    "SELECT name, value FROM system.settings WHERE name = 'max_threads'",
    "SELECT database, name FROM system.tables ORDER BY database, name",
    "SELECT sum(number) AS s, count(*) AS c FROM numbers(54321)")

  /** Root ORDER BYs over a four-file parquet table, each with the ORDER BY
    * clause that is cut off to get the same statement without it. */
  private val rootSorts = Seq(
    "SELECT k, count(*) AS c, sum(id) AS s FROM default.dlj_fact GROUP BY k" ->
      " ORDER BY k",
    "SELECT id, k, v FROM default.dlj_fact WHERE id % 3 = 0" -> " ORDER BY v, id")

  override def beforeAll(): Unit = {
    sc.addSparkListener(listener)
    sc.setLocalProperty(Mark, "on")
    val g = GraftSession(spark)
    g.sql("CREATE DATABASE IF NOT EXISTS dlj_db2")
    g.sql("CREATE TABLE IF NOT EXISTS dlj_db2.dlj_t2 (x INT) USING parquet")
    g.sql("DROP TABLE IF EXISTS default.dlj_mem")
    g.sql("CREATE TABLE default.dlj_mem (a BIGINT, s VARCHAR) ENGINE = Memory")
    g.sql("CREATE OR REPLACE VIEW default.dlj_v AS SELECT 1 AS one")
    spark.range(3).createOrReplaceTempView("dlj_tmp")
    g.sql("DROP TABLE IF EXISTS default.dlj_fact")
    spark.range(0, 4000, 1, 4).selectExpr("id", "id % 9 AS k", "concat('v', id % 101) AS v")
      .write.saveAsTable("default.dlj_fact")
    mysql = new MySqlServer(spark)
    mysqlPort = mysql.start()
    ch = new ClickHouseServer(spark)
    chPort = ch.start()
  }

  override def afterAll(): Unit = {
    try {
      mysql.stop()
      ch.stop()
      val g = GraftSession(spark)
      g.sql("DROP VIEW IF EXISTS default.dlj_v")
      g.sql("DROP TABLE IF EXISTS default.dlj_mem")
      g.sql("DROP TABLE IF EXISTS default.dlj_fact")
      g.sql("DROP DATABASE IF EXISTS dlj_db2")
      spark.catalog.dropTempView("dlj_tmp")
    } finally {
      sc.setLocalProperty(Mark, null)
      sc.removeSparkListener(listener)
    }
  }

  /** `f`'s result and the number of marked jobs it started. */
  private def counted[T](f: => T): (T, Int) = {
    TestBus.drain(sc)
    val before = jobs.get
    val r = f
    TestBus.drain(sc)
    (r, jobs.get - before)
  }

  private def rendered(rows: Seq[Row]): Seq[Seq[String]] =
    rows.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else Render.value(r.get(i))))

  /** Rows in-process, on a session set up like a wire connection's. */
  private def inProcess(sql: String): (Seq[Seq[String]], Int) = {
    val g = GraftSession.forConnection(spark)
    val (rows, n) = counted(g.sql(sql).collect().toSeq)
    (rendered(rows), n)
  }

  private def withMySql[T](f: WireClients.MySql => T): T = {
    val c = new WireClients.MySql(mysqlPort)
    try f(c) finally c.close()
  }

  private def withCh[T](f: WireClients.Ch => T): T = {
    val c = new WireClients.Ch(chPort)
    try f(c) finally c.close()
  }

  test("driver-held statements start no job in-process") {
    shapes.foreach { s =>
      val (rows, n) = inProcess(s)
      assert(rows.nonEmpty, s)
      assert(n == 0, s"$s started $n jobs")
    }
  }

  test("driver-held statements start no job over MySQL, text and prepared, " +
      "and send the in-process rows in order") {
    withMySql { c =>
      shapes.foreach { s =>
        val (expected, _) = inProcess(s)
        val (text, nText) = counted(c.query(s))
        assert(nText == 0, s"$s (COM_QUERY) started $nText jobs")
        assert(text.map(_._2) == Right(expected), s)
        val (prepared, nPrep) = counted {
          val Right((id, _)) = c.prepare(s): @unchecked
          try c.execute(id, Nil) finally c.stmtClose(id)
        }
        assert(nPrep == 0, s"$s (COM_STMT_EXECUTE) started $nPrep jobs")
        assert(prepared.map(_._2) == Right(expected), s)
      }
    }
  }

  test("driver-held statements start no job over ClickHouse native " +
      "and send the in-process rows in order") {
    withCh { c =>
      shapes.foreach { s =>
        val (expected, _) = inProcess(s)
        val (res, n) = counted(c.query(s))
        assert(n == 0, s"$s started $n jobs")
        assert(res.map(_._3) == Right(expected), s)
      }
    }
  }

  test("a root ORDER BY starts as many jobs in-process as the statement without it") {
    rootSorts.foreach { case (select, orderBy) =>
      val (rows, sorted) = inProcess(select + orderBy)
      val (unsortedRows, unsorted) = inProcess(select)
      assert(rows.sortBy(_.mkString(",")) == unsortedRows.sortBy(_.mkString(",")))
      assert(sorted > 0 && sorted == unsorted,
        s"$select$orderBy started $sorted jobs, without ORDER BY $unsorted")
    }
  }

  test("a root ORDER BY starts the in-process jobs over MySQL and ClickHouse " +
      "and sends the in-process rows in order") {
    rootSorts.foreach { case (select, orderBy) =>
      val s = select + orderBy
      val (expected, n) = inProcess(s)
      assert(n == inProcess(select)._2, s)
      withMySql { c =>
        val (text, nText) = counted(c.query(s))
        assert(nText == n, s"$s (COM_QUERY) started $nText jobs, in-process $n")
        assert(text.map(_._2) == Right(expected), s)
        val (prepared, nPrep) = counted {
          val Right((id, _)) = c.prepare(s): @unchecked
          try c.execute(id, Nil) finally c.stmtClose(id)
        }
        assert(nPrep == n, s"$s (COM_STMT_EXECUTE) started $nPrep jobs, in-process $n")
        assert(prepared.map(_._2) == Right(expected), s)
      }
      withCh { c =>
        val (res, nCh) = counted(c.query(s))
        assert(nCh == n, s"$s started $nCh jobs over ClickHouse, in-process $n")
        assert(res.map(_._3) == Right(expected), s)
      }
    }
  }

  test("system.tables lists what the Catalog API lists, without temp views") {
    // a dialect-created table's engine label is a table property
    def label(db: String, name: String, tableType: String) =
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(name, Some(db)))
        .properties.getOrElse(GraftSession.EngineProperty, tableType)
    val viaApi = spark.catalog.listDatabases().collect().map(_.name).toSeq
      .flatMap(db => spark.catalog.listTables(db).collect().toSeq
        .filter(!_.isTemporary)
        .map(t => Seq(db, t.name, label(db, t.name, t.tableType))))
    val (rows, n) = counted(SystemTables.tables(spark).collect().toSeq)
    assert(n == 0)
    val listed = rows.map(r => Seq(r.getString(0), r.getString(1), r.getString(2)))
    // the virtual system tables follow the catalog's
    assert(listed.dropRight(SystemTables.all.length) == viaApi)
    assert(listed.takeRight(SystemTables.all.length).map(_(1)) == SystemTables.all)
    assert(listed.contains(Seq("default", "dlj_mem", "Memory")))
    assert(listed.contains(Seq("default", "dlj_v", "VIEW")))
    assert(listed.contains(Seq("dlj_db2", "dlj_t2", "MANAGED")))
    assert(!listed.exists(_(1) == "dlj_tmp"))
  }

  test("system.functions lists the Catalog API's names, a temporary UDF included") {
    spark.udf.register("dlj_udf", (x: Int) => x + 1)
    try {
      val viaApi = spark.catalog.listFunctions().collect().map(_.name).sorted.toSeq
      val (rows, n) = counted(SystemTables.functions(spark).collect().toSeq)
      assert(n == 0)
      assert(rows.map(_.getString(0)) == viaApi)
      assert(viaApi.contains("dlj_udf") && viaApi.contains("<>"))
    } finally spark.sessionState.catalog.dropTempFunction("dlj_udf", ignoreIfNotExists = true)
  }

  test("a multi-partition result the driver does not hold still streams, " +
      "one job per partition") {
    val sql = "SELECT number FROM numbers(100000)"
    val parts = GraftSession.forConnection(spark).sql(sql)
      .queryExecution.executedPlan.execute().getNumPartitions
    assert(parts > 1)
    withMySql { c =>
      val (res, n) = counted(c.query(sql))
      assert(res.map(_._2.length) == Right(100000))
      assert(n == parts)
    }
  }
}
