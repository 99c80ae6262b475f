package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.catalyst.TableIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.server.MySqlServer
import graft.sql.GraftSession

/** Facts about a table belong to the table, settings belong to the session.
  * Two wire connections ([[GraftSession.forConnection]] sessions) share the
  * catalog, so a table made on one DESCRIBEs, lists and drops the same on
  * the other; a `SET` on one stays on that one; and every Remote table
  * lives on the SparkContext's one store node. */
class CrossConnectionSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private lazy val http = HttpClient.newHttpClient()

  private def rows(g: GraftSession, sql: String): Seq[Seq[String]] =
    g.sql(sql).collect().toSeq.map(_.toSeq.map(String.valueOf))

  private def engineOf(g: GraftSession, db: String, name: String): Seq[Seq[String]] =
    rows(g, s"SELECT engine FROM system.tables WHERE database = '$db' AND name = '$name'")

  /** The store URL and table key a Remote table's catalog entry points at. */
  private def storeOf(db: String, name: String): (String, String) = {
    val opts = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name, Some(db))).storage.properties
    (opts("url"), opts("table"))
  }

  private def get(url: String): String =
    http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def served(url: String): String = get(s"$url/v1/remote/tables")

  /** The directory holding a Remote table's files on its store node. */
  private def dataDir(url: String, key: String): java.io.File = {
    val splits = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(get(s"$url/v1/remote/splits?table=$key")).get("splits")
    assert(splits.size() > 0, s"$key has no files")
    new java.io.File(new URI(splits.get(0).asText())).getParentFile
  }

  test("a table made on one connection DESCRIBEs and lists the same on another") {
    val a = GraftSession.forConnection(spark)
    val b = GraftSession.forConnection(spark)
    a.sql("DROP TABLE IF EXISTS xc_csv")
    try {
      a.sql("CREATE TABLE xc_csv (a INT NOT NULL, b INT NULL) ENGINE = CSV")
      val expected = Seq(Seq("a", "Int32", "NO"), Seq("b", "Int32", "YES"))
      assert(rows(a, "DESCRIBE xc_csv") == expected)
      assert(rows(b, "DESCRIBE xc_csv") == expected)
      assert(engineOf(b, "default", "xc_csv") == Seq(Seq("CSV")))
    } finally b.sql("DROP TABLE IF EXISTS xc_csv")
  }

  test("SET on one connection is invisible on another, which starts from the defaults") {
    val a = GraftSession.forConnection(spark)
    val b = GraftSession.forConnection(spark)
    val q = "SELECT value FROM system.settings WHERE name = 'max_block_size'"
    a.sql("SET max_block_size = 777")
    assert(rows(a, q) == Seq(Seq("777")))
    assert(rows(b, q) == Seq(Seq("10000")))
    assert(rows(GraftSession.forConnection(spark), q) == Seq(Seq("10000")))
  }

  /** Runs `body` with a fresh database `xc_db`, dropped afterwards. */
  private def withDb(body: => Unit): Unit = {
    val g = GraftSession.forConnection(spark)
    g.sql("DROP DATABASE IF EXISTS xc_db")
    g.sql("CREATE DATABASE xc_db")
    try body finally g.sql("DROP DATABASE IF EXISTS xc_db")
  }

  test("Remote tables made on two connections live on one store node") {
    withDb {
      val a = GraftSession.forConnection(spark)
      val b = GraftSession.forConnection(spark)
      a.sql("CREATE TABLE xc_db.ra (x INT) ENGINE = Remote")
      b.sql("CREATE TABLE xc_db.rb (x INT) ENGINE = Remote")
      val (urlA, keyA) = storeOf("xc_db", "ra")
      val (urlB, keyB) = storeOf("xc_db", "rb")
      assert(urlA == urlB)
      assert(served(urlA).contains(keyA) && served(urlA).contains(keyB))
      assert(engineOf(b, "xc_db", "ra") == Seq(Seq("remote")))
    }
  }

  test("a Remote table dropped on another connection leaves the store, " +
      "its data directory deleted") {
    withDb {
      val a = GraftSession.forConnection(spark)
      val b = GraftSession.forConnection(spark)
      a.sql("CREATE TABLE xc_db.ra (x INT) ENGINE = Remote")
      a.sql("CREATE TABLE xc_db.rb (x INT) ENGINE = Remote")
      a.sql("INSERT INTO xc_db.ra VALUES (1), (2)")
      a.sql("INSERT INTO xc_db.rb VALUES (3)")
      assert(rows(b, "SELECT x FROM xc_db.rb") == Seq(Seq("3")))
      val (url, keyA) = storeOf("xc_db", "ra")
      val (_, keyB) = storeOf("xc_db", "rb")
      val (dirA, dirB) = (dataDir(url, keyA), dataDir(url, keyB))
      assert(dirA.isDirectory && dirB.isDirectory)

      b.sql("DROP TABLE xc_db.ra")
      assert(!served(url).contains(keyA))
      assert(!dirA.exists())
      assert(served(url).contains(keyB))

      b.sql("DROP DATABASE xc_db")
      assert(!served(url).contains(keyB))
      assert(!dirB.exists())
    }
  }

  test("over MySQL: DESCRIBE and system.tables agree across connections, SET does not leak") {
    val server = new MySqlServer(spark)
    val port = server.start()
    val c1 = new WireClients.MySql(port)
    val c2 = new WireClients.MySql(port)
    try {
      assert(c1.query("DROP TABLE IF EXISTS xc_wire").isRight)
      assert(c1.query("CREATE TABLE xc_wire (a INT NOT NULL, b INT NULL) ENGINE = CSV").isRight)
      assert(c2.query("DESCRIBE xc_wire").map(_._2) ==
        Right(Seq(Seq("a", "Int32", "NO"), Seq("b", "Int32", "YES"))))
      assert(c2.query("SELECT engine FROM system.tables WHERE name = 'xc_wire'").map(_._2) ==
        Right(Seq(Seq("CSV"))))
      val q = "SELECT value FROM system.settings WHERE name = 'max_block_size'"
      assert(c1.query("SET max_block_size = 777").isRight)
      assert(c1.query(q).map(_._2) == Right(Seq(Seq("777"))))
      assert(c2.query(q).map(_._2) == Right(Seq(Seq("10000"))))
    } finally {
      c2.query("DROP TABLE IF EXISTS xc_wire")
      c1.close(); c2.close(); server.stop()
    }
  }
}
