package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.{Dialect, GraftSession}

/** The reference SQL dialect end-to-end through GraftSession.sql:
  * numbers() table function, LIMIT n BY, combinator suffixes, SHOW
  * statements, system tables, siphash64 in SQL, CREATE TABLE ENGINE=,
  * INSERT VALUES (stateless-suite shapes from
  * /root/reference/tests/suites/0_stateless/). */
class DialectSpec extends AnyFunSuite {
  private lazy val g = GraftSession(TestSpark.spark)

  test("SELECT 1 (constant select, suite 00)") {
    assert(g.sql("SELECT 1").head().getInt(0) === 1)
  }

  test("numbers(N) table function") {
    val r = g.sql("SELECT avg(number) AS a, count(number) AS c FROM numbers(1000000)").head()
    assert(r.getDouble(0) === 499999.5)
    assert(r.getLong(1) === 1000000L)
  }

  test("numbers_mt alias and arithmetic (perf-suite shape)") {
    val r = g.sql("SELECT sum(number + number + number) AS s FROM numbers_mt(1000)").head()
    assert(r.getLong(0) === 3L * 999 * 1000 / 2)
  }

  test("LIMIT n BY keeps n rows per key") {
    val rows = g.sql(
      """SELECT number % 3 AS k, number AS v FROM numbers(30)
        |ORDER BY v LIMIT 2 BY k""".stripMargin).collect()
    assert(rows.length === 6)
    assert(rows.map(_.getLong(1)).toSet === Set(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("LIMIT n BY followed by plain LIMIT") {
    val rows = g.sql(
      "SELECT number % 3 AS k, number AS v FROM numbers(30) ORDER BY v LIMIT 2 BY k LIMIT 3").collect()
    assert(rows.length === 3)
  }

  test("combinator suffixes: sumIf/countIf/uniq/argMax") {
    val r = g.sql(
      """SELECT sumIf(number, number % 2 = 0) AS se,
        |       countIf(number > 5) AS cg,
        |       uniq(number % 3) AS u,
        |       argMax(number % 3, number) AS am
        |FROM numbers(10)""".stripMargin).head()
    assert(r.getLong(0) === 20L)  // 0+2+4+6+8
    assert(r.getLong(1) === 4L)   // 6,7,8,9
    assert(r.getLong(2) === 3L)
    assert(r.getLong(3) === 9L % 3)
  }

  test("uniqIf and nested-call arg splitting") {
    val r = g.sql(
      "SELECT uniqIf(substring(CAST(number AS STRING), 1, 1), number < 20) AS u FROM numbers(100)").head()
    assert(r.getLong(0) === 10L) // first chars of "0".."19" → {'0'..'9'}
  }

  test("SHOW DATABASES / SHOW TABLES / SHOW SETTINGS run") {
    assert(g.sql("SHOW DATABASES").count() >= 1)
    assert(g.sql("SHOW SETTINGS").count() > 10)
    g.sql("SHOW TABLES").collect()
  }

  test("system.one and toTypeName") {
    val r = g.sql("SELECT toTypeName(dummy) AS t FROM system.one").head()
    assert(r.getString(0) === "Int8") // reference type names (§1.2 reversed)
  }

  test("system.tracing records statements and action completions (tracing_table.rs)") {
    // a marker statement lands one trace row with its text + plan cost
    g.sql("SELECT 41 + 1 AS tracing_marker").collect()
    val rows = g.sql(
      "SELECT * FROM system.tracing WHERE msg LIKE '%tracing_marker%'").collect()
    assert(rows.nonEmpty)
    // reference schema parity: (v, name, msg, level, hostname, pid, time)
    val schema = rows.head.schema
    assert(schema.fieldNames.toSeq ===
      Seq("v", "name", "msg", "level", "hostname", "pid", "time"))
    assert(schema("level").dataType ===
      org.apache.spark.sql.types.ByteType) // Int8, tracing_table.rs:39
    assert(rows.head.getAs[String]("name") === "graft")
    assert(rows.head.getAs[String]("msg").contains("plan cost"))
    // action completions arrive via the async listener bus: poll, as a log
    // tail would
    val deadline = System.currentTimeMillis() + 10000
    var sawAction = false
    while (!sawAction && System.currentTimeMillis() < deadline) {
      sawAction = g.sql(
        "SELECT * FROM system.tracing WHERE msg LIKE 'action %'").count() > 0
      if (!sawAction) Thread.sleep(100)
    }
    assert(sawAction, "no action completion traced within 10 s")
    // the tracing table lists itself in system.tables under db `system`
    assert(g.sql("SELECT engine FROM system.tables " +
      "WHERE database = 'system' AND name = 'tracing'")
      .head().getString(0) === "SystemTracing")
  }

  test("named casts toInt8/16/32/64, toUInt widening, toFloat (suite 02)") {
    val r = g.sql(
      """SELECT toInt8(200 % 100) AS a, toInt16(40000 % 30000) AS b,
        |  toInt32(7) AS c, toInt64(7) AS d, toUInt8(255) AS e,
        |  toFloat64('1.5') AS f, toTypeName(toInt8(1)) AS t""".stripMargin).head()
    assert(r.getByte(0) == 0 && r.getShort(1) == 10000 && r.getInt(2) == 7)
    assert(r.getLong(3) == 7L && r.getShort(4) == 255 && r.getDouble(5) == 1.5)
    assert(r.getString(6) == "Int8")
  }

  test("database() / version() / sleep() context functions (udfs/udf.rs)") {
    assert(g.sql("SELECT database() AS d").head().getString(0).nonEmpty)
    assert(g.sql("SELECT version() AS v").head().getString(0).nonEmpty)
    val t0 = System.nanoTime()
    assert(g.sql("SELECT sleep(0.2) AS s").head().getShort(0) == 0)
    assert(System.nanoTime() - t0 >= 200000000L)
  }

  test("siphash64 callable from SQL, matches Rust DefaultHasher semantics") {
    val h = g.sql("SELECT siphash64('hello world') AS h").head().getLong(0)
    assert(h === graft.functions.HashExpressions.SipHash13.hashStr(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world")))
  }

  test("CREATE TABLE ENGINE=Memory + INSERT VALUES + SELECT (suites 05/09)") {
    g.sql("DROP TABLE IF EXISTS t_mem")
    g.sql("CREATE TABLE IF NOT EXISTS t_mem (a INT, b STRING) ENGINE = Memory")
    g.sql("INSERT INTO t_mem VALUES (1, 'x'), (2, 'y')")
    val rows = g.sql("SELECT a, b FROM t_mem ORDER BY a").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((1, "x"), (2, "y")))
    g.sql("DROP TABLE t_mem")
  }

  test("ENGINE=Memory accepts the reference's bare VARCHAR and DateTime types") {
    g.sql("DROP TABLE IF EXISTS t_memty")
    g.sql("CREATE TABLE t_memty (s VARCHAR, t DateTime) ENGINE = Memory")
    g.sql("INSERT INTO t_memty VALUES ('x', TIMESTAMP '2021-01-02 03:04:05')")
    val r = g.sql("SELECT s, CAST(t AS STRING) FROM t_memty").head()
    assert(r.getString(0) == "x" && r.getString(1) == "2021-01-02 03:04:05")
    val types = g.sql("DESCRIBE t_memty").collect().map(r => r.getString(0) -> r.getString(1))
    assert(types.toSeq == Seq("s" -> "Utf8", "t" -> "Timestamp"))
    g.sql("DROP TABLE t_memty")
  }

  test("CREATE TABLE ENGINE=CSV with location reads the file (suite 05)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv")
    val f = dir.resolve("data.csv")
    java.nio.file.Files.writeString(f, "1,alice\n2,bob\n")
    g.sql("DROP TABLE IF EXISTS t_csv")
    g.sql(s"CREATE TABLE t_csv (id INT, name STRING) ENGINE = CSV location = '$f'")
    val rows = g.sql("SELECT id, name FROM t_csv ORDER BY id").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "alice"), (2, "bob")))
    g.sql("DROP TABLE t_csv")
  }

  test("INSERT INTO ... SELECT appends query results") {
    g.sql("DROP TABLE IF EXISTS t_ins")
    g.sql("CREATE TABLE t_ins (n BIGINT) ENGINE = Memory")
    g.sql("INSERT INTO t_ins SELECT number FROM numbers(5)")
    g.sql("INSERT INTO t_ins SELECT number * 10 FROM numbers(2)")
    val got = g.sql("SELECT n FROM t_ins ORDER BY n").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 0L, 1L, 2L, 3L, 4L, 10L))
    g.sql("DROP TABLE t_ins")
  }

  test("ENGINE=JSON round-trips through CREATE + INSERT + SELECT") {
    g.sql("DROP TABLE IF EXISTS t_json")
    g.sql("CREATE TABLE t_json (a INT, b STRING) ENGINE = JSON")
    g.sql("INSERT INTO t_json VALUES (1, 'x')")
    val r = g.sql("SELECT a, b FROM t_json").head()
    assert(r.getInt(0) == 1 && r.getString(1) == "x")
    g.sql("DROP TABLE t_json")
  }

  test("DESC sorts put NULLs first (plan_parser.rs:488 default)") {
    g.sql("SELECT 1 AS x UNION ALL SELECT NULL").createOrReplaceTempView("nulls_t")
    val desc = g.sql("SELECT x FROM nulls_t ORDER BY x DESC").collect()
    assert(desc(0).isNullAt(0) && desc(1).getInt(0) == 1)
    // explicit NULLS LAST is respected
    val explicit = g.sql("SELECT x FROM nulls_t ORDER BY x DESC NULLS LAST").collect()
    assert(explicit(0).getInt(0) == 1 && explicit(1).isNullAt(0))
    // 'DESC' inside a string literal is untouched
    assert(g.sql("SELECT 'DESC' AS s").head().getString(0) == "DESC")
  }

  test("SET engine setting is visible in SHOW SETTINGS and sizes shuffles") {
    g.sql("SET max_threads = 7")
    val v = g.sql("SHOW SETTINGS").filter(col("name") === "max_threads")
      .head().getString(1)
    assert(v == "7")
    assert(g.spark.conf.get("spark.sql.shuffle.partitions") == "7")
    g.sql("SET max_threads = 4") // restore the test session's default
  }

  test("SHOW CREATE TABLE (sql_statement.rs DfShowCreateTable) passes through") {
    g.sql("DROP TABLE IF EXISTS t_sct")
    g.sql("CREATE TABLE t_sct (a INT) ENGINE = Memory")
    val ddl = g.sql("SHOW CREATE TABLE t_sct").head().getString(0)
    assert(ddl.toLowerCase.contains("create table") && ddl.contains("t_sct"))
    g.sql("DROP TABLE t_sct")
  }

  test("EXPLAIN passes through") {
    assert(g.sql("EXPLAIN SELECT sum(number) FROM numbers(10)").count() === 1)
  }

  test("EXPLAIN GRAPH renders a GraphViz digraph (sql_parser.rs:196)") {
    val out = g.sql("EXPLAIN GRAPH SELECT sum(number) FROM numbers(10) WHERE number > 2")
    assert(out.columns.toSeq === Seq("explain"))
    val dot = out.head().getString(0)
    assert(dot.contains("digraph {"), dot)
    assert(dot.contains("GraphViz"), dot)
    // real nodes and a dataflow edge, not the reference's empty digraph
    assert(dot.contains("Aggregate"), dot)
    assert("""n\d+ -> n\d+;""".r.findFirstIn(dot).isDefined, dot)
    // the dialect rewrites apply to the inner statement (numbers() TVF)
    assert(dot.toLowerCase.contains("range") || dot.toLowerCase.contains("relation"), dot)
  }

  test("dialect rewrite is inert on plain Spark SQL") {
    val q = "SELECT l_orderkey, sum(l_quantity) FROM lineitem GROUP BY l_orderkey"
    assert(Dialect.rewrite(q) === q)
  }

  test("rewrites never touch string literals (incl. '' escapes)") {
    // numbers()/system./uniq( inside literals stay verbatim
    assert(Dialect.rewrite("SELECT 'numbers(5)' AS s")
      === "SELECT 'numbers(5)' AS s")
    assert(Dialect.rewrite("SELECT 'system.tables' AS s")
      === "SELECT 'system.tables' AS s")
    assert(Dialect.rewrite("SELECT 'uniq(x)' AS s") === "SELECT 'uniq(x)' AS s")
    // an escaped quote must not flip the in/out-of-string parity
    val q = "SELECT 'it''s DESC here' AS s, x FROM t ORDER BY x DESC"
    assert(Dialect.rewrite(q)
      === "SELECT 'it''s DESC here' AS s, x FROM t ORDER BY x DESC NULLS FIRST")
  }

  test("DESC rewrite is scoped to ORDER BY position") {
    // a column named `desc` in SELECT/WHERE position is left alone
    assert(Dialect.rewrite("SELECT desc FROM t WHERE desc > 1")
      === "SELECT desc FROM t WHERE desc > 1")
    // ... while sort items, incl. window-spec sorts, still get the pin
    assert(Dialect.rewrite("SELECT rank() OVER (ORDER BY x DESC) FROM t")
      === "SELECT rank() OVER (ORDER BY x DESC NULLS FIRST) FROM t")
  }

  test("pipeline scalar surface is SQL-reachable (ext kernels as functions)") {
    // kernel-backed and macro-style registrations both resolve in SQL text
    // and agree with their Column spellings
    val r = g.sql(
      """SELECT simhash60md5('a b c') AS sh,
        |       token_count('  one two  three ') AS tc,
        |       lang_id('the cat and the dog is in the house') AS lid,
        |       word_ngram_hashes('a b c d', 3) AS ngh,
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |       round(cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)), 6) AS cs,
        |       rolling_fingerprint('a b c') AS rfp,
        |       redact_pii('mail bob@x.com or https://a.b/c id 12345678') AS red,
        |       hashed_margin('a b c', 262144) AS hm
        |""".stripMargin).collect()(0)
    import org.apache.spark.sql.functions._
    val col0 = TestSpark.spark.sql("SELECT 'a b c' AS t, 'the cat and the dog is in the house' AS e")
      .select(
        graft.ext.Dedup.simhash60Md5(col("t")).as("sh"),
        graft.ext.TextAnalysis.langId(col("e")).as("lid"),
        graft.ext.TextAnalysis.rollingFingerprint(col("t")).as("rfp"))
      .collect()(0)
    assert(r.getLong(0) === col0.getLong(0))
    assert(r.getLong(1) === 3L)
    assert(r.getString(2) === col0.getString(1))
    assert(r.getSeq[Long](3).length === 2)
    assert(r.getDouble(4) === 11.0)
    assert(r.getDouble(5) === 1.0)
    assert(r.getLong(6) === col0.getLong(2))
    assert(r.getString(7) === "mail <EMAIL> or <URL> id <NUM>")
    assert(r.getLong(8) === TestSpark.spark.sql("SELECT 'a b c' AS t")
      .select(graft.ext.TextAnalysis.hashedLinearMargin(col("t"))).head().getLong(0))
    // the vector-sum UDAF (kmeans centroid update) is SQL-reachable too
    val vs = g.sql(
      """SELECT vec_sum(v) AS s FROM (
        |  SELECT array(1L, 2L) AS v UNION ALL SELECT array(10L, 20L))
        |""".stripMargin).collect()(0).getSeq[Long](0)
    assert(vs === Seq(11L, 22L))
    // registry surfaces them in system.functions
    val fns = g.sql("SELECT name FROM system.functions").collect().map(_.getString(0)).toSet
    Seq("simhash60md5", "minhash32", "word_ngrams", "quality_score",
      "cosine_sim", "content_fingerprint", "redact_pii",
      "hashed_margin").foreach(f => assert(fns.contains(f), f))
  }

  test("LIMIT n BY ignores a subquery's ORDER BY / LIMIT (depth-aware)") {
    TestSpark.spark.sql("SELECT 1 AS k, 2 AS a UNION ALL SELECT 1, 3 UNION ALL SELECT 2, 4")
      .createOrReplaceTempView("t_lby")
    val rewritten = Dialect.rewrite(
      "SELECT * FROM (SELECT k, a FROM t_lby ORDER BY a) LIMIT 1 BY k")
    // the subquery's ORDER BY must stay inside the body, not become the
    // outer window order
    assert(rewritten.contains("FROM (SELECT * FROM (SELECT k, a FROM t_lby ORDER BY a))"),
      rewritten)
    val rows = TestSpark.spark.sql(rewritten).collect()
    assert(rows.length === 2, rows.mkString(","))
  }

  test("MERGE INTO LOCATION upserts a parquet snapshot (full-row semantics)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-merge").toString + "/snap"
    try {
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "tag", "v").write.parquet(tmp)
      g.sql("DROP TABLE IF EXISTS merge_updates")
      Seq((2L, "B", 200L), (4L, "d", 40L)).toDF("id", "tag", "v")
        .createOrReplaceTempView("merge_updates")
      val r = g.sql(
        s"""MERGE INTO LOCATION '$tmp' USING merge_updates ON id
           |  WHEN MATCHED THEN UPDATE SET *
           |  WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
      // (n_source_rows, n_matched, snapshot_rows): id=2 matched an existing
      // row (UPDATE), id=4 did not (INSERT) => 2 source rows, 1 matched
      assert(r.getLong(0) === 2L && r.getLong(1) === 1L && r.getLong(2) === 4L)
      val back = spark.read.parquet(tmp).orderBy("id")
        .as[(Long, String, Long)].collect().toSeq
      assert(back === Seq((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L), (4L, "d", 40L)))
      // subquery form: replace row 1 via an inline SELECT
      val r2 = g.sql(
        s"""MERGE INTO LOCATION '$tmp'
           |  USING (SELECT CAST(1 AS BIGINT) AS id, 'A' AS tag, CAST(100 AS BIGINT) AS v)
           |  ON id
           |  WHEN MATCHED THEN UPDATE SET *
           |  WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
      assert(r2.getLong(1) === 1L && r2.getLong(2) === 4L)
      assert(spark.read.parquet(tmp).filter($"id" === 1L)
        .as[(Long, String, Long)].head() === ((1L, "A", 100L)))
    } finally {
      spark.catalog.dropTempView("merge_updates"): Unit
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(tmp).getParentFile)
    }
  }

  test("ENGINE = Remote: store-backed create + insert + select round trip (suite 09)") {
    g.sql("CREATE DATABASE IF NOT EXISTS rdb")
    try {
      g.sql("CREATE TABLE rdb.rt(a int, b varchar) ENGINE = Remote")
      // system.tables renders the reference engine label
      assert(g.sql("SELECT engine FROM system.tables " +
        "WHERE database = 'rdb' AND name = 'rt'").head().getString(0) === "remote")
      // INSERT goes over the wire (staged append + commit on the store
      // node); SELECT reads splits back through the graft-remote connector.
      // Values land UNQUOTED — the reference's literal-only VALUES parser
      // stores the raw quoted token, a pinned divergence (09_0001 skip).
      g.sql("INSERT INTO rdb.rt VALUES(1, 'v1'),(2, 'v2')")
      val rows = g.sql("SELECT a, b FROM rdb.rt ORDER BY a").collect()
      assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ===
        Seq((1, "v1"), (2, "v2")))
      // second insert appends, never overwrites
      g.sql("INSERT INTO rdb.rt VALUES(3, 'v3')")
      assert(g.sql("SELECT count(*) AS n FROM rdb.rt").head().getLong(0) === 3L)
      g.sql("DROP TABLE rdb.rt")
      assert(g.sql("SELECT count(*) AS n FROM system.tables " +
        "WHERE database = 'rdb' AND name = 'rt'").head().getLong(0) === 0L)
    } finally g.sql("DROP DATABASE IF EXISTS rdb")
  }
}
