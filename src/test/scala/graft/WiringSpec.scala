package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.QueryListeners
import org.scalatest.funsuite.AnyFunSuite

import graft.server.{HttpApiServer, MySqlServer}
import graft.tables.Tables

/** The engine's wiring: [[GraftExtensions]] reaches every session the boot
  * builder makes (a wire connection's `newSession()` included) without any
  * per-session step, and the one query listener counts every session's
  * queries on `/metrics` without piling up across server restarts. */
class WiringSpec extends AnyFunSuite {

  private def physical(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("a newSession() of the boot session plans graft operators and resolves graft functions") {
    // TestSpark.spark is SparkBoot.builder(...).getOrCreate(); no
    // GraftSession is ever constructed on this child session
    val s = TestSpark.spark.newSession()
    val topK = Tables.numbers(s, 10000L, Some(4)).orderBy(col("number").desc).limit(3)
    assert(physical(topK).contains("PrimitiveTopK"), physical(topK))
    assert(topK.collect().map(_.getLong(0)).toSeq == Seq(9999L, 9998L, 9997L))

    val rangeAgg = Tables.numbers(s, 1000L, Some(4)).agg(sum("number"))
    assert(physical(rangeAgg).contains("RangeAgg"), physical(rangeAgg))
    assert(rangeAgg.collect().head.getLong(0) == 499500L)

    val countAll = Tables.table(s, TestSpark.sfDir, "lineitem").agg(count(lit(1)))
    val optimized = countAll.queryExecution.optimizedPlan.toString
    assert(optimized.contains("LocalRelation") && !optimized.contains("parquet"), optimized)

    val missing = Seq("siphash64", "siphash", "simhash64", "totypename", "simhash60md5",
      "minhash32", "word_ngrams", "word_ngram_hashes", "dot_product", "hashed_margin",
      "cosine_sim", "vec_norm", "token_count", "bpeish_token_count", "quality_score",
      "alpha_ratio", "stopword_ratio", "mean_token_len", "lang_id", "content_fingerprint",
      "rolling_fingerprint", "redact_pii", "uniq_exact_state", "vec_sum", "sleep")
      .filterNot(s.catalog.functionExists)
    assert(missing.isEmpty, s"unresolved: ${missing.mkString(", ")}")
    // one of each builder kind: codegen'd expression, macro, UDAF, UDF
    val r = s.sql("SELECT siphash64('a') = siphash('a'), token_count('a b c'), " +
      "uniq_exact_state(id % 3), sleep(0) FROM range(10)").collect().head
    assert(r.getBoolean(0) && r.getLong(1) == 3L && r.getLong(2) == 3L && r.getShort(3) == 0)
    val err = intercept[Exception](s.sql("SELECT sleep(-1)").collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("negative duration")), err.toString)
  }

  test("wire queries count on /metrics; HTTP server restarts leave one listener") {
    val root = TestSpark.spark.newSession()
    val http = new HttpApiServer(root)
    val httpPort = http.start()
    val mysql = new MySqlServer(root)
    val mysqlPort = mysql.start()
    val client = HttpClient.newHttpClient()
    def queriesTotal(): Double = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$httpPort/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      .linesIterator.find(_.startsWith("graft_queries_total "))
      .map(_.split(' ')(1).toDouble).get
    def graftListeners(): Int =
      QueryListeners.of(root).count(_.getClass.getName.startsWith("graft."))
    try {
      val n = 5
      val before = queriesTotal()
      val conn = new WireClients.MySql(mysqlPort)
      try (1 to n).foreach(i => assert(conn.query(s"SELECT $i AS x").isRight))
      finally conn.close()
      // listener events arrive asynchronously — poll briefly
      val deadline = System.nanoTime() + 10e9.toLong
      while (queriesTotal() < before + n && System.nanoTime() < deadline) Thread.sleep(50)
      assert(queriesTotal() >= before + n)

      assert(graftListeners() == 1)
      (1 to 3).foreach { _ =>
        val again = new HttpApiServer(root)
        again.start()
        again.stop()
      }
      assert(graftListeners() == 1)
    } finally {
      mysql.stop()
      http.stop()
    }
  }
}
