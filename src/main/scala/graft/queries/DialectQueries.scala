package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sql.GraftSession
import graft.tables.Tables

/** Driver queries that enter through the SQL DIALECT surface (GraftSession
  * text → rewrites → spark.sql) instead of the DataFrame API — proving the
  * reference's SQL front door end-to-end inside the oracle harness. */
object DialectQueries {

  private def g(s: SparkSession, dir: String): GraftSession = {
    Tables.registerAll(s, dir)
    GraftSession.cached(s)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q38_dialect_combinators" -> ((s, dir) => {
      // combinator suffixes + uniq through the text rewriter
      g(s, dir).sql(
        """SELECT l_returnflag,
          |  round(sumIf(l_quantity, l_discount > 0.05), 2) AS sq,
          |  countIf(l_discount > 0.05) AS cq,
          |  uniq(l_orderkey) AS u
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),
    "q39_dialect_limit_by" -> ((s, dir) => {
      // numbers() table function + ClickHouse LIMIT n BY through the dialect
      g(s, dir).sql(
        """SELECT number % 5 AS k, number FROM numbers_mt(1000)
          |ORDER BY k, number LIMIT 3 BY k""".stripMargin)
    }),
    "q96_csv_engine" -> ((s, dir) => {
      // The CSV table engine END-TO-END under the oracle gate: customer is
      // exported to headered CSV, mounted via the reference's
      // `ENGINE = CSV location=... has_header=1` DDL, and aggregated joined
      // against the parquet nation — the result must equal the same rollup
      // over the parquet original. Exercises CSV schema inference + the
      // DDL rewrite path inside Verify, not just DialectSpec.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q96").toString
      Tables.table(s, dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(tmp)
      val gs = g(s, dir)
      gs.sql("DROP TABLE IF EXISTS q96_cust_csv")
      gs.sql(s"CREATE TABLE q96_cust_csv (c_custkey BIGINT, c_nationkey BIGINT, " +
        s"c_acctbal DOUBLE, c_mktsegment STRING) ENGINE = CSV location='$tmp' has_header=1")
      val out = gs.sql(
        """SELECT n_name, c_mktsegment, count(*) AS n,
          |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(30,10))) AS DOUBLE), 2) AS bal
          |FROM q96_cust_csv JOIN nation ON c_nationkey = n_nationkey
          |WHERE c_nationkey < 5
          |GROUP BY n_name, c_mktsegment ORDER BY n_name, c_mktsegment""".stripMargin)
      // evaluate the bounded rollup, then unmount the scratch table so the
      // session catalog stays pinned (same hygiene as q80/q82) and drop the
      // CSV scratch dir
      val rows = out.collect().toSeq
      val result = s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), out.schema)
      gs.sql("DROP TABLE IF EXISTS q96_cust_csv")
      graft.tables.Hfs.rmTree(new java.io.File(tmp))
      result
    }),
    "q104_sql_pipeline" -> ((s, dir) => {
      // The pipeline scalar surface END-TO-END as SQL text: curation
      // (quality gate) + simhash fingerprint dedup (keep-lowest) + language
      // rollup, every function resolved through the dialect's registry
      // (simhash60md5 / token_count / quality_score / lang_id) — the
      // parser → registry → codegen path itself sits under the oracle
      // gate, not just the Column spellings the other queries use.
      g(s, dir).sql(
        """WITH f AS (
          |  SELECT doc_id, lang,
          |         simhash60md5(text) AS fp,
          |         token_count(text) AS n_tok,
          |         quality_score(text) AS q,
          |         lang_id(text) AS pred
          |  FROM documents),
          |d AS (
          |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          |  FROM f)
          |SELECT lang, pred, count(*) AS n_docs, sum(n_tok) AS sum_tok,
          |       min(q) AS min_q, max(q) AS max_q,
          |       sum(doc_id) AS checksum
          |FROM d WHERE rn = 1 AND q >= 0.3
          |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin)
    }),
  )

  private val stopList = "['the','a','an','of','to','in','is','and','or','for']"

  def oracle: Map[String, String] = Map(
    // restates the full SQL pipeline from proven fragments: q102's simhash
    // construction, q41's token/quality math, q43's language heuristic
    "q104_sql_pipeline" ->
      s"""WITH g AS (
         |  SELECT doc_id, lang, text,
         |    list_transform(string_split_regex(trim(text), '\\s+'),
         |      t -> list_reduce(
         |             list_transform(string_split(md5(t), '')[1:15],
         |               c -> CAST(CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
         |                         ELSE unicode(c) - 48 END AS BIGINT)),
         |             (a, v) -> a * 16 + v)) AS gs,
         |    len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> list_contains(['the','a','of','and','to','is','in'], t))) AS s_en,
         |    len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> list_contains(['le','la','les','de','et','un','est'], t))) AS s_fr,
         |    len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> list_contains(['der','die','das','und','ist','ein','nicht'], t))) AS s_de,
         |    len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> list_contains(['el','los','las','y','un','es','que'], t))) AS s_es
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, lang,
         |    CAST(list_sum(list_transform(generate_series(0, 59), b ->
         |      CASE WHEN list_sum(list_transform(gs, g -> ((g >> b) & 1) * 2 - 1)) > 0
         |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS fp,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok,
         |    round(0.5 * round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |            / greatest(length(text), 1), 6)
         |        + 0.3 * least(round(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |            t -> list_contains($stopList, t))) AS DOUBLE)
         |            / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) * 3, 1.0)
         |        + 0.2 * least(round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         |            / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) / 8, 1.0), 6) AS q,
         |    CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |      WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
         |      WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
         |      WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
         |      WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
         |      ELSE 'es' END AS pred
         |  FROM g),
         |d AS (
         |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |  FROM f)
         |SELECT lang, pred, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
         |       min(q) AS min_q, max(q) AS max_q,
         |       CAST(sum(doc_id) AS BIGINT) AS checksum
         |FROM d WHERE rn = 1 AND q >= 0.3
         |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin,
    "q38_dialect_combinators" ->
      """SELECT l_returnflag,
        |  round(sum(CASE WHEN l_discount > 0.05 THEN l_quantity END), 2) AS sq,
        |  CAST(count(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT) AS cq,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS u
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q39_dialect_limit_by" ->
      """WITH t AS (SELECT gs % 5 AS k, gs AS number FROM generate_series(0, 999) s(gs)),
        |r AS (SELECT k, number,
        |  row_number() OVER (PARTITION BY k ORDER BY k, number) AS rn FROM t)
        |SELECT k, number FROM r WHERE rn <= 3 ORDER BY k, number""".stripMargin,
    // the CSV round-trip is row-preserving — plain parquet-side oracle
    "q96_csv_engine" ->
      """SELECT n_name, c_mktsegment, count(*) AS n,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(30,10))) AS DOUBLE), 2) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_nationkey < 5
        |GROUP BY n_name, c_mktsegment ORDER BY n_name, c_mktsegment""".stripMargin,
  )
}
