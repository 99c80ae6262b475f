package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.GraftSession

/** Differential check of [[graft.plans.SortLocalRelation]]: every ORDER BY
  * over VALUES returns the same rows in the same key order with the rule as
  * with Spark's own distributed sort (the rule listed in
  * `spark.sql.optimizer.excludedRules`), and with the rule it plans as a
  * bare `LocalTableScanExec`. */
class SortLocalRelationSpec extends AnyFunSuite {

  private def session(excluded: Boolean): GraftSession = {
    val s: SparkSession = TestSpark.spark.newSession()
    if (excluded)
      s.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.SortLocalRelation")
    GraftSession(s)
  }
  private lazy val withRule = session(excluded = false)
  private lazy val withoutRule = session(excluded = true)

  // NULLs in both columns, ties on `a` and on `s`, duplicate whole rows
  private val values =
    "VALUES (3, 'c', 1.5), (NULL, 'a', 2.0), (1, NULL, 0.5), (3, 'a', -1.0), " +
      "(2, 'b', NULL), (NULL, NULL, 3.0), (1, 'b', 0.5), (3, 'c', 1.5), " +
      "(2, 'a', 2.5), (1, 'c', -0.5) AS t(a, s, d)"

  /** (select list, ORDER BY, number of leading sort-key columns). Spark's
    * distributed sort orders ties arbitrarily, so rows that tie on the key
    * are compared as a multiset; the key sequence must match exactly. */
  private val cases = Seq(
    ("a, s, d", "a", 1),
    ("a, s, d", "a DESC", 1), // the dialect pins DESC to NULLS FIRST
    ("a, s, d", "a DESC NULLS LAST", 1),
    ("s, a, d", "s NULLS LAST", 1),
    ("a, s, d", "a, s DESC", 2),
    ("s, a, d", "s, a, d", 3),
    ("d, a, s", "d DESC, a", 2),
    ("length(s) AS l, a, s, d", "l, a DESC", 2),
    ("a % 2 AS m, s, a, d", "m, s", 2),
    // LIMIT over total orders: the cut falls on the same rows
    ("s, a + 1 AS b, d", "s, b DESC, d LIMIT 4", 3),
    ("a, s, d", "a DESC, s, d LIMIT 3", 3),
    ("a, d", "a, d", 2)
  ).map { case (sel, ord, k) => (s"SELECT $sel FROM $values ORDER BY $ord", k) }

  private def key(rows: Seq[Row], k: Int): Seq[Seq[Any]] = rows.map(r => (0 until k).map(r.get))
  private def bag(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("ORDER BY over VALUES: same rows and order with and without the rule") {
    cases.foreach { case (q, k) =>
      val got = withRule.sql(q).collect().toSeq
      val expected = withoutRule.sql(q).collect().toSeq
      assert(key(got, k) == key(expected, k), q)
      assert(bag(got) == bag(expected), q)
    }
    // a filter under the sort, and an aggregate over a sorted LIMIT
    Seq(s"SELECT a, d FROM $values WHERE s IS NOT NULL ORDER BY a DESC, d",
      s"SELECT count(*) AS n, sum(a) AS t FROM (SELECT a FROM $values ORDER BY a LIMIT 3)"
    ).foreach { q =>
      assert(withRule.sql(q).collect().toSeq == withoutRule.sql(q).collect().toSeq, q)
    }
  }

  test("with the rule, ORDER BY over VALUES plans as a LocalTableScanExec") {
    cases.foreach { case (q, _) =>
      val plan = withRule.sql(q).queryExecution.executedPlan
      assert(plan.isInstanceOf[LocalTableScanExec], s"$q\n$plan")
    }
    // the differential above compares against a real distributed sort
    val stock = withoutRule.sql(cases.head._1).queryExecution.executedPlan
    assert(!stock.isInstanceOf[LocalTableScanExec], stock.toString)
  }

  test("ties keep their input order") {
    val q = "SELECT k, v FROM VALUES (2, 'x'), (1, 'p'), (2, 'y'), (1, 'q'), (2, 'z') " +
      "AS t(k, v) ORDER BY k"
    val rows = withRule.sql(q).collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "p"), (1, "q"), (2, "x"), (2, "y"), (2, "z")))
  }
}
