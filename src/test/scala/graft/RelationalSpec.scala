package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational

/** Operator-layer semantics: LIMIT n BY (transform_limit_by.rs), top-k
  * (limit-aware sort cascade), LIMIT/OFFSET (transform_limit.rs), dedup. */
class RelationalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // read from an RDD, not a local Seq: an ORDER BY over a local relation is
  // answered on the driver (graft.plans.SortLocalRelation), and these
  // operators are meant for distributed input
  private lazy val df = spark.sparkContext.parallelize(Seq(
    ("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 2), ("c", 9)
  ), 2).toDF("k", "v")

  test("limitBy keeps first n per key in the given order") {
    val out = Relational.limitBy(df, 2, Seq(col("k")), Seq(col("v")))
      .orderBy("k", "v").as[(String, Int)].collect()
    assert(out.toSeq === Seq(("a", 1), ("a", 2), ("b", 1), ("b", 2), ("c", 9)))
  }

  test("topK returns k smallest and plans TakeOrderedAndProject") {
    val q = Relational.topK(df, 3, Seq(col("v"), col("k")))
    assert(q.as[(String, Int)].collect().map(_._2).toSeq === Seq(1, 1, 2))
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("TakeOrderedAndProject"), s"plan was:\n$phys")
  }

  test("limitOffset skips offset rows after total order") {
    val out = Relational.limitOffset(df, 2, 1, Seq(col("v"), col("k")))
      .as[(String, Int)].collect().toSeq
    assert(out === Seq(("b", 1), ("a", 2)))
  }

  test("dedupFirst keeps the row minimizing keep per key") {
    val out = Relational.dedupFirst(df, Seq(col("k")), col("v"))
      .orderBy("k").as[(String, Int)].collect().toSeq
    assert(out === Seq(("a", 1), ("b", 1), ("c", 9)))
  }
}
