package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Tables

/** PrimitiveTopKExec: the limit-aware primitive-key top-k operator
  * (graft.plans.TopK). Correctness vs the stock TakeOrderedAndProject result
  * on every supported key type/direction, plan-shape guards for when it must
  * and must NOT fire, and the non-collect (write) execution path. */
class TopKSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def physical(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** `xs` as a one-column frame read from an RDD, not a local Seq: an ORDER
    * BY over a local relation is answered on the driver
    * (graft.plans.SortLocalRelation) and never reaches the top-k planner. */
  private def distributed[T: ClassTag: Encoder](xs: Seq[T], name: String): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(xs, 2)).toDF(name)

  test("numbers desc limit plans PrimitiveTopK, not TakeOrderedAndProject") {
    val df = Tables.numbers(spark, 100000L, Some(4)).orderBy(col("number").desc).limit(100)
    val p = physical(df)
    assert(p.contains("PrimitiveTopK"), p)
    assert(!p.contains("TakeOrderedAndProject"), p)
  }

  test("desc top-k over longs matches the expected exact answer") {
    val got = Tables.numbers(spark, 100000L, Some(7))
      .orderBy(col("number").desc).limit(100).as[Long].collect()
    assert(got.toSeq == (99999L to 99900L by -1L))
  }

  test("asc top-k over longs matches") {
    val got = Tables.numbers(spark, 100000L, Some(7))
      .orderBy(col("number").asc).limit(5).as[Long].collect()
    assert(got.toSeq == (0L to 4L))
  }

  test("double keys: IEEE order incl. negatives and infinities") {
    val vals = Seq(3.5, -2.25, 0.0, -0.0, 1e300, -1e300,
      Double.PositiveInfinity, Double.NegativeInfinity, 42.0, -42.0)
    // non-nullable attribute: a typed Dataset of primitives
    val ds = distributed(vals, "d")
    val got = ds.orderBy(col("d").desc).limit(4).as[Double].collect().toSeq
    assert(got == vals.sorted(Ordering[Double].reverse).take(4))
    val gotAsc = ds.orderBy(col("d").asc).limit(4).as[Double].collect().toSeq
    assert(gotAsc == vals.sorted.take(4))
    assert(physical(ds.orderBy(col("d").desc).limit(4)).contains("PrimitiveTopK"))
  }

  test("int keys via a range cast") {
    val ds = distributed(Seq(5, 1, 9, -3, 7), "i")
    val got = ds.orderBy(col("i").desc).limit(3).as[Int].collect().toSeq
    assert(got == Seq(9, 7, 5))
    assert(physical(ds.orderBy(col("i").desc).limit(3)).contains("PrimitiveTopK"))
  }

  test("projection above the sort is applied after the top-k") {
    val df = Tables.numbers(spark, 10000L, Some(4))
      .orderBy(col("number").desc).limit(3)
      .select((col("number") * 2).as("n2"))
    val p = physical(df)
    assert(p.contains("PrimitiveTopK"), p)
    assert(df.as[Long].collect().toSeq == Seq(19998L, 19996L, 19994L))
  }

  test("nullable key does NOT take the primitive path") {
    val df = distributed(Seq(Some(1L), None, Some(5L)), "v")
      .orderBy(col("v").desc).limit(2)
    assert(!physical(df).contains("PrimitiveTopK"), physical(df))
    // and the stock path answers correctly (Spark DESC default: NULLS LAST)
    assert(df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
      == Seq(Some(5L), Some(1L)))
  }

  test("string key does NOT take the primitive path") {
    val ds = distributed(Seq("b", "a", "c"), "s")
    val df = ds.orderBy(col("s")).limit(2)
    assert(!physical(df).contains("PrimitiveTopK"), physical(df))
  }

  test("multi-column sort does NOT take the primitive path") {
    val df = Tables.numbers(spark, 100L, Some(2))
      .select(col("number"), (col("number") % 3).as("m"))
      .orderBy(col("m").desc, col("number").asc).limit(5)
    assert(!physical(df).contains("PrimitiveTopK"), physical(df))
  }

  test("ties beyond k are cut deterministically by count (write path)") {
    // doExecute path: write the result, read back
    val dir = java.nio.file.Files.createTempDirectory("graft-topk").toString
    Tables.numbers(spark, 50000L, Some(8))
      .orderBy(col("number").desc).limit(17)
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).as[Long].collect().sorted(Ordering[Long].reverse)
    assert(back.toSeq == (49999L to 49983L by -1L).toSeq)
  }

  test("k larger than the input returns everything, ordered") {
    val got = Tables.numbers(spark, 7L, Some(3))
      .orderBy(col("number").desc).limit(100).as[Long].collect()
    assert(got.toSeq == (6L to 0L by -1L).toSeq)
  }

  // --- codegen-compilation pins (round-12 verdict item 2) ----------------
  // The round-11 bench tail carried a silent `WholeStageCodegen disabled`
  // WARN on the substring shape: doConsume's blanket evaluateVariables
  // duplicated the declarations row.code (prepareRowVar's copies) also
  // emits, janino rejected the stage, and the operator fell back to
  // interpreted execution with correct answers — nothing failed. These
  // cases run with spark.sql.codegen.fallback=false, so a generated-code
  // compile break is a red test, not a WARN.
  private def withNoCodegenFallback[T](body: => T): T = {
    val key = "spark.sql.codegen.fallback"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, old)
  }

  test("string projection above the top-k compiles under codegen.fallback=false") {
    withNoCodegenFallback {
      val got = Tables.numbers(spark, 100000L, Some(4))
        .filter(col("number") > 100)
        .select(substring(col("number").cast("string"), 3, Int.MaxValue).as("s"),
          col("number"))
        .orderBy(col("number").desc).limit(10)
      assert(physical(got).contains("PrimitiveTopK"), physical(got))
      val rows = got.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val exp = (99999L to 99990L by -1L).map(n => (n.toString.substring(2), n))
      assert(rows == exp)
    }
  }

  test("derived sort key (key declared by row.code) compiles under codegen.fallback=false") {
    withNoCodegenFallback {
      // the key itself is computed by the child Project, so its variable is
      // declared inside row.code — the third doConsume layout
      val got = Tables.numbers(spark, 1000L, Some(4))
        .select(col("number"), (col("number") * 3 + 1).as("m"))
        .orderBy(col("m").desc).limit(5)
      assert(physical(got).contains("PrimitiveTopK"), physical(got))
      val rows = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == (999L to 995L by -1L).map(n => (n, n * 3 + 1)).toSeq)
    }
  }
}
