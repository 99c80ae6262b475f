package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The count-from-statistics rewrite (optimizer_statistics_exact.rs port):
  * bare count(*) over parquet answers from footers; anything filtered,
  * grouped, or distinct must still scan. */
class CountFromStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def li = graft.tables.Tables.table(spark, TestSpark.sfDir, "lineitem")

  test("bare count(*) over parquet rewrites to a LocalRelation (no scan)") {
    val df = li.agg(count(lit(1)).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("LocalRelation"), optimized)
    assert(!optimized.contains("parquet"), "scan should be gone:\n" + optimized)
    // and the metadata answer equals the scan answer
    val scanned = li.rdd.count()
    assert(df.collect()(0).getLong(0) == scanned)
  }

  test("filtered count still scans (footer count would be wrong)") {
    val df = li.filter(col("l_quantity") > 10).agg(count(lit(1)).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("LocalRelation"), optimized)
  }

  test("grouped and distinct counts still scan") {
    val grouped = li.groupBy(col("l_returnflag")).agg(count(lit(1)))
    assert(!grouped.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    val distinct = li.agg(count_distinct(col("l_orderkey")))
    assert(!distinct.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
  }

  test("count(column) is NOT rewritten (null-aware, footers cannot answer it)") {
    val df = li.agg(count(col("l_returnflag")))
    assert(!df.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
  }
}
