package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM (Test/fork := true,
  * all suites in one JVM) — Spark sessions are expensive; reuse like the
  * reference reuses one FuseQueryContext per test binary. */
object TestSpark {
  lazy val spark: SparkSession = SparkBoot.builder("graft-test")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
  val sfDir = "/root/testdata/sf0.001"
}
