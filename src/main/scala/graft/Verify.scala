package graft

import java.nio.file.{Files, Paths}

import graft.sql.Render.{jsonString => q}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = SparkBoot.builder("graft-verify").getOrCreate()
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Job-level retry budget — 0 (off) except under the fault gate, where
    // induced executor kills can exhaust a query's stage-retry budget
    // before the operator ever misbehaves. Retrying the whole query is the
    // production orchestrator's move, and it cannot mask nondeterminism:
    // whatever run completes still has to hash-match the DuckDB oracle.
    val retries = sys.env.getOrElse("SPARK_GRAFT_QUERY_RETRIES", "0").toInt
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      var attempt = 0
      var done = false
      while (!done) {
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          done = true
        } catch { case e: Throwable =>
          if (attempt < retries) {
            attempt += 1
            System.err.println(
              s"[verify] $name attempt $attempt failed, retrying: ${e.getMessage}")
          } else {
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            done = true
          }
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // a query that threw has no result dir and would otherwise just be
    // ABSENT from the round report — record the reason where a human (or
    // the next round's builder) will find it
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
