package graft.dev

/** Dev-only: time individual SparkEntry queries at an sf dir.
  * Usage: runMain graft.dev.QueryTime <sfDir> <name> [<name>...] */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = graft.SparkBoot.builder("graft-query-time").getOrCreate()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[qt] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    spark.stop()
  }
}
