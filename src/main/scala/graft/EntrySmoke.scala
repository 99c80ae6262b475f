package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkBoot.builder("graft-entry-smoke").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.log.level", "ERROR").getOrCreate()
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(3, false)
    spark.stop()
  }
}
