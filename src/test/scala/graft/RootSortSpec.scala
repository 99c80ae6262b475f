package graft

import java.nio.file.Files

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.DriverMergeExec
import graft.sql.GraftSession
import graft.tables.Hfs

/** Differential check of [[graft.plans.RootSortStrategy]]: a root ORDER BY
  * planned as per-partition sorts merged on the driver returns what Spark's
  * own range sort returns. The reference is the same query with
  * `LIMIT 2147483647`: that limit is above `topKSortFallbackThreshold` (and
  * TopK's cap), and over a parquet table it is not eliminated, so Spark
  * plans a range-partitioned global sort under a `CollectLimitExec`. */
class RootSortSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private val spark = TestSpark.spark
  private val g = GraftSession(spark)
  private val dir = Files.createTempDirectory("graft-rootsort").resolve("t").toString
  private val n = 2000

  override def beforeAll(): Unit = {
    // unique `id`; `a` and `s` tie and hold NULLs; four files, four splits
    spark.range(0, n, 1, 4).selectExpr(
      "id",
      "CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id % 37 AS INT) END AS a",
      "CASE WHEN id % 13 = 0 THEN NULL ELSE concat('s', CAST(id % 7 AS STRING)) END AS s",
      "CASE WHEN id % 17 = 0 THEN NULL ELSE (id % 23) / 4.0D END AS d"
    ).write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("rs_t")
  }

  override def afterAll(): Unit = {
    spark.catalog.dropTempView("rs_t")
    Hfs.rmTree(new java.io.File(dir).getParentFile)
  }

  private def merges(df: DataFrame): Seq[DriverMergeExec] =
    collect(df.queryExecution.executedPlan) { case m: DriverMergeExec => m }

  /** (query without ORDER BY, ORDER BY, number of leading sort-key columns;
    * 0 when the order is total and rows must match exactly). */
  private val cases = Seq(
    ("SELECT id, a, s FROM rs_t", "id", 0),
    ("SELECT a, s, id FROM rs_t", "a", 1),
    ("SELECT a, s, id FROM rs_t", "a DESC", 1), // the dialect pins DESC to NULLS FIRST
    ("SELECT a, s, id FROM rs_t", "a DESC NULLS LAST, s", 2),
    ("SELECT s, a, d, id FROM rs_t", "s NULLS LAST, a DESC, d", 3),
    ("SELECT s, a, id FROM rs_t", "s DESC, a, id", 0),
    ("SELECT id % 10 AS m, a, id FROM rs_t", "m, a + 1 DESC", 2),
    ("SELECT length(s) AS l, d, id FROM rs_t", "l, d DESC", 2),
    // the sort key is not selected: a projection above the sort
    ("SELECT s, a FROM rs_t", "id DESC", 0),
    ("SELECT s, d FROM rs_t", "a, id", 0),
    ("SELECT s, a, (SELECT max(d) FROM rs_t) AS mx FROM rs_t", "id", 0),
    ("SELECT a, count(*) AS c, sum(id) AS t FROM rs_t GROUP BY a", "a", 0),
    ("SELECT s, count(*) AS c FROM rs_t WHERE a > 30 GROUP BY s", "c DESC, s", 0),
    ("SELECT id, a FROM rs_t WHERE id < 0", "id", 0))

  private def key(rows: Seq[Row], k: Int): Seq[Seq[Any]] = rows.map(r => (0 until k).map(r.get))
  private def bag(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("the input has four partitions and the reference is a range sort") {
    assert(g.sql("SELECT * FROM rs_t").rdd.getNumPartitions == 4)
    val ref = g.sql("SELECT id FROM rs_t ORDER BY id LIMIT 2147483647")
    val p = ref.queryExecution.executedPlan.toString.toLowerCase
    assert(p.contains("rangepartitioning") && !p.contains("drivermerge"), p)
  }

  test("root ORDER BY: same rows and order as Spark's range sort, " +
      "planned as a driver merge with no range partitioning") {
    cases.foreach { case (select, ord, k) =>
      val q = s"$select ORDER BY $ord"
      val df = g.sql(q)
      val got = df.collect().toSeq
      val expected = g.sql(s"$q LIMIT 2147483647").collect().toSeq
      if (k == 0) assert(got == expected, q)
      else {
        assert(key(got, k) == key(expected, k), q)
        assert(bag(got) == bag(expected), q)
      }
      val plan = df.queryExecution.executedPlan.toString
      assert(merges(df).size == 1, s"$q\n$plan")
      assert(!plan.toLowerCase.contains("rangepartitioning"), s"$q\n$plan")
    }
    assert(g.sql("SELECT id, a FROM rs_t WHERE id < 0 ORDER BY id").collect().isEmpty)
    val dropped = g.sql("SELECT s, a FROM rs_t ORDER BY id DESC")
    dropped.collect()
    assert(merges(dropped).head.projectList.isDefined)
  }

  test("toLocalIterator and take return the merged order") {
    val df = g.sql("SELECT id, a FROM rs_t ORDER BY a, id")
    val all = df.collect().toSeq
    import scala.jdk.CollectionConverters._
    assert(df.toLocalIterator().asScala.toSeq == all)
    val firstFive = merges(df).head.executeTake(5).map(r => (r.getLong(0), r.isNullAt(1)))
    assert(firstFive.toSeq == all.take(5).map(r => (r.getLong(0), r.isNullAt(1))))
  }

  test("an input estimated above spark.driver.maxResultSize keeps the range sort") {
    // numbers(200000000) is estimated at 1.6 GB, above the 1 GB default;
    // the plan is only inspected, never executed
    val max = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    assert(max > 0 && max < 1600000000L)
    val df = g.sql("SELECT number FROM numbers(200000000) ORDER BY number DESC")
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    assert(!p.contains("DriverMerge"), p)
  }

  /** Each partition's ids, in partition order. */
  private def partitions(rdd: RDD[Long]): Seq[Seq[Long]] =
    rdd.mapPartitions(it => Iterator(it.toSeq)).collect().toSeq

  test("non-driver consumers (cache, localCheckpoint, the plan's RDD) keep " +
      "a range-partitioned, globally ordered result") {
    val q = "SELECT id, a FROM rs_t ORDER BY a DESC, id"
    val expected = g.sql(s"$q LIMIT 2147483647").collect().map(_.getLong(0)).toSeq
    assert(expected.sorted == (0L until n))

    def check(label: String, rdd: RDD[Long], partitioned: Boolean = true): Unit = {
      val parts = partitions(rdd)
      if (partitioned) assert(parts.size > 1, s"$label: ${parts.size} partition(s)")
      assert(parts.flatten == expected, label)
    }
    def ids(df: DataFrame): RDD[Long] = df.rdd.map(_.getLong(0))

    // the root plan's own RDD: what cache() and localCheckpoint() execute
    val sorted = g.sql(q)
    check("executedPlan.execute()", sorted.queryExecution.toRdd.map(_.getLong(0)))
    assert(merges(sorted).size == 1, sorted.queryExecution.executedPlan.toString)

    val cached = g.sql(q).cache()
    try {
      check("cache()", ids(cached))
      val cachedPlans = collect(cached.queryExecution.executedPlan) {
        case scan: InMemoryTableScanExec => scan.relation.cachedPlan
      }
      assert(cachedPlans.exists(p => collect(p) { case m: DriverMergeExec => m }.nonEmpty),
        cachedPlans.mkString("\n"))
      assert(cached.collect().map(_.getLong(0)).toSeq == expected)
    } finally cached.unpersist(blocking = true)

    check("localCheckpoint()", ids(g.sql(q).localCheckpoint()))

    // a projection above the sort, through the same path
    val projected = g.sql("SELECT id FROM rs_t ORDER BY a DESC, id")
    check("executedPlan.execute() with a projection",
      projected.queryExecution.toRdd.map(_.getLong(0)))
    assert(merges(projected).head.projectList.isDefined)

    // an aggregate below the sort: its codegen stage runs without the sort
    val agg = "SELECT a, count(*) AS c FROM rs_t GROUP BY a ORDER BY c DESC, a"
    val aggExpected = g.sql(s"$agg LIMIT 2147483647").collect().toSeq
    assert(g.sql(agg).localCheckpoint().collect().toSeq == aggExpected)

    // Dataset.rdd deserializes above the sort, so the root is not a sort and
    // Spark's range sort plans it (AQE may coalesce it to one partition)
    val viaRdd = g.sql(q)
    check(".rdd", ids(viaRdd), partitioned = false)
  }
}
