package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The benchmark's own input tables: the star schema the engine's queries
  * read (region, nation, customer, supplier, part, orders, lineitem) plus
  * the `events` and `documents` tables the pipeline entries read.
  *
  * Every value is a counter-based draw keyed by (table, row), so the files
  * are the same on every machine and for every partitioning. The data is
  * fixed: workload seeds choose statements, never data, so two seeds
  * measure the same tables. Unlike the source tables' lineitem,
  * `(l_orderkey, l_linenumber)` is unique here, so ORDER BY on it pins
  * row order for the wire checks. */
object DataGen {

  /** splitmix64 stream for one (table, row). */
  final class Draw(table: Long, row: Long) {
    private var s = Rng.mix(table * 0x9E3779B97F4A7C15L ^ Rng.mix(row + 1))
    def long(): Long = { s += 0x9E3779B97F4A7C15L; Rng.mix(s) }
    def unit(): Double = (long() >>> 11) * 1.1102230246251565e-16
    def int(n: Int): Int = ((long() >>> 33) % n).toInt
  }

  private def cents(x: Double): Double = math.rint(x * 100.0) / 100.0

  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Array("O", "P", "F")
  val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val RetFlags = Array("A", "N", "R")
  private val LineStatus = Array("F", "O")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val PartTypes = Array("LARGE", "STANDARD", "ECONOMY", "SMALL", "PROMO", "MEDIUM")
  private val Langs = Array("en", "de", "es", "fr", "zh")
  private val Vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private val Day = 86400000L
  private val Epoch1995 = 788918400000L // 1995-01-01T00:00Z, ms
  private val Epoch2024Us = 1704067200000000L // 2024-01-01T00:00Z, µs

  /** Row counts at scale factor `sf` (TPC-H proportions). */
  final case class Sizes(sf: Double) {
    val customers: Long = (150000 * sf).toLong
    val suppliers: Long = (10000 * sf).toLong
    val parts: Long = (200000 * sf).toLong
    val orders: Long = (1500000 * sf).toLong
    val events: Long = (1000000 * sf).toLong
    val users: Long = (15000 * sf).toLong
    val documents: Long = (50000 * sf).toLong
  }

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
      s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  final case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: Timestamp)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  private def words(doc: Long): String = {
    val d = new Draw(8L, doc)
    Seq.fill(10 + d.int(91))(Vocab(d.int(Vocab.length))).mkString(" ")
  }

  /** Writes every table as a one-file parquet directory
    * `<dir>/<table>.parquet`, then `<dir>/_SUCCESS`. */
  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    import spark.implicits._
    val n = Sizes(sf)
    val slices = spark.sparkContext.defaultParallelism

    def save(df0: DataFrame, name: String): Unit = {
      // NTZ timestamps read back as plain TIMESTAMP in DuckDB and, under
      // the UTC session zone, as the same instants in Spark
      val df = df0.schema.fields.foldLeft(df0) { (d, f) =>
        if (f.dataType == org.apache.spark.sql.types.TimestampType)
          d.withColumn(f.name, d.col(f.name).cast("timestamp_ntz"))
        else d
      }
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    }

    def rows(count: Long) = spark.range(0L, count, 1L, slices)

    save(Regions.indices.map(i => Region(i, Regions(i))).toDS().toDF(), "region")
    save((0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDS().toDF(), "nation")
    save(rows(n.customers).map { i =>
      val d = new Draw(1L, i)
      Customer(i, f"Customer#$i%09d", d.int(25),
        cents(-1000.0 + 11000.0 * d.unit()), Segments(d.int(5)))
    }.toDF(), "customer")
    save(rows(n.suppliers).map { i =>
      val d = new Draw(2L, i)
      Supplier(i, f"Supplier#$i%09d", d.int(25), cents(-1000.0 + 11000.0 * d.unit()))
    }.toDF(), "supplier")
    save(rows(n.parts).map { i =>
      val d = new Draw(3L, i)
      Part(i, s"part ${d.int(64)}", s"Brand#${d.int(25)}", PartTypes(d.int(6)),
        1 + d.int(50), cents(900.0 + 100.0 * d.unit()))
    }.toDF(), "part")
    save(rows(n.orders).map { i =>
      val d = new Draw(4L, i)
      Order(i, (d.long() >>> 1) % n.customers, Statuses(d.int(3)),
        cents(1000.0 + 499000.0 * d.unit()),
        new Timestamp(Epoch1995 + d.int(2405) * Day), Priorities(d.int(5)))
    }.toDF(), "orders")
    // 1..7 lines per order (mean 4), numbered 1..k: the key pair is unique
    save(rows(n.orders).flatMap { o =>
      val d = new Draw(5L, o)
      (1 to 1 + d.int(7)).map { line =>
        Lineitem(o, (d.long() >>> 1) % n.parts, (d.long() >>> 1) % n.suppliers,
          line, (1 + d.int(50)).toDouble, cents(900.0 + 104100.0 * d.unit()),
          d.int(11) / 100.0, d.int(9) / 100.0, RetFlags(d.int(3)),
          LineStatus(d.int(2)), new Timestamp(Epoch1995 + (1 + d.int(2499)) * Day))
      }
    }.toDF(), "lineitem")
    save(rows(n.events).map { i =>
      val d = new Draw(6L, i)
      val us = Epoch2024Us + (d.long() >>> 1) % (30L * 86400000000L)
      val ts = new Timestamp(us / 1000000L * 1000L)
      ts.setNanos(((us % 1000000L) * 1000L).toInt)
      Event(i, ts, (d.long() >>> 1) % n.users, EventTypes(d.int(5)),
        cents(-50.0 * math.log(math.max(d.unit(), 1e-300))), s"""{"k": ${d.int(100)}}""")
    }.toDF(), "events")
    // ~5% near-duplicates and ~0.2% exact copies of earlier documents, so
    // the n-gram graph operators see real candidate pairs
    save(rows(n.documents).map { i =>
      val d = new Draw(7L, i)
      val u = d.unit()
      val text =
        if (i > 0 && u < 0.002) words((d.long() >>> 1) % i)
        else if (i > 0 && u < 0.052) words((d.long() >>> 1) % i) + " dup"
        else words(i)
      val v = d.unit()
      val lang = if (v < 0.4) "en" else Langs(1 + ((v - 0.4) / 0.15).toInt.min(3))
      Document(i, text, lang, s"src${d.int(20)}", text.length.toLong)
    }.toDF(), "documents")
    new java.io.File(s"$dir/_SUCCESS").createNewFile()
  }
}
