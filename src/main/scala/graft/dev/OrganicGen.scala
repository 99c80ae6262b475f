package graft.dev

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Dev-only: generate an ORGANIC sf directory (default sf=1) with the same
  * schema and per-column distributions as the driver's testdata
  * (`TESTDATA.md`), measured from `/root/testdata/sf0.1`:
  *
  *   - every categorical uniform over the observed domain (segments,
  *     priorities, statuses, flags, event types, sources, part vocab);
  *   - customer/supplier acctbal ~ U(-1000, 10000) rounded to cents;
  *     o_totalprice ~ U(1000, 500000); l_extendedprice ~ U(900, 105000);
  *     l_quantity integer U[1,50]; discount 0.00..0.10 and tax 0.00..0.08
  *     in cent steps; p_retailprice ~ U(900, 1000); p_size U[1,50];
  *   - o_orderdate midnight-day U[1995-01-01, +2404d]; l_shipdate
  *     independent U[+1d, +2499d] (the source data's ship/order gap spans
  *     ±2400 days — the dates are NOT correlated);
  *   - l_orderkey/custkey/partkey/suppkey uniform over the parent domain
  *     (Binomial fan-out: ~4 lineitems/order, (l_orderkey, l_linenumber)
  *     intentionally NON-unique, matching the source);
  *   - events: ts uniform-microsecond over 30 days of 2024-01,
  *     user_id uniform over customers/10, value = round(Exp(mean 50), 2),
  *     props = {"k": U[0,100)};
  *   - documents: U[10,100] tokens from the same 30-word vocab, lang 40%
  *     en / 15% each of de/es/fr/zh, source src0..src19, plus the source
  *     data's planted duplicate structure: 5% near-dups (an earlier doc's
  *     text + " dup") and ~0.2% exact copies — so MinHash bands, n-gram
  *     Jaccard and fingerprint operators see realistic candidate density,
  *     not the zero-collision floor of pure random text;
  *   - embeddings: iid Gaussian 64-dim, L2-normalized FLOAT vectors
  *     (measured within-label cosine ≈ 0: labels are independent of
  *     geometry), label U[0,10).
  *
  * Unlike [[ScaleGen]] (replication, preserves within-replica structure
  * exactly), every value here is a fresh draw — organic key cardinality,
  * band occupancy and group sizes at any sf. The draws come from
  * counter-based splitmix64 streams keyed by (table, rowId), so output is
  * deterministic and independent of partitioning/parallelism.
  *
  * Usage: runMain graft.dev.OrganicGen [dstDir] [sf]
  */
object OrganicGen {

  /** Counter-based splitmix64: one independent stream per (tag, row). */
  final class Rng(tag: Long, row: Long) {
    private var s: Long = java.lang.Long.rotateLeft(tag * 0x9E3779B97F4A7C15L, 17) ^
      (row * 0xBF58476D1CE4E5B9L) ^ 0x1042L
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
    def nextGaussian(): Double = {
      val u1 = math.max(nextDouble(), 1e-300)
      val u2 = nextDouble()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
  }

  private def round2(x: Double): Double = math.rint(x * 100.0) / 100.0

  private val SEGMENTS = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PRIORITIES = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val STATUSES = Array("O", "P", "F")
  private val RETFLAGS = Array("A", "N", "R")
  private val LINESTATUS = Array("F", "O")
  private val ETYPES = Array("click", "view", "purchase", "signup", "error")
  private val ADJ = Array("red", "new", "large", "old", "hot", "blue", "cold", "small")
  private val NOUN = Array("gear", "bolt", "ring", "widget", "anvil", "gizmo", "plate", "rod")
  private val PTYPES = Array("LARGE", "STANDARD", "ECONOMY", "SMALL", "PROMO", "MEDIUM")
  private val LANGS = Array("en", "de", "es", "fr", "zh") // en 40%, rest 15%
  private val VOCAB = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private val EPOCH_1995_MS = 788918400000L // 1995-01-01T00:00Z
  private val EPOCH_2024_US = 1704067200000000L // 2024-01-01T00:00Z in micros
  private val DAY_MS = 86400000L

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
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  /** Base text of doc `i` as a pure function of the id, so a duplicate row
    * can restate another doc's words without a join. */
  private def baseText(i: Long): String = {
    val r = new Rng(8L, i)
    val n = 10 + r.nextInt(91)
    val sb = new StringBuilder
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      sb.append(VOCAB(r.nextInt(VOCAB.length)))
      k += 1
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val dst = args.headOption.getOrElse("/tmp/graft-organic-sf1")
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.SparkBoot.builder("graft-organic-gen")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    import spark.implicits._

    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val nLine = (6000000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val nDocs = (50000 * sf).toLong
    val nVecs = (20000 * sf).toLong

    def write(df0: DataFrame, name: String): Unit = {
      // single plain file per table, matching the driver's testdata layout
      // (DuckDB's read_parquet in check_oracle.py expects a file, not a
      // dir), with NTZ timestamps exactly like the source footers (a tz-
      // adjusted footer would flip DuckDB's column type to TIMESTAMPTZ and
      // change oracle rendering; under the UTC session the cast is
      // value-identical)
      val df = df0.schema.fields.foldLeft(df0) { (d, f) =>
        if (f.dataType == org.apache.spark.sql.types.TimestampType)
          d.withColumn(f.name, d.col(f.name).cast("timestamp_ntz"))
        else d
      }
      val scratch = s"$dst/_tmp_$name"
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name"))
      val target = java.nio.file.Paths.get(s"$dst/$name.parquet")
      java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.move(part.toPath, target)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch))
      println(s"[organic] wrote $name")
    }

    write(spark.createDataset(Seq(
      Region(0, "AFRICA"), Region(1, "AMERICA"), Region(2, "ASIA"),
      Region(3, "EUROPE"), Region(4, "MIDDLE EAST"))).toDF(), "region")

    write(spark.createDataset(
      (0 until 25).map(i => Nation(i, s"NATION_$i", i % 5))).toDF(), "nation")

    write(spark.range(0L, nCust, 1L, cpus).map { i =>
      val r = new Rng(1L, i)
      Customer(i, f"Customer#$i%09d", r.nextInt(25),
        round2(-1000.0 + 11000.0 * r.nextDouble()), SEGMENTS(r.nextInt(5)))
    }.toDF(), "customer")

    write(spark.range(0L, nSupp, 1L, cpus).map { i =>
      val r = new Rng(2L, i)
      Supplier(i, f"Supplier#$i%09d", r.nextInt(25),
        round2(-1000.0 + 11000.0 * r.nextDouble()))
    }.toDF(), "supplier")

    write(spark.range(0L, nPart, 1L, cpus).map { i =>
      val r = new Rng(3L, i)
      Part(i, s"${ADJ(r.nextInt(8))} ${NOUN(r.nextInt(8))}",
        s"Brand#${r.nextInt(25)}", PTYPES(r.nextInt(6)), 1 + r.nextInt(50),
        round2(900.0 + 100.0 * r.nextDouble()))
    }.toDF(), "part")

    write(spark.range(0L, nOrders, 1L, cpus).map { i =>
      val r = new Rng(4L, i)
      Order(i, (r.nextLong() >>> 1) % nCust, STATUSES(r.nextInt(3)),
        round2(1000.0 + 499000.0 * r.nextDouble()),
        new Timestamp(EPOCH_1995_MS + r.nextInt(2405) * DAY_MS),
        PRIORITIES(r.nextInt(5)))
    }.toDF(), "orders")

    write(spark.range(0L, nLine, 1L, cpus).map { i =>
      val r = new Rng(5L, i)
      Lineitem((r.nextLong() >>> 1) % nOrders, (r.nextLong() >>> 1) % nPart,
        (r.nextLong() >>> 1) % nSupp, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble,
        round2(900.0 + 104100.0 * r.nextDouble()),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        RETFLAGS(r.nextInt(3)), LINESTATUS(r.nextInt(2)),
        new Timestamp(EPOCH_1995_MS + (1 + r.nextInt(2499)) * DAY_MS))
    }.toDF(), "lineitem")

    write(spark.range(0L, nEvents, 1L, cpus).map { i =>
      val r = new Rng(6L, i)
      val us = EPOCH_2024_US + (r.nextLong() >>> 1) % (30L * 86400000000L)
      val ts = new Timestamp(us / 1000000L * 1000L)
      ts.setNanos(((us % 1000000L) * 1000L).toInt) // keep microsecond precision
      Event(i, ts, (r.nextLong() >>> 1) % nUsers, ETYPES(r.nextInt(5)),
        round2(-50.0 * math.log(math.max(r.nextDouble(), 1e-300))),
        s"""{"k": ${r.nextInt(100)}}""")
    }.toDF(), "events")

    write(spark.range(0L, nDocs, 1L, cpus).map { i =>
      val r = new Rng(7L, i)
      val u = r.nextDouble()
      val text =
        if (i > 0 && u < 0.002) baseText((r.nextLong() >>> 1) % i) // exact copy
        else if (i > 0 && u < 0.052) baseText((r.nextLong() >>> 1) % i) + " dup"
        else baseText(i)
      val lang = { val v = r.nextDouble(); if (v < 0.40) "en" else LANGS(1 + ((v - 0.40) / 0.15).toInt.min(3)) }
      Document(i, text, lang, s"src${r.nextInt(20)}", text.length.toLong)
    }.toDF(), "documents")

    write(spark.range(0L, nVecs, 1L, cpus).map { i =>
      val r = new Rng(9L, i)
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }.toDF(), "embeddings")

    println(s"[organic] done: $dst at sf=$sf")
    spark.stop()
  }
}
