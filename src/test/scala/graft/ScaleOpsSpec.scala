package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew
import graft.tables.Bucketing

/** Scale-technique operators: bucketed co-located joins (shuffle paid once at
  * write time) and salted joins for pathological key skew. */
class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed join on bucket keys plans with no shuffle exchange") {
    val li = graft.tables.Tables.table(spark, TestSpark.sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ords = graft.tables.Tables.table(spark, TestSpark.sfDir, "orders")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Bucketing.writeBucketed(li, "li_bkt", 4, Seq("l_orderkey"))
    Bucketing.writeBucketed(ords, "ord_bkt", 4, Seq("l_orderkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val joined = Bucketing.bucketedJoin(spark, "li_bkt", "ord_bkt", Seq("l_orderkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), "bucketed join must not shuffle:\n" + p)
      // same result as the plain join
      assert(joined.count() == li.join(ords, "l_orderkey").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("salted join equals the plain join on heavily skewed keys") {
    val r = new scala.util.Random(3)
    // 90% of left rows share one hot key
    val left = Seq.tabulate(2000)(i =>
      (if (r.nextInt(10) < 9) 1L else r.nextInt(50).toLong, i.toLong)).toDF("k", "lv")
    val right = Seq.tabulate(50)(i => (i.toLong, s"r$i")).toDF("k", "rv")
    val salted = Skew.saltedJoin(left, right, "k", factor = 8)
      .select("k", "lv", "rv").collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSet
    val plain = left.join(right, "k")
      .select("k", "lv", "rv").collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSet
    assert(salted == plain && salted.nonEmpty)
  }

  test("salted join rejects right/full outer (replication would duplicate unmatched rows)") {
    val left = Seq((1L, 1L)).toDF("k", "lv")
    val right = Seq((1L, "a"), (2L, "b")).toDF("k", "rv")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(left, right, "k", factor = 4, joinType = "right_outer")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(left, right, "k", factor = 4, joinType = "full")
    }
    // left outer IS supported and matches the plain join
    val so = Skew.saltedJoin(left, right, "k", factor = 4, joinType = "left_outer")
    assert(so.collect().map(r => (r.getLong(0), r.getString(2))).toSet == Set((1L, "a")))
  }

  test("range-clustered layout: files get disjoint key ranges (data skipping)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val li = graft.tables.Tables.table(spark, TestSpark.sfDir, "lineitem")
    graft.tables.Layout.writeRangeClustered(li, dir, 4, Seq(col("l_orderkey")))
    // per-file min/max of the cluster key from the parquet footers
    val conf = spark.sessionState.newHadoopConf()
    val ranges = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val stats = r.getFooter.getBlocks.asScala.map(
            _.getColumns.asScala.find(_.getPath.toDotString == "l_orderkey").get.getStatistics)
          (stats.map(_.genericGetMin.asInstanceOf[Long]).min,
            stats.map(_.genericGetMax.asInstanceOf[Long]).max)
        } finally r.close()
      }.sortBy(_._1)
    assert(ranges.size >= 2)
    ranges.sliding(2).foreach { case Seq((_, max1), (min2, _)) =>
      assert(max1 <= min2, s"overlapping file ranges: $ranges")
    }
    // a point filter now prunes to one file's worth of row groups
    val sel = spark.read.parquet(dir).filter(col("l_orderkey") === 1)
    assert(sel.count() > 0)
  }

  test("z-order layout: footer ranges prune on BOTH dimensions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val li = graft.tables.Tables.table(spark, TestSpark.sfDir, "lineitem")
    graft.tables.Layout.writeZOrdered(li, dir, 8, col("l_orderkey"), col("l_partkey"))

    val conf = spark.sessionState.newHadoopConf()
    def fileRanges(colName: String): Seq[(Long, Long)] =
      new java.io.File(dir).listFiles
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val stats = r.getFooter.getBlocks.asScala.map(
              _.getColumns.asScala.find(_.getPath.toDotString == colName).get.getStatistics)
            (stats.map(_.genericGetMin.asInstanceOf[Long]).min,
              stats.map(_.genericGetMax.asInstanceOf[Long]).max)
          } finally r.close()
        }

    // On each dimension independently, a narrow range predicate must be able
    // to skip files: the fraction of files whose [min,max] intersects a
    // 1/8-of-domain query window must be well under all of them. (A layout
    // clustered on one key alone fails this on the other key — every file
    // spans the whole second-key domain.)
    def prunable(colName: String): Boolean = {
      val ranges = fileRanges(colName)
      val lo = ranges.map(_._1).min
      val hi = ranges.map(_._2).max
      val w = (hi - lo) / 8
      // probe 8 disjoint windows, take the mean overlap fraction
      val fracs = (0 until 8).map { i =>
        val (qlo, qhi) = (lo + i * w, lo + (i + 1) * w)
        ranges.count { case (mn, mx) => mx >= qlo && mn <= qhi }.toDouble / ranges.size
      }
      fracs.sum / fracs.size <= 0.75
    }
    assert(fileRanges("l_orderkey").size >= 4, "need multiple files to show pruning")
    assert(prunable("l_orderkey"), "orderkey windows must skip files")
    assert(prunable("l_partkey"), "partkey windows must skip files")

    // round-trip integrity
    assert(spark.read.parquet(dir).count() == li.count())

    // q85's predicate shape: a narrow window on BOTH dimensions must rule
    // out most files by footer stats alone — this is the exact min/max test
    // the parquet reader applies when it skips row groups for that query.
    val ro = fileRanges("l_orderkey")
    val rp = fileRanges("l_partkey")
    val domO = (ro.map(_._1).min, ro.map(_._2).max)
    val domP = (rp.map(_._1).min, rp.map(_._2).max)
    val (oLo, oHi) = (domO._1, domO._1 + (domO._2 - domO._1) / 16)
    val (pLo, pHi) = (domP._1, domP._1 + (domP._2 - domP._1) / 16)
    val matching = ro.zip(rp).count { case ((omn, omx), (pmn, pmx)) =>
      omx >= oLo && omn <= oHi && pmx >= pLo && pmn <= pHi
    }
    assert(matching.toDouble / ro.size <= 0.5,
      s"two-dim window should skip most files: $matching of ${ro.size} match")
  }

  test("z-order rank pass plans without a global window or single-partition exchange") {
    // The quantile-rank formulation must never serialize the dataset through
    // one task: the plan that computes the Morton key may contain only the
    // range repartition the write itself pays — no Window operator and no
    // SinglePartition exchange anywhere.
    val li = graft.tables.Tables.table(spark, TestSpark.sfDir, "lineitem")
    val bits = 12
    val buckets = 1 << bits
    val tagged = li.withColumn("__za", col("l_orderkey").cast("double"))
      .withColumn("__zb", col("l_partkey").cast("double"))
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val Array(qa, qb) = tagged.stat.approxQuantile(Array("__za", "__zb"), probs, 1.0 / (4.0 * buckets))
    val ranked = tagged.withColumn("__z", graft.tables.Layout.morton(
        graft.functions.SearchSorted.searchSorted(col("__za"), qa),
        graft.functions.SearchSorted.searchSorted(col("__zb"), qb), bits))
      .repartitionByRange(8, col("__z"))
      .sortWithinPartitions(col("__z"))
    ranked.collect() // finalize THIS QueryExecution's adaptive plan
    val p = ranked.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "z-order rank must not use a window:\n" + p)
    assert(!p.contains("SinglePartition"), "z-order rank must not serialize:\n" + p)
    // the searchsorted rank stays inside whole-stage codegen (the `*(n)`
    // stage marker on the Project that computes the Morton key)
    val rankLine = p.linesIterator.find(_.contains("search_sorted")).get
    assert(rankLine.contains("*("), "rank expression should codegen:\n" + rankLine)
  }

  test("ingest novelty: exact counts on crafted docs; snapshot side never shuffles") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS novelty_snap")
    // corpus trigrams: {a b c, b c d} (doc 0) ∪ {x y z} (doc 2)
    val corpus = Seq((0L, "a b c d"), (2L, "x y z")).toDF("doc_id", "text")
    graft.ext.Dedup.snapshotShingles(corpus, col("text"), "novelty_snap", n = 3, buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val batch = Seq(
        (1L, "a b c d"),     // both trigrams known → novelty 0
        (3L, "a b c q"),     // {a b c known, b c q novel} → 500000
        (5L, "p q r s"),     // all novel → 1000000
        (7L, "a b")          // no trigrams → absent
      ).toDF("doc_id", "text")
      val out = graft.ext.Dedup.noveltyAgainstSnapshot(spark, "novelty_snap",
        batch, col("doc_id"), col("text"), n = 3)
      val got = out.orderBy("doc_id")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got === Seq(
        (1L, 2L, 2L, 0L), (3L, 2L, 1L, 500000L), (5L, 2L, 0L, 1000000L)))
      // the semi join's snapshot side reads the bucket layout — no Exchange
      val finalPlan = out.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val join = finalPlan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }.getOrElse(fail("expected a shuffled semi join:\n" + finalPlan))
      val snapSide = join.children(1).toString
      assert(snapSide.contains("novelty_snap"), "right side should be the snapshot:\n" + snapSide)
      assert(!snapSide.contains("Exchange"), "snapshot side must not shuffle:\n" + snapSide)
      assert(snapSide.contains("Bucketed: true"), "snapshot must read its bucket layout:\n" + snapSide)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS novelty_snap")
    }
  }

  test("priority sample plans a bounded TakeOrdered, never a global sort") {
    val docs = graft.tables.Tables.table(spark, TestSpark.sfDir, "documents")
    val out = graft.ext.Curation.prioritySample(docs, col("doc_id"),
      graft.ext.TextAnalysis.tokenCount(col("text")), k = 50)
    out.collect() // materialize so AQE finalizes the plan
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      "expected the bounded top-(k+1) operator:\n" + p)
    // a global Sort outside the k+1-row window region would mean the whole
    // corpus sorts; the only Sort allowed is the one under the tiny Window
    val sorts = p.linesIterator.count(_.trim.startsWith("+- Sort"))
    assert(sorts <= 1, s"unexpected global sorts in plan ($sorts):\n" + p)
  }

  test("incremental dedup against a bucketed snapshot: snapshot side never shuffles") {
    val docs = graft.tables.Tables.table(spark, TestSpark.sfDir, "documents")
    val fp = graft.ext.TextAnalysis.contentFingerprint(col("text"))
    spark.sql("DROP TABLE IF EXISTS dedup_snap")
    graft.ext.Dedup.snapshotFingerprints(docs.filter(col("doc_id") % 2 === 0), fp, "dedup_snap", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val novel = graft.ext.Dedup.novelAgainstSnapshot(spark, "dedup_snap",
        docs.filter(col("doc_id") % 2 === 1), fp, col("doc_id"))
      // result equality with the snapshot-less formulation
      val expected = graft.ext.Dedup.novelAgainst(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
        fp, col("doc_id"))
      val got = novel.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == expected.select("doc_id").collect().map(_.getLong(0)).toSet && got.nonEmpty)
      // plan: the anti-join's snapshot (right) subtree reads the bucket
      // layout directly — zero Exchange below it
      val finalPlan = novel.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val join = finalPlan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }.getOrElse(fail("expected a shuffled anti join:\n" + finalPlan))
      val snapSide = join.children(1).toString
      assert(snapSide.contains("dedup_snap"), "right side should be the snapshot:\n" + snapSide)
      assert(!snapSide.contains("Exchange"), "snapshot side must not shuffle:\n" + snapSide)
      assert(snapSide.contains("Bucketed: true"), "snapshot must read its bucket layout:\n" + snapSide)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS dedup_snap")
    }
  }

  test("incremental NEAR-dup ingest: snapshot probe is co-located, semantics keep-min") {
    // handcrafted semantics first: exact dup of corpus drops (h=0), novel
    // doc survives, within-batch twin keeps the min id
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different corpus text about something else entirely"),
      (1L, "the quick brown fox jumps over the lazy dog today"), // = doc 0
      (3L, "unrelated novel content that matches nothing in the corpus"),
      (5L, "unrelated novel content that matches nothing in the corpus")  // = doc 3
    ).toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS nd_snap")
    graft.ext.Dedup.snapshotSimhashBands(docs.filter($"doc_id" % 2 === 0),
      col("doc_id"), col("text"), "nd_snap", 2)
    val novel = graft.ext.Dedup.novelNearDupAgainstSnapshot(spark, "nd_snap",
      docs.filter($"doc_id" % 2 === 1), col("doc_id"), col("text"), maxHamming = 5)
    assert(novel.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L))
    spark.sql("DROP TABLE IF EXISTS nd_snap")

    // plan shape on the real corpus: the probe join reads the snapshot's
    // bucket layout directly — zero Exchange below the snapshot side
    val real = graft.tables.Tables.table(spark, TestSpark.sfDir, "documents")
    graft.ext.Dedup.snapshotSimhashBands(real.filter($"doc_id" % 2 === 0),
      col("doc_id"), col("text"), "nd_snap", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      // AQE wraps completed stages in leaf QueryStageExec nodes that
      // collect() can't descend into — the static plan shows the real tree
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val out = graft.ext.Dedup.novelNearDupAgainstSnapshot(spark, "nd_snap",
        real.filter($"doc_id" % 2 === 1), col("doc_id"), col("text"), maxHamming = 5)
      out.collect()
      // the probe join is the one with the snapshot scan on one side
      val probeSides = out.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.children
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.children
      }.flatten.map(_.toString).filter(_.contains("nd_snap"))
      assert(probeSides.nonEmpty, "expected a shuffled probe join against the snapshot:\n"
        + out.queryExecution.executedPlan)
      // outer joins above the probe transitively contain the snapshot scan
      // too — the probe's own snapshot side is the innermost (shortest) one
      val snapSide = probeSides.minBy(_.length)
      assert(!snapSide.contains("Exchange"), "snapshot side must not shuffle:\n" + snapSide)
      assert(snapSide.contains("Bucketed: true"), "snapshot must read its bucket layout:\n" + snapSide)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS nd_snap")
    }
  }

  test("writeShuffled: reading shards in filename order replays the global permutation") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shuf").toString
    val docs = graft.tables.Tables.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "lang")
    graft.ext.Curation.writeShuffled(docs, col("doc_id"), "ep1", dir, 6)
    val files = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 6, s"expected 6 shard files, got ${files.length}")
    // each tiny file is one split, so per-file read order = written order;
    // concatenation in filename order must equal the orderBy spelling
    val replayed = files.flatMap(f =>
      spark.read.parquet(f.toString).select("doc_id").collect().map(_.getLong(0)))
    val expected = graft.ext.Curation.shuffled(docs, col("doc_id"), "ep1")
      .select("doc_id").collect().map(_.getLong(0))
    assert(replayed.toSeq == expected.toSeq,
      "shard concatenation must replay the global shuffled order")
    // a different seed is an (almost surely) different permutation
    val other = graft.ext.Curation.shuffled(docs, col("doc_id"), "ep2")
      .select("doc_id").collect().map(_.getLong(0))
    assert(other.toSeq != expected.toSeq)
  }

  test("partitioned layout: filter prunes at listing time (PartitionFilters)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val docs = graft.tables.Tables.table(spark, TestSpark.sfDir, "documents")
    // AQE legally coalesces this tiny shuffle to one task (size-aware —
    // at scale it right-sizes to ~64 MB partitions); disable coalescing so
    // the parallel-write property is observable on test-sized data
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try graft.tables.Layout.writePartitioned(docs, dir, Seq("lang"))
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    val langs = new java.io.File(dir).listFiles.filter(_.isDirectory).map(_.getName)
    assert(langs.count(_.startsWith("lang=")) >= 2, langs.mkString(","))
    val sel = spark.read.parquet(dir).filter(col("lang") === "en")
    sel.collect()
    val p = sel.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(lang"),
      "filter must prune at listing time:\n" + p)
    // directory pruning, not row filtering: only the en partition's files scan
    val scanned = sel.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.selectedPartitions.partitionCount
    }
    assert(scanned.contains(1), s"expected exactly the en partition, got $scanned")
    assert(sel.count() == docs.filter(col("lang") === "en").count())
    // small-file guard: at the default each directory holds ONE file...
    def filesIn(d: java.io.File) = d.listFiles.filter(_.getName.endsWith(".parquet"))
    val dirs = new java.io.File(dir).listFiles.filter(_.getName.startsWith("lang="))
    dirs.foreach(d => assert(filesIn(d).length == 1, d.toString))
    // ...written by PARALLEL tasks, not one serialized writer: file names
    // carry the writing task's partition id — with the value-hash shuffle
    // the languages spread over distinct tasks (a total-count-1 repartition,
    // the serialization bug, would stamp every file part-00000)
    val taskIds = dirs.flatMap(filesIn).map(_.getName.split("-")(1)).toSet
    assert(taskIds.size >= 2,
      s"partitioned write ran on a single task: $taskIds")
    // filesPerPartition > 1: the salt spreads one value over several tasks,
    // still bounded per directory
    val dir3 = java.nio.file.Files.createTempDirectory("graft-part3").toString
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try graft.tables.Layout.writePartitioned(docs, dir3, Seq("lang"), filesPerPartition = 3)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    val dirs3 = new java.io.File(dir3).listFiles.filter(_.getName.startsWith("lang="))
    dirs3.foreach(d => assert(filesIn(d).length <= 3, d.toString))
    assert(dirs3.map(d => filesIn(d).length).max >= 2,
      "salt should spread a populous value over >1 file")
  }

  test("partitioned fact joined through a filtered dim: dynamic partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    try {
      val docs = graft.tables.Tables.table(spark, TestSpark.sfDir, "documents")
      graft.tables.Layout.writePartitioned(docs, dir, Seq("lang"))
      val nLangs = new java.io.File(dir).listFiles
        .count(_.getName.startsWith("lang="))
      // dim attribute is a DATA-dependent rollup (doc count per lang), so no
      // static predicate on the partition column exists at plan time — only
      // the runtime DPP subquery can prune the fact's directories
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val max = counts.agg(org.apache.spark.sql.functions.max(col("n_docs")))
        .head().getLong(0)
      val dim = counts.filter(col("n_docs") >= max)
      val expectedLangs = dim.select("lang").collect().map(_.getString(0)).toSet
      assert(expectedLangs.size < nLangs, "threshold must prune some partition")

      val joined = spark.read.parquet(dir).join(dim, "lang")
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val rows = joined.collect()
      assert(rows.map(_.getString(0)).toSet == expectedLangs)

      val finalPlan = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(finalPlan.toString.contains("dynamicpruning"),
        "fact scan must carry a DPP filter:\n" + finalPlan)
      // AQE materializes earlier stages as QueryStageExec leaves whose inner
      // plan is not a TreeNode child — descend explicitly
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => scans(r.child)
        }.flatten
      val factScan = scans(finalPlan).find(_.partitionFilters.nonEmpty)
        .getOrElse(fail("no partitioned scan in plan:\n" + finalPlan))
      // the partitions-read metric proves directories were SKIPPED at
      // runtime, not just filtered as rows
      assert(factScan.metrics("numPartitions").value == expectedLangs.size,
        s"expected ${expectedLangs.size} of $nLangs partitions read, " +
          s"got ${factScan.metrics("numPartitions").value}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("binned range join equals the theta join, plans as an equi join") {
    val ev = graft.tables.Tables.table(spark, TestSpark.sfDir, "events")
    val points = ev.select(col("event_id"), unix_micros(col("ts")).as("pt"))
    val wins = ev.filter(col("user_id") % 10 === 0)
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("ws"))
      .select(col("user_id").as("w_user"), col("ws"),
        (col("ws") + lit(2L * 86400L * 1000000L)).as("we"))
    val banded = graft.ops.RangeJoin.binnedRangeJoin(points, "pt", wins,
      "ws", "we", bin = 86400L * 1000000L)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("event_id", "w_user").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.join(wins, col("pt") >= col("ws") && col("pt") < col("we"))
    assert(pairs(banded) == pairs(naive) && pairs(banded).nonEmpty)
    banded.collect()
    val p = banded.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop"),
      "banded range join must not nested-loop:\n" + p)
    assert(p.contains("__bin"), "join should key on the bin:\n" + p)
    // an interval spanning k bins registers k times, no more (replication
    // is bounded by ceil(span/bin), the property that holds at 100 TB)
    val expanded = wins.withColumn("__bin", explode(sequence(
      ((col("ws") - pmod(col("ws"), lit(86400000000L))) / 86400000000L).cast("long"),
      ((col("we") - 1 - pmod(col("we") - 1, lit(86400000000L))) / 86400000000L).cast("long"))))
    val repl = expanded.groupBy("w_user").count().agg(max("count")).head().getLong(0)
    assert(repl <= 3, s"2-day window at 1-day bins must register <= 3 times, got $repl")
  }

  test("multiLevelRangeAgg equals the theta-join rollup on real events") {
    val ev = graft.tables.Tables.table(spark, TestSpark.sfDir, "events")
    val points = ev.select(col("event_id"), unix_micros(col("ts")).as("pt"))
    val wins = ev.filter(col("user_id") % 10 === 0)
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("ws"))
      .select(col("user_id").as("w_user"), col("ws"),
        (col("ws") + lit(2L * 86400L * 1000000L)).as("we"))
    val pushed = graft.ops.RangeJoin.multiLevelRangeAgg(points, "pt",
        Seq("event_id"), wins, Seq("w_user"), "ws", "we",
        widths = Seq(86400L * 1000000L, 3600L * 1000000L, 60L * 1000000L))
      .select(col("w_user"), col("n_points"), col("sum_event_id"))
    val naive = points.join(wins,
        col("pt") >= col("ws") && col("pt") < col("we"))
      .groupBy(col("w_user"))
      .agg(count(lit(1)).as("n_points"), sum(col("event_id")).as("sum_event_id"))
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (got, want) = (m(pushed), m(naive))
    assert(got === want && got.nonEmpty)
    // the pushdown must not materialize pairs: no per-pair row count in any
    // exchanged stage — assert no NestedLoop as a floor
    assert(!pushed.queryExecution.executedPlan.toString.contains("NestedLoop"))
  }

  test("multiLevelRangeAgg exact on adversarial intervals (tiny, unaligned, empty)") {
    import spark.implicits._
    // points at every integer 0..9999; intervals deliberately nasty: empty,
    // sub-finest-bin, bin-straddling, exactly-aligned, whole-domain
    val pts = spark.range(0, 10000)
      .select(col("id").as("pid"), col("id").as("p"))
    val ivs = Seq(
      (1L, 5L, 5L),       // empty (end <= start) — must vanish
      (2L, 7L, 9L),       // sub-finest sliver
      (3L, 95L, 105L),    // straddles a 10-bin boundary, sub-100
      (4L, 100L, 200L),   // exactly one 100-aligned block
      (5L, 0L, 10000L),   // whole domain
      (6L, 123L, 4567L),  // generic unaligned
      (7L, 9998L, 20000L) // runs past the data
    ).toDF("k", "s", "e")
    val pushed = graft.ops.RangeJoin.multiLevelRangeAgg(pts, "p", Seq("pid"),
        ivs, Seq("k"), "s", "e", widths = Seq(1000L, 100L, 10L))
    val naive = pts.join(ivs, col("p") >= col("s") && col("p") < col("e"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_points"), sum(col("pid")).as("sum_pid"))
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = m(pushed.select(col("k"), col("n_points"), col("sum_pid")))
    val want = m(naive)
    assert(got === want, s"pushdown diverged: got $got want $want")
    assert(!got.contains(1L), "empty interval must not appear")
  }

  test("multiLevelRangeAgg equals the theta join on randomized interval soups") {
    import spark.implicits._
    // seeded random geometry: interval endpoints land on and around every
    // alignment boundary class the decomposition distinguishes
    val r = new scala.util.Random(301)
    val pts = spark.range(0, 5000)
      .select(col("id").as("pid"), (col("id") * 3 % 4999).as("p"))
    for (round <- 0 until 4) {
      val ivs = Seq.tabulate(40) { i =>
        val s = r.nextInt(5200).toLong - 100 // may start before the data
        val len = r.nextInt(4) match {
          case 0 => r.nextInt(9).toLong          // sub-finest
          case 1 => r.nextInt(120).toLong        // around one mid bin
          case 2 => r.nextInt(1500).toLong       // multi-level
          case _ => r.nextInt(6000).toLong       // may span everything
        }
        (i.toLong + round * 1000, s, s + len)
      }.toDF("k", "s", "e")
      val pushed = graft.ops.RangeJoin.multiLevelRangeAgg(pts, "p", Seq("pid"),
          ivs, Seq("k"), "s", "e", widths = Seq(1000L, 100L, 10L))
        .select(col("k"), col("n_points"), col("sum_pid"))
      val naive = pts.join(ivs, col("p") >= col("s") && col("p") < col("e"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_points"), sum(col("pid")).as("sum_pid"))
      def m(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
        df.collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
      val (got, want) = (m(pushed), m(naive))
      assert(got === want, s"round $round: pushdown diverged")
    }
  }

  test("binWidthFor scales inversely with point density") {
    val sparse = spark.range(0, 1000).select((col("id") * 1000L).as("p"))
    val dense = spark.range(0, 100000).select((col("id") * 10L).as("p"))
    val bSparse = graft.ops.RangeJoin.binWidthFor(sparse, "p", targetPerBin = 100)
    val bDense = graft.ops.RangeJoin.binWidthFor(dense, "p", targetPerBin = 100)
    // same ~1e6 span, 100× the points → ~100× finer bins
    assert(bSparse > 50L * bDense && bDense >= 1L,
      s"expected ~100x ratio, got sparse=$bSparse dense=$bDense")
  }

  test("persisted IVF index: search pushes probed cells into the clustered scan") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivfidx")
    val path = root.toString + "/index"
    try {
      val emb = graft.tables.Tables.table(spark, TestSpark.sfDir, "embeddings")
      graft.ext.Similarity.writeIvfIndex(emb, path, nlist = 8, iters = 1)
      val q = emb.filter(col("vec_id") < 5)
      val viaIndex = graft.ext.Similarity.searchIvfIndex(spark, path, q, k = 3, nprobe = 2)
      val direct = graft.ext.Similarity.ivfTopKTrained(q, emb, k = 3,
        nlist = 8, nprobe = 2, iters = 1)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("q_id", "rnk").collect().map(_.toString).toSeq
      assert(rows(viaIndex) == rows(direct) && rows(viaIndex).nonEmpty,
        "index round-trip must not change the search result")
      // the cells scan carries the probed-cell IN filter — pushed to
      // parquet, where the range-clustered layout prunes by footer stats
      viaIndex.collect()
      val p = viaIndex.queryExecution.executedPlan.toString
      val scanLine = p.linesIterator.find(l =>
        l.contains("/cells") && l.contains("PushedFilters"))
        .getOrElse(fail("no cells scan in plan:\n" + p))
      assert(scanLine.contains("In(cell"),
        "probed-cell filter must push into the scan:\n" + scanLine)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(root.toFile)
    }
  }

  test("persisted PQ index: search equals pqTopK; streaming encoder equals the written codes") {
    val rnd = new scala.util.Random(11)
    val emb = (0L until 120L)
      .map(id => (id, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-pqidx")
    try {
      graft.ext.Similarity.writePqIndex(emb, root.toString, m = 4, subDim = 4,
        ksub = 6, iters = 2)
      val viaIndex = graft.ext.Similarity.searchPqIndex(spark, root.toString,
        emb, k = 3, m = 4, subDim = 4, ksub = 6, nq = 7, kCand = 12)
      val direct = graft.ext.Similarity.pqTopK(emb, k = 3, m = 4, subDim = 4,
        ksub = 6, iters = 2, nq = 7, kCand = 12)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("q_id", "rnk").collect().map(_.toString).toSeq
      assert(rows(viaIndex).length == 21, "7 queries x top-3")
      assert(rows(viaIndex) == rows(direct),
        "index round-trip must not change the search result")
      def codes(df: org.apache.spark.sql.DataFrame) =
        df.select("c_id", "j", "code").as[(Long, Long, Long)].collect().sorted.toSeq
      val encoded = graft.ext.Similarity.pqCodeColumns(emb, emb, m = 4,
        subDim = 4, ksub = 6, iters = 2)
      assert(codes(encoded).length == 120 * 4)
      assert(codes(encoded) == codes(spark.read.parquet(s"$root/codes")),
        "the streaming encoder must reproduce the persisted codes")
    } finally graft.tables.Hfs.rmTree(root.toFile)
  }

  test("versioned table: pointer-swap commits run the maintenance quartet through a file: FileSystem") {
    import spark.implicits._
    import graft.tables.{Snapshots, VersionedTable}
    // explicit file: scheme — the whole protocol goes through the Hadoop
    // FileSystem resolved from the URI, the same code path as hdfs:/s3a:
    val root = "file://" + java.nio.file.Files
      .createTempDirectory("graft-vt").toString + "/table"
    try {
      val v1 = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("k", "t")
      assert(VersionedTable.init(spark, root, v1) == 1L)
      assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toMap
        === Map(1L -> "one", 2L -> "two", 3L -> "three"))

      // upsert commits v2 — same API as the flat-directory mode
      Snapshots.upsertByKey(spark, root,
        Seq((2L, "TWO"), (9L, "nine")).toDF("k", "t"), "k")
      assert(VersionedTable.currentVersion(spark, root).contains(2L))
      assert(Snapshots.readSnapshot(spark, root).as[(Long, String)].collect().toMap
        === Map(1L -> "one", 2L -> "TWO", 3L -> "three", 9L -> "nine"))
      // v1 still readable until vacuum (time travel / in-flight readers)
      assert(VersionedTable.versions(spark, root) == Seq(1L, 2L))

      // delete commits v3
      Snapshots.deleteWhere(spark, root, col("k") === 3L)
      assert(Snapshots.readSnapshot(spark, root).count() == 3)

      // compact commits v4, content identical
      graft.tables.Layout.compact(spark, root, targetBytes = 128L << 20)
      assert(VersionedTable.currentVersion(spark, root).contains(4L))
      assert(Snapshots.readSnapshot(spark, root).as[(Long, String)].collect().toMap
        === Map(1L -> "one", 2L -> "TWO", 9L -> "nine"))

      // crash-window semantics: a data directory WITHOUT a marker (writer
      // died before the PUT) is invisible to readers
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      Seq((99L, "garbage")).toDF("k", "t").write
        .parquet(root + "/v9") // fully written, never marked
      assert(VersionedTable.currentVersion(spark, root).contains(4L))
      assert(Snapshots.readSnapshot(spark, root).count() == 3)
      // ...and a marker whose data lacks _SUCCESS (writer died mid-write)
      // is skipped too
      fs.create(new org.apache.hadoop.fs.Path(root, "_commits/v8.ok"), false).close()
      fs.mkdirs(new org.apache.hadoop.fs.Path(root, "v8"))
      assert(VersionedTable.currentVersion(spark, root).contains(4L))

      // vacuum retires everything but the current version
      VersionedTable.vacuum(spark, root, keep = 1)
      assert(VersionedTable.versions(spark, root) == Seq(4L))
      assert(Snapshots.readSnapshot(spark, root).count() == 3)
      // dangling-sweep GC: a crashed writer's unmarked data dir BELOW the
      // current version is storage leak, not state — vacuum removes it
      // (dirs at/above current are left alone: a live writer may own them)
      Seq((98L, "stale")).toDF("k", "t").write.parquet(root + "/v3")
      VersionedTable.vacuum(spark, root, keep = 1)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "v3")),
        "dangling v3 below current must be swept")
      assert(fs.exists(new org.apache.hadoop.fs.Path(root, "v9")),
        "unmarked dir above current must survive (possible live writer)")
      assert(VersionedTable.versions(spark, root) == Seq(4L))
    } finally {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true): Unit
    }
  }

  test("versioned table: contended commits serialize through claims and rebase") {
    import spark.implicits._
    import graft.tables.VersionedTable
    val root = "file://" + java.nio.file.Files
      .createTempDirectory("graft-occ").toString + "/table"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val claim2 = new org.apache.hadoop.fs.Path(root, "_commits/v2.claim")
    try {
      VersionedTable.init(spark, root, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))

      // writer B claims v2 first (simulated contender)
      fs.mkdirs(claim2.getParent)
      fs.create(claim2, false).close()

      // writer A keeps losing the claim while B holds it...
      @volatile var aResult: Long = -1L
      val a = new Thread(() => {
        aResult = VersionedTable.commitContended(spark, root,
          maxAttempts = 60, waitMs = 100) { cur =>
          cur.withColumn("v", col("v") + 1) // increment — order-sensitive vs append
        }
      })
      a.start()
      Thread.sleep(400) // let A lose a few attempts against B's live claim
      assert(aResult == -1L, "A must not commit while B holds the v2 claim")

      // ...B completes: data v2 (append a row) + marker, then drops its claim
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
        .write.parquet(root + "/v2")
      fs.create(new org.apache.hadoop.fs.Path(root, "_commits/v2.ok"), false).close()
      fs.delete(claim2, false)

      a.join(30000)
      assert(!a.isAlive, "A must finish once B's marker lands")
      // A REBASED: its increment ran against B's v2 (3 rows), landing as v3 —
      // the serial order B then A
      assert(aResult == 3L)
      assert(VersionedTable.read(spark, root).as[(Long, Long)].collect().toMap
        === Map(1L -> 11L, 2L -> 21L, 3L -> 31L))

      // crashed-writer semantics: a stale claim with no progress blocks
      // contenders (bounded attempts, then a descriptive throw)...
      val claim4 = new org.apache.hadoop.fs.Path(root, "_commits/v4.claim")
      fs.create(claim4, false).close()
      val e = intercept[IllegalStateException] {
        VersionedTable.commitContended(spark, root, maxAttempts = 3, waitMs = 10) {
          cur => cur
        }
      }
      assert(e.getMessage.contains("releaseClaim"))
      // ...until the operator fences the dead writer and releases the claim
      VersionedTable.releaseClaim(spark, root, 4L)
      val v4 = VersionedTable.commitContended(spark, root) { cur =>
        cur.filter(col("k") =!= 3L)
      }
      assert(v4 == 4L)
      assert(VersionedTable.read(spark, root).count() == 2)
      // happy-path claims never linger
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_commits/v4.claim")))

      // the lost-update guard: NOTHING may rewrite a committed version dir —
      // a stalled writer that somehow reaches writeAndMark for an
      // already-committed number must throw, with the victim data intact
      val before = VersionedTable.readVersion(spark, root, 4L).count()
      val guard = intercept[IllegalStateException] {
        VersionedTable.init(spark, root,
          Seq((99L, 99L)).toDF("k", "v")) // init targets v1 — committed long ago
      }
      assert(guard.getMessage.contains("already committed"))
      assert(VersionedTable.readVersion(spark, root, 4L).count() == before)

      // claimed-but-already-committed: the winner must REBASE, not rewrite.
      // Simulate the stall by pre-creating the NEXT version's full commit,
      // then letting commitContended discover it after winning the claim is
      // impossible to wedge deterministically from outside — instead pin the
      // observable contract: a commit against the CURRENT version lands at
      // current+1 and never disturbs existing versions
      val v5 = VersionedTable.commitContended(spark, root) { cur => cur }
      assert(v5 == 5L)
      assert(VersionedTable.readVersion(spark, root, 4L).count() == before)
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true): Unit
    }
  }

  test("versioned table torture: 8 writers x 20 commits serialize with no lost updates; readers never see a partial version") {
    import spark.implicits._
    import graft.tables.VersionedTable
    val root = "file://" + java.nio.file.Files
      .createTempDirectory("graft-occ-torture").toString + "/table"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val writers = 8
    val commitsPer = 20
    try {
      VersionedTable.init(spark, root, Seq((-1L, -1L)).toDF("writer", "seq"))
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      @volatile var writersDone = false

      // concurrent reader: the CURRENT version must always be a complete
      // committed snapshot — with every commit appending exactly one row,
      // version v holds exactly v rows (init's sentinel + v-1 appends); a
      // torn read (marker before data, partial data dir) breaks the count
      val reader = new Thread(() => {
        while (!writersDone) {
          try {
            VersionedTable.currentVersion(spark, root).foreach { v =>
              val n = VersionedTable.readVersion(spark, root, v).count()
              if (n != v) failures.add(s"reader: version $v had $n rows")
            }
          } catch { case e: Throwable =>
            failures.add(s"reader threw: ${e.getMessage}")
          }
          Thread.sleep(50)
        }
      })
      reader.start()

      val pool = (0 until writers).map { w =>
        new Thread(() => {
          try {
            (0 until commitsPer).foreach { i =>
              VersionedTable.commitContended(spark, root,
                maxAttempts = 5000, waitMs = 10) { cur =>
                cur.unionByName(Seq((w.toLong, i.toLong)).toDF("writer", "seq"))
              }
            }
          } catch { case e: Throwable =>
            failures.add(s"writer $w threw: ${e.getMessage}")
          }
        })
      }
      pool.foreach(_.start())
      pool.foreach(_.join(600000))
      writersDone = true
      reader.join(30000)
      assert(pool.forall(!_.isAlive), "a writer wedged past the 10 min cap")
      assert(failures.isEmpty, s"torture violations: ${failures}")

      // serializable history: versions dense 1..161, each exactly one row
      // longer than its predecessor (every commit rebased on the version it
      // actually replaced — no clobbered or skipped numbers)
      val vs = VersionedTable.versions(spark, root)
      assert(vs === (1L to (writers * commitsPer + 1).toLong))
      val counts = vs.map(v =>
        v -> VersionedTable.readVersion(spark, root, v).count())
      counts.foreach { case (v, n) =>
        assert(n === v, s"version $v has $n rows — non-serial history") }

      // no lost updates: the final snapshot carries every (writer, seq)
      // exactly once
      val tags = VersionedTable.read(spark, root)
        .filter(col("writer") >= 0)
        .as[(Long, Long)].collect().sorted
      assert(tags.length === writers * commitsPer)
      assert(tags.toSeq === (for {
        w <- 0L until writers.toLong
        i <- 0L until commitsPer.toLong
      } yield (w, i)).sorted)

      // happy path leaves no claims behind
      val leftover = fs.listStatus(
        new org.apache.hadoop.fs.Path(root, "_commits"))
        .map(_.getPath.getName).filter(_.endsWith(".claim"))
      assert(leftover.isEmpty, s"lingering claims: ${leftover.mkString(",")}")
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true): Unit
    }
  }

  test("snapshot upsert replaces by key, inserts new keys; diff sees removals") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ups").toString + "/snap"
    try {
      val v1 = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("k", "t")
      v1.write.parquet(dir)
      val updates = Seq((2L, "TWO"), (9L, "nine")).toDF("k", "t")
      graft.tables.Snapshots.upsertByKey(spark, dir, updates, "k")
      val v2 = spark.read.parquet(dir).as[(Long, String)].collect().toMap
      assert(v2 === Map(1L -> "one", 2L -> "TWO", 3L -> "three", 9L -> "nine"))
      // schema drift is a hard error, not silent column loss
      val bad = Seq((5L, "x", 1L)).toDF("k", "t", "extra")
      intercept[IllegalArgumentException] {
        graft.tables.Snapshots.upsertByKey(spark, dir, bad, "k")
      }
      // diff covers all four statuses (q121's corpus derivation never
      // removes a key, so 'removed' is pinned here)
      val newSnap = Seq((1L, "one"), (2L, "changed"), (9L, "nine"), (7L, "seven"))
        .toDF("k", "t")
      val d = graft.tables.Snapshots
        .diffByFingerprint(spark.read.parquet(dir), newSnap, "k", md5(col("t")))
        .as[(Long, String)].collect().toMap
      assert(d === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
        9L -> "unchanged", 7L -> "added"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir).getParentFile)
    }
  }

  test("partition drop deletes a tenant's directory, touching no data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drop").toString
    try {
      val docs = graft.tables.Tables.table(spark, TestSpark.sfDir, "documents")
      graft.tables.Layout.writePartitioned(docs, dir, Seq("lang"))
      val before = new java.io.File(dir).listFiles
        .count(_.getName.startsWith("lang="))
      graft.tables.Snapshots.dropPartitions(spark, dir, "lang", Seq("en"))
      val dirsAfter = new java.io.File(dir).listFiles
        .filter(_.getName.startsWith("lang=")).map(_.getName).toSet
      assert(!dirsAfter.contains("lang=en") && dirsAfter.size == before - 1)
      assert(spark.read.parquet(dir).count() ==
        docs.filter(col("lang") =!= "en").count())
      // dropping a value that does not exist is a no-op, not an error
      graft.tables.Snapshots.dropPartitions(spark, dir, "lang", Seq("xx"))
      assert(spark.read.parquet(dir).count() ==
        docs.filter(col("lang") =!= "en").count())
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("compact: many small files become few, data identical, idempotent sizing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val li = graft.tables.Tables.table(spark, TestSpark.sfDir, "lineitem")
    li.repartition(24).write.mode("overwrite").parquet(dir) // fragment
    def parquetFiles = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    val before = parquetFiles
    assert(before >= 20)
    val expected = li.orderBy(li.columns.map(col).toIndexedSeq: _*).collect().map(_.toString)
    graft.tables.Layout.compact(spark, dir, targetBytes = 4L << 20)
    assert(parquetFiles < before / 2, s"$before -> $parquetFiles")
    val after = spark.read.parquet(dir)
    assert(after.orderBy(after.columns.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).sameElements(expected))
  }

  test("compactClustered restores disjoint footer key ranges that plain compact dissolves") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ccl").toString
    try {
      val li = graft.tables.Tables.table(spark, TestSpark.sfDir, "lineitem")
      graft.tables.Layout.writeRangeClustered(li, dir, 4, Seq(col("l_orderkey")))
      // fragment it the way a streaming/upsert sink would (hash-scattered)
      spark.read.parquet(dir).repartition(24).write
        .mode("overwrite").parquet(dir + "2")
      val conf = spark.sessionState.newHadoopConf()
      def ranges(d: String): Seq[(Long, Long)] = new java.io.File(d).listFiles
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val stats = r.getFooter.getBlocks.asScala.map(
              _.getColumns.asScala.find(_.getPath.toDotString == "l_orderkey").get.getStatistics)
            (stats.map(_.genericGetMin.asInstanceOf[Long]).min,
              stats.map(_.genericGetMax.asInstanceOf[Long]).max)
          } finally r.close()
        }.sortBy(_._1)
      def disjoint(rs: Seq[(Long, Long)]): Boolean =
        rs.size < 2 || rs.sliding(2).forall { case Seq((_, m1), (m2, _)) => m1 <= m2 }
      // the fragmented copy has overlapping per-file ranges (that's the rot)
      assert(!disjoint(ranges(dir + "2")), "fixture should be hash-scattered")
      val expected = spark.read.parquet(dir + "2").orderBy("l_orderkey", "l_partkey",
        "l_suppkey", "l_linenumber", "l_quantity").collect().map(_.toString)
      graft.tables.Layout.compactClustered(spark, dir + "2",
        Seq(col("l_orderkey")), targetBytes = 64L << 10)
      val after = ranges(dir + "2")
      assert(after.size >= 2 && disjoint(after),
        s"clustered compaction must restore disjoint ranges: $after")
      val back = spark.read.parquet(dir + "2").orderBy("l_orderkey", "l_partkey",
        "l_suppkey", "l_linenumber", "l_quantity").collect().map(_.toString)
      assert(back.sameElements(expected))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir)); rm(new java.io.File(dir + "2"))
    }
  }

  test("compact on a partitioned layout preserves directories and pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part-compact").toString
    try {
      val docs = graft.tables.Tables.table(spark, TestSpark.sfDir, "documents")
      // fragment: several files per partition directory
      val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try graft.tables.Layout.writePartitioned(docs, dir, Seq("lang"), filesPerPartition = 6)
      finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
      def dirs = new java.io.File(dir).listFiles.filter(_.getName.startsWith("lang="))
      def files = dirs.flatMap(_.listFiles).count(_.getName.endsWith(".parquet"))
      val (dirsBefore, filesBefore) = (dirs.map(_.getName).toSet, files)
      assert(filesBefore > dirsBefore.size, "fixture should be fragmented")
      val expected = spark.read.parquet(dir).orderBy("doc_id").collect().map(_.toString)

      graft.tables.Layout.compact(spark, dir, targetBytes = 256L << 20)

      // directories survive (a flat rewrite would erase them), files shrink
      assert(dirs.map(_.getName).toSet == dirsBefore)
      assert(files == dirsBefore.size, s"expected one file per partition, got $files")
      val after = spark.read.parquet(dir)
      assert(after.orderBy("doc_id").collect().map(_.toString).sameElements(expected))
      // listing-time pruning still works on the compacted layout
      val sel = after.filter(col("lang") === "en")
      sel.collect()
      val scanned = sel.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.selectedPartitions.partitionCount
      }
      assert(scanned.contains(1))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("keyHistogram surfaces the hot key") {
    val left = (Seq.fill(100)(7L) ++ (1L to 6L)).toDF("k")
    val top = Skew.keyHistogram(left, col("k"), 1).collect()(0)
    assert(top.getLong(0) == 7L && top.getLong(1) == 100L)
  }

  test("saltedJoinAuto: a 90%-skew key salts, a uniform key doesn't") {
    val r = new scala.util.Random(5)
    val skewed = Seq.tabulate(4000)(i =>
      (if (r.nextInt(10) < 9) 1L else r.nextInt(50).toLong, i.toLong)).toDF("k", "lv")
    val uniform = Seq.tabulate(4000)(i => (i % 50L, i.toLong)).toDF("k", "lv")
    val right = Seq.tabulate(50)(i => (i.toLong, s"r$i")).toDF("k", "rv")

    assert(Skew.autoSaltFactor(skewed, "k") >= 2, "hot key must trigger salting")
    assert(Skew.autoSaltFactor(uniform, "k") == 0, "uniform keys must not salt")

    // auto-salted result still equals the plain join
    val auto = Skew.saltedJoinAuto(skewed, right, "k")
      .select("k", "lv", "rv").collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSet
    val plain = skewed.join(right, "k")
      .select("k", "lv", "rv").collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSet
    assert(auto == plain && auto.nonEmpty)
  }
}
