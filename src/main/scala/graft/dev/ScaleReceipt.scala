package graft.dev

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: 1000× scale receipts for the three scale-critical kernels
  * (round-12 verdict item 4). Every 100 TB claim so far extrapolates from
  * organic sf1 (100× the gate); this harness runs the kernels at organic
  * sf10 (1000×) and records, per kernel: wall seconds for TWO runs, a
  * deterministic result hash (bit_xor of xxhash64 over the output rows —
  * the two runs must agree, the hash self-consistency check that stands in
  * for an oracle at a scale DuckDB can't chew), output row count, and the
  * suite-level spill deltas. No oracle claim beyond self-consistency; the
  * receipts land in PERFNOTES.
  *
  * Kernels (the ones whose cost model changes shape with the corpus):
  *   - cc        — connected components (min-label propagation) over the
  *                 PRODUCTION candidate graph at this scale: the banded
  *                 deterministic MinHash pairs. The exact n-gram-Jaccard
  *                 inventory q95 grades at gate scales is Θ(Σ_g df(g)²) —
  *                 measured at sf10 it ABORTED on disk fill (>70 GB of
  *                 shuffle: the synthetic 30-word vocabulary makes every
  *                 gram's df grow linearly with the corpus, so candidates
  *                 grow quadratically). That bound is now documented on
  *                 ngramJaccardPairs; cluster-building at 100 TB rides
  *                 the banded path, which is what this receipt times;
  *   - ccstar    — the large-star/small-star variant on the same graph;
  *   - neardup   — q291's auto-scaled embedding near-dup kernel at
  *                 threshold 0.85 (the regime where near-dup dedup runs
  *                 and the occupancy rule/recall cap interact: at 200k
  *                 vectors rule=15, cap(0.85,12)=12 — the cap binds, the
  *                 run exercises exactly the post-crossover regime the
  *                 Similarity doc warns about);
  *   - pctl      — q131's exact percentile shape (3-group cumsum window,
  *                 the serialized-stage worst case) and q293's
  *                 high-cardinality twin (per-suppkey), both over the
  *                 full lineitem.
  *
  * Threshold 0.45 at sf10 is NOT run: cap(0.45,12)=5 planes → ~6k vectors
  * per bucket → the bucket self-join alone is ~10¹⁰ candidate pairs. That
  * is the documented quadratic regime (Similarity scaladoc + runtime
  * warning) — the honest cost of a wide angle at 1000×, bounded by raising
  * `tables`, not a plan defect to measure here.
  *
  * Usage: runMain graft.dev.ScaleReceipt <sfDir> [kernel,...] */
object ScaleReceipt {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft-organic-sf10")
    val wanted: Set[String] =
      if (args.length > 1) args(1).split(',').toSet
      else Set("cc", "ccstar", "neardup", "pctl")
    val spark = graft.SparkBoot.builder("graft-scale-receipt").getOrCreate()

    val spilledBytes = graft.SparkBoot.spillCounter(spark)

    def t(name: String) = graft.tables.Tables.table(spark, sfDir, name)

    // deterministic row-set hash + count in one pass; bit_xor is
    // order-independent, so partitioning/run order cannot move it
    def hashCount(df: DataFrame): (Long, Long) = {
      val cols = df.columns.map(col)
      val r = df.agg(
        coalesce(expr(s"bit_xor(xxhash64(struct(${df.columns.mkString(",")})))"),
          lit(0L)).as("h"),
        count(lit(1)).as("n")).head()
      (r.getLong(0), r.getLong(1))
    }

    var anyFailed = false
    def receipt(name: String)(mk: () => DataFrame): Unit = {
      val spill0 = spilledBytes()
      def once(): (Double, Long, Long) = {
        val t0 = System.nanoTime()
        val (h, n) = hashCount(mk())
        ((System.nanoTime() - t0) / 1e9, h, n)
      }
      try {
        val (s1, h1, n1) = once()
        val (s2, h2, n2) = once()
        val spillMb = (spilledBytes() - spill0) >> 20
        val consistent = h1 == h2 && n1 == n2
        println(f"[scale-receipt] $name%-8s run1=$s1%8.1fs run2=$s2%8.1fs " +
          f"rows=$n1%10d hash=$h1%016x consistent=$consistent spillMb=$spillMb")
        if (!consistent) {
          anyFailed = true
          System.err.println(s"[scale-receipt] FAIL: $name runs disagree " +
            s"(h1=$h1 n1=$n1 h2=$h2 n2=$n2)")
        }
      } catch { case e: Throwable =>
        anyFailed = true
        System.err.println(s"[scale-receipt] FAIL: $name threw ${e.getClass.getName}: " +
          Option(e.getMessage).getOrElse("").take(300))
      }
    }

    // production candidate graph at this scale: banded deterministic
    // MinHash (linear in the corpus), not the Θ(Σ df²) exact inventory
    def candidatePairs() = graft.ext.Dedup.minhashLshPairsDeterministic(
      t("documents"), col("doc_id"), col("text"), n = 3, minJaccard = 0.2)

    if (wanted("cc")) receipt("cc") { () =>
      graft.ext.Dedup.connectedComponents(candidatePairs())
        .groupBy(col("comp")).agg(
          count(lit(1)).as("n_docs"), sum(col("node")).as("checksum"))
    }

    if (wanted("ccstar")) receipt("ccstar") { () =>
      graft.ext.Dedup.connectedComponentsStar(candidatePairs())
        .groupBy(col("comp")).agg(
          count(lit(1)).as("n_docs"), sum(col("node")).as("checksum"))
    }

    if (wanted("neardup")) {
      // 0.85 = the true near-dup regime's cost receipt (iid Gaussian
      // embeddings hold ZERO pairs at that angle — the kernel still does
      // the full blocking+verify work); 0.6 = a nonzero inventory so the
      // hash-consistency check bites on real emitted pairs
      receipt("neardup") { () =>
        graft.ext.Similarity.neardupPairsAuto(t("embeddings"), threshold = 0.85)
      }
      receipt("neardup06") { () =>
        graft.ext.Similarity.neardupPairsAuto(t("embeddings"), threshold = 0.6)
      }
    }

    // Graph iteratives (round-13 verdict item 6): the q156/q280-shaped
    // source-overlap graph at organic scale — the corpus-sized part is the
    // gram-overlap self-join that DERIVES the edges; the iterations run on
    // the node-sized (sources²-bounded) tables. q239's HITS rides the
    // user->event_type bipartite engagement graph (node count scales with
    // users). Two runs each; hashes must agree.
    def sourceEdges() = {
      val g = t("documents").select(col("source"),
          explode(array_distinct(graft.ext.Dedup.wordNgrams(col("text"), 5))).as("ng"))
        .distinct()
      val shared = g.as("a").join(g.as("b"),
          col("a.ng") === col("b.ng") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
        .agg(count(lit(1)).as("w"))
      graft.ext.GraphOps.symmetricEdges(shared, col("sa"), col("sb"), col("w"))
    }
    if (wanted("pagerank")) receipt("pagerank") { () =>
      graft.ext.GraphOps.pageRank(sourceEdges(), iters = 3)
    }
    if (wanted("lpa")) receipt("lpa") { () =>
      graft.ext.GraphOps.labelPropagation(sourceEdges(), iters = 4)
    }
    if (wanted("hits")) receipt("hits") { () =>
      graft.ext.GraphOps.hits(
        t("events").groupBy(col("user_id").as("src"),
            col("event_type").as("dst"))
          .agg(count(lit(1)).as("w")),
        iters = 2)
    }

    if (wanted("pctl")) {
      receipt("pctl3") { () =>
        graft.ops.Percentiles.exactInterpolated(t("lineitem"),
          "l_returnflag", "l_extendedprice", Seq("p50" -> 0.5, "p95" -> 0.95))
      }
      receipt("pctlHi") { () =>
        graft.ops.Percentiles.exactInterpolated(t("lineitem"),
          "l_suppkey", "l_extendedprice", Seq("p50" -> 0.5, "p95" -> 0.95))
      }
    }
    if (anyFailed) { spark.stop(); sys.exit(2) }

    println("[scale-receipt] DONE")
    spark.stop()
  }
}
