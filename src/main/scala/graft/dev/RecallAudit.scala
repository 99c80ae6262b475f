package graft.dev

import org.apache.spark.sql.functions._

import graft.SparkBoot
import graft.ext.{Dedup, RecallFloors}

/** Gate-side, corpus-coupled half of the recall-floor audit (the
  * RecallFloorSpec pins the geometry half).
  *
  * History note (round 10): the first version of this audit asserted the
  * q46 gray-zone precondition (no exact pairs with 0.2 ≤ J < 8/9) because
  * q46's oracle was the EXACT q45 answer over probabilistic banding — and
  * on its very first organic-sf1 run it CAUGHT a violation: an organic
  * pair at J = 0.214 whose all-bands miss odds were 47%, i.e. a literal
  * per-corpus-draw coin flip in the graded suite. The structural fix was
  * to switch q46 to the deterministic md5-MinHash whose oracle restates
  * the banding itself (no flake possible at any recall); this audit now
  * measures what remains worth measuring per corpus:
  *
  *   - ACTUAL recall of the graded deterministic banding vs the exact
  *     inventory (deterministic per corpus — a measurement, not a coin
  *     flip), with a hard 0.995 floor: banding that silently degrades on
  *     a corpus drift fails HERE with the missed pairs printed;
  *   - the gray-zone inventory + summed analytic miss odds of the
  *     16×2 geometry (informational: it quantifies how much the old
  *     exact-answer oracle would have flaked on this corpus).
  *
  * Usage: `runMain graft.dev.RecallAudit <corpusDir>` — exits nonzero when
  * measured recall < 0.995. Standing stage in dev/gate.sh (sf0.01 always;
  * the organic corpus under GATE_SF1). */
object RecallAudit {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkBoot.builder("graft-recall-audit").getOrCreate()
    try {
      val docs = graft.tables.Tables.table(spark, dir, "documents")
      // the exact q45 inventory (inverted-index join — the pair set is
      // near-dup-sized, thousands at sf1, so the collect is bounded)
      val exact = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
          lit(1), n = 3, minJaccard = 0.2)
        .select(col("d1"), col("d2"), col("jaccard")).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val got = Dedup.minhashLshPairsDeterministic(docs, col("doc_id"),
          col("text"), n = 3, minJaccard = 0.2)
        .select(col("d1"), col("d2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall =
        if (exact.isEmpty) 1.0
        else exact.keySet.count(got.contains).toDouble / exact.size
      val gray = exact.filter(_._2 < Dedup.PlantedWorstJaccard - 1e-9)
      val missSum = exact.valuesIterator.map(j =>
        RecallFloors.minhashBandMiss(j, Dedup.LshBands, Dedup.LshBandRows)).sum
      println(f"[recall-audit] corpus=$dir exactPairs=${exact.size} " +
        f"q46Recall=$recall%.4f gray=${gray.size} " +
        f"oldOracleFlakeOdds=$missSum%.3e")
      (exact.keySet -- got).toSeq.sorted.take(20).foreach { case (d1, d2) =>
        println(f"[recall-audit] missed pair ($d1,$d2) J=${exact((d1, d2))}%.6f")
      }
      if (recall < 0.995) {
        System.err.println(f"[recall-audit] FAIL: q46 deterministic banding " +
          f"recall $recall%.4f < 0.995 on $dir")
        sys.exit(2)
      }

      // Stage 2 (round 11): the SEEDED production kernel. q46/q291/q292
      // grade deterministic twins whose oracles restate the banding;
      // embeddingNearDupPairs — the actual production entry point, seeded
      // float hyperplanes + margin-directed multiprobe — had analytic
      // floors (RecallFloorSpec) but no per-corpus MEASURED recall. Exact
      // cosine verification makes its precision structural (every emitted
      // pair is checked against the threshold), so recall is the only free
      // variable: measure it against the exact all-pairs inventory, hard
      // floor 0.99. The all-pairs join is audit-side dev code — one
      // broadcastable side of n·dim floats, pair set near-dup-sized, so
      // both collects are bounded.
      import graft.ext.{Similarity, Vectors}
      val emb = graft.tables.Tables.table(spark, dir, "embeddings")
      // Cost control (round-12 verdict item 3): the full stage at organic
      // sf1 was ~19 min — a 5-plane wide net at 20k vectors is
      // near-brute-force, and the exact all-pairs inventory is n²/2 dot
      // products. Above 4096 vectors, sample the PROBE side with the
      // repo's own deterministic modular key (Curation.sampleKey, mod 8 —
      // no RNG, same subset every run): the kernel's pair join is
      // one-directional (a.vec_id < b.vec_id — only the LOWER id's probes
      // can discover a pair), so restricting probes to S = {sampleKey=0}
      // and the exact inventory to pairs with v1 ∈ S measures EXACTLY the
      // per-pair discovery event the full kernel evaluates, on an unbiased
      // 1/8 sample of the inventory, at ~1/8 the self-join and ~1/8 the
      // exact-side cost. The gate then needs the statistics made explicit:
      // a sample estimate can't assert "recall ≥ 0.99" pointwise, so it
      // asserts the one-sided 95% Wilson lower confidence bound ≥ 0.99
      // (at the measured sf1 scale, ~2100 sampled pairs, zero misses →
      // LCB ≈ 0.9987; ≥3 misses in the sample fails the gate — stricter
      // than the full-inventory floor, never looser). Full inventory (and
      // the exact pointwise floor) still runs at sf0.01/sf0.1.
      val nEmb = emb.count()
      val sampled = nEmb > 4096
      val inS = graft.ext.Curation.sampleKey(col("vec_id"), 8) === 0
      val a0 = emb.select(col("vec_id").as("v1"), col("embedding").as("e1"),
        Vectors.norm(col("embedding")).as("n1"))
      val a = if (sampled)
        a0.filter(graft.ext.Curation.sampleKey(col("v1"), 8) === 0) else a0
      val b = emb.select(col("vec_id").as("v2"), col("embedding").as("e2"),
        Vectors.norm(col("embedding")).as("n2"))
      val exactEmb = a.join(b, col("v1") < col("v2"))
        .withColumn("sim",
          round(Vectors.dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 5))
        .filter(col("sim") >= 0.45)
        .select(col("v1"), col("v2"), col("sim")).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val gotEmb = Similarity.embeddingNearDupPairs(emb, threshold = 0.45,
          probeFilter = if (sampled) Some(inS) else None)
        .select(col("v1"), col("v2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val found = exactEmb.keySet.count(gotEmb.contains)
      val recallEmb =
        if (exactEmb.isEmpty) 1.0 else found.toDouble / exactEmb.size
      // one-sided 95% Wilson score lower bound on the true recall
      def wilsonLb(s: Long, n: Long, z: Double = 1.6449): Double =
        if (n == 0) 1.0 else {
          val ph = s.toDouble / n
          val z2 = z * z
          (ph + z2 / (2.0 * n) -
            z * math.sqrt(ph * (1 - ph) / n + z2 / (4.0 * n * n))) / (1 + z2 / n)
        }
      val lb = if (sampled) wilsonLb(found, exactEmb.size) else recallEmb
      println(f"[recall-audit] seeded-kernel exactPairs=${exactEmb.size} " +
        f"sampled=$sampled prodRecall=$recallEmb%.4f lcb=$lb%.4f")
      (exactEmb.keySet -- gotEmb).toSeq.sorted.take(20).foreach { case (v1, v2) =>
        println(f"[recall-audit] seeded-kernel missed ($v1,$v2) " +
          f"sim=${exactEmb((v1, v2))}%.5f")
      }
      if (lb < 0.99) {
        System.err.println(f"[recall-audit] FAIL: seeded production kernel " +
          f"recall $recallEmb%.4f (lcb $lb%.4f, sampled=$sampled) < 0.99 on $dir")
        sys.exit(2)
      }
      println("[recall-audit] PASS")
    } finally spark.stop()
  }
}
