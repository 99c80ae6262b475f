package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Vectors._

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`), plus the embedding audits built on the same pieces.
  *
  * Every top-k entry point is one kernel — a candidate generator proposes
  * (query, corpus) pairs, then ONE exact re-rank scores each pair by cosine
  * and keeps the top k per query by (sim DESC, c_id). The generators:
  *   - all pairs: [[bruteForceTopK]], the exact baseline — the (small)
  *     query set broadcasts against the streaming corpus, no shuffle of the
  *     corpus side;
  *   - prefix-cosine survivors: [[truncatedRerank]];
  *   - LSH bucket meets: [[lshTopK]] (seeded random hyperplanes) and
  *     [[lshTopKDeterministic]] (integer formula planes) — both sides hash
  *     to sign-pattern buckets, candidates meet in a bucket equi-join;
  *   - IVF probed cells: [[ivfTopK]]/[[ivfHardNegatives]] (untrained
  *     cosine cells), [[ivfTopKTrained]] and [[searchIvfIndex]] (Lloyd
  *     cells, integer-L2 probes);
  *   - PQ asymmetric-distance survivors: [[pqTopK]], [[ivfPqTopK]] and
  *     [[searchPqIndex]] — a per-query lookup table scores compressed
  *     codes, the `kCand` best per query go on to the re-rank.
  *
  * The integer paths share one quantizer (`floor(quant·x)` longs), one
  * L2 cell probe and one ADC stage, so an index written to tables and the
  * in-memory search compute the same rows. Hyperplanes and centroids are
  * deterministic across runs and executors.
  */
object Similarity {

  /** Multi-table LSH keys: `tables` independent sign-pattern tables
    * (OR-amplification). A single k-plane table only finds pairs agreeing on
    * ALL k signs — recall (1-θ/π)^k collapses fast with k; the standard
    * construction unions candidates from L independent tables:
    * recall = 1-(1-(1-θ/π)^k)^L. Each row explodes into L packed
    * `(table << 53) | bucket` long keys (cheaper to shuffle/join than
    * strings); one codegen'd kernel pass per row
    * ([[graft.functions.LshKeys]]). */
  def lshTableKeys(vec: Column, planes: Int, tables: Int, dim: Int): Column =
    graft.functions.LshExpressions.lshKeys(vec, planes, tables, dim, probes = 1)

  /** Query-directed multiprobe keys (Lv et al., VLDB'07 shape): per table,
    * probe the base bucket PLUS the buckets reached by flipping the
    * lowest-|projection| sign bits — a vector near a hyperplane is the case
    * where LSH loses its neighbor, and that is exactly the bit worth
    * flipping. `probes` buckets per table, ordered cheapest-flip-first:
    * {} {0} {1} {0,1} {2} {0,2} {1,2} {0,1,2} over margin-sorted ranks.
    *
    * Corpus rows keep single-bucket keys ([[lshTableKeys]]) — multiprobe
    * multiplies QUERY keys only, so the corpus-side explode (the 100 TB
    * side) is unchanged; candidate volume is traded against bucket
    * granularity (`planes`) instead. Same one-pass kernel: projections
    * computed once per ROW, not once per key — the Column-level spelling
    * (dot/array_sort/pow re-derived under every one of tables×probes keys)
    * measured 127 s on q50 at sf0.1 before this kernel. */
  def lshProbeKeys(vec: Column, planes: Int, tables: Int, dim: Int,
      probes: Int): Column =
    graft.functions.LshExpressions.lshKeys(vec, planes, tables, dim, probes)

  /** Exact top-k cosine neighbors for each query vector (brute force).
    * `queries` must be small enough to broadcast. Self-matches excluded. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topKBySim(side(corpus, "c")
      .join(broadcast(side(queries, "q")), col("q_id") =!= col("c_id")), k)

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL'19 — the
    * LASER/CCMatrix alignment rule): a candidate pair (x, y) is a mined
    * pair when its similarity stands out RELATIVE to each side's
    * neighborhood — absolute-threshold mining fails because "high cosine"
    * means different things in dense vs sparse regions. Score:
    * `margin = sim(x,y) / pooled-mean of both sides' top-k sims`,
    * here in exact integer arithmetic over `floor(10⁶·v)` quantized dot
    * products (the q103 construction — floats would diverge cross-engine):
    * `margin_ppm = 10⁶ · d · (k_x + k_y) DIV (Σtopk_x + Σtopk_y)`, with
    * DECIMAL(38,0) guarding the product. Non-positive dots are not
    * candidates (mining semantics) and keep every denominator positive.
    * For each x pool vector the single best-margin y survives (ties →
    * lowest y_id). Backward neighborhoods are computed within the x pool —
    * the standard retrieval-pool restriction of the published method.
    *
    * Scale shape: the x side is a bounded mining batch (broadcast); the
    * y side is corpus-sized and meets it in ONE pass (at 100 TB the
    * candidate dots come from an IVF probe join, [[ivfTopK]] — the margin
    * arithmetic downstream is unchanged); top-k and argmax are bounded
    * windows over nq·k rows. */
  def bitextMarginPairs(xPool: DataFrame, yPool: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "bitextMarginPairs: k must be >= 1")
    val qx = quantized(xPool, 1e6)
      .select(col("vec_id").as("x_id"), col("qv").as("xv"))
    val qy = quantized(yPool, 1e6)
      .select(col("vec_id").as("y_id"), col("qv").as("yv"))
    val dots = qy.join(broadcast(qx))
      .withColumn("d", aggregate(
        zip_with(col("xv"), col("yv"), (a, b) => a * b),
        lit(0L), (s, v) => s + v))
      .filter(col("d") > 0)
      .select(col("x_id"), col("y_id"), col("d"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("x_id")).orderBy(col("d").desc, col("y_id"))
    val fwd = dots.withColumn("rf", row_number().over(wf)).filter(col("rf") <= k)
    val sx = fwd.groupBy(col("x_id"))
      .agg(sum(col("d")).as("sum_x"), count(lit(1)).as("k_x"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("y_id")).orderBy(col("d").desc, col("x_id"))
    val bwd = dots.withColumn("rb", row_number().over(wb)).filter(col("rb") <= k)
    val sy = bwd.groupBy(col("y_id"))
      .agg(sum(col("d")).as("sum_y"), count(lit(1)).as("k_y"))
    val wm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("x_id")).orderBy(col("margin_ppm").desc, col("y_id"))
    fwd.join(sx, Seq("x_id")).join(sy, Seq("y_id"))
      .withColumn("margin_ppm", expr(
        "CAST((CAST(d AS DECIMAL(38,0)) * 1000000 * (k_x + k_y)) DIV (sum_x + sum_y) AS BIGINT)"))
      .withColumn("rm", row_number().over(wm)).filter(col("rm") === 1)
      .select(col("x_id"), col("y_id"), col("d"), col("margin_ppm"))
  }

  /** ANN index-quality audit — recall/MRR of the IVF index against
    * exact brute-force gold on a bounded query sample: the measurement
    * that belongs BEFORE trusting any approximate index (the recall
    * floors asserted in specs, turned into a queryable report). For each
    * query: the brute top-1 neighbor (gold), the rank at which the index
    * returns it (0 = missed), and reciprocal-rank in ppm (exact integer
    * `10⁶ DIV rank` — MRR without float division). Averages/recall@k
    * roll up downstream with plain sums.
    *
    * Scale shape: gold is brute ONLY over the bounded query sample
    * (broadcast side); the index path is [[ivfTopK]]'s probe join,
    * unchanged. */
  def annRecallAudit(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int, nprobe: Int): DataFrame = {
    val gold = bruteForceTopK(queries, corpus, 1)
      .select(col("q_id"), col("c_id").as("gold_id"))
    val appr = ivfTopK(queries, corpus, k, nlist, nprobe)
      .select(col("q_id"), col("c_id").as("gold_id"), col("rnk"))
    gold.join(appr, Seq("q_id", "gold_id"), "left")
      .groupBy(col("q_id"), col("gold_id"))
      .agg(min(col("rnk")).as("fr"))
      .select(col("q_id"), col("gold_id"),
        coalesce(col("fr"), lit(0L)).as("found_rank"),
        when(col("fr").isNull, lit(0L))
          .otherwise(org.apache.spark.sql.graft.Bridge.idiv(lit(1000000L), col("fr")))
          .as("mrr_ppm"))
  }

  /** Symmetric per-vector int8 quantization profile — the storage path
    * that cuts an fp32 embedding corpus 4× (codes + one scale per vector)
    * for rerank/ANN serving: scale = max |component|, code ∈ [−127, 127]
    * = ⌊127·|v|/scale⌋ with the component's sign. All arithmetic runs in
    * the quantized `floor(10⁶·x)` long space with NON-NEGATIVE integer
    * divisions only (signed integer division truncates toward zero in
    * Spark but floors in some engines — staying in |·| space sidesteps
    * the divergence class entirely); a zero vector divides by
    * `greatest(scale, 1)` and codes to all-zeros instead of throwing
    * under ANSI. Returns per vector (vec_id, amax, code_sum, max_err,
    * sum_err) where err is the exact reconstruction error in quantized
    * units — bounded by amax/127, which the spec asserts. Pure per-row
    * HOFs: zero shuffle, scan speed. */
  def int8QuantizeProfile(emb: DataFrame, quant: Double = 1e6): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.idiv
    val q = quantized(emb, quant)
      .withColumn("amax", array_max(transform(col("qv"), x => abs(x))))
      .withColumn("d", greatest(col("amax"), lit(1L)))
    def cabs(x: Column) = idiv(lit(127L) * abs(x), col("d"))
    q.select(col("vec_id"), col("amax"),
        aggregate(col("qv"), lit(0L), (s, x) =>
          s + when(x < 0, -cabs(x)).otherwise(cabs(x))).as("code_sum"),
        array_max(transform(col("qv"), x =>
          abs(x) - idiv(cabs(x) * col("d"), lit(127L)))).as("max_err"),
        aggregate(col("qv"), lit(0L), (s, x) =>
          s + (abs(x) - idiv(cabs(x) * col("d"), lit(127L)))).as("sum_err"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein,
    * SIGIR'98): greedily pick `k` items maximizing
    * `λ·relevance − (1−λ)·max-similarity-to-already-selected` — the
    * diverse-exemplar / dedup-aware retrieval rule (pure top-k returns
    * near-duplicates; MMR's second term pushes each pick away from the
    * ones before it). All arithmetic is exact integer over `floor(10⁶·v)`
    * quantized dots with λ as a percent split (default 70/30); ties break
    * to the lowest vec_id; max-sim over the empty set is 0, so the first
    * pick is pure relevance — the published initialization.
    *
    * Scale shape: candidate generation is the corpus-scale distributed
    * pass (relevance dot + TakeOrdered top-nCand — at 100 TB an IVF probe
    * feeds it, [[ivfTopK]]); the greedy loop then runs on the BOUNDED
    * candidate set on the driver (nCand·k dots over ≤ nCand rows — the
    * lloydCentroidsQ collect discipline: small-by-construction, and the
    * sequential data dependence is inherent to MMR). Returns
    * (rank, vec_id, rel, gain). */
  def mmrSelect(corpus: DataFrame, queryId: Long, nCand: Int, k: Int,
      lambdaPct: Int = 70): DataFrame = {
    require(k >= 1 && nCand >= k, "mmrSelect: need nCand >= k >= 1")
    require(lambdaPct >= 0 && lambdaPct <= 100, "mmrSelect: lambdaPct in [0,100]")
    val q = quantized(corpus, 1e6)
    val qvec: Seq[Long] = q.filter(col("vec_id") === queryId)
      .collect() match {
        case Array(r) => r.getSeq[Long](1)
        case other => throw new IllegalArgumentException(
          s"mmrSelect: queryId $queryId matched ${other.length} rows")
      }
    // bounded collect (nCand rows) — the greedy chain is sequential by
    // definition; candidate GENERATION above stays distributed
    val cands: Array[(Long, Seq[Long], Long)] = q
      .filter(col("vec_id") =!= queryId)
      .withColumn("d", aggregate(
        zip_with(col("qv"), typedlit(qvec), (a, b) => a * b),
        lit(0L), (s, v) => s + v))
      .orderBy(col("d").desc, col("vec_id")).limit(nCand)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    def dot(a: Seq[Long], b: Seq[Long]): Long =
      a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
    val vecOf: Map[Long, Seq[Long]] = cands.map(c => c._1 -> c._2).toMap
    val sel = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val remaining = scala.collection.mutable.LinkedHashMap(
      cands.map(c => c._1 -> c._3): _*)
    for (rank <- 1L to k.toLong) {
      val scored = remaining.iterator.map { case (id, rel) =>
        val ms = if (sel.isEmpty) 0L
          else sel.map(s => dot(vecOf(id), vecOf(s._2))).max
        (id, rel, lambdaPct * rel - (100 - lambdaPct) * ms)
      }.toSeq
      val best = scored.minBy { case (id, _, gain) => (-gain, id) }
      sel += ((rank, best._1, best._2, best._3))
      remaining.remove(best._1)
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    sel.toSeq.toDF("rank", "vec_id", "rel", "gain")
  }

  /** kNN label-noise detection (the Confident-Learning-shaped cleaner):
    * each query vector's k nearest neighbors (deterministic IVF — same
    * cells/probes/re-rank as [[ivfTopK]]) VOTE with their labels; the
    * majority (ties: most votes, then LOWEST label) is the consensus, and
    * a row whose own label disagrees is the label-noise candidate worth
    * re-annotating. Returns (q_id, own_label, voted_label, n_votes,
    * n_neighbors, agree). Corpus rows need (vec_id, embedding, label);
    * neighbors with NULL labels don't vote (unlabeled ≠ a class — the
    * [[ivfHardNegatives]] rule), and a query with zero labeled neighbors
    * is absent rather than voted on by nobody.
    *
    * Scale shape: the probe join is [[ivfTopK]]'s; voting adds one
    * (q_id, label) aggregation over nq·k rows and one argmax window —
    * query-set-sized, never corpus-sized. */
  def knnLabelVote(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val nn = ivfTopK(queries.select(col("vec_id"), col("embedding")),
      corpus.select(col("vec_id"), col("embedding")), k, nlist, nprobe)
    val lab = corpus.select(col("vec_id"), col("label"))
    val votes = nn.join(lab.toDF("c_id", "c_label"), Seq("c_id"))
      .filter(col("c_label").isNotNull)
      .groupBy(col("q_id"), col("c_label"))
      .agg(count(lit(1)).as("n_votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("n_votes").desc, col("c_label"))
    val consensus = votes
      .withColumn("vrnk", row_number().over(w))
      .withColumn("n_neighbors", sum(col("n_votes")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))))
      .filter(col("vrnk") === 1)
      .select(col("q_id"), col("c_label").as("voted_label"),
        col("n_votes"), col("n_neighbors"))
    consensus.join(lab.toDF("q_id", "own_label"), Seq("q_id"))
      .select(col("q_id"), col("own_label"), col("voted_label"),
        col("n_votes"), col("n_neighbors"),
        (col("own_label") === col("voted_label")).as("agree"))
  }

  /** Blocked kNN label vote — the SCALE PATH for corpus-wide label-noise
    * audits that q267 documents as `weak` under [[ivfTopK]]'s fixed
    * geometry: cells come from a TRAINED fit at
    * [[semDedupClustersFor]]-auto k (~targetCellSize vectors per cell, so
    * k grows with the corpus and the assignment rides the
    * NearestCell/pruned kernels built for large k — never the literal
    * expression tree that measured 158 s at nlist=100), and each vector's
    * k nearest live WITHIN its own cell (single-probe, the SemDedup
    * blocking rule) — per-cell pair work is targetCellSize-bounded, so
    * the whole audit is LINEAR in the corpus. Boundary pairs straddling
    * two cells are the accepted approximation, exactly as in SemDedup.
    * Vote semantics mirror [[knnLabelVote]]: rank by (cosine DESC, c_id),
    * NULL-labeled neighbors excluded from the vote, consensus ties to the
    * lowest label. A vector ALONE in its cell has no neighbors and emits
    * no verdict (blocked-kNN semantics — at the audit's corpus scales,
    * cells hold ~targetCellSize vectors and singletons are outliers worth
    * their own q124 pass). */
  def cellKnnLabelVote(emb: DataFrame, k: Int, iters: Int = 2,
      targetCellSize: Long = 64): DataFrame = {
    val nCells = semDedupClustersFor(emb.count(), targetCellSize)
    val cells = kmeansFit(emb, nCells, iters)
      .select(col("vec_id"), col("cell"))
    val withCell = cells.join(
      emb.select(col("vec_id"), col("label"), col("embedding")),
      Seq("vec_id"))
    val a = withCell.select(col("cell"), col("vec_id").as("q_id"),
      col("embedding").as("qe"), col("label").as("own_label"))
    val b = withCell.select(col("cell"), col("vec_id").as("c_id"),
      col("embedding").as("ce"), col("label").as("c_label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    val nn = a.join(b, Seq("cell")).filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", round(Vectors.cosine(col("qe"), col("ce")), 5))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k && col("c_label").isNotNull)
    val votes = nn.groupBy(col("q_id"), col("own_label"), col("c_label"))
      .agg(count(lit(1)).as("n_votes"))
    val vw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("n_votes").desc, col("c_label"))
    votes
      .withColumn("n_neighbors", sum(col("n_votes")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))))
      .withColumn("vrnk", row_number().over(vw))
      .filter(col("vrnk") === 1)
      .select(col("q_id"), col("own_label"),
        col("c_label").as("voted_label"), col("n_votes"),
        col("n_neighbors"),
        (col("own_label") <=> col("voted_label")).as("agree"))
  }

  /** Corpus-wide label-noise vote with the geometry chosen BY the corpus —
    * the [[neardupPlanesFor]] pattern applied to the q267 audit. At or
    * below `smallCorpusMax` rows the fixed-geometry IVF vote
    * ([[knnLabelVote]] at nlist=16/nprobe=4 — cheapest at gate scale,
    * where trained cells would be all floor) answers; above it the
    * TRAINED-cell blocked vote ([[cellKnnLabelVote]] at
    * [[semDedupClustersFor]]-auto k) takes over, whose per-cell work is
    * targetCellSize-bounded and therefore LINEAR in the corpus — the
    * fixed geometry measured 5× wall at 10× data (candidate lists grow
    * with cell population), the trained path 8.8× at 100×. The switch
    * costs one count (footer-stats on parquet). Neighbor sets differ
    * between the two geometries by construction (multi-probe IVF vs
    * single-probe trained cells — both documented recall trades), so the
    * paths agree on SEMANTICS (who votes, how ties break), not on the
    * exact flagged set; the oracle pins whichever path its scale
    * selects. */
  def labelVoteAuto(emb: DataFrame, k: Int,
      smallCorpusMax: Long = 4096): DataFrame =
    if (emb.count() <= smallCorpusMax) knnLabelVote(emb, emb, k)
    else cellKnnLabelVote(emb, k)

  /** Pairwise cosine similarity between GROUP CENTROIDS (per-source mean
    * embeddings) — "which sources say the same things", the semantic
    * complement of the gram-overlap matrix (q139/q156's graph measures
    * shared SURFACE text; this measures shared direction even with
    * disjoint vocabulary). Cosine is scale-invariant, so the centroid
    * never divides: cos(Σa/na, Σb/nb) = cos(Σa, Σb), and the per-group
    * SUM vector (exact integer, floor-quantized inputs) is the whole
    * state. Moments accumulate in DECIMAL (sum-vector components reach
    * quant · rows; their products pass Long by construction), the final
    * cosine is one IEEE sqrt+divide rounded to 5 — the engine's standard
    * cross-engine float discipline. Returns (ga, gb, cos) for ga < gb.
    *
    * 100 TB shape: one (group, dim) aggregation (map-side combined — the
    * shuffle carries |groups|·dim longs, never vectors), then a
    * dim-keyed self-join of the |groups|·dim sum table: everything after
    * the first pass is groups²-bounded. */
  def groupCentroidSimilarity(df: DataFrame, group: Column,
      embedding: Column, quant: Double = 1e6): DataFrame = {
    val sums = df.select(group.as("g"),
        posexplode(qvOf(embedding, quant)).as(Seq("d", "v")))
      .groupBy(col("g"), col("d")).agg(sum(col("v")).as("sv"))
    val pairs = sums.as("a").join(sums.as("b"),
        col("a.d") === col("b.d") && col("a.g") <= col("b.g"))
      .groupBy(col("a.g").as("ga"), col("b.g").as("gb"))
      .agg(sum(expr("CAST(a.sv AS DECIMAL(38,0)) * b.sv")).as("dot"))
    val norms = pairs.filter(col("ga") === col("gb"))
      .select(col("ga").as("g"), col("dot").as("nsq"))
    pairs.filter(col("ga") =!= col("gb"))
      .join(norms.toDF("ga", "na"), Seq("ga"))
      .join(norms.toDF("gb", "nb"), Seq("gb"))
      .select(col("ga"), col("gb"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
          5).as("cos"))
  }

  /** Classifier-calibration audit: expected calibration error (ECE —
    * Naeini et al. 2015; Guo et al. 2017) of a centroid classifier over the
    * embedding corpus. The classifier is k-means-trained ([[lloydCentroidsQ]],
    * deterministic low-id seeds); each vector's prediction is its nearest
    * cell's majority label, and its confidence is the integer distance
    * margin conf_ppm = 10⁶·d₂ / (d₁+d₂) ∈ [5·10⁵, 10⁶] (d₁/d₂ = squared-L2
    * to the best/second cell; ties on a centroid → ½). Rows bucket by
    * confidence into `buckets` equal bins over [½, 1]; per bin the audit
    * reports accuracy vs mean confidence and their gap, plus the corpus
    * ECE_ppm = Σ n_b·gap_b / N — the "is the model's confidence honest"
    * number every auto-labeling / filtering pipeline needs before using
    * scores as sampling weights. NULL labels are excluded (no ground
    * truth). All arithmetic integer; the d₂·10⁶ product is
    * DECIMAL(38,0)-guarded (quantized squared distances reach 2.6·10¹⁴ at
    * unit-norm 64-dim, ×10⁶ passes Long by construction).
    *
    * 100 TB shape: training is the k-bounded Lloyd loop (one corpus
    * aggregation per round); assignment + margin is a per-row map over
    * centroid literals (zero shuffle); majority labels are a k·|labels|
    * aggregation broadcast back; the report is `buckets` rows. */
  def calibrationProfile(emb: DataFrame, k: Int = 8, iters: Int = 2,
      buckets: Int = 10): DataFrame = {
    require(k >= 2, "calibrationProfile: need k >= 2 for a margin")
    require(500000 % buckets == 0, "calibrationProfile: buckets must divide 500000")
    import org.apache.spark.sql.graft.Bridge.idiv
    val q = quantized(emb.select(col("vec_id"), col("embedding")), 1e6)
    val cents = lloydCentroidsQ(q, k, iters)
    // Round 13 (the r12 q234-q236 block item): the label rides IN-ROW
    // through the assignment map. The old shape projected (vec_id, label)
    // separately and re-joined it onto the top-2 scores BY vec_id — a
    // two-sided exchange of frames derived from the SAME scan; the map +
    // notNull filter needs no shuffle at all. Training is untouched (the
    // Lloyd loop still sees every vector). The bounded (vec_id, label,
    // cell, d1, d2) frame materializes once for its two consumers
    // (majority labels + bucket scoring): with no exchange left in the
    // subtree, runtime ReuseExchange has nothing to collapse, so this is
    // the case where truncation genuinely pays (OPTIMIZATION_r12 rule) —
    // otherwise the k sqDist evaluations per row would run twice.
    val asg = graft.ops.Checkpoints.truncate(
      emb.filter(col("label").isNotNull)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          qvOf(col("embedding"), 1e6).as("qv"))
        .select(col("vec_id"), col("label"),
          slice(array_sort(cellDists(col("qv"), cents)), 1, 2).as("t2"))
        .select(col("vec_id"), col("label"),
          col("t2").getItem(0).getField("c").as("cell"),
          col("t2").getItem(0).getField("d").as("d1"),
          col("t2").getItem(1).getField("d").as("d2")))
    val mjW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("n").desc, col("label"))
    val mj = asg.groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(mjW)).filter(col("rn") === 1)
      .select(col("cell"), col("label").as("pred_label"))
    val binW = lit(500000L / buckets)
    val scored = asg.join(broadcast(mj), Seq("cell"))
      .withColumn("conf_ppm", when(col("d1") + col("d2") === 0, lit(500000L))
        .otherwise(expr(
          "CAST((CAST(d2 AS DECIMAL(38,0)) * 1000000) DIV (d1 + d2) AS BIGINT)")))
      .withColumn("bucket", least(
        idiv(col("conf_ppm") - 500000L, binW), lit(buckets - 1L)))
      .withColumn("correct",
        (col("label") === col("pred_label")).cast("long"))
    val byB = scored.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("correct")).as("n_correct"),
        sum(col("conf_ppm")).as("sum_conf"))
      .withColumn("acc_ppm", idiv(col("n_correct") * 1000000L, col("n")))
      .withColumn("conf_avg_ppm", idiv(col("sum_conf"), col("n")))
      .withColumn("gap_ppm", abs(col("acc_ppm") - col("conf_avg_ppm")))
    val tot = byB.agg(sum(col("n")).as("tn"),
      sum(col("gap_ppm") * col("n")).as("gw"))
    byB.crossJoin(broadcast(tot))
      .withColumn("ece_ppm", idiv(col("gw"), col("tn")))
      .select(col("bucket"), col("n"), col("n_correct"), col("acc_ppm"),
        col("conf_avg_ppm"), col("gap_ppm"), col("ece_ppm"))
  }

  /** Embedding drift audit: per label, the squared distance between the
    * class centroid of two corpus halves (snapshots, time slices, encoder
    * versions — whatever `half` splits on). A moved centroid is the
    * earliest signal that an embedding space shifted under a rebuilt
    * encoder or a drifted corpus — BEFORE ANN recall quietly degrades
    * (q216 then measures the damage). Exact integer: vectors quantize at
    * 10³, per-half means are portable floor divisions of dimension sums,
    * and shift_sq sums (mₐ−m_b)² in quantized units². Labels with a
    * missing half are dropped (no pair to compare — callers see them in
    * the count columns of a q160-style stratum report).
    *
    * 100 TB shape: ONE (label, half)-keyed aggregation with dimension-
    * sized `vec_sum` partials (the q114 discipline); everything after
    * runs on the 2·|labels| mean rows. */
  def centroidShift(emb: DataFrame, label: Column, half: Column,
      quant: Double = 1e3): DataFrame = {
    val q = emb.select(label.as("lab"), half.cast("long").as("h"),
      qvOf(col("embedding"), quant).as("qv"))
    val agg = q.groupBy(col("lab"), col("h"))
      .agg(count(lit(1)).as("n"),
        graft.functions.VecSumAggregator.sum(col("qv")).as("s"))
      // portable floor division per dimension (negative sums floor the
      // same way both engines — the kmeansCtes spelling)
      .select(col("lab"), col("h"), col("n"),
        transform(col("s"), x =>
          ((x - ((x % col("n") + col("n")) % col("n"))) / col("n"))
            .cast("long")).as("m"))
    val a = agg.filter(col("h") === 0)
      .select(col("lab"), col("n").as("n_a"), col("m").as("ma"))
    val b = agg.filter(col("h") === 1)
      .select(col("lab"), col("n").as("n_b"), col("m").as("mb"))
    a.join(b, Seq("lab"))
      .select(col("lab"), col("n_a"), col("n_b"),
        aggregate(zip_with(col("ma"), col("mb"),
          (x, y) => (x - y) * (x - y)), lit(0L), _ + _).as("shift_sq"))
  }

  /** Embedding-geometry audit: top principal direction and anisotropy of
    * the corpus embedding cloud (Mu & Viswanath 2018's "all-but-the-top"
    * diagnostic; Ethayarajh 2019): an embedding column whose variance
    * concentrates in one direction ("rogue dimension") makes cosine
    * similarity degenerate, so this is the measure-before-trust number for
    * every ANN/SemDedup/clustering stage upstream. Exact-integer
    * construction: vectors quantize at 10³ (coarser than ANN's 10⁶ — the
    * covariance accumulates n·(10³·x)² per cell and must stay in Long to
    * ~5·10¹¹ rows), the mean is the floor-div of dimension sums, the
    * UNNORMALIZED covariance C = Σ c·cᵀ aggregates in ONE pass (posexplode
    * by dimension, d map-side-combined groups of d-long partials), and the
    * driver runs `iters` BigInt power-iteration rounds on the d×d matrix —
    * ∞-norm renormalized to 10⁶ with sign-split truncating division (the
    * q230 rule), so every round is bit-identical in the SQL replay.
    * Reports λ_top (integer Rayleigh quotient), trace(C), anisotropy_ppm =
    * 10⁶·λ/trace (the explained-variance fraction of the top direction),
    * and the 1-based dimension carrying the largest |component|.
    *
    * 100 TB shape: ONE corpus aggregation (the d² covariance, map-side
    * combine to d rows of d longs); everything after is d²-bounded driver
    * arithmetic — the lloydCentroidsQ collect discipline. */
  def spectralProfile(emb: DataFrame, iters: Int = 3,
      quant: Double = 1e3): DataFrame = {
    require(iters >= 1 && iters <= 10, "iters in [1, 10]")
    val q = quantized(emb.select(col("vec_id"), col("embedding")), quant)
      .transform(graft.ops.Checkpoints.truncate(_)) // feeds two aggregations (mean, then covariance)
    val head = q.agg(count(lit(1)).as("n"),
      graft.functions.VecSumAggregator.sum(col("qv")).as("s")).collect().head
    val n = head.getLong(0)
    require(n > 0, "spectralProfile: empty corpus")
    val mean: Seq[Long] = head.getSeq[Long](1).map(Math.floorDiv(_, n))
    val centered = q.select(
      zip_with(col("qv"), typedlit(mean), (a, b) => a - b).as("c"))
    val covRows = centered
      .select(col("c"), posexplode(col("c")).as(Seq("i", "ci")))
      .groupBy(col("i"))
      .agg(graft.functions.VecSumAggregator.sum(
        transform(col("c"), x => x * col("ci"))).as("row"))
      .collect() // d rows of d longs: the whole reduction to the driver
    val d = mean.length
    val cov = Array.ofDim[Long](d, d)
    covRows.foreach { r =>
      val i = r.getInt(0); val row = r.getSeq[Long](1)
      var j = 0; while (j < d) { cov(i)(j) = row(j); j += 1 }
    }
    val trace = (0 until d).map(j => cov(j)(j)).sum
    // BigInt power iteration, ∞-norm renormalized to 1e6 each round;
    // division truncates toward zero (BigInt /), sign-split in the oracle
    var v: Array[BigInt] = Array.fill(d)(BigInt(1000000))
    for (_ <- 1 to iters) {
      val u = (0 until d).map(j =>
        (0 until d).map(i => BigInt(cov(j)(i)) * v(i)).sum).toArray
      val mx = u.map(_.abs).max
      v = if (mx == 0) u else u.map(x => x * 1000000 / mx)
    }
    val vtv = v.map(x => x * x).sum
    val vtcv = (0 until d).map(j => (0 until d).map(i =>
      v(j) * BigInt(cov(j)(i)) * v(i)).sum).sum
    val lambda = if (vtv == 0) 0L else (vtcv / vtv).toLong
    val anis: Option[Long] =
      if (trace == 0) None else Some(lambda * 1000000L / trace)
    val principal: Option[Long] =
      if (trace == 0) None
      else Some((0 until d).minBy(j => (-v(j).abs, j)).toLong + 1L)
    val spark2 = emb.sparkSession
    import spark2.implicits._
    Seq((n, d.toLong, trace, lambda, anis, principal))
      .toDF("n", "dim", "trace", "lambda_top", "anisotropy_ppm",
        "principal_dim")
  }

  /** Two-stage truncated-prefix ANN (the Matryoshka/MRL serving shape,
    * Kusupati et al. 2022: prefix dims of an MRL-trained embedding are
    * themselves a valid embedding): stage 1 scores the corpus by cosine
    * over only the FIRST `dPrefix` dims — dPrefix/dim of the dot-product
    * work and, at scale, of the scan bytes, since a column of pre-truncated
    * prefixes (or a prefix-only Parquet column) is what you'd store hot —
    * and keeps `kCand` candidates per query; stage 2 re-ranks just those
    * exactly at full dimension. kCand trades recall against stage-2 cost;
    * kCand ≥ corpus degenerates to [[bruteForceTopK]] (spec-pinned law).
    * Candidates carry bare structure through the window; at 100 TB the
    * full-dim embeddings for stage 2 re-join by id on the kCand·nq rows
    * (the q148 re-rank discipline). Deterministic ties as everywhere:
    * (sim DESC, c_id). */
  def truncatedRerank(queries: DataFrame, corpus: DataFrame, k: Int,
      dPrefix: Int, kCand: Int): DataFrame = {
    require(k >= 1 && dPrefix >= 1 && kCand >= k,
      "truncatedRerank: need k >= 1, dPrefix >= 1, kCand >= k")
    def pre(e: Column): Column = slice(e, 1, dPrefix)
    val q = side(queries, "q", norm(pre(col("embedding"))).as("q_pn"))
    val c = side(corpus, "c", norm(pre(col("embedding"))).as("c_pn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("psim").desc, col("c_id"))
    val cand = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("psim", round(
        dot(pre(col("q_emb")), pre(col("c_emb"))) / (col("q_pn") * col("c_pn")), 5))
      .withColumn("prnk", row_number().over(w))
      .filter(col("prnk") <= kCand)
    topKBySim(cand, k)
  }

  /** Deduplicated LSH candidate pairs (pre-re-rank): corpus vectors sharing
    * ANY probed bucket with a query. Exposed separately so candidate volume
    * — the actual cost driver at scale — is measurable and assertable in
    * tests independently of recall. */
  def lshCandidates(queries: DataFrame, corpus: DataFrame,
      planes: Int, tables: Int, dim: Int, probes: Int): DataFrame = {
    val q = side(queries, "q",
      explode(lshProbeKeys(col("embedding"), planes, tables, dim, probes)).as("bkt"))
    val c = side(corpus, "c",
      explode(lshTableKeys(col("embedding"), planes, tables, dim)).as("bkt"))
    c.join(broadcast(q), Seq("bkt"))
      .filter(col("q_id") =!= col("c_id"))
      // a pair meeting in several tables/probes must rank once
      .dropDuplicates("q_id", "c_id")
  }

  /** LSH-bucketed ANN top-k: multiprobe candidates ([[lshCandidates]]), then
    * exact cosine re-ranks the deduplicated candidate set. More planes →
    * tighter buckets (less compute, lower per-table recall); more tables /
    * probes → recall back up. Defaults (10 planes × 12 tables × 16 probes)
    * measured recall@3 = 0.60 (sf0.001) / 0.68 (sf0.01) on the synthetic
    * near-random embeddings at ~100 candidates/query — vs 0.35 / 0.23 at
    * ~63 candidates/query for the pre-multiprobe 6-plane single-probe
    * setting: ~2.5× the recall per candidate examined. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int = 10, tables: Int = 12, dim: Int = 64,
      probes: Int = 16): DataFrame =
    topKBySim(lshCandidates(queries, corpus, planes, tables, dim, probes), k)

  /** Deterministic-plane multi-table LSH ANN — the oracle-expressible twin
    * of [[lshTopK]] (q49, whose seeded hyperplanes are engine-internal).
    * Plane weights come from a public integer formula
    * (`s = (((t·P+p)·dim + d) · 2654435761) % 131071; w = s² % 131071 −
    * 65535` — see [[graft.functions.LshKeysDeterministic]] for why the
    * square is load-bearing), and
    * projections run in exact integer arithmetic over `floor(1e6·x)`
    * quantized embeddings — bucket assignment, and therefore the candidate
    * set, re-rank and output, is bit-identical in any engine (q103's DuckDB
    * oracle restates the whole operator). Same plan shape as production:
    * corpus explodes `tables` packed single-bucket keys, queries explode
    * `tables·(planes+1)` radius-1 probe keys (base bucket + each one-bit
    * flip), candidates meet in one packed-long bucket equi-join with the
    * query side broadcast, exact cosine re-ranks. The production path keeps
    * the margin-directed multiprobe kernel; this twin trades it for
    * SQL-expressibility — measured recall@3 = 0.667 vs 0.68 at sf0.01, at
    * ~190 vs ~100 candidates/query. */
  def lshTopKDeterministic(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int = 6, tables: Int = 20, dim: Int = 64): DataFrame = {
    import graft.functions.LshExpressions.lshKeysDeterministic
    val c = side(corpus, "c", explode(lshKeysDeterministic(col("embedding"),
      planes, tables, dim, flips = false)).as("bkt"))
    val q = side(queries, "q", explode(lshKeysDeterministic(col("embedding"),
      planes, tables, dim, flips = true)).as("bkt"))
    topKBySim(c.join(broadcast(q), Seq("bkt"))
      .filter(col("q_id") =!= col("c_id"))
      .dropDuplicates("q_id", "c_id"), k)
  }

  /** IVF (inverted-file) ANN top-k: the corpus is partitioned into `nlist`
    * cells by nearest centroid; each query probes its `nprobe` closest cells
    * and exact cosine re-ranks only those cells' vectors.
    *
    * Centroids are the `nlist` lowest-id corpus vectors, L2-normalized —
    * deterministic, no iterative k-means (the IVF *plumbing* — cell
    * assignment, multi-probe, in-cell re-rank — is the part that must scale;
    * centroid quality only moves recall). The centroid table is tiny and
    * rides along as literals inside codegen'd dot products: assignment is a
    * pure map over the corpus (no shuffle), and the only shuffle is the
    * bucket equi-join on cell ids — same shape as [[lshTopK]].
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopKImpl(queries, corpus, k, nlist, nprobe, hardNeg = false)

  /** Hard-negative mining (contrastive-training data prep): for each query
    * vector, the top-k most-similar corpus vectors whose `label` DIFFERS
    * from the query's — near misses of the wrong class, the negatives that
    * actually teach an embedding model. Identical IVF plumbing and
    * determinism to [[ivfTopK]] (cells, multi-probe, exact re-rank); the
    * label inequality is one extra predicate on the probed candidates, so
    * the exclusion costs nothing beyond the probe — no second pass, no
    * per-label index. Both inputs must carry (vec_id, embedding, label);
    * returns (q_id, q_label, c_id, c_label, sim, rnk). A query surrounded
    * only by its own class within its probed cells returns < k rows —
    * that absence IS the mining signal (no hard negatives nearby).
    * NULL labels are UNLABELED, not a class: `=!=` is null-rejecting, so a
    * NULL-label vector neither serves as a negative nor receives any —
    * an unknown class might be the query's own, and a false negative
    * poisons contrastive training where a missing one just shrinks it. */
  def ivfHardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopKImpl(queries, corpus, k, nlist, nprobe, hardNeg = true)

  private def ivfTopKImpl(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int, nprobe: Int, hardNeg: Boolean): DataFrame = {
    val cents: Array[Seq[Double]] = lowIdVectors(corpus, nlist).map { case (_, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => if (n == 0) 0.0 else x / n)
    }

    def cellScores(vec: Column): Column =
      array(cents.toIndexedSeq.map(c => dot(vec, typedlit(c))): _*)

    // nearest cell = argmax of centroid dots (array_position is 1-based)
    def nearestCell(vec: Column): Column = {
      val ds = cellScores(vec)
      (array_position(ds, array_max(ds)) - 1).cast("int")
    }

    // top-nprobe cells: sort (score, NEGATED idx) ascending then reverse —
    // descending score with ties to the LOWEST cell, matching nearestCell's
    // first-occurrence argmax and the file-wide tie convention (a plain
    // (s, i) sort would probe the HIGHEST tied cell and miss vectors
    // assigned to the lowest)
    def topCosCells(vec: Column): Column = {
      val scored = zip_with(cellScores(vec),
        sequence(lit(0), lit(cents.length - 1)),
        (s, i) => struct(s.as("s"), (-i).as("ni")))
      transform(slice(reverse(array_sort(scored)), 1, nprobe),
        e => (-e("ni")).cast("int"))
    }

    def label(p: String): Seq[Column] =
      if (hardNeg) Seq(col("label").as(s"${p}_label")) else Nil
    val c = side(corpus, "c",
      nearestCell(col("embedding")).as("cell") +: label("c"): _*)
    val q = side(queries, "q",
      explode(topCosCells(col("embedding"))).as("cell") +: label("q"): _*)
    val cand = c.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
    if (hardNeg)
      topKBySim(cand.filter(col("q_label") =!= col("c_label")), k,
        Seq(col("q_id"), col("q_label"), col("c_id"), col("c_label")))
    else topKBySim(cand, k)
  }

  /** `floor(quant·x)` longs of an embedding column — the integer space
    * every cross-engine-exact path computes in. */
  private def qvOf(e: Column, quant: Double): Column =
    transform(toDouble(e), x => floor(x * quant).cast("long"))

  /** Quantized-integer view of an embedding frame: (vec_id, qv). */
  private def quantized(emb: DataFrame, quant: Double): DataFrame =
    emb.select(col("vec_id"), qvOf(col("embedding"), quant).as("qv"))

  /** Integer squared-L2 to a literal centroid. */
  private def sqDist(v: Column, c: Seq[Long]): Column =
    aggregate(zip_with(v, typedlit(c), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** (dist, cell) structs of `v` against every literal centroid. */
  private def cellDists(v: Column, cents: Array[Seq[Long]]): Column =
    array(cents.indices.map(i =>
      struct(sqDist(v, cents(i)).as("d"), lit(i.toLong).as("c"))): _*)

  /** The `nprobe` nearest cells by (dist, cell): an ascending sort of the
    * scored structs — integer order, ties to the lowest cell. */
  private def probeCellsL2(v: Column, cents: Array[Seq[Long]],
      nprobe: Int): Column =
    transform(slice(array_sort(cellDists(v, cents)), 1, nprobe),
      e => e.getField("c"))

  /** The `n` lowest-id vectors as (vec_id, doubles) in id order — the
    * deterministic untrained-centroid pick. `filter(vec_id < n)`, NOT
    * `orderBy(vec_id).limit(n)`: the filter pushes down to the parquet scan
    * (row-group pruning via min/max stats — nearly free on a
    * range-clustered layout), where a TakeOrdered would scan the whole
    * corpus to fetch n known ids. The collect is bounded (<= n rows) and
    * legitimate: centroids must become codegen literals. */
  private def lowIdVectors(df: DataFrame, n: Int): Array[(Long, Seq[Double])] =
    df.filter(col("vec_id") < n)
      .select(col("vec_id"), toDouble(col("embedding"))).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Double](1)))

  /** One side of a similarity join: (`p_id`, `p_emb`, `p_n`), then
    * `extra`. The norm is hoisted to the row side, so the join computes ONE
    * dot product per pair, not three (dot + both norms). */
  private def side(df: DataFrame, p: String, extra: Column*): DataFrame =
    df.select(Seq(col("vec_id").as(s"${p}_id"), col("embedding").as(s"${p}_emb"),
      norm(col("embedding")).as(s"${p}_n")) ++ extra: _*)

  /** Cosine of a (q, c) pair of [[side]] rows, rounded to 5. */
  private def pairSim: Column =
    round(dot(col("q_emb"), col("c_emb")) / (col("q_n") * col("c_n")), 5)

  /** The exact re-rank every top-k entry point ends in: cosine per
    * candidate pair, top `k` per query by (sim DESC, c_id). Returns
    * (`out`…, sim, rnk). */
  private def topKBySim(pairs: DataFrame, k: Int,
      out: Seq[Column] = Seq(col("q_id"), col("c_id"))): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    pairs.withColumn("sim", pairSim)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(out :+ col("sim") :+ col("rnk").cast("long").as("rnk"): _*)
  }

  /** Quantized subspace `j` (`subDim` dims) of the embedding column. */
  private def subspace(subDim: Int, quant: Double)(j: Int): Column =
    qvOf(slice(col("embedding"), j * subDim + 1, subDim), quant)

  /** All `m` per-subspace `ksub`-entry codebooks of `sub(j)` over the rows
    * of `df` ([[lloydBooksQ]], trained in lockstep on the exploded long
    * form `(vec_id, j, qv)`). Driver-held: m × ksub × subDim longs. */
  private def pqBooks(df: DataFrame, m: Int, ksub: Int, iters: Int,
      sub: Int => Column): Seq[Array[Seq[Long]]] =
    lloydBooksQ(df.select(col("vec_id"), inline(array((0 until m).map(j =>
        struct(lit(j.toLong).as("j"), sub(j).as("qv"))): _*))),
      m, ksub, iters).toSeq

  /** PQ codes of every row, long form (`keys`…, j, code): per subspace the
    * nearest book entry, ties to the lowest. A pure map over book
    * literals. */
  private def pqEncode(df: DataFrame, books: Seq[Array[Seq[Long]]],
      sub: Int => Column, keys: Column*): DataFrame =
    df.select(keys :+ inline(array(books.indices.map(j =>
      struct(lit(j.toLong).as("j"),
        bestCell(sub(j), books(j)).getField("c").as("code"))): _*)): _*)

  /** Per-query ADC lookup table (`keys`…, j, code, d): the integer
    * distance from each query subspace to each book entry. */
  private def adcLut(queries: DataFrame, books: Seq[Array[Seq[Long]]],
      sub: Int => Column, keys: Column*): DataFrame =
    queries.select(keys :+ inline(array((for {
      j <- books.indices; c <- books(j).indices
    } yield struct(lit(j.toLong).as("j"), lit(c.toLong).as("code"),
      sqDist(sub(j), books(j)(c)).as("d"))): _*)): _*)

  /** The ADC scan and its exact re-rank: codes meet the broadcast LUT on
    * `keyCols`, each (query, vector) sums its m looked-up distances, the
    * `kCand` smallest by (adc, c_id) per query survive, and [[topKBySim]]
    * re-ranks them at full dimension from `emb`. */
  private def adcTopK(codes: DataFrame, lut: DataFrame, keyCols: Seq[String],
      emb: DataFrame, kCand: Int, k: Int): DataFrame = {
    val wc = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("c_id"))
    val cand = codes.join(broadcast(lut), keyCols)
      .filter(col("q_id") =!= col("c_id"))
      .groupBy(col("q_id"), col("c_id")).agg(sum(col("d")).as("adc"))
      .withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= kCand).select(col("q_id"), col("c_id"))
    topKBySim(cand.join(side(emb, "q"), "q_id").join(side(emb, "c"), "c_id"), k)
  }

  /** (dist, cell) struct min = nearest centroid, ties to the LOWEST cell.
    * Two spellings of the same arithmetic: centroid LITERALS unrolled into
    * the expression tree while k is small (the plans the small-k oracles
    * pinned), and past k=16 the codegen'd [[graft.functions.NearestCell]]
    * loop over a referenced flat array — the literal tree grows k·dim
    * constants and turned a k=313 Lloyd round into a 41 s
    * analysis/codegen pathology, while k MUST grow with the corpus for
    * SemDedup blocking ([[semDedupClustersFor]]). */
  private def bestCell(v: Column, cents: Array[Seq[Long]]): Column =
    if (cents.length <= 16)
      array_min(cellDists(v, cents))
    else if (cents.length <= 256)
      graft.functions.VectorExpressions.nearestCell(v, cents)
    else
      // large-k regime (semDedupClustersFor grows k ∝ corpus): exact
      // triangle-inequality pruning over √k coarse groups — ~√k·dim work
      // per row instead of k·dim, bit-identical result (property-pinned)
      graft.functions.VectorExpressions.nearestCellPruned(v, cents)

  /** The Lloyd loop of [[kmeansFit]], returning the trained quantized
    * centroids (driver-held, k·dim longs). */
  def lloydCentroids(emb: DataFrame, k: Int, iters: Int,
      quant: Double = 1e6): Array[Seq[Long]] =
    lloydCentroidsQ(quantized(emb, quant), k, iters)

  /** [[lloydCentroids]] over ALREADY-QUANTIZED long vectors `(vec_id, qv)`
    * — the entry point residual quantization needs (residuals are long
    * differences, not floats). */
  def lloydCentroidsQ(q: DataFrame, k: Int, iters: Int): Array[Seq[Long]] = {
    var cents: Array[Seq[Long]] = q.filter(col("vec_id") < k)
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Long](1))
    require(cents.length == k, s"kmeansFit: need vec_ids 0..${k - 1} as seeds, got ${cents.length}")
    for (_ <- 1 to iters) {
      val sums = q.select(col("qv"), bestCell(col("qv"), cents).getField("c").as("cell"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("cnt"),
          graft.functions.VecSumAggregator.sum(col("qv")).as("s"))
        .collect() // ≤ k rows: (cell, count, dim-long sum)
      val byCell = sums.map(r =>
        r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
      cents = cents.indices.map { i =>
        byCell.get(i.toLong) match {
          case Some((cnt, s)) => s.map(Math.floorDiv(_, cnt))
          case None           => cents(i) // empty cell: keep prior centroid
        }
      }.toArray
    }
    cents
  }

  /** All `m` per-subspace codebooks in ONE aggregation per Lloyd round,
    * grouped by (subspace, cell) — the m books are independent, so
    * advancing them in lockstep is bit-identical to training them
    * sequentially ([[lloydCentroidsQ]] per slice), but costs `iters`
    * driver round trips instead of `m·iters` and scans the corpus once
    * per round instead of m times. Input is the exploded long form
    * `(vec_id, j, qv)` (one row per vector per subspace); the per-round
    * collect carries ≤ m·ksub (count, dim-sum) rows. Seeds are vec_ids
    * 0..ksub-1 of each subspace, exactly as the sequential form. */
  def lloydBooksQ(sv: DataFrame, m: Int, ksub: Int,
      iters: Int): Array[Array[Seq[Long]]] = {
    val seedRows = sv.filter(col("vec_id") < ksub).collect()
    var books: Array[Array[Seq[Long]]] = Array.tabulate(m) { j =>
      val rows = seedRows.filter(_.getLong(1) == j).sortBy(_.getLong(0))
      require(rows.length == ksub,
        s"lloydBooksQ: need vec_ids 0..${ksub - 1} as seeds in subspace $j, " +
          s"got ${rows.length}")
      rows.map(_.getSeq[Long](2))
    }
    for (_ <- 1 to iters) {
      // one CASE chain picks subspace j's current books for each row —
      // the same bestCell arithmetic as the per-book loop, one job total
      val cellExpr = (1 until m).foldLeft(
        when(col("j") === 0, bestCell(col("qv"), books(0)).getField("c"))) {
        (acc, j) => acc.when(col("j") === j,
          bestCell(col("qv"), books(j)).getField("c"))
      }
      val sums = sv.select(col("j"), col("qv"), cellExpr.as("cell"))
        .groupBy(col("j"), col("cell"))
        .agg(count(lit(1)).as("cnt"),
          graft.functions.VecSumAggregator.sum(col("qv")).as("s"))
        .collect() // ≤ m·ksub rows: (j, cell, count, subDim-long sum)
      val byKey = sums.map(r =>
        (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getSeq[Long](3))).toMap
      books = Array.tabulate(m) { j =>
        books(j).indices.map { c =>
          byKey.get((j.toLong, c.toLong)) match {
            case Some((cnt, s)) => s.map(Math.floorDiv(_, cnt))
            case None           => books(j)(c) // empty cell: keep prior
          }
        }.toArray
      }
    }
    books
  }

  /** Distributed Lloyd k-means fit — the IVF index-BUILD path ([[ivfTopK]]
    * deliberately uses untrained lowest-id centroids; this trains them) and
    * the semantic-clustering trainer behind [[centroidAssign]].
    *
    * All arithmetic is exact integer: embeddings quantize once to
    * `floor(1e6·x)` longs (the q103 construction), distances are integer
    * squared-L2, and the centroid update is elementwise floor-division of
    * integer sums — so assignments, centroids, and the returned distances
    * are bit-identical in any engine and any partitioning (double means
    * would depend on summation order), and the whole `iters`-round fit is
    * restatable as unrolled SQL (q114's DuckDB oracle does exactly that).
    *
    * Scale shape, per iteration: assignment is a pure map (centroids ride as
    * codegen literals — k·dim longs); the update is ONE shuffle of k keys
    * whose map-side partial is k·dim longs per task ([[graft.functions
    * .VecSumAggregator]] — group state is dimension-sized, not group-sized);
    * then a ≤k-row collect refreshes the driver-held centroids. No lineage
    * growth across rounds — each assignment derives from the base scan plus
    * literals, never from the previous round's DataFrame (the iterative-
    * lineage OOM class documented on connectedComponents can't arise).
    * Seeds are the k lowest-id vectors behind a pushed filter (the
    * [[ivfTopK]] pattern); ties in assignment break to the lowest cell.
    * Empty cells keep their previous centroid.
    *
    * Returns one row per vector: (vec_id, cell, dist) under the FINAL
    * centroids, `dist` the integer squared-L2 in quantized space.
    */
  def kmeansFit(emb: DataFrame, k: Int, iters: Int,
      quant: Double = 1e6): DataFrame = {
    val cents = lloydCentroids(emb, k, iters, quant)
    quantized(emb, quant)
      .select(col("vec_id"), bestCell(col("qv"), cents).as("b"))
      .select(col("vec_id"), col("b.c").as("cell"), col("b.d").as("dist"))
  }

  /** IVF ANN over TRAINED centroids: [[lloydCentroids]] builds the index
    * cells (the composition [[ivfTopK]]'s fixed lowest-id centroids stand in
    * for), then the same probe shape — corpus assigns to its nearest cell
    * (pure map over centroid literals), each query probes its `nprobe`
    * closest cells, exact cosine re-ranks inside the probed cells only.
    * Cell choice runs in quantized integer L2 (ties → lowest cell), so cell
    * contents, probe order, and therefore the emitted top-k are exact
    * cross-engine — q118's DuckDB oracle restates training AND search
    * verbatim. Trained cells are balanced where the data is (Lloyd moves
    * centroids toward mass), which is what bounds per-cell candidate volume
    * at 100 TB. */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 2,
      quant: Double = 1e6): DataFrame = {
    val cents = lloydCentroids(corpus, nlist, iters, quant)
    val qv = qvOf(col("embedding"), quant)
    val c = side(corpus, "c", bestCell(qv, cents).getField("c").as("cell"))
    val q = side(queries, "q", explode(probeCellsL2(qv, cents, nprobe)).as("cell"))
    topKBySim(c.join(broadcast(q), Seq("cell")).filter(col("q_id") =!= col("c_id")), k)
  }

  /** Product-quantization ANN (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search" — the public construction behind FAISS-style
    * indexes; [[ivfTopKTrained]] is the coarse-cell half, this is the
    * code-compression half). The embedding splits into `m` subspaces; each
    * subspace trains its own `ksub`-centroid integer Lloyd codebook
    * ([[lloydCentroids]] over the slice), and every corpus vector compresses
    * to m small codes. A query scores the WHOLE corpus from a per-query
    * lookup table (asymmetric distance, ADC): its distance to each
    * (subspace, centroid) pair — m·ksub integers — is computed once, and a
    * vector's approximate distance is the sum of m table lookups, never a
    * dim-length dot product. Exact cosine re-ranks only the top `kCand`
    * ADC candidates.
    *
    * Scale shape: training collects ≤ksub rows per round per subspace; the
    * codes table is m small ints per vector (the 100 TB memory story: 64-dim
    * floats → 4 bytes of codes); the LUT is nq·m·ksub rows and BROADCASTS;
    * the ADC scan is a map-side join + one (q, vec) aggregation; the exact
    * re-rank touches kCand rows per query. All distances are quantized
    * integers with (dist, id) tie-breaks, so codes, ADC order, and the
    * emitted top-k are exact cross-engine — the DuckDB oracle replays
    * training, encoding, ADC, and re-rank verbatim. */
  def pqTopK(emb: DataFrame, k: Int, m: Int = 4, subDim: Int = 16,
      ksub: Int = 8, iters: Int = 2, nq: Int = 10, kCand: Int = 20,
      quant: Double = 1e6): DataFrame = {
    val sub = subspace(subDim, quant) _
    val books = pqBooks(emb, m, ksub, iters, sub)
    adcTopK(pqEncode(emb, books, sub, col("vec_id").as("c_id")),
      adcLut(emb.filter(col("vec_id") < nq), books, sub, col("vec_id").as("q_id")),
      Seq("j", "code"), emb, kCand, k)
  }

  /** PQ-encode a (possibly STREAMING) frame of embeddings against
    * codebooks trained on `trainCorpus`: the books ride as literals (the
    * local spelling of a broadcast), so encoding is a pure stateless
    * map — the continuous-ingestion half of a PQ index (q155 writes the
    * batch index; this keeps its codes table current as vectors arrive).
    * Returns (c_id, j, code) long form. */
  def pqCodeColumns(vectors: DataFrame, trainCorpus: DataFrame,
      m: Int, subDim: Int, ksub: Int, iters: Int,
      quant: Double = 1e6): DataFrame = {
    val sub = subspace(subDim, quant) _
    pqEncode(vectors, pqBooks(trainCorpus, m, ksub, iters, sub), sub,
      col("vec_id").as("c_id"))
  }

  /** The scale rule for [[semDedup]]'s cluster count — granularity follows
    * the data, exactly as [[neardupPlanesFor]] does for LSH buckets:
    * k = corpus / targetClusterSize, so expected cluster populations (and
    * with them the in-cell pair space, Σ|c|² ≈ n·target) stay CONSTANT per
    * row as the corpus grows, making the dedup linear where a fixed k is
    * quadratic (measured 4.2× wall at 10× data at fixed k=8). Floored at 8
    * (the verified-recall default — at the ≤512-row oracle scales the rule
    * returns exactly the floor, so gate behavior is unchanged) and capped
    * at 65536: past that the centroid table itself stops being a sane
    * driver collect/broadcast, and the right construction is
    * [[hierarchicalAssignQ]] — fine centroids as a TABLE behind a
    * group-keyed join, k unbounded (q175 pins it under the gate). */
  def semDedupClustersFor(corpusRows: Long, targetClusterSize: Long = 64): Int =
    math.min(65536L, math.max(8L,
      (corpusRows + targetClusterSize - 1) / targetClusterSize)).toInt

  /** Two-level cell assignment where the FINE centroid set is a TABLE, not
    * a kernel literal — the construction the [[semDedupClustersFor]] cap
    * points at, usable whenever k outgrows what every executor can hold as
    * a broadcast array (the literal kernels [[graft.functions.NearestCell]]
    * /[[graft.functions.NearestCellPruned]] stay the fast path below it).
    *
    *   - `cents` is `(cell, cv)` with cells DENSE 0..k−1 (the Lloyd seed
    *     convention); groups are STRUCTURAL: grp = cell div cellsPerGroup —
    *     a blocking choice the oracle can restate verbatim (geometric
    *     coherence of the ranges is the trainer's job: Lloyd output and
    *     sharded training both emit locality-ordered ids).
    *   - coarse = per-group elementwise floor-div means (one ≤g-row
    *     aggregate via [[graft.functions.VecSumAggregator]]); each point
    *     picks its nearest coarse mean through the tiered literal kernels
    *     (g ≤ 65536 by construction).
    *   - fine: points join their group's PACKED centroid row — flat k/g·dim
    *     longs plus the parallel cell-id array — and
    *     [[graft.functions.NearestInFlat]] argmins inside it. The join is
    *     group-keyed: Spark broadcasts it while small and SHUFFLES it when
    *     huge, so no single JVM ever materializes all k centroids — the
    *     property that unbounds k.
    *
    * Malformed vectors (wrong length / NULL elements) DROP: the strict-NULL
    * kernels yield a NULL group, which joins nothing — corrupt embeddings
    * become visible by absence, never a plausible cell.
    *
    * Deterministic always (ties to the lowest grp, then lowest cell);
    * IVF-style two-level semantics: the answer is the best cell within the
    * nearest coarse group, which equals the global argmin when
    * cellsPerGroup ≥ k (one group — spec-pinned law) and approximates it
    * otherwise, exactly like IVF nprobe=1 probing ([[ivfTopK]]).
    *
    * Returns (vec_id, cell, dist) — [[kmeansFit]]'s assignment contract. */
  def hierarchicalAssignQ(q: DataFrame, cents: DataFrame,
      cellsPerGroup: Int): DataFrame = {
    require(cellsPerGroup >= 1, "hierarchicalAssignQ: cellsPerGroup >= 1")
    val grouped = cents.select(col("cell"), col("cv"),
      expr(s"cell div ${cellsPerGroup}L").as("grp"))
    // coarse means: ≤g rows to the driver (g bounded by the kernel cap);
    // the same pass carries the density evidence — per-group distinct cell
    // counts plus global min/max prove cells are EXACTLY 0..k-1 (groups
    // partition the id space by construction, so distinct-within-group +
    // global bounds + total count imply global density)
    val coarseRows = grouped.groupBy(col("grp"))
      .agg(count(lit(1)).as("cnt"),
        graft.functions.VecSumAggregator.sum(col("cv")).as("s"),
        countDistinct(col("cell")).as("nd"),
        min(col("cell")).as("mn"), max(col("cell")).as("mx"))
      .collect().sortBy(_.getLong(0))
    require(coarseRows.nonEmpty, "hierarchicalAssignQ: empty centroid table")
    require(coarseRows.head.getLong(0) == 0L &&
      coarseRows.last.getLong(0) == coarseRows.length - 1L,
      "hierarchicalAssignQ: groups must be dense 0..g-1")
    val k = coarseRows.map(_.getLong(1)).sum
    require(coarseRows.forall(r => r.getLong(3) == r.getLong(1)) &&
      coarseRows.map(_.getLong(4)).min == 0L &&
      coarseRows.map(_.getLong(5)).max == k - 1,
      "hierarchicalAssignQ: cells must be dense and duplicate-free 0..k-1")
    val coarse: Array[Seq[Long]] = coarseRows.map { r =>
      val cnt = r.getLong(1)
      r.getSeq[Long](2).map(Math.floorDiv(_, cnt))
    }
    val packed = grouped
      .groupBy(col("grp"))
      .agg(array_sort(collect_list(struct(col("cell"), col("cv")))).as("ms"))
      .select(col("grp"),
        flatten(transform(col("ms"), x => x.getField("cv"))).as("flat"),
        transform(col("ms"), x => x.getField("cell")).as("cells"))
    q.select(col("vec_id"), col("qv"),
        bestCell(col("qv"), coarse).getField("c").as("grp"))
      .join(packed, "grp")
      .select(col("vec_id"), col("cells"),
        graft.functions.VectorExpressions.nearestInFlat(col("qv"), col("flat")).as("r"))
      .select(col("vec_id"),
        get(col("cells"), col("r").getField("c").cast("int")).as("cell"),
        col("r").getField("d").as("dist"))
  }

  /** [[hierarchicalAssignQ]] over raw float embeddings with the k-lowest-id
    * seed convention ([[ivfTopK]]'s untrained-centroid pattern): cell j =
    * quantized vector j. */
  def hierarchicalAssign(emb: DataFrame, k: Int, cellsPerGroup: Int,
      quant: Double = 1e6): DataFrame = {
    val q = quantized(emb, quant)
    hierarchicalAssignQ(q,
      q.filter(col("vec_id") < k).select(col("vec_id").as("cell"), col("qv").as("cv")),
      cellsPerGroup)
  }

  /** SemDedup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication" — the public construction):
    * cluster the embedding space with k-means, then deduplicate ONLY
    * within clusters — the learned-cell analogue of LSH blocking, with the
    * pair space bounded by cluster sizes instead of bucket occupancy. The
    * keep rule here is the deterministic one-pass variant: a vector drops
    * iff some LOWER-id vector in its cluster is `minCos`-similar (the
    * "keep the earliest of each near-duplicate set" rule; the
    * connected-component variant is [[graft.ext.Dedup.connectedComponents]]
    * over the same pairs). Cell assignment and pair sims are
    * integer/rounded arithmetic — fully oracle-restatable. Returns the
    * KEPT vectors as (vec_id, cell).
    *
    * Scale knob: at FIXED nClusters the in-cell pair space grows
    * quadratically with the corpus (measured 4.2× wall at 10× data) —
    * `nClusters <= 0` lets [[semDedupClustersFor]] scale it with the
    * corpus (the [[neardupPlanesFor]] lesson), keeping cluster
    * populations, and the pair space, bounded. */
  def semDedup(emb: DataFrame, nClusters: Int, iters: Int,
      minCos: Double, quant: Double = 1e6): DataFrame = {
    val k = if (nClusters > 0) nClusters else semDedupClustersFor(emb.count())
    val assigned = kmeansFit(emb, k, iters, quant)
      .select(col("vec_id"), col("cell"))
    val sides = emb.join(assigned, "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"),
        norm(col("embedding")).as("nn"))
    val a = sides.select(col("cell"), col("vec_id").as("v1"),
      col("embedding").as("e1"), col("nn").as("n1"))
    val b = sides.select(col("cell").as("cell2"), col("vec_id").as("v2"),
      col("embedding").as("e2"), col("nn").as("n2"))
    val drops = a.join(b, col("cell") === col("cell2") && col("v1") < col("v2"))
      .withColumn("sim", round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 5))
      .filter(col("sim") >= minCos)
      .select(col("v2").as("vec_id")).distinct()
    assigned.join(drops, Seq("vec_id"), "left_anti")
  }

  /** IVF+PQ — the full FAISS-style composed index (Jégou et al. §IV:
    * coarse cells + RESIDUAL product quantization): corpus vectors assign
    * to a coarse Lloyd cell, the per-subspace codebooks train on the
    * residuals (vector − its cell centroid, where PQ codes are far more
    * accurate than on raw vectors because residual magnitudes are small),
    * and a query probes its `nprobe` nearest cells, building one ADC
    * lookup table PER PROBED CELL from its own residual against that cell.
    * Candidates meet on (cell, subspace, code) equality — the IVF cell
    * restriction and the PQ table lookup in one equi-join — then exact
    * cosine re-ranks the top `kCand`.
    *
    * All arithmetic is quantized-integer with (dist, id) tie-breaks:
    * coarse cells, residuals (long differences), codebooks, codes, probe
    * order, ADC sums, and the final top-k are exact cross-engine — the
    * DuckDB oracle replays coarse training, residual computation, m
    * residual codebook chains, encoding, probing, per-cell LUTs, ADC, and
    * re-rank verbatim. Scale: the LUT is nq·nprobe·m·ksub rows and
    * broadcasts; codes are m ints/vector; the ADC join only pairs a vector
    * with queries that probed its cell. */
  def ivfPqTopK(emb: DataFrame, k: Int, nlist: Int = 8, nprobe: Int = 4,
      m: Int = 4, subDim: Int = 16, ksub: Int = 8, iters: Int = 2,
      nq: Int = 10, kCand: Int = 20, quant: Double = 1e6): DataFrame = {
    val cents = lloydCentroids(emb, nlist, iters, quant)
    val centLit = typedlit(cents.map(_.toSeq).toSeq) // array<array<long>>
    // rv = qv minus its row's `cell` centroid
    def residual(df: DataFrame): DataFrame = df.withColumn("rv", zip_with(col("qv"),
      element_at(centLit, (col("cell") + 1).cast("int")), (a, b) => a - b))
    val q0 = quantized(emb, quant)
    val assigned =
      residual(q0.withColumn("cell", bestCell(col("qv"), cents).getField("c")))
    def rSlice(j: Int): Column = slice(col("rv"), j * subDim + 1, subDim)
    // m residual codebooks are independent: ONE (j, cell) aggregation per
    // Lloyd round trains them all (was m sequential loops = the measured
    // ~6 s driver-round-trip floor on q157)
    val books = pqBooks(assigned, m, ksub, iters, rSlice)
    // query probes + per-probed-cell residuals
    val qprobe = residual(q0.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("qv"),
        explode(probeCellsL2(col("qv"), cents, nprobe)).as("cell")))
    adcTopK(pqEncode(assigned, books, rSlice, col("vec_id").as("c_id"), col("cell")),
      adcLut(qprobe, books, rSlice, col("q_id"), col("cell")),
      Seq("cell", "j", "code"), emb, kCand, k)
  }

  /** Persist a PQ index as TABLES — [[writeIvfIndex]]'s build-once/
    * search-many model for the code-compression half: the m codebooks land
    * in a tiny `books` parquet (m·ksub rows) and the corpus lands as its
    * CODES — (vec_id, j, code) longs, the m-bytes-per-vector table that IS
    * the PQ memory story. A search reads codebooks (bounded collect),
    * builds its ADC lookup table, and scans codes — the original
    * embeddings are touched only to re-rank the top candidates. */
  def writePqIndex(corpus: DataFrame, path: String, m: Int = 4,
      subDim: Int = 16, ksub: Int = 8, iters: Int = 2): Unit = {
    val spark = corpus.sparkSession
    val sub = subspace(subDim, 1e6) _
    val books = pqBooks(corpus, m, ksub, iters, sub)
    import scala.jdk.CollectionConverters._
    val bookRows: java.util.List[org.apache.spark.sql.Row] = (for {
      j <- 0 until m; c <- 0 until ksub
    } yield org.apache.spark.sql.Row(j.toLong, c.toLong, books(j)(c))).toList.asJava
    val bookSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("j", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("code", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))))
    spark.createDataFrame(bookRows, bookSchema)
      .write.mode("overwrite").parquet(s"$path/books")
    pqEncode(corpus, books, sub, col("vec_id").as("c_id"))
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Search a [[writePqIndex]] index: identical computation to [[pqTopK]],
    * but codebooks and corpus codes come from the persisted tables — the
    * index round-trip must not change a single row, so q148's oracle
    * applies verbatim (the q125 contract for the PQ half). `emb` supplies
    * query vectors and the exact re-rank's candidate vectors. */
  def searchPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      emb: DataFrame, k: Int, m: Int = 4, subDim: Int = 16, ksub: Int = 8,
      nq: Int = 10, kCand: Int = 20): DataFrame = {
    val bookRows = spark.read.parquet(s"$path/books")
      .collect() // m·ksub rows — bounded by construction
    val books: Seq[Array[Seq[Long]]] = Seq.tabulate(m)(j =>
      bookRows.filter(_.getLong(0) == j).sortBy(_.getLong(1)).map(_.getSeq[Long](2)))
    require(books.forall(_.length == ksub),
      s"searchPqIndex: $path does not hold $m books of $ksub entries")
    val sub = subspace(subDim, 1e6) _
    adcTopK(spark.read.parquet(s"$path/codes"),
      adcLut(emb.filter(col("vec_id") < nq), books, sub, col("vec_id").as("q_id")),
      Seq("j", "code"), emb, kCand, k)
  }

  /** Persist an IVF index as TABLES — the build-once/search-many model
    * (the ANN analogue of [[graft.tables.Bucketing]]'s pay-the-shuffle-at-
    * write joins): trained centroids land in a tiny `centroids` parquet,
    * and the cell-assigned corpus lands RANGE-CLUSTERED on the cell id
    * (`Layout.writeRangeClustered`), so each cell occupies a contiguous
    * file/row-group range and a search's `cell IN (probed)` predicate
    * prunes at parquet-footer level. Training + assignment cost is paid
    * once; searches never rescan or reshuffle the corpus. */
  def writeIvfIndex(corpus: DataFrame, path: String, nlist: Int = 16,
      iters: Int = 2, files: Int = 8): Unit = {
    val spark = corpus.sparkSession
    val cents = lloydCentroids(corpus, nlist, iters)
    import scala.jdk.CollectionConverters._
    val centRows: java.util.List[org.apache.spark.sql.Row] =
      cents.zipWithIndex.map { case (cv, i) =>
        org.apache.spark.sql.Row(i.toLong, cv)
      }.toList.asJava
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))))
    spark.createDataFrame(centRows, centSchema)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val assigned = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      bestCell(qvOf(col("embedding"), 1e6), cents).getField("c").as("cell"))
    graft.tables.Layout.writeRangeClustered(assigned, s"$path/cells", files,
      Seq(col("cell")))
  }

  /** Search a persisted IVF index: centroids load (≤nlist rows) to rank
    * each query's `nprobe` cells; the cells table scans with a pushed
    * `cell IN (...)` filter (bounded by nlist values — file/row-group
    * pruning does the work on the clustered layout, ScaleOpsSpec pins the
    * pushdown), then the usual bucket join + exact-cosine re-rank. Results
    * are identical to [[ivfTopKTrained]] at the same parameters — q118's
    * oracle applies verbatim (q125). */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val cents: Array[Seq[Long]] = spark.read.parquet(s"$path/centroids")
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Long](1))
    val q = side(queries, "q",
      explode(probeCellsL2(qvOf(col("embedding"), 1e6), cents, nprobe)).as("cell"))
    // probed-cell union: bounded by nlist, becomes the pushed scan filter
    val probed = q.select(col("cell")).distinct().collect().map(_.getLong(0))
    val c = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probed.toIndexedSeq: _*))
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_n"), col("cell"))
    topKBySim(c.join(broadcast(q), Seq("cell")).filter(col("q_id") =!= col("c_id")), k)
  }

  /** Contrastive triplet mining — the training-set assembly step of
    * embedding/contrastive pretraining: for each anchor, the POSITIVE is its
    * nearest neighbor and the HARD NEGATIVE is the most similar vector
    * BELOW `negCeiling` (semi-hard mining: the negative that's close enough
    * to matter but below the "actually a duplicate" band that would poison
    * the label). Anchors broadcast and the corpus streams ONCE: both picks
    * come out of a single aggregation over the scored pairs — `max` on a
    * (sim, -id) struct is argmax with ties to the lowest id — so there is
    * one shuffle, keyed by anchor. Anchors without a sub-ceiling match drop
    * (inner semantics). This is the exact-baseline shape (q48); unbounded
    * anchor sets swap the scored-pair source for the LSH/IVF candidate
    * paths (q49/q118) unchanged downstream. */
  def contrastiveTriplets(anchors: DataFrame, corpus: DataFrame,
      negCeiling: Double): DataFrame = {
    val scored = side(corpus, "c")
      .join(broadcast(side(anchors, "q")), col("q_id") =!= col("c_id"))
      .withColumn("sim", pairSim)
      .select(col("q_id"), col("c_id"), col("sim"))
    scored.groupBy(col("q_id"))
      .agg(
        max(struct(col("sim").as("s"), (-col("c_id")).as("nc"))).as("p"),
        max(when(col("sim") < negCeiling,
          struct(col("sim").as("s"), (-col("c_id")).as("nc")))).as("n"))
      .filter(col("n").isNotNull)
      .select(col("q_id"),
        (-col("p.nc")).cast("long").as("pos_id"), col("p.s").as("pos_sim"),
        (-col("n.nc")).cast("long").as("neg_id"), col("n.s").as("neg_sim"))
  }

  /** Semantic clustering: assign every vector to its nearest centroid by
    * cosine (ties → lowest centroid id). Centroids are the `nlist` lowest-id
    * corpus vectors — the same deterministic pick and bounded pushed-filter
    * collect as [[ivfTopK]], becoming codegen literals so assignment is a
    * pure map over the corpus: no shuffle, no UDF, scan-speed at 100 TB.
    * The per-cluster rollup that typically follows is a two-phase hash
    * aggregation on the tiny cell key. Cosines are computed raw-vector
    * against raw centroid (dot / norms) and rounded to 5 — the exact
    * construction any SQL engine reproduces bit-for-bit. */
  def centroidAssign(emb: DataFrame, nlist: Int = 8): DataFrame = {
    val cents: Array[(Int, Seq[Double], Double)] =
      lowIdVectors(emb, nlist).map { case (id, v) =>
        (id.toInt, v, math.sqrt(v.map(x => x * x).sum))
      }
    // (sim, -cell) struct max = highest sim, ties to the LOWEST cell id
    val scored = array(cents.toIndexedSeq.map { case (i, c, n) =>
      struct(
        round(dot(col("embedding"), typedlit(c)) / (norm(col("embedding")) * lit(n)), 5).as("s"),
        lit(-i).as("negCell"))
    }: _*)
    emb.select(col("vec_id"), array_max(scored).as("best"))
      .select(col("vec_id"),
        (-col("best.negCell")).cast("long").as("cell"),
        col("best.s").as("sim"))
  }

  /** The COST half of [[embeddingNearDupPairs]]'s plane choice:
    * planes = log2(corpus / targetLoad), floored at 8. Bucket count must
    * grow WITH the corpus — at fixed planes the per-bucket occupancy rises
    * linearly and the bucket self-join's pair count quadratically
    * (measured: 10× data at planes=8 cost 12.8× wall; at the rule's planes
    * it returns to ~linear, PERFNOTES scaling table). Blind to the
    * requested angle by design — [[planesForRecallAt]] is the recall half
    * that caps it. */
  def neardupPlanesFor(corpusRows: Long, targetLoad: Int = 8): Int = {
    // exact integer form of max(8, ceil(log2(n / targetLoad))): the smallest
    // p with targetLoad·2^p ≥ n is bitlen(ceil(n/targetLoad) − 1), and for
    // power-of-two targetLoad that is bitlen(n−1) − log2(targetLoad). The
    // former ln-ratio spelling could misround at EXACT power-of-two corpus
    // sizes (ln(2^k)/ln 2 is not guaranteed to be k in doubles), which
    // matters now that the q291 DuckDB oracle restates this rule — integer
    // arithmetic is the only form both engines compute identically.
    require(Integer.bitCount(targetLoad) == 1, "targetLoad must be a power of 2")
    val n = math.max(corpusRows, 1L)
    val bitlenNm1 = 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.max(8, bitlenNm1 - Integer.numberOfTrailingZeros(targetLoad))
  }

  /** The RECALL half of the production kernel's plane choice (round 11):
    * the largest plane count whose analytic per-pair miss odds stay
    * ≤ `maxMiss` at cosine `threshold` — the WIDEST angle the kernel
    * promises to emit — across `tables` under radius-1 probing
    * ([[RecallFloors.lshRadius1Miss]]; conservative for the
    * margin-directed kernel, whose 16 probes cover every subset of the
    * four lowest-|margin| planes — the planes a threshold pair most
    * likely disagrees on).
    *
    * Why this must cap the occupancy rule: [[neardupPlanesFor]] grows
    * buckets with the corpus for COST, blind to the threshold. For true
    * near-dups (cos ≥ 0.85, split prob ≈ 0.18/plane) rule planes stay
    * inside this cap until ~10⁵ rows and recall holds; but at a WIDE
    * threshold the same buckets shed exactly the near-threshold pairs
    * the caller asked for — the round-11 RecallAudit measured recall
    * 0.5562 at organic sf1 (rule planes 12, threshold 0.45, every miss
    * at sim 0.45–0.50). With the cap the kernel keeps ≥ 1−maxMiss
    * analytic recall AT ANY requested threshold; the cost of a wide net
    * surfaces as coarser buckets (and is the honest cost — the true
    * pair inventory itself grows quadratically as the threshold widens).
    * `tables` is the lever that buys tight buckets back: the cap GROWS
    * with tables (linear query-side cost), e.g. 0.45 → 5 planes at 12
    * tables, 6 at 16; 0.85 → 12 at 12 tables, 14 at 16.
    *
    * Corroboration: q50's hand-tuned fixed geometry (6 planes × 16
    * tables at threshold 0.45, measured recall 1.000/1.000/0.993 across
    * scales) is exactly `planesForRecallAt(0.45, 16)`. */
  def planesForRecallAt(threshold: Double, tables: Int,
      maxMiss: Double = 0.01): Int = {
    var p = 1
    while (p < 52 &&
        RecallFloors.lshRadius1Miss(threshold, p + 1, tables) <= maxMiss) p += 1
    p
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold, multi-table
    * multiprobe LSH-blocked (a pair must meet in some probed bucket of some
    * table), exact-cosine verified on the deduplicated candidate set.
    *
    * Plane choice (planes ≤ 0) = min(occupancy rule, threshold-recall cap)
    * — see [[neardupPlanesFor]] and [[planesForRecallAt]]. The cap is the
    * round-11 fix for an audit-measured failure: at organic sf1 the
    * occupancy rule alone (12 planes) shed 44% of true 0.45-threshold
    * pairs (RecallAudit, every miss at sim 0.45–0.50); recall at the
    * REQUESTED angle is now an analytic ≥0.99 guarantee at any corpus
    * size, and the gate measures it per corpus. Where the cap binds, the
    * corpus-growth story changes (round-11 ADVICE correction): at
    * threshold 0.85 with the default 12 tables the cap is 12 planes,
    * which binds from n ≈ 8·2¹² ≈ 33k rows — past that, per-bucket
    * occupancy grows linearly with the corpus and the bucket self-join
    * quadratically (the exact blowup [[neardupPlanesFor]] exists to
    * prevent; measured 12.8× wall at 10× data). Only tighter thresholds
    * or more tables push the crossover out (0.95 at 16 tables → cap 25 →
    * ~10⁸ rows). `tables` is therefore the REQUIRED knob for large
    * corpora at a given threshold — the cap grows with tables at linear
    * query-side cost — and the kernel logs a loud warning whenever the
    * recall cap undercuts the occupancy rule so a large-corpus caller
    * cannot drift into the quadratic regime silently.
    *
    * Shape note: the bucket self-join carries ONLY (vec_id, bucket) longs —
    * exploding tables×probes keys with the 64-float embedding attached
    * (the previous formulation) shuffles ~50× the bytes and was the
    * measured source of run-to-run variance; embeddings rejoin afterwards,
    * once, on the deduplicated pair ids. */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double,
      planes: Int = 0, tables: Int = 12, dim: Int = 64,
      probes: Int = 16, probeFilter: Option[Column] = None): DataFrame = {
    // The corpus count steers both scale decisions below (one footer-stats
    // job on a parquet-backed corpus). planes <= 0 → the rule decides:
    // bucket granularity MUST grow with the corpus or the bucket self-join
    // turns quadratic (measured 34.8× wall at 10× data with planes pinned
    // to 8; ~1.8× under the rule). At the verified-recall scales (≤ 2048
    // rows) the rule returns the floor 8, so oracle behavior is unchanged
    // there.
    // emb fans out five ways (count, probe/base explodes, two verify
    // rejoins) — truncate once so a non-trivial upstream derivation is
    // computed exactly once, the minhashLshCore pattern (round-10 ADVICE)
    val embT = graft.ops.Checkpoints.truncate(emb)
    val n = embT.count()
    // planes = occupancy rule CAPPED by the threshold-recall rule: cost
    // wants buckets to tighten with the corpus, recall forbids tightening
    // past what the requested angle survives (see planesForRecallAt — the
    // audit-measured 0.5562-recall failure mode this cap closes). Floor 4:
    // the margin ranker requires >= 4 planes, and at the thresholds where
    // the cap would dip below that (≲0.2) the 16 probes cover the entire
    // 2^4 bucket space anyway — blocking degenerates to brute force, which
    // is what such an angle honestly costs.
    val ruleP = neardupPlanesFor(n)
    val capP = planesForRecallAt(threshold, tables)
    val p = if (planes > 0) planes else math.max(4, math.min(ruleP, capP))
    // The recall cap undercutting the occupancy rule means bucket occupancy
    // now grows linearly with the corpus (self-join pairs quadratically) —
    // correct but increasingly expensive. Say so loudly: `tables` buys the
    // granularity back at linear query-side cost.
    if (planes <= 0 && capP < ruleP)
      org.slf4j.LoggerFactory.getLogger("graft.ext.Similarity").warn(
        s"embeddingNearDupPairs: recall cap ($capP planes at threshold " +
          s"$threshold, $tables tables) undercuts the occupancy rule " +
          s"($ruleP planes for $n rows); bucket self-join cost will grow " +
          "quadratically with further corpus growth — raise `tables` to " +
          "restore bucket granularity at linear query-side cost")
    // Asymmetric multiprobe self-join: one side explodes into probe keys
    // (base + low-margin sign flips), the other into base keys only — a
    // (low,high) pair meets when low's probe set reaches high's bucket.
    // probeFilter (audit-only; None in every production/graded path, so
    // the plan is byte-identical there) restricts WHICH vectors probe:
    // with a sampled probe side the emitted set is exactly the pairs
    // discoverable via a sampled vector's probes — a conservative
    // (one-sided) recall measurement at 1/m of the self-join cost
    // (dev/RecallAudit's sf1 stage; plane choice still sees the full n).
    val probeSrc = probeFilter.fold(embT)(embT.filter)
    val a = probeSrc.select(col("vec_id"),
      explode(lshProbeKeys(col("embedding"), p, tables, dim, probes)).as("bkt"))
    val v = embT.select(col("vec_id"),
      explode(lshTableKeys(col("embedding"), p, tables, dim)).as("bkt"))
    // Join-strategy guard for the post-broadcast regime: while the corpus
    // fits a broadcast (~≤40k vectors at dim 64) the planner's broadcast
    // joins are optimal and the hint would force a worse shuffle join —
    // but past that size the planner falls back to sort-merge, and sorting
    // the (linearly growing) probe/pair volume dominated the 100× scaling
    // probe: q50 measured ~500 s at 100× data from exactly these sorts.
    // shuffle_hash keeps those stages sort-free and the wall linear
    // (PERFNOTES 100× table); the build sides (base keys / corpus rows per
    // partition) stay hash-table-sized.
    val rowBytes = dim * 4L + 24L
    val hashHint = n * rowBytes > (8L << 20)
    def h(df: DataFrame): DataFrame = if (hashHint) df.hint("shuffle_hash") else df
    val cand = a.alias("a").join(h(v.alias("b")),
        col("a.bkt") === col("b.bkt") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .dropDuplicates("v1", "v2")
    val e = embT.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    cand
      .join(h(e.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("nrm").as("n1"))), "v1")
      .join(h(e.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("nrm").as("n2"))), "v2")
      .withColumn("sim", round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 5))
      .filter(col("sim") >= threshold)
      .select(col("v1"), col("v2"), col("sim"))
  }

  /** Simplified-silhouette clustering-quality audit — the standard
    * centroid form of the silhouette coefficient (a = distance to the OWN
    * centroid, b = distance to the nearest OTHER centroid, s = (b−a)/b),
    * which replaces the textbook form's O(n²) pairwise means with an
    * O(n·k) map over centroid literals — the audit stays scan-speed at any
    * corpus size. Distances are exact integer squared-L2 in quantized
    * space (the q114 Lloyd convention) and s lands in ppm via integer
    * division; a ≤ b by construction (assignment = nearest centroid), so
    * s_ppm ∈ [0, 1e6] and truncating vs flooring division cannot differ.
    * The (b−a)·10⁶ product can pass Long (sq-dists reach ~2.6e14), so the
    * ratio rides DECIMAL, q225's discipline. Returns one row per vector:
    * (vec_id, cell, a, b, s_ppm) — callers roll up per cell (q287).
    *
    * 100 TB shape: one Lloyd fit (k·dim driver state), one pure map over
    * centroid literals, zero extra shuffles beyond the fit. */
  def simplifiedSilhouette(emb: DataFrame, k: Int = 8, iters: Int = 2,
      quant: Double = 1e6): DataFrame = {
    val cents = lloydCentroidsQ(quantized(emb, quant), k, iters)
    val scored = quantized(emb, quant).select(col("vec_id"),
      array_sort(cellDists(col("qv"), cents)).as("ds"))
    scored.select(col("vec_id"),
        col("ds")(0).getField("c").as("cell"),
        col("ds")(0).getField("d").as("a"),
        col("ds")(1).getField("d").as("b"))
      .withColumn("s_ppm", expr(
        "CAST((CAST(b - a AS DECIMAL(38,0)) * 1000000) DIV greatest(b, 1) AS BIGINT)"))
  }

  /** In-cell top-k neighbor lists under trained Lloyd cells — the shared
    * kernel of [[knnOccurrence]] and [[mutualKnnPairs]] (and the same
    * shape [[cellKnnLabelVote]] inlines): vectors meet only within their
    * cell, rank by (cosine DESC, c_id). `nCells ≤ 0` →
    * [[semDedupClustersFor]] decides. Returns (q_id, c_id, sim, rnk). */
  private def cellKnnLists(emb: DataFrame, k: Int, nCells: Int,
      iters: Int): DataFrame = {
    val n = if (nCells > 0) nCells else semDedupClustersFor(emb.count())
    val cells = kmeansFit(emb, n, iters).select(col("vec_id"), col("cell"))
    val withCell = cells.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val a = withCell.select(col("cell"), col("vec_id").as("q_id"),
      col("embedding").as("qe"))
    val b = withCell.select(col("cell"), col("vec_id").as("c_id"),
      col("embedding").as("ce"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    a.join(b, Seq("cell")).filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", round(Vectors.cosine(col("qe"), col("ce")), 5))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rnk"))
  }

  /** k-occurrence (hubness) audit over cell-blocked kNN — the known
    * embedding-space pathology where a few "hub" vectors appear in a large
    * fraction of all nearest-neighbor lists (and their antihubs appear in
    * none), which silently skews kNN label votes, dedup verdicts, and
    * retrieval training pairs. Blocking follows [[cellKnnLabelVote]]:
    * vectors meet only within their trained Lloyd cell (per-cell work
    * bounded), rank by (cosine DESC, c_id), each vector contributes its
    * top-k list; occurrence = how many lists a vector appears in (0 for
    * vectors alone in their cell or never ranked — the antihub signal).
    * Returns one row per vector: (vec_id, occ).
    *
    * `nCells ≤ 0` → [[semDedupClustersFor]] decides (cells ∝ corpus, the
    * q271 rule): fixed cells make the in-cell pair space quadratic in the
    * corpus — measured 27.5 s at 10× data with 8 pinned cells vs linear
    * under the rule. The oracle recomputes the same rule from count(*).
    *
    * 100 TB shape: = [[cellKnnLabelVote]] (cell equi-join, window inside
    * cells) + one count by neighbor id. */
  def knnOccurrence(emb: DataFrame, k: Int = 5, nCells: Int = 0,
      iters: Int = 2): DataFrame = {
    val occ = cellKnnLists(emb, k, nCells, iters)
      .groupBy(col("c_id")).agg(count(lit(1)).as("occ"))
    emb.select(col("vec_id"))
      .join(occ, emb("vec_id") === occ("c_id"), "left")
      .select(col("vec_id"), coalesce(col("occ"), lit(0L)).as("occ"))
  }

  /** Mutual (reciprocal) kNN pairs — a ∈ topk(b) AND b ∈ topk(a) within
    * the same cell-blocked lists: the standard clean-positive miner for
    * contrastive training (one-directional neighbors are frequently
    * hub artifacts — see [[knnOccurrence]]; mutuality filters them).
    * Returns (v1 < v2, sim). The list frame localCheckpoints before the
    * self-join: it is n·k-sized (never corpus-scale rows), and without the
    * cut both join sides would re-run the Lloyd fit and the cell window.
    *
    * 100 TB shape: = [[cellKnnLists]] + one self-equi-join on an
    * n·k-row frame. */
  def mutualKnnPairs(emb: DataFrame, k: Int = 5, nCells: Int = 0,
      iters: Int = 2): DataFrame = {
    val nn = cellKnnLists(emb, k, nCells, iters).transform(graft.ops.Checkpoints.truncate(_))
    nn.alias("x").join(nn.alias("y"),
        col("x.q_id") === col("y.c_id") && col("x.c_id") === col("y.q_id") &&
          col("x.q_id") < col("x.c_id"))
      .select(col("x.q_id").as("v1"), col("x.c_id").as("v2"),
        col("x.sim").as("sim"))
  }

  /** Per-group cohesion: each member's cosine to its group's centroid
    * (sum vector — cosine is scale-invariant, so the mean never divides;
    * the q284 group-centroid discipline applied WITHIN groups). Exact
    * integer dots over quantized vectors ride DECIMAL (sum-vector
    * components reach quant·rows); the final cosine is one IEEE
    * sqrt+divide rounded to 5. Diffuse groups (low mean cohesion) are
    * mislabel suspects and poor mixture strata. Returns one row per
    * member: (g, vid, cos).
    *
    * 100 TB shape: one (group, dim) aggregation + one (group, dim) join
    * back over the exploded members (both sides keyed the same — the
    * sums side is |groups|·dim and broadcasts). */
  def groupCohesion(df: DataFrame, id: Column, group: Column,
      embedding: Column, quant: Double = 1e6): DataFrame = {
    val q = df.select(id.as("vid"), group.as("g"),
      qvOf(embedding, quant).as("qv"))
    val ex = q.select(col("vid"), col("g"),
      posexplode(col("qv")).as(Seq("d", "v")))
    val sums = ex.groupBy(col("g"), col("d")).agg(sum(col("v")).as("sv"))
    val dots = ex.join(broadcast(sums), Seq("g", "d"))
      .groupBy(col("g"), col("vid"))
      .agg(sum(expr("CAST(v AS DECIMAL(38,0)) * sv")).as("dot"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("vsq"))
    val gn = sums.groupBy(col("g"))
      .agg(sum(expr("CAST(sv AS DECIMAL(38,0)) * sv")).as("nsq"))
    dots.join(broadcast(gn), Seq("g"))
      .select(col("g"), col("vid"),
        round(col("dot").cast("double") /
          (sqrt(col("vsq").cast("double")) * sqrt(col("nsq").cast("double"))),
          5).as("cos"))
  }

  /** The AUTO-SCALED near-dup kernel, graded: [[embeddingNearDupPairs]]'s
    * scale structure — [[neardupPlanesFor]] bucket granularity growing with
    * the corpus, the asymmetric probe/base bucket self-join carrying only
    * id/bucket longs, and the same post-broadcast `shuffle_hash` regime —
    * over the DETERMINISTIC integer plane source
    * ([[graft.functions.LshKeysDeterministic]]), so the full operator
    * (plane rule, buckets, radius-1 probes, candidates, cosines) is
    * restated verbatim by the q291 DuckDB oracle at ANY corpus size. This
    * closes the round-9 gap where the graded suite exercised only q50's
    * FIXED-geometry twin and the auto-scale rule lived in receipts: here
    * the rule itself is on the scoreboard — at the sf0.01 gate the rule
    * returns the floor (8 planes), at organic sf1 (~20k vectors) it
    * returns 12, and the oracle recomputes the same value from count(*)
    * in exact integer arithmetic (8·2^p ≥ n), so a drift in either
    * engine's rule is a hash mismatch, not a silent slowdown.
    *
    * planes cap: the packed `(table << 20) | bucket` key bounds p at 20 —
    * reached at 8·2²⁰ ≈ 8.4M corpus rows. Past that the seeded production
    * kernel ([[embeddingNearDupPairs]], planes ≤ 52, margin-directed
    * probes) is the path; this graded kernel asserts the regime it can
    * restate. Recall: radius-1 blind flips at rule planes are tighter than
    * q50's deliberate planes=6 — true near-dup pairs (J-analogue cos ≥
    * 0.85, split prob per plane ≈ 0.18) still collide in ≥1 of 16 tables
    * with miss odds ≤ (1−(0.82¹² + 12·0.82¹¹·0.18))¹⁶ ≈ 3e-3 per pair at
    * p=12; the 0.45 threshold is verify-side only — candidates it admits
    * are exact-cosine checked, so looser recall there costs coverage of
    * gray pairs, never wrong rows (both engines compute the same set).
    * Role note (round 11): this kernel deliberately runs the occupancy
    * rule UNCAPPED — it exists to grade the rule itself against the
    * oracle's count(*)-derived restatement at every scale. The production
    * entry point [[embeddingNearDupPairs]] additionally caps planes by
    * [[planesForRecallAt]] so user-facing recall holds at any requested
    * threshold (the audit-measured wide-net failure this grading twin is
    * exempt from, being oracle-matched rather than recall-promising). */
  def neardupPairsAuto(emb: DataFrame, threshold: Double,
      tables: Int = 16, dim: Int = 64): DataFrame = {
    import graft.functions.LshExpressions.lshKeysDeterministic
    // single materialization ahead of the five-way fan-out (round-10 ADVICE)
    val embT = graft.ops.Checkpoints.truncate(emb)
    val n = embT.count()
    val p = math.min(20, neardupPlanesFor(n))
    val probe = embT.select(col("vec_id"),
      explode(lshKeysDeterministic(col("embedding"), p, tables, dim,
        flips = true)).as("bkt"))
    val base = embT.select(col("vec_id"),
      explode(lshKeysDeterministic(col("embedding"), p, tables, dim,
        flips = false)).as("bkt"))
    // identical post-broadcast join-strategy guard to embeddingNearDupPairs:
    // sort-merge over the linearly-growing probe volume was the measured
    // 100x-scaling cost; shuffle_hash keeps those stages sort-free once the
    // corpus outgrows the broadcast threshold
    val rowBytes = dim * 4L + 24L
    val hashHint = n * rowBytes > (8L << 20)
    def h(df: DataFrame): DataFrame = if (hashHint) df.hint("shuffle_hash") else df
    val cand = probe.alias("a").join(h(base.alias("b")),
        col("a.bkt") === col("b.bkt") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .dropDuplicates("v1", "v2")
    val e = embT.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    cand
      .join(h(e.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("nrm").as("n1"))), "v1")
      .join(h(e.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("nrm").as("n2"))), "v2")
      .withColumn("sim", round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 5))
      .filter(col("sim") >= threshold)
      .select(col("v1"), col("v2"), col("sim"))
  }

  /** [[neardupPairsAuto]] with the production kernel's MARGIN-DIRECTED
    * multiprobe instead of blind radius-1 flips — the last structural
    * feature of [[embeddingNearDupPairs]] the graded suite did not
    * exercise. Geometry mirrors production exactly (rule planes × 12
    * tables × 16 probes); the probe rule is the Lv et al. one the seeded
    * kernel runs — ranks = the 4 smallest |projection| planes, probe j
    * flips the ranked planes at j's set bits — but over INTEGER
    * projections, so the q292 oracle restates ranks, masks and probe
    * buckets verbatim (ties in |projection| break to the lower plane
    * index in both engines). Corpus side stays single-bucket keys: probes
    * multiply the query explode only, never the 100 TB side. */
  def neardupPairsAutoMargin(emb: DataFrame, threshold: Double,
      tables: Int = 12, dim: Int = 64, probes: Int = 16): DataFrame = {
    import graft.functions.LshExpressions.{lshKeysDeterministic, lshKeysDeterministicProbed}
    // single materialization ahead of the five-way fan-out (round-10 ADVICE)
    val embT = graft.ops.Checkpoints.truncate(emb)
    val n = embT.count()
    val p = math.min(20, neardupPlanesFor(n))
    val probe = embT.select(col("vec_id"),
      explode(lshKeysDeterministicProbed(col("embedding"), p, tables, dim,
        probes)).as("bkt"))
    val base = embT.select(col("vec_id"),
      explode(lshKeysDeterministic(col("embedding"), p, tables, dim,
        flips = false)).as("bkt"))
    val rowBytes = dim * 4L + 24L
    val hashHint = n * rowBytes > (8L << 20)
    def h(df: DataFrame): DataFrame = if (hashHint) df.hint("shuffle_hash") else df
    val cand = probe.alias("a").join(h(base.alias("b")),
        col("a.bkt") === col("b.bkt") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .dropDuplicates("v1", "v2")
    val e = embT.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    cand
      .join(h(e.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("nrm").as("n1"))), "v1")
      .join(h(e.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("nrm").as("n2"))), "v2")
      .withColumn("sim", round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 5))
      .filter(col("sim") >= threshold)
      .select(col("v1"), col("v2"), col("sim"))
  }

  /** Deterministic-plane near-dup pairs — the oracle-expressible twin of
    * [[embeddingNearDupPairs]], the same relationship
    * [[lshTopKDeterministic]] has to [[lshTopK]]: plane weights from the
    * public integer formula, projections in exact integer arithmetic over
    * `floor(1e6·x)` quantized embeddings, so the candidate set — and with
    * it the emitted pair set — is bit-identical in ANY engine at ANY
    * corpus size (q50's DuckDB oracle restates the whole operator; the
    * pre-round-8 exact-all-pairs oracle was only valid while measured
    * recall stayed 1.0, which held at sf0.01 and broke at sf0.1).
    *
    * Same asymmetric shape as production: base keys on one side, base +
    * radius-1 flips on the other, (v1 < v2) candidates meet in one packed
    * bucket equi-join carrying only id/bucket longs, embeddings rejoin
    * once on the deduplicated pairs, exact cosine decides. Measured recall
    * vs the exact twin at threshold 0.45: 1.000 at every test scale
    * (sf0.001/0.01/0.1 — the plane-grid simulation of commit 4fec09b;
    * ExtSpec pins a 0.95 floor).
    * planes=6 is deliberately LOOSER than production's auto rule: 0.45
    * cosine is a wide net (a plane splits such a pair with p≈0.35), so
    * radius-1 blind flips need coarse buckets where the production
    * kernel's margin-directed probes can afford tight ones. Fixed default
    * geometry (the oracle is a static string); at production scale this
    * twin's pair volume grows superlinearly — hand the job to
    * [[embeddingNearDupPairs]] (auto-scaled planes, margin probes). */
  def neardupPairsDeterministic(emb: DataFrame, threshold: Double,
      planes: Int = 6, tables: Int = 16, dim: Int = 64): DataFrame = {
    import graft.functions.LshExpressions.lshKeysDeterministic
    val probe = emb.select(col("vec_id"),
      explode(lshKeysDeterministic(col("embedding"), planes, tables, dim,
        flips = true)).as("bkt"))
    val base = emb.select(col("vec_id"),
      explode(lshKeysDeterministic(col("embedding"), planes, tables, dim,
        flips = false)).as("bkt"))
    val cand = probe.alias("a").join(base.alias("b"),
        col("a.bkt") === col("b.bkt") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .dropDuplicates("v1", "v2")
    val e = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    cand
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("nrm").as("n1")), "v1")
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("nrm").as("n2")), "v2")
      .withColumn("sim", round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 5))
      .filter(col("sim") >= threshold)
      .select(col("v1"), col("v2"), col("sim"))
  }
}
