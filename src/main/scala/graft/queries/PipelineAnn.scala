package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, Multimodal, Similarity, TextAnalysis => TA}
import graft.tables.Tables

import PipelineOps._

/** Embedding-space operators: ANN (LSH/IVF/PQ), k-means, label-noise votes, rerank/select, embedding statistics.
  *
  * One shard of [[PipelineOps]] (round-8 mechanical split of the
  * former 8k-line file — zero behavior change; PipelineOps merges the
  * shards and still owns the shared helpers/oracle builders). */
private[queries] object PipelineAnn {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q48_ann_brute" -> ((s, dir) => {
      // Brute-force exact top-3 cosine neighbors for 10 query vectors.
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 3)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "q49_ann_lsh" -> ((s, dir) => {
      // Production default (since round 7): the DETERMINISTIC-plane
      // multi-table LSH kernel — formula-derived integer hyperplanes over
      // floor(1e6·x) quantized embeddings, so candidates, ranks and sims
      // restate verbatim in DuckDB — at k = 5 over the second query decade
      // (a different working set than q103's k = 3 / vec_id < 10 twin).
      // Still LSH only: no brute-force rider in the benched query (an
      // O(|Q|·|corpus|) exact join inside the "approximate" path would BE
      // the cost at any real query volume). The seeded-hyperplane
      // margin-directed kernel (lshTopK) stays the spec-covered alternate
      // with its recall floor in ExtSpec; the driver entry no longer
      // ships it because its buckets are engine-private.
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopKDeterministic(
          emb.filter(col("vec_id") >= 10 && col("vec_id") < 20), emb, k = 5)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "q49b_ann_ivf" -> ((s, dir) => {
      // IVF ANN: nearest-centroid cells + multi-probe + in-cell re-rank.
      // Production plan only, as q49; recall floors + exact-at-full-probe
      // equality live in ExtSpec.
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 3,
          nlist = 16, nprobe = 4)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "q103_ann_lsh_oracle" -> ((s, dir) => {
      // The oracle-expressible LSH-ANN twin of q49: 20 tables × 6
      // formula-derived integer hyperplanes over floor(1e6·x) quantized
      // embeddings, radius-1 multiprobe on the query side only, exact-cosine
      // re-rank. Bucket assignment is exact integer arithmetic → the full
      // operator (candidates, ranks, sims) is restated verbatim in DuckDB —
      // closing the "engine-internal seeded hyperplanes" gap for the LSH
      // operator class. Recall@3 = 0.667 vs brute force at sf0.01 (the
      // production margin-directed kernel's 0.68), asserted in ExtSpec.
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopKDeterministic(emb.filter(col("vec_id") < 10), emb, k = 3)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "q50_embedding_neardup" -> ((s, dir) => {
      // Embedding near-dup pairs via deterministic-plane LSH blocking
      // (public integer formula, radius-1 multiprobe), exact-cosine
      // verified — the oracle restates the ENTIRE operator (buckets,
      // probes, candidates, cosines), so engine and oracle agree
      // bit-for-bit at every verify scale. The pre-round-8 entry used the
      // seeded-hyperplane production kernel with q51's exact oracle — a
      // claim valid only while recall measured 1.0, which broke at sf0.1
      // (one pair at sim 0.456). The margin-directed production kernel
      // (embeddingNearDupPairs, auto-scaled planes) remains the 100 TB
      // path, spec-covered with a recall floor in ExtSpec.
      Similarity.neardupPairsDeterministic(t(s, dir, "embeddings"),
          threshold = 0.45)
        .orderBy(col("v1"), col("v2"))
    }),
    "q51_embedding_neardup_exact" -> ((s, dir) => {
      // Exact all-pairs variant (oracle-checkable): cosine ≥ 0.45.
      // Norms hoisted to the row side — one codegen'd dot per pair.
      // Quadratic BY DESIGN (it is q50's labeled exact twin), but the
      // quadratic is bounded to the first 4000 vectors so the DuckDB
      // restatement stays runnable at any verify scale: at the sf0.01/
      // sf0.1 gates every vec_id is below the cap (identity), while at
      // organic sf1 the unbounded twin costs 200M pairs x 192-element
      // lambdas on the oracle side — hours of DuckDB for no added
      // evidence over the 8M-pair slice (round-9 sf1 gate finding).
      import graft.ext.Vectors.{dot, norm}
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 4000)
      val a = e.select(col("vec_id").as("v1"), col("embedding").as("e1"),
        norm(col("embedding")).as("n1"))
      val b = e.select(col("vec_id").as("v2"), col("embedding").as("e2"),
        norm(col("embedding")).as("n2"))
      a.join(b, col("v1") < col("v2"))
        .withColumn("sim", round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 5))
        .filter(col("sim") >= 0.45)
        .select(col("v1"), col("v2"), col("sim"))
        .orderBy(col("v1"), col("v2"))
    }),
    "q291_neardup_auto" -> ((s, dir) => {
      // The AUTO-SCALED near-dup kernel, graded (round-9 verdict item 1):
      // neardupPlanesFor bucket granularity follows count(*) — floor 8
      // planes at the sf0.01/sf0.1 gates, 12 at organic sf1's ~20k
      // vectors — over the deterministic integer plane source, so the
      // oracle restates the WHOLE operator including the scale rule
      // itself (8·2^p ≥ n in exact integer arithmetic). This puts the
      // round-9 "13.6 s vs the twin's 323 s at sf1" receipt on the
      // scoreboard: q50 stays the fixed-geometry twin, q291 is the
      // production regime (rule-scaled planes + post-broadcast
      // shuffle_hash), hash-compared at every gate.
      Similarity.neardupPairsAuto(t(s, dir, "embeddings"), threshold = 0.45)
        .orderBy(col("v1"), col("v2"))
    }),
    "q292_neardup_margin" -> ((s, dir) => {
      // q291's companion: the production kernel's MARGIN-DIRECTED
      // multiprobe (Lv et al. — flip the lowest-|projection| sign bits,
      // binary-counting over the 4 margin-ranked planes) at the exact
      // production geometry (rule planes × 12 tables × 16 probes), over
      // deterministic integer planes so the oracle restates ranks, flip
      // masks and probe buckets verbatim. With q291 (auto planes,
      // radius-1) this puts EVERY structural feature of
      // embeddingNearDupPairs on the scoreboard: the scale rule, the
      // asymmetric probe/base join, the post-broadcast hash regime, and
      // now the probe rule itself.
      Similarity.neardupPairsAutoMargin(t(s, dir, "embeddings"),
          threshold = 0.45)
        .orderBy(col("v1"), col("v2"))
    }),
    "q52_embedding_stats" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"), round(graft.ext.Vectors.norm(col("embedding")), 6).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), round(graft.functions.Stable.avgD(col("nrm")), 4).as("avg_norm"))
        .orderBy(col("label"))
    }),
    "q62_kmeans_assign" -> ((s, dir) => {
      // Semantic clustering: nearest-centroid assignment (cosine, ties to
      // the lowest centroid id) + per-cluster rollup. Centroids ride as
      // codegen literals — assignment is a shuffle-free map over the corpus.
      Similarity.centroidAssign(t(s, dir, "embeddings"), nlist = 8)
        .groupBy(col("cell")).agg(
          count(lit(1)).as("n"),
          round(graft.functions.Stable.avgD(col("sim")), 4).as("avg_sim"))
        .orderBy(col("cell"))
    }),
    "q114_kmeans" -> ((s, dir) => {
      // Distributed Lloyd k-means (k=8, 2 update rounds) over integer-
      // quantized embeddings — the IVF index-BUILD path q49b's fixed
      // centroids punt on. Exact integer arithmetic end to end (quantize →
      // squared-L2 assign → floor-div centroid update), so the whole
      // iterative fit is restated verbatim in the DuckDB oracle as unrolled
      // rounds. Per round: a literal-centroid map (no shuffle), ONE k-key
      // shuffle whose VecSumAggregator partials are dim-sized, a ≤k-row
      // collect. Assignments derive from the base scan each round — no
      // growing lineage.
      Similarity.kmeansFit(t(s, dir, "embeddings"), k = 8, iters = 2)
        .orderBy(col("vec_id"))
    }),
    "q230_annotator_agreement" -> ((s, dir) => {
      // Cohen's kappa between two deterministic "annotators" (char-band
      // vs token-band labelers — correlated but not identical): the
      // labeled-data QA gate, exact-integer ppm.
      val docs = t(s, dir, "documents")
      val la = when(col("n_chars") < 120, "short")
        .when(col("n_chars") < 200, "mid").otherwise("long")
      val lb = when(TA.tokenCount(col("text")) < 25, "short")
        .when(TA.tokenCount(col("text")) < 40, "mid").otherwise("long")
      graft.ext.Quality.cohenKappa(docs, la, lb)
    }),
    "q240_embedding_spectrum" -> ((s, dir) => {
      // Embedding-geometry audit: variance concentration of the corpus
      // embedding cloud — one covariance aggregation, then d²-bounded
      // integer power iteration on the driver.
      graft.ext.Similarity.spectralProfile(t(s, dir, "embeddings"),
        iters = 3)
    }),
    "q259_sim_histogram" -> ((s, dir) => {
      // Threshold calibration: where does the pair-similarity mass sit?
      // Exact-Jaccard deciles over the q45 pair inventory.
      Dedup.pairSimilarityHistogram(t(s, dir, "documents"), col("doc_id"),
          col("text"), n = 3, minJaccard = 0.1)
        .orderBy(col("sim_decile"))
    }),
    "q262_centroid_shift" -> ((s, dir) => {
      // Embedding drift: per label, squared centroid distance between the
      // two vec_id-parity halves — the encoder/corpus drift tripwire that
      // fires before ANN recall decays.
      graft.ext.Similarity.centroidShift(t(s, dir, "embeddings"),
          col("label").cast("long"), pmod(col("vec_id"), lit(2L)))
        .withColumnRenamed("lab", "label")
        .orderBy(col("label"))
    }),
    "q267_label_noise" -> ((s, dir) => {
      // Label-confusion hotspots: q193's kNN vote over the WHOLE corpus,
      // rolled up to (own_label -> voted_label) pairs where a confident
      // neighborhood (margin >= 60%) disagrees — the re-annotation
      // worklist, prioritized.
      val emb = t(s, dir, "embeddings")
      val idiv = org.apache.spark.sql.graft.Bridge.idiv _
      // Geometry follows the corpus (labelVoteAuto): fixed nlist=16 IVF
      // at gate scale, TRAINED cells at semDedupClustersFor-auto k above
      // 4096 rows — the fixed geometry measured 5x wall at 10x data
      // (candidates grow with cell size) and a bigger nlist is NOT the
      // fix (nlist=100 measured 158 s at 10x, the literal-centroid
      // codegen pathology); the trained path is q271's, measured linear.
      Similarity.labelVoteAuto(emb, k = 5)
        .filter(!col("agree"))
        .withColumn("margin_ppm",
          idiv(col("n_votes") * 1000000L, col("n_neighbors")))
        .filter(col("margin_ppm") >= 600000L)
        .groupBy(col("own_label").cast("long").as("own_label"),
          col("voted_label").cast("long").as("voted_label"))
        .agg(count(lit(1)).as("n_flagged"), sum(col("q_id")).as("checksum"))
        .orderBy(col("own_label"), col("voted_label"))
    }),
    "q271_cell_label_noise" -> ((s, dir) => {
      // q267's scale path made real: label-confusion hotspots via TRAINED
      // cells at semDedupClustersFor-auto k (single-probe blocked kNN) —
      // per-cell work is targetCellSize-bounded, so the audit is linear
      // in the corpus where q267's fixed geometry was 5x at 10x.
      val emb = t(s, dir, "embeddings")
      val idiv = org.apache.spark.sql.graft.Bridge.idiv _
      Similarity.cellKnnLabelVote(emb, k = 5)
        .filter(!col("agree"))
        .withColumn("margin_ppm",
          idiv(col("n_votes") * 1000000L, col("n_neighbors")))
        .filter(col("margin_ppm") >= 600000L)
        .groupBy(col("own_label").cast("long").as("own_label"),
          col("voted_label").cast("long").as("voted_label"))
        .agg(count(lit(1)).as("n_flagged"), sum(col("q_id")).as("checksum"))
        .orderBy(col("own_label"), col("voted_label"))
    }),
    "q280_communities" -> ((s, dir) => {
      // Source-community detection: synchronous LPA (4 rounds, weight-
      // majority labels, min tie-break) over the q156 gram-overlap graph
      // — the mixture-design view that groups sources publishing the same
      // boilerplate before per-source caps treat them as independent.
      val docs = t(s, dir, "documents")
      val g = docs.select(col("source"),
          explode(array_distinct(Dedup.wordNgrams(col("text"), 5))).as("ng"))
        .distinct()
      val shared = g.as("a").join(g.as("b"),
          col("a.ng") === col("b.ng") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
        .agg(count(lit(1)).as("w"))
      val edges = graft.ext.GraphOps.symmetricEdges(
        shared, col("sa"), col("sb"), col("w"))
      graft.ext.GraphOps.labelPropagation(edges, iters = 4)
        .orderBy(col("node"))
    }),
    "q284_source_centroids" -> ((s, dir) => {
      // Semantic source-similarity matrix: cosine between per-label mean
      // embeddings (centroid never divides — cosine is scale-invariant,
      // so the integer SUM vectors are the whole state). The complement
      // of the q139 surface-overlap matrix for mixture design.
      Similarity.groupCentroidSimilarity(t(s, dir, "embeddings"),
          col("label"), col("embedding"))
        .orderBy(col("ga"), col("gb"))
    }),
    "q287_silhouette" -> ((s, dir) => {
      // Clustering-quality audit: simplified silhouette per Lloyd cell
      // (a = integer sq-dist to own centroid, b = to nearest other,
      // s_ppm = (b-a)·1e6 div b). Weak cells (low mean s) are where
      // SemDedup blocking and cell-kNN votes lose precision — the audit
      // that says WHICH cells. All-integer, oracle replays the Lloyd
      // chain and the rank-2 distance pick.
      Similarity.simplifiedSilhouette(t(s, dir, "embeddings"), k = 8, iters = 2)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("s_ppm")).as("sum_s_ppm"),
          min(col("s_ppm")).as("min_s_ppm"), max(col("s_ppm")).as("max_s_ppm"),
          sum(col("vec_id")).as("checksum"))
        .orderBy(col("cell"))
    }),
    "q288_hubness" -> ((s, dir) => {
      // Hubness (k-occurrence) audit: how many cell-blocked top-5 lists
      // each vector appears in. Heavy hubs skew kNN votes/dedup verdicts;
      // occ=0 antihubs are invisible to every neighbor-based operator —
      // the distribution is the embedding-space health check. Blocking,
      // rank rule, tie-breaks, AND the auto-scaled cell count mirror
      // q271's kernel (fixed cells measured 27.5 s at 10x — quadratic).
      Similarity.knnOccurrence(t(s, dir, "embeddings"), k = 5)
        .groupBy(col("occ"))
        .agg(count(lit(1)).as("n_vectors"), sum(col("vec_id")).as("checksum"))
        .orderBy(col("occ"))
    }),
    "q289_mutual_knn" -> ((s, dir) => {
      // Clean-positive mining: reciprocal top-5 pairs within cell-blocked
      // neighbor lists (a in topk(b) AND b in topk(a)) — mutuality filters
      // the hub artifacts q288 measures. Same kernel, rank rule, and
      // auto-k as q271/q288.
      Similarity.mutualKnnPairs(t(s, dir, "embeddings"), k = 5)
        .orderBy(col("v1"), col("v2"))
    }),
    "q290_source_cohesion" -> ((s, dir) => {
      // Label-cohort cohesion: per label, the mean member-to-centroid
      // cosine (sum-vector centroid, exact integer dots in DECIMAL) —
      // diffuse cohorts are mislabel suspects and bad mixture strata.
      // NULL labels are UNLABELED, not a cohort (and Spark/DuckDB order
      // NULL groups differently — excluding them is also the portable
      // spelling).
      val emb = t(s, dir, "embeddings").filter(col("label").isNotNull)
      Similarity.groupCohesion(emb, col("vec_id"), col("label"),
          col("embedding"))
        .groupBy(col("g").cast("long").as("label"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Stable.sumDR(col("cos"), 4).as("sum_cos"),
          round(min(col("cos")), 5).as("min_cos"),
          sum(col("vid")).as("checksum"))
        .orderBy(col("label"))
    }),
    "q216_ann_recall_audit" -> ((s, dir) => {
      // Index QA: per query (vec_id < 10), the rank at which the q49b
      // IVF index (nlist 16, nprobe 4, k 3) surfaces the exact brute
      // top-1 neighbor, with integer reciprocal rank — recall measured,
      // not assumed.
      val emb = t(s, dir, "embeddings")
      Similarity.annRecallAudit(emb.filter(col("vec_id") < 10), emb,
          k = 3, nlist = 16, nprobe = 4)
        .orderBy(col("q_id"))
    }),
    "q206_int8_quantize" -> ((s, dir) => {
      // Per-vector int8 quantization audit: scale, signed-code checksum,
      // and exact reconstruction error (max and total) for every
      // embedding — the 4× storage path, with the error-bound law
      // (max_err <= amax/127) pinned in ExtSpec.
      Similarity.int8QuantizeProfile(t(s, dir, "embeddings"))
        .orderBy(col("vec_id"))
    }),
    "q204_mmr_select" -> ((s, dir) => {
      // MMR diverse top-5 against query vector 0 from a top-30 candidate
      // pool: each pick maximizes 70%·relevance − 30%·max-sim-to-chosen,
      // in exact quantized-integer arithmetic; the oracle unrolls the
      // greedy chain as 5 CTE rounds.
      Similarity.mmrSelect(t(s, dir, "embeddings"), queryId = 0L,
          nCand = 30, k = 5)
        .orderBy(col("rank"))
    }),
    "q193_knn_label_vote" -> ((s, dir) => {
      // Label-noise detection: each of 20 vectors' 5 nearest neighbors
      // (deterministic IVF) vote with their labels; disagreement with the
      // own label flags the row for re-annotation. Votes are an nq·k-sized
      // aggregation on top of q49b's probe join.
      val emb = t(s, dir, "embeddings")
      Similarity.knnLabelVote(emb.filter(col("vec_id") < 20), emb, k = 5)
        .orderBy(col("q_id"))
    }),
    "q184_matryoshka_rerank" -> ((s, dir) => {
      // Two-stage truncated-prefix ANN (the MRL serving shape): candidates
      // by 16-dim prefix cosine (¼ of the dot work and the hot bytes),
      // exact 64-dim re-rank on the top-20 only. Fully deterministic →
      // fully oracle-expressible.
      val emb = t(s, dir, "embeddings")
      Similarity.truncatedRerank(emb.filter(col("vec_id") < 10), emb,
          k = 3, dPrefix = 16, kCand = 20)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "q180_hard_negatives" -> ((s, dir) => {
      // IVF hard-negative mining: per query vector, the top-3 most-similar
      // corpus vectors of a DIFFERENT label within the probed cells — the
      // contrastive-training negatives that are near misses of the wrong
      // class. Deterministic IVF (q49b's construction) + one label
      // predicate, so the full operator is oracle-expressible.
      val emb = t(s, dir, "embeddings")
      Similarity.ivfHardNegatives(emb.filter(col("vec_id") < 10), emb, k = 3)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "q175_hierarchical_cells" -> ((s, dir) => {
      // The unbounded-k cell assignment (the construction semDedup's
      // 65536-cluster cap points at): fine centroids live in a TABLE and
      // reach points through a group-keyed join — broadcast while small,
      // SHUFFLED when huge, so no JVM ever holds all k centroids; points
      // pick a coarse group through the literal kernels, then
      // NearestInFlat argmins inside the group's packed row. IVF-style
      // two-level semantics (nprobe=1), deterministic ties, every step
      // integer — the oracle replays coarse means, coarse argmin, and
      // in-group argmin verbatim.
      Similarity.hierarchicalAssign(t(s, dir, "embeddings"),
          k = 24, cellsPerGroup = 6)
        .groupBy(col("cell")).agg(count(lit(1)).as("n"),
          sum(col("vec_id")).as("checksum"), min(col("dist")).as("min_dist"))
        .orderBy(col("cell"))
    }),
    "q174_per_group_probe" -> ((s, dir) => {
      // One trained model PER LANGUAGE in a single pass: the Gram
      // aggregation shuffles once keyed by lang; the driver solves
      // |langs| tiny systems (bounded by group cardinality, never corpus
      // size). Degenerate groups yield NULL weights instead of failing
      // the fleet. Same exact-integer arithmetic as q172, replayed
      // group-wise by the oracle.
      graft.ext.Regression.fitLinearPpmByGroup(s, t(s, dir, "documents"),
          col("lang"),
          Seq("bias" -> lit(1L),
            "ntok" -> TA.tokenCount(col("text")),
            "stop" -> TA.stopTokenCount(col("text"))),
          col("n_chars"))
        .orderBy(col("grp"))
    }),
    "q173_probe_residual_gate" -> ((s, dir) => {
      // Train → score → gate, fully under the oracle: fit the q172 probe,
      // then flag documents whose n_chars deviates from what their token
      // stats predict (truncated/garbage docs read as large residuals).
      // The weights ride back as literals — scoring is a pure codegen'd
      // projection at scan speed, the fastText serving shape with a
      // corpus-trained model.
      val docs = t(s, dir, "documents")
      val feats = Seq("bias" -> lit(1L),
        "ntok" -> TA.tokenCount(col("text")),
        "stop" -> TA.stopTokenCount(col("text")))
      val w = graft.ext.Regression.fitWeights(s, docs, feats, col("n_chars")).toMap
      val pred = lit(w("bias")) +
        lit(w("ntok")) * TA.tokenCount(col("text")) +
        lit(w("stop")) * TA.stopTokenCount(col("text"))
      docs.select(col("doc_id"),
          (lit(1000000L) * col("n_chars") - pred).as("resid_ppm"))
        .withColumn("keep", abs(col("resid_ppm")) <= lit(20000000L))
        .filter(col("doc_id") < 100)
        .orderBy(col("doc_id"))
    }),
    "q172_linear_probe" -> ((s, dir) => {
      // Supervised probe TRAINING, closed-form: fit n_chars ≈ w₀ + w₁·n_tok
      // + w₂·n_stop over the whole corpus by exact integer normal
      // equations. ONE aggregation pass builds the Gram matrix (d²+d+1
      // numbers to the driver, corpus-size-independent); Cramer solves in
      // BigInt; weights land as truncated ppm — the oracle replays the
      // identical HUGEINT arithmetic, so a TRAINED MODEL sits under the
      // cross-engine gate (the non-iterative sibling of the q114 k-means
      // chain).
      graft.ext.Regression.fitLinearPpm(s, t(s, dir, "documents"),
        Seq("bias" -> lit(1L),
          "ntok" -> TA.tokenCount(col("text")),
          "stop" -> TA.stopTokenCount(col("text"))),
        col("n_chars"))
    }),
    "q118_ann_ivf_trained" -> ((s, dir) => {
      // IVF ANN over TRAINED centroids: lloydCentroids (q114's exact-integer
      // Lloyd rounds) builds the cells, then q49b's probe shape — corpus
      // assigns by a pure map over centroid literals, queries probe their 4
      // closest cells, exact cosine re-ranks probed cells only. Training
      // AND search are restated verbatim in the DuckDB oracle.
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopKTrained(emb.filter(col("vec_id") < 10), emb, k = 3,
          nlist = 16, nprobe = 4, iters = 2)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "q119_contrastive_triplets" -> ((s, dir) => {
      // Contrastive-training triplet assembly: per anchor, positive =
      // nearest neighbor, hard negative = most similar below 0.30 (semi-
      // hard mining). Both picks come from ONE aggregation over the scored
      // pairs (argmax as a struct max), one anchor-keyed shuffle; corpus
      // streams once against broadcast anchors.
      val emb = t(s, dir, "embeddings")
      Similarity.contrastiveTriplets(emb.filter(col("vec_id") < 20), emb,
          negCeiling = 0.30)
        .orderBy(col("q_id"))
    }),
    "q124_embedding_outliers" -> ((s, dir) => {
      // Embedding outlier detection — the noise/corruption filter of an
      // embedding pipeline: fit k-means (q114's exact-integer Lloyd), then
      // flag vectors whose distance to their own centroid is in the cell's
      // top 5% (q123's percentile gate on the integer dist). Per-cell
      // rollup of the flagged set; training + gate restate verbatim in the
      // oracle.
      val fit = Similarity.kmeansFit(t(s, dir, "embeddings"), k = 8, iters = 2)
      Curation.percentileGate(fit, col("cell"), col("dist"), p = 0.95)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_out"),
          min(col("q")).as("min_dist"),
          sum(col("vec_id")).as("checksum"))
        .orderBy(col("cell"))
    }),
    "q125_ann_ivf_index" -> ((s, dir) => {
      // Persisted-index ANN under the gate: the IVF index builds ONCE as
      // tables (tiny centroids parquet + the corpus range-clustered on its
      // cell id), then the search reads centroids, pushes `cell IN
      // (probed)` into the clustered scan (footer-level pruning — no
      // corpus rescan, no shuffle), and re-ranks. Same training and
      // parameters as q118, so its oracle applies verbatim.
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft-q125-ivf")
      val tmp = tmpRoot.toString + "/index"
      try {
        val emb = t(s, dir, "embeddings")
        Similarity.writeIvfIndex(emb, tmp, nlist = 16, iters = 2)
        val out = Similarity.searchIvfIndex(s, tmp,
          emb.filter(col("vec_id") < 10), k = 3, nprobe = 4)
          .orderBy(col("q_id"), col("rnk"))
        materialize(s, out) // bounded (nq*k rows); lets the scratch drop
      } finally {
        graft.tables.Hfs.rmTree(tmpRoot.toFile)
      }
    }),
    "q157_ann_ivfpq" -> ((s, dir) => {
      // IVF+PQ composed index (coarse cells + residual product codes): a
      // query probes nprobe cells, builds one ADC lookup table per probed
      // cell from its own residual, and candidates meet on (cell, j, code)
      // equality — the IVF restriction and PQ lookup in one equi-join;
      // exact cosine re-ranks the survivors. The oracle replays every
      // stage in integer arithmetic.
      Similarity.ivfPqTopK(t(s, dir, "embeddings"), k = 3, nlist = 8,
          nprobe = 4, m = 4, subDim = 16, ksub = 8, iters = 2,
          nq = 10, kCand = 20)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "q155_ann_pq_index" -> ((s, dir) => {
      // PQ index persisted as tables (books + corpus codes), then searched
      // — the build-once/search-many contract: the round-trip must not
      // change a single row vs q148's in-memory computation, so q148's
      // oracle applies verbatim (the q125 pattern for the PQ half).
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft-q155-pq")
      try {
        val emb = t(s, dir, "embeddings")
        Similarity.writePqIndex(emb, tmpRoot.toString)
        materialize(s,
          Similarity.searchPqIndex(s, tmpRoot.toString, emb, k = 3)
            .orderBy(col("q_id"), col("rnk")))
      } finally {
        graft.tables.Hfs.rmTree(tmpRoot.toFile)
      }
    }),
    "q148_ann_pq" -> ((s, dir) => {
      // Product-quantization ANN: per-subspace integer Lloyd codebooks,
      // corpus compressed to m=4 codes, queries score the corpus via a
      // broadcast ADC lookup table (sum of m table lookups, never a full
      // dot product), exact cosine re-ranks the top-20 ADC candidates.
      // Training, codes, ADC order, and re-rank are integer/tie-broken —
      // the oracle replays all four stages.
      Similarity.pqTopK(t(s, dir, "embeddings"), k = 3, m = 4, subDim = 16,
          ksub = 8, iters = 2, nq = 10, kCand = 20)
        .orderBy(col("q_id"), col("rnk"))
    }),
  )

  def oracle: Map[String, String] = Map(
    "q114_kmeans" -> kmeansSql(k = 8, iters = 2, dim = 64),
    "q118_ann_ivf_trained" ->
      ivfTrainedSql(nlist = 16, iters = 2, dim = 64, nprobe = 4, k = 3, nq = 10),
    // identical computation to q118 — the index round-trip must not change
    // a single row
    "q125_ann_ivf_index" ->
      ivfTrainedSql(nlist = 16, iters = 2, dim = 64, nprobe = 4, k = 3, nq = 10),
    // the Lloyd chain + per-cell quantile_cont threshold + gate tail
    "q124_embedding_outliers" ->
      s"""WITH ${kmeansCtes(8, 2, 64)},
         |${kmeansAssign(3, "c2", 64)},
         |cd AS (SELECT vec_id, cell, dist,
         |    cume_dist() OVER (PARTITION BY cell ORDER BY dist) AS cd
         |  FROM a3)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_out,
         |  CAST(min(dist) AS BIGINT) AS min_dist,
         |  CAST(sum(vec_id) AS BIGINT) AS checksum
         |FROM cd WHERE cd >= 0.95
         |GROUP BY cell ORDER BY cell""".stripMargin,
    "q48_ann_brute" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
        |s AS (
        |  SELECT q_id, c_id, round(
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(c_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE))))), 5) AS sim
        |  FROM c, q WHERE q_id != c_id),
        |r AS (SELECT q_id, c_id, sim,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM s)
        |SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    // IVF is deterministic end-to-end (no random hyperplanes): centroids are
    // the 16 lowest-id vectors L2-normalized, corpus cell = argmax centroid
    // dot (first max → lowest cid), query probes = top-4 cells by
    // (score DESC, cid DESC) — Spark's reverse(array_sort(struct)) order —
    // and the re-rank rounds to 5. Every step is the same IEEE op sequence
    // in DuckDB, so the full operator is oracle-expressible.
    "q49b_ann_ivf" ->
      (s"WITH $ivfTopKCtes\n" +
        "SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"),
    "q230_annotator_agreement" ->
      raw"""WITH l AS (
         |  SELECT
         |    CASE WHEN n_chars < 120 THEN 'short'
         |         WHEN n_chars < 200 THEN 'mid' ELSE 'long' END AS a,
         |    CASE WHEN len(string_split_regex(trim(text), '\s+')) < 25 THEN 'short'
         |         WHEN len(string_split_regex(trim(text), '\s+')) < 40 THEN 'mid'
         |         ELSE 'long' END AS b
         |  FROM documents),
         |l2 AS (SELECT coalesce(a, 'null') AS a, coalesce(b, 'null') AS b FROM l),
         |conf AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM l2 GROUP BY a, b),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS n_agree FROM conf),
         |ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS na FROM conf GROUP BY a),
         |mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS nb FROM conf GROUP BY b),
         |pe AS (SELECT coalesce(sum(CAST(na AS HUGEINT) * nb), 0) AS pe_num
         |  FROM ma JOIN mb ON ma.a = mb.b),
         |x AS (SELECT n, n_agree,
         |  CAST((n_agree * 1000000) // n AS BIGINT) AS po_ppm,
         |  CAST((pe_num * 1000000) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm
         |  FROM tot, pe)
         |SELECT n, n_agree, po_ppm, pe_ppm,
         |  CAST(CASE WHEN pe_ppm = 1000000 THEN NULL
         |    WHEN po_ppm >= pe_ppm
         |      THEN ((po_ppm - pe_ppm) * 1000000) // (1000000 - pe_ppm)
         |    ELSE -(((pe_ppm - po_ppm) * 1000000) // (1000000 - pe_ppm))
         |  END AS BIGINT) AS kappa_ppm
         |FROM x""".stripMargin,
    "q240_embedding_spectrum" ->
      ("""WITH qe AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qe),
         |su AS (SELECT ii.i AS j, CAST(sum(qv[ii.i]) AS BIGINT) AS s
         |  FROM qe CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
         |  GROUP BY ii.i),
         |mn AS (SELECT j, CAST((s - ((s % n + n) % n)) / n AS BIGINT) AS m
         |  FROM su, nn),
         |cvl AS (SELECT qe.vec_id, mn.j, qe.qv[mn.j] - mn.m AS c
         |  FROM qe CROSS JOIN mn),
         |cov AS (SELECT a.j AS i, b.j AS j, CAST(sum(a.c * b.c) AS BIGINT) AS cij
         |  FROM cvl a JOIN cvl b USING (vec_id) GROUP BY a.j, b.j),
         |v0 AS (SELECT unnest(generate_series(1, 64)) AS j,
         |  CAST(1000000 AS HUGEINT) AS v),
         |""".stripMargin +
        spectralRoundCtes(3) +
        """,
          |num AS (SELECT sum(a.v * CAST(cij AS HUGEINT) * b.v) AS nm
          |  FROM cov JOIN v3 a ON a.j = cov.i JOIN v3 b ON b.j = cov.j),
          |den AS (SELECT sum(v * v) AS dn FROM v3),
          |tr AS (SELECT CAST(sum(cij) AS BIGINT) AS trace FROM cov WHERE i = j),
          |lam AS (SELECT CAST(nm // dn AS BIGINT) AS lambda_top FROM num, den),
          |pd AS (SELECT CAST(j AS BIGINT) AS principal_dim FROM v3
          |  ORDER BY abs(v) DESC, j LIMIT 1)
          |SELECT nn.n, CAST(64 AS BIGINT) AS dim, tr.trace, lam.lambda_top,
          |  CAST((CAST(lam.lambda_top AS HUGEINT) * 1000000) // tr.trace
          |    AS BIGINT) AS anisotropy_ppm,
          |  pd.principal_dim
          |FROM nn, tr, lam, pd""".stripMargin),
    "q259_sim_histogram" ->
      raw"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
         |  FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id, unnest(
         |    CASE WHEN len(tk) >= 3
         |      THEN list_transform(generate_series(1, len(tk) - 2),
         |             i -> array_to_string(tk[i:i+2], ' '))
         |      ELSE [] END) AS ng
         |  FROM toks),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
         |  FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |j AS (
         |  SELECT d1, d2, round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
         |  FROM inter
         |  JOIN sizes sa ON sa.doc_id = d1
         |  JOIN sizes sb ON sb.doc_id = d2)
         |SELECT CAST(floor(jaccard * 10) AS BIGINT) AS sim_decile,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(d1 + d2) AS BIGINT) AS checksum
         |FROM j WHERE jaccard >= 0.1
         |GROUP BY sim_decile ORDER BY sim_decile""".stripMargin,
    "q262_centroid_shift" ->
      """WITH qe AS (
        |  SELECT CAST(label AS BIGINT) AS lab, vec_id % 2 AS h,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |su AS (SELECT lab, h, ii.i AS pos, CAST(sum(qv[ii.i]) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM qe CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY lab, h, ii.i),
        |mn AS (SELECT lab, h, pos,
        |  CAST((s - ((s % cnt + cnt) % cnt)) / cnt AS BIGINT) AS m, cnt
        |  FROM su)
        |SELECT a.lab AS label, CAST(min(a.cnt) AS BIGINT) AS n_a,
        |  CAST(min(b.cnt) AS BIGINT) AS n_b,
        |  CAST(sum((a.m - b.m) * (a.m - b.m)) AS BIGINT) AS shift_sq
        |FROM mn a JOIN mn b ON a.lab = b.lab AND a.pos = b.pos
        |  AND a.h = 0 AND b.h = 1
        |GROUP BY a.lab ORDER BY label""".stripMargin,
    // labelVoteAuto SWITCHES geometry on corpus size (fixed-16 IVF at or
    // below 4096 rows, trained semDedupK cells above — Similarity.scala),
    // so the static oracle restates BOTH branches and gates each on the
    // same count the engine reads: the round-8 fixed-16-only restatement
    // was right at sf0.01/sf0.1 and silently wrong at organic sf1's 20k
    // vectors (found by the round-9 sf1 gate: 21 flagged vs the fixed
    // geometry's 19). Branch B is q271's trained-chain restatement with
    // its kmeans CTEs name-prefixed to avoid colliding with branch A's.
    "q267_label_noise" ->
      (s"WITH ${knnVoteCtes("")},\n" +
        """finA AS (SELECT c1.q_id, eo.label AS own_label, c1.voted_label,
          |    c1.n_votes, tot.n_neighbors
          |  FROM c1 JOIN tot USING (q_id)
          |    JOIN embeddings eo ON eo.vec_id = c1.q_id),
          |flA AS (SELECT *, (n_votes * 1000000) // n_neighbors AS margin_ppm
          |  FROM finA WHERE own_label IS DISTINCT FROM voted_label),
          |aggA AS (SELECT CAST(own_label AS BIGINT) AS own_label,
          |  CAST(voted_label AS BIGINT) AS voted_label,
          |  CAST(count(*) AS BIGINT) AS n_flagged,
          |  CAST(sum(q_id) AS BIGINT) AS checksum
          |FROM flA WHERE margin_ppm >= 600000
          |GROUP BY own_label, voted_label),
          |""".stripMargin +
        prefixCtes(s"${kmeansCtesE(semDedupK, 2, 64)},\n${kmeansAssign(3, "c2", 64)}",
          "kb") + ",\n" +
        """wcB AS (SELECT kba3.vec_id, kba3.cell, e.label
          |  FROM kba3 JOIN embeddings e USING (vec_id)),
          |simsB AS (SELECT x.vec_id AS q_id, y.vec_id AS c_id,
          |    x.label AS own_label, y.label AS c_label,
          |    round(list_sum(list_transform(generate_series(1, 64),
          |      i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE)))
          |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
          |         i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(eq.embedding[i] AS DOUBLE))))
          |     * sqrt(list_sum(list_transform(generate_series(1, 64),
          |         i -> CAST(ec.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE))))), 5)
          |      AS sim
          |  FROM wcB x JOIN wcB y ON x.cell = y.cell AND x.vec_id != y.vec_id
          |    JOIN embeddings eq ON eq.vec_id = x.vec_id
          |    JOIN embeddings ec ON ec.vec_id = y.vec_id),
          |nnB AS (SELECT * FROM (SELECT q_id, c_id, own_label, c_label, sim,
          |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
          |      AS rnk FROM simsB) t
          |  WHERE rnk <= 5 AND c_label IS NOT NULL),
          |vB AS (SELECT q_id, own_label, c_label,
          |    CAST(count(*) AS BIGINT) AS n_votes
          |  FROM nnB GROUP BY q_id, own_label, c_label),
          |totB AS (SELECT q_id, CAST(sum(n_votes) AS BIGINT) AS n_neighbors
          |  FROM vB GROUP BY q_id),
          |consB AS (SELECT q_id, own_label, c_label AS voted_label, n_votes
          |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
          |    ORDER BY n_votes DESC, c_label) AS vrnk FROM vB) t
          |  WHERE vrnk = 1),
          |flB AS (SELECT consB.q_id, own_label, voted_label, n_votes,
          |    (n_votes * 1000000) // totB.n_neighbors AS margin_ppm
          |  FROM consB JOIN totB USING (q_id)
          |  WHERE own_label IS DISTINCT FROM voted_label),
          |aggB AS (SELECT CAST(own_label AS BIGINT) AS own_label,
          |  CAST(voted_label AS BIGINT) AS voted_label,
          |  CAST(count(*) AS BIGINT) AS n_flagged,
          |  CAST(sum(q_id) AS BIGINT) AS checksum
          |FROM flB WHERE margin_ppm >= 600000
          |GROUP BY own_label, voted_label)
          |SELECT * FROM aggA
          |WHERE (SELECT count(*) FROM embeddings) <= 4096
          |UNION ALL
          |SELECT * FROM aggB
          |WHERE (SELECT count(*) FROM embeddings) > 4096
          |ORDER BY own_label, voted_label""".stripMargin),
    "q284_source_centroids" ->
      """WITH q AS (SELECT label AS g, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |s AS (SELECT g, dd.i AS d, CAST(sum(qv[dd.i]) AS BIGINT) AS sv
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dd
        |  GROUP BY g, dd.i),
        |p AS (SELECT a.g AS ga, b.g AS gb,
        |    sum(CAST(a.sv AS HUGEINT) * b.sv) AS dot
        |  FROM s a JOIN s b ON a.d = b.d AND a.g <= b.g GROUP BY 1, 2),
        |nrm AS (SELECT ga AS g, dot AS nsq FROM p WHERE ga = gb)
        |SELECT p.ga, p.gb, round(CAST(p.dot AS DOUBLE)
        |    / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))),
        |  5) AS cos
        |FROM p JOIN nrm na ON na.g = p.ga JOIN nrm nb ON nb.g = p.gb
        |WHERE p.ga != p.gb ORDER BY p.ga, p.gb""".stripMargin,
    // Simplified silhouette: the Lloyd chain's d3 CTE already holds every
    // (vector, cell) distance — rank 1 is the own-centroid distance (and
    // the cell), rank 2 the nearest other; s rides HUGEINT, q225's rule.
    "q287_silhouette" ->
      (s"WITH ${kmeansCtes(8, 2, 64)},\n${kmeansAssign(3, "c2", 64)},\n" +
        """r AS (SELECT vec_id, cell, dist, row_number() OVER (
          |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d3),
          |sv AS (SELECT a.vec_id, a.cell, a.dist AS a, b.dist AS b
          |  FROM r a JOIN r b USING (vec_id) WHERE a.rn = 1 AND b.rn = 2),
          |s AS (SELECT vec_id, cell,
          |    CAST((CAST(b - a AS HUGEINT) * 1000000) // greatest(b, 1)
          |      AS BIGINT) AS s_ppm
          |  FROM sv)
          |SELECT cell, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(s_ppm) AS BIGINT) AS sum_s_ppm,
          |  CAST(min(s_ppm) AS BIGINT) AS min_s_ppm,
          |  CAST(max(s_ppm) AS BIGINT) AS max_s_ppm,
          |  CAST(sum(vec_id) AS BIGINT) AS checksum
          |FROM s GROUP BY cell ORDER BY cell""".stripMargin),
    // Hubness: q271's cell-blocked kNN kernel minus labels; LEFT join back
    // to the corpus makes occ=0 antihubs first-class rows.
    "q288_hubness" ->
      (s"WITH ${kmeansCtesE(semDedupK, 2, 64)},\n${kmeansAssign(3, "c2", 64)},\n" +
        """wc AS (SELECT vec_id, cell FROM a3),
          |sims AS (SELECT x.vec_id AS q_id, y.vec_id AS c_id,
          |    round(list_sum(list_transform(generate_series(1, 64),
          |      i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE)))
          |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
          |         i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(eq.embedding[i] AS DOUBLE))))
          |     * sqrt(list_sum(list_transform(generate_series(1, 64),
          |         i -> CAST(ec.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE))))), 5)
          |      AS sim
          |  FROM wc x JOIN wc y ON x.cell = y.cell AND x.vec_id != y.vec_id
          |    JOIN embeddings eq ON eq.vec_id = x.vec_id
          |    JOIN embeddings ec ON ec.vec_id = y.vec_id),
          |nn AS (SELECT c_id FROM (SELECT q_id, c_id,
          |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
          |      AS rnk FROM sims) t
          |  WHERE rnk <= 5),
          |occ AS (SELECT e.vec_id, CAST(count(nn.c_id) AS BIGINT) AS occ
          |  FROM embeddings e LEFT JOIN nn ON nn.c_id = e.vec_id
          |  GROUP BY e.vec_id)
          |SELECT occ, CAST(count(*) AS BIGINT) AS n_vectors,
          |  CAST(sum(vec_id) AS BIGINT) AS checksum
          |FROM occ GROUP BY occ ORDER BY occ""".stripMargin),
    // Mutual kNN: q288's list CTEs + one reciprocal self-join.
    "q289_mutual_knn" ->
      (s"WITH ${kmeansCtesE(semDedupK, 2, 64)},\n${kmeansAssign(3, "c2", 64)},\n" +
        """wc AS (SELECT vec_id, cell FROM a3),
          |sims AS (SELECT x.vec_id AS q_id, y.vec_id AS c_id,
          |    round(list_sum(list_transform(generate_series(1, 64),
          |      i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE)))
          |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
          |         i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(eq.embedding[i] AS DOUBLE))))
          |     * sqrt(list_sum(list_transform(generate_series(1, 64),
          |         i -> CAST(ec.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE))))), 5)
          |      AS sim
          |  FROM wc x JOIN wc y ON x.cell = y.cell AND x.vec_id != y.vec_id
          |    JOIN embeddings eq ON eq.vec_id = x.vec_id
          |    JOIN embeddings ec ON ec.vec_id = y.vec_id),
          |nn AS (SELECT q_id, c_id, sim FROM (SELECT q_id, c_id, sim,
          |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
          |      AS rnk FROM sims) t
          |  WHERE rnk <= 5)
          |SELECT x.q_id AS v1, x.c_id AS v2, x.sim AS sim
          |FROM nn x JOIN nn y ON x.q_id = y.c_id AND x.c_id = y.q_id
          |WHERE x.q_id < x.c_id ORDER BY v1, v2""".stripMargin),
    // Cohesion: q284's (group, dim) sum CTE, dots joined back per member.
    "q290_source_cohesion" ->
      """WITH q AS (SELECT vec_id AS vid, label AS g, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE label IS NOT NULL),
        |ex AS (SELECT vid, g, dd.i AS d, qv[dd.i] AS v
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dd),
        |s AS (SELECT g, d, CAST(sum(v) AS BIGINT) AS sv FROM ex GROUP BY g, d),
        |dots AS (SELECT ex.g, ex.vid,
        |    sum(CAST(ex.v AS HUGEINT) * s.sv) AS dot,
        |    sum(CAST(ex.v AS HUGEINT) * ex.v) AS vsq
        |  FROM ex JOIN s ON s.g = ex.g AND s.d = ex.d GROUP BY ex.g, ex.vid),
        |gn AS (SELECT g, sum(CAST(sv AS HUGEINT) * sv) AS nsq FROM s GROUP BY g),
        |c AS (SELECT dots.g, dots.vid,
        |    round(CAST(dot AS DOUBLE)
        |      / (sqrt(CAST(vsq AS DOUBLE)) * sqrt(CAST(nsq AS DOUBLE))), 5) AS cos
        |  FROM dots JOIN gn ON gn.g = dots.g)
        |SELECT CAST(g AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(cos AS DECIMAL(30,10))), 4) AS DOUBLE) AS sum_cos,
        |  round(min(cos), 5) AS min_cos,
        |  CAST(sum(vid) AS BIGINT) AS checksum
        |FROM c GROUP BY g ORDER BY label""".stripMargin,
    "q271_cell_label_noise" ->
      (s"WITH ${kmeansCtesE(semDedupK, 2, 64)},\n${kmeansAssign(3, "c2", 64)},\n" +
        """lab AS (SELECT vec_id, label FROM embeddings),
          |wc AS (SELECT a3.vec_id, a3.cell, l.label
          |  FROM a3 JOIN lab l USING (vec_id)),
          |sims AS (SELECT x.vec_id AS q_id, y.vec_id AS c_id,
          |    x.label AS own_label, y.label AS c_label,
          |    round(list_sum(list_transform(generate_series(1, 64),
          |      i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE)))
          |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
          |         i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(eq.embedding[i] AS DOUBLE))))
          |     * sqrt(list_sum(list_transform(generate_series(1, 64),
          |         i -> CAST(ec.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE))))), 5)
          |      AS sim
          |  FROM wc x JOIN wc y ON x.cell = y.cell AND x.vec_id != y.vec_id
          |    JOIN embeddings eq ON eq.vec_id = x.vec_id
          |    JOIN embeddings ec ON ec.vec_id = y.vec_id),
          |nn AS (SELECT * FROM (SELECT q_id, c_id, own_label, c_label, sim,
          |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
          |      AS rnk FROM sims) t
          |  WHERE rnk <= 5 AND c_label IS NOT NULL),
          |v AS (SELECT q_id, own_label, c_label,
          |    CAST(count(*) AS BIGINT) AS n_votes
          |  FROM nn GROUP BY q_id, own_label, c_label),
          |tot AS (SELECT q_id, CAST(sum(n_votes) AS BIGINT) AS n_neighbors
          |  FROM v GROUP BY q_id),
          |cons AS (SELECT q_id, own_label, c_label AS voted_label, n_votes
          |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
          |    ORDER BY n_votes DESC, c_label) AS vrnk FROM v) t
          |  WHERE vrnk = 1),
          |fl AS (SELECT cons.q_id, own_label, voted_label, n_votes,
          |    (n_votes * 1000000) // tot.n_neighbors AS margin_ppm
          |  FROM cons JOIN tot USING (q_id)
          |  WHERE own_label != voted_label)
          |SELECT CAST(own_label AS BIGINT) AS own_label,
          |  CAST(voted_label AS BIGINT) AS voted_label,
          |  CAST(count(*) AS BIGINT) AS n_flagged,
          |  CAST(sum(q_id) AS BIGINT) AS checksum
          |FROM fl WHERE margin_ppm >= 600000
          |GROUP BY own_label, voted_label
          |ORDER BY own_label, voted_label""".stripMargin),
    "q216_ann_recall_audit" ->
      (s"WITH $ivfTopKCtes,\n" +
        """ivf AS (SELECT q_id, c_id, rnk FROM r WHERE rnk <= 3),
          |bs AS (
          |  SELECT q.vec_id AS q_id, c2.vec_id AS c_id, round(
          |    list_sum(list_transform(generate_series(1, 64),
          |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE)))
          |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
          |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
          |     * sqrt(list_sum(list_transform(generate_series(1, 64),
          |         i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE))))), 5) AS sim
          |  FROM embeddings q, embeddings c2
          |  WHERE q.vec_id < 10 AND c2.vec_id != q.vec_id),
          |gold AS (
          |  SELECT q_id, c_id AS gold_id FROM (
          |    SELECT q_id, c_id, row_number() OVER (
          |      PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn FROM bs)
          |  WHERE rn = 1)
          |SELECT g.q_id, g.gold_id,
          |  CAST(coalesce(min(i.rnk), 0) AS BIGINT) AS found_rank,
          |  CAST(CASE WHEN min(i.rnk) IS NULL THEN 0
          |       ELSE 1000000 // min(i.rnk) END AS BIGINT) AS mrr_ppm
          |FROM gold g LEFT JOIN ivf i ON i.q_id = g.q_id AND i.c_id = g.gold_id
          |GROUP BY g.q_id, g.gold_id ORDER BY g.q_id""".stripMargin),
    // q49 = the deterministic LSH-ANN restatement (q103's CTEs) at k = 5
    // over the second query decade.
    "q49_ann_lsh" ->
      """WITH qe AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |bt AS (
        |  SELECT vec_id, tt.t AS t,
        |    CAST(list_sum(list_transform(generate_series(0, 5), p ->
        |      CASE WHEN list_sum(list_transform(generate_series(1, 64),
        |        i -> qv[i] * (((((tt.t * 6 + p) * 64 + i - 1) * 2654435761) % 131071)
        |          * ((((tt.t * 6 + p) * 64 + i - 1) * 2654435761) % 131071) % 131071 - 65535))) > 0
        |      THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM qe CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS t) tt),
        |ckeys AS (SELECT vec_id AS c_id, (t << 20) | bucket AS bkt FROM bt),
        |qkeys AS (
        |  SELECT vec_id AS q_id, (t << 20) | bucket AS bkt FROM bt
        |  WHERE vec_id >= 10 AND vec_id < 20
        |  UNION
        |  SELECT vec_id, (t << 20) | xor(bucket, CAST(1 AS BIGINT) << p)
        |  FROM bt CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS p) pp
        |  WHERE vec_id >= 10 AND vec_id < 20),
        |cand AS (
        |  SELECT DISTINCT q_id, c_id FROM qkeys JOIN ckeys USING (bkt)
        |  WHERE c_id != q_id),
        |s AS (
        |  SELECT q_id, c_id, round(
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE))))), 5) AS sim
        |  FROM cand JOIN embeddings q ON q.vec_id = cand.q_id
        |            JOIN embeddings c2 ON c2.vec_id = cand.c_id),
        |r AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM s)
        |SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // Full restatement of the deterministic LSH-ANN twin: integer plane
    // weights from the public formula, exact integer projections over
    // quantized embeddings, packed (table << 20) | bucket keys, radius-1
    // probes, q48's cosine/rank tail.
    "q103_ann_lsh_oracle" ->
      """WITH qe AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |bt AS (
        |  SELECT vec_id, tt.t AS t,
        |    CAST(list_sum(list_transform(generate_series(0, 5), p ->
        |      CASE WHEN list_sum(list_transform(generate_series(1, 64),
        |        i -> qv[i] * (((((tt.t * 6 + p) * 64 + i - 1) * 2654435761) % 131071)
        |          * ((((tt.t * 6 + p) * 64 + i - 1) * 2654435761) % 131071) % 131071 - 65535))) > 0
        |      THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM qe CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS t) tt),
        |ckeys AS (SELECT vec_id AS c_id, (t << 20) | bucket AS bkt FROM bt),
        |qkeys AS (
        |  SELECT vec_id AS q_id, (t << 20) | bucket AS bkt FROM bt WHERE vec_id < 10
        |  UNION
        |  SELECT vec_id, (t << 20) | xor(bucket, CAST(1 AS BIGINT) << p)
        |  FROM bt CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS p) pp
        |  WHERE vec_id < 10),
        |cand AS (
        |  SELECT DISTINCT q_id, c_id FROM qkeys JOIN ckeys USING (bkt)
        |  WHERE c_id != q_id),
        |s AS (
        |  SELECT q_id, c_id, round(
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE))))), 5) AS sim
        |  FROM cand JOIN embeddings q ON q.vec_id = cand.q_id
        |            JOIN embeddings c2 ON c2.vec_id = cand.c_id),
        |r AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM s)
        |SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    // Full restatement of the deterministic near-dup twin (q49's pattern
    // at planes=6/tables=16): integer plane weights from the public
    // squared-mix formula, exact integer projections over quantized embeddings,
    // packed (table << 20) | bucket keys, base keys vs base+radius-1
    // probes with v1 < v2, exact-cosine verify — the oracle computes the
    // same candidate set the engine does, at any corpus size.
    "q50_embedding_neardup" ->
      """WITH qe AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |bt AS (
        |  SELECT vec_id, tt.t AS t,
        |    CAST(list_sum(list_transform(generate_series(0, 5), p ->
        |      CASE WHEN list_sum(list_transform(generate_series(1, 64),
        |        i -> qv[i] * (((((tt.t * 6 + p) * 64 + i - 1) * 2654435761) % 131071)
        |          * ((((tt.t * 6 + p) * 64 + i - 1) * 2654435761) % 131071) % 131071 - 65535))) > 0
        |      THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM qe CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS t) tt),
        |base AS (SELECT vec_id, (t << 20) | bucket AS bkt FROM bt),
        |probe AS (
        |  SELECT vec_id, bkt FROM base
        |  UNION
        |  SELECT vec_id, (t << 20) | xor(bucket, CAST(1 AS BIGINT) << p)
        |  FROM bt CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS p) pp),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
        |  FROM probe a JOIN base b USING (bkt) WHERE a.vec_id < b.vec_id),
        |s AS (
        |  SELECT v1, v2, round(
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE))))), 5) AS sim
        |  FROM cand JOIN embeddings q ON q.vec_id = cand.v1
        |            JOIN embeddings c2 ON c2.vec_id = cand.v2)
        |SELECT v1, v2, sim FROM s WHERE sim >= 0.45 ORDER BY v1, v2""".stripMargin,
    "q51_embedding_neardup_exact" ->
      """WITH a AS (SELECT vec_id AS v1, embedding AS e1 FROM embeddings WHERE vec_id < 4000),
        |b AS (SELECT vec_id AS v2, embedding AS e2 FROM embeddings WHERE vec_id < 4000),
        |s AS (
        |  SELECT v1, v2, round(
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(e1[i] AS DOUBLE) * CAST(e2[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(e1[i] AS DOUBLE) * CAST(e1[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(e2[i] AS DOUBLE) * CAST(e2[i] AS DOUBLE))))), 5) AS sim
        |  FROM a JOIN b ON v1 < v2)
        |SELECT v1, v2, sim FROM s WHERE sim >= 0.45 ORDER BY v1, v2""".stripMargin,
    // q50's full-kernel restatement with the plane COUNT itself computed
    // from count(*) — pl restates neardupPlanesFor in exact integer
    // arithmetic (p = #{q : 8·2^q < n}, clamped to [8, 20]), and every
    // downstream generate_series runs to pl.p, so engine and oracle agree
    // on the geometry at EVERY corpus size, not just the gate's. The
    // column-dependent flip explode uses unnest-in-SELECT (DuckDB expands
    // rows); weights are the same squared-mix integers at flat index
    // (t·p + pp)·64 + i − 1.
    "q291_neardup_auto" ->
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |pl AS (SELECT least(20, greatest(8,
        |    CAST(list_sum(list_transform(generate_series(0, 56),
        |      q -> CASE WHEN (CAST(8 AS BIGINT) << q) < nn.n THEN 1 ELSE 0 END))
        |      AS BIGINT))) AS p FROM nn),
        |qe AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |bt AS (
        |  SELECT vec_id, tt.t AS t, pl.p AS p,
        |    CAST(list_sum(list_transform(generate_series(0, pl.p - 1), pp ->
        |      CASE WHEN list_sum(list_transform(generate_series(1, 64),
        |        i -> qv[i] * ((((((tt.t * pl.p + pp) * 64 + i - 1) * 2654435761) % 131071)
        |          * ((((tt.t * pl.p + pp) * 64 + i - 1) * 2654435761) % 131071)) % 131071 - 65535)))
        |        > 0
        |      THEN (CAST(1 AS BIGINT) << pp) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM qe CROSS JOIN pl CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS t) tt),
        |base AS (SELECT vec_id, (t << 20) | bucket AS bkt FROM bt),
        |probe AS (
        |  SELECT vec_id, bkt FROM base
        |  UNION
        |  SELECT vec_id, (t << 20) | xor(bucket, CAST(1 AS BIGINT) << pp) AS bkt
        |  FROM (SELECT vec_id, t, bucket,
        |      unnest(generate_series(0, p - 1)) AS pp FROM bt) fl),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
        |  FROM probe a JOIN base b USING (bkt) WHERE a.vec_id < b.vec_id),
        |s AS (
        |  SELECT v1, v2, round(
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE))))), 5) AS sim
        |  FROM cand JOIN embeddings q ON q.vec_id = cand.v1
        |            JOIN embeddings c2 ON c2.vec_id = cand.v2)
        |SELECT v1, v2, sim FROM s WHERE sim >= 0.45 ORDER BY v1, v2""".stripMargin,
    // q291's oracle extended with the margin-probe rule: pt carries the
    // SIGNED projection list; ranks = the 4 plane indices ordered by
    // (|proj|, plane) ascending (struct list_sort = the engine's
    // tie-break); probe j's mask sums the ranked single bits at j's set
    // bits (distinct planes → bit sum = XOR); 12 tables, 16 probes —
    // the exact production geometry.
    "q292_neardup_margin" ->
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |pl AS (SELECT least(20, greatest(8,
        |    CAST(list_sum(list_transform(generate_series(0, 56),
        |      q -> CASE WHEN (CAST(8 AS BIGINT) << q) < nn.n THEN 1 ELSE 0 END))
        |      AS BIGINT))) AS p FROM nn),
        |qe AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |pt AS (
        |  SELECT vec_id, tt.t AS t, pl.p AS p,
        |    list_transform(generate_series(0, pl.p - 1), pp ->
        |      CAST(list_sum(list_transform(generate_series(1, 64),
        |        i -> qv[i] * ((((((tt.t * pl.p + pp) * 64 + i - 1) * 2654435761) % 131071)
        |          * ((((tt.t * pl.p + pp) * 64 + i - 1) * 2654435761) % 131071)) % 131071 - 65535)))
        |        AS BIGINT)) AS proj
        |  FROM qe CROSS JOIN pl CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS t) tt),
        |bt AS (
        |  SELECT vec_id, t, p,
        |    CAST(list_sum(list_transform(generate_series(0, p - 1), pp ->
        |      CASE WHEN proj[pp + 1] > 0 THEN (CAST(1 AS BIGINT) << pp)
        |           ELSE 0 END)) AS BIGINT) AS bucket,
        |    list_transform(list_sort(list_transform(generate_series(0, p - 1), pp ->
        |      {'a': abs(proj[pp + 1]), 'pp': pp})), x -> x.pp)[1:4] AS rnk
        |  FROM pt),
        |base AS (SELECT vec_id, (t << 20) | bucket AS bkt FROM bt),
        |probe AS (
        |  SELECT DISTINCT vec_id, (t << 20) | xor(bucket,
        |      ((jj.j >> 0) & 1) * (CAST(1 AS BIGINT) << rnk[1])
        |    + ((jj.j >> 1) & 1) * (CAST(1 AS BIGINT) << rnk[2])
        |    + ((jj.j >> 2) & 1) * (CAST(1 AS BIGINT) << rnk[3])
        |    + ((jj.j >> 3) & 1) * (CAST(1 AS BIGINT) << rnk[4])) AS bkt
        |  FROM bt CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) jj),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
        |  FROM probe a JOIN base b USING (bkt) WHERE a.vec_id < b.vec_id),
        |s AS (
        |  SELECT v1, v2, round(
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE))))), 5) AS sim
        |  FROM cand JOIN embeddings q ON q.vec_id = cand.v1
        |            JOIN embeddings c2 ON c2.vec_id = cand.v2)
        |SELECT v1, v2, sim FROM s WHERE sim >= 0.45 ORDER BY v1, v2""".stripMargin,
    "q52_embedding_stats" ->
      """SELECT label, count(*) AS n,
        |  round(CAST(sum(CAST(nrm AS DECIMAL(30,10))) AS DOUBLE) / count(nrm), 4) AS avg_norm
        |FROM (SELECT label,
        |  round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS nrm
        |  FROM embeddings) t
        |GROUP BY label ORDER BY label""".stripMargin,
    "q62_kmeans_assign" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 8),
        |v AS (SELECT vec_id, embedding AS vemb FROM embeddings),
        |s AS (
        |  SELECT vec_id, cid, round(
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(vemb[i] AS DOUBLE) * CAST(cemb[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(vemb[i] AS DOUBLE) * CAST(vemb[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(cemb[i] AS DOUBLE) * CAST(cemb[i] AS DOUBLE))))), 5) AS sim
        |  FROM v, c),
        |a AS (SELECT vec_id, cid, sim, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s)
        |SELECT CAST(cid AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(sim AS DECIMAL(30,10))) AS DOUBLE) / count(sim), 4) AS avg_sim
        |FROM a WHERE rn = 1 GROUP BY cid ORDER BY cell""".stripMargin,
    "q206_int8_quantize" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |a AS (
        |  SELECT vec_id, qv,
        |    CAST(list_max(list_transform(qv, x -> abs(x))) AS BIGINT) AS amax,
        |    CAST(greatest(list_max(list_transform(qv, x -> abs(x))), 1) AS BIGINT) AS d
        |  FROM q)
        |SELECT vec_id, amax,
        |  CAST(list_sum(list_transform(qv, x -> CASE WHEN x < 0
        |    THEN -((127 * abs(x)) // d) ELSE (127 * abs(x)) // d END)) AS BIGINT) AS code_sum,
        |  CAST(list_max(list_transform(qv, x ->
        |    abs(x) - ((((127 * abs(x)) // d) * d) // 127))) AS BIGINT) AS max_err,
        |  CAST(list_sum(list_transform(qv, x ->
        |    abs(x) - ((((127 * abs(x)) // d) * d) // 127))) AS BIGINT) AS sum_err
        |FROM a ORDER BY vec_id""".stripMargin,
    "q204_mmr_select" -> mmrSql(queryId = 0L, nCand = 30, k = 5),
    // q49b's deterministic IVF at k=5 feeding a per-query label vote —
    // the argmax tie rule (most votes, then lowest label) restated.
    "q193_knn_label_vote" ->
      (s"WITH ${knnVoteCtes("WHERE vec_id < 20")}\n" +
        """SELECT c1.q_id, eo.label AS own_label, c1.voted_label, c1.n_votes,
          |  tot.n_neighbors, eo.label = c1.voted_label AS agree
          |FROM c1 JOIN tot USING (q_id) JOIN embeddings eo ON eo.vec_id = c1.q_id
          |ORDER BY c1.q_id""".stripMargin),
    "q184_matryoshka_rerank" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
        |p AS (
        |  SELECT q_id, c_id, q_emb, c_emb, round(
        |    list_sum(list_transform(generate_series(1, 16),
        |      i -> CAST(q_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 16),
        |         i -> CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 16),
        |         i -> CAST(c_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE))))), 5) AS psim
        |  FROM c, q WHERE q_id != c_id),
        |cand AS (SELECT q_id, c_id, q_emb, c_emb FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY psim DESC, c_id) AS prnk
        |  FROM p) t WHERE prnk <= 20),
        |s AS (
        |  SELECT q_id, c_id, round(
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(c_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE))))), 5) AS sim
        |  FROM cand),
        |r AS (SELECT q_id, c_id, sim,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    // q49b's deterministic IVF restatement with the label-exclusion
    // predicate on the probed candidates — hard negatives are fully
    // oracle-expressible because every IVF step already was.
    "q180_hard_negatives" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |      sqrt(list_sum(list_transform(embedding,
        |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS cemb
        |  FROM embeddings WHERE vec_id < 16),
        |scores AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * c.cemb[i])) AS score
        |  FROM embeddings e, cents c),
        |cells AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
        |    FROM scores) t WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS q_id, cid AS cell FROM (
        |    SELECT vec_id, cid, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY score DESC, cid DESC) AS rn
        |    FROM scores WHERE vec_id < 10) t WHERE rn <= 4),
        |cand AS (
        |  SELECT p.q_id, c.vec_id AS c_id
        |  FROM probes p JOIN cells c USING (cell)
        |  WHERE c.vec_id != p.q_id),
        |s AS (
        |  SELECT q_id, q.label AS q_label, c_id, c2.label AS c_label, round(
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(c2.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE))))), 5) AS sim
        |  FROM cand JOIN embeddings q ON q.vec_id = cand.q_id
        |            JOIN embeddings c2 ON c2.vec_id = cand.c_id
        |  WHERE q.label != c2.label),
        |r AS (SELECT q_id, q_label, c_id, c_label, sim, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM s)
        |SELECT q_id, q_label, c_id, c_label, sim, rnk FROM r
        |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "q175_hierarchical_cells" ->
      """WITH qe AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS cell, qv AS cv, vec_id // 6 AS grp
        |       FROM qe WHERE vec_id < 24),
        |cs AS (
        |  SELECT grp, ii.i AS pos, sum(cv[ii.i]) AS s, count(*) AS cnt
        |  FROM c0 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY grp, ii.i),
        |cm AS (SELECT grp,
        |    list(CAST((s - ((s % cnt + cnt) % cnt)) / cnt AS BIGINT) ORDER BY pos) AS mv
        |  FROM cs GROUP BY grp),
        |dg AS (
        |  SELECT q.vec_id, q.qv, m.grp,
        |    CAST(list_sum(list_transform(generate_series(1, 64),
        |      i -> (q.qv[i] - m.mv[i]) * (q.qv[i] - m.mv[i]))) AS BIGINT) AS dist
        |  FROM qe q CROSS JOIN cm m),
        |ag AS (SELECT vec_id, qv, grp FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, grp) AS rn
        |    FROM dg) WHERE rn = 1),
        |df AS (
        |  SELECT a.vec_id, c.cell,
        |    CAST(list_sum(list_transform(generate_series(1, 64),
        |      i -> (a.qv[i] - c.cv[i]) * (a.qv[i] - c.cv[i]))) AS BIGINT) AS dist
        |  FROM ag a JOIN c0 c ON c.grp = a.grp),
        |af AS (SELECT vec_id, cell, dist FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM df) WHERE rn = 1)
        |SELECT cell, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(vec_id) AS BIGINT) AS checksum,
        |  CAST(min(dist) AS BIGINT) AS min_dist
        |FROM af GROUP BY cell ORDER BY cell""".stripMargin,
    "q174_per_group_probe" -> {
      raw"""WITH f AS (
         |  SELECT lang AS grp,
         |    CAST(len(string_split_regex(trim(text), '\s+')) AS HUGEINT) AS x1,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
         |      t -> list_contains($stopList, t))) AS HUGEINT) AS x2,
         |    CAST(n_chars AS HUGEINT) AS y
         |  FROM documents),
         |g AS (
         |  SELECT grp, CAST(count(*) AS HUGEINT) AS hn, CAST(count(*) AS BIGINT) AS n,
         |    sum(x1) AS s1, sum(x2) AS s2,
         |    sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
         |    sum(y) AS b0, sum(x1*y) AS b1, sum(x2*y) AS b2
         |  FROM f GROUP BY grp),
         |d AS (
         |  SELECT grp, n, ${det3Sql(gramA)} AS dt,
         |    ${det3Sql(gramRepl(0))} AS d0, ${det3Sql(gramRepl(1))} AS d1,
         |    ${det3Sql(gramRepl(2))} AS d2
         |  FROM g)
         |SELECT grp, n,
         |  CASE WHEN dt = 0 THEN NULL
         |    ELSE CAST((CAST(1000000 AS HUGEINT) * d0) // dt AS BIGINT) END AS w_bias_ppm,
         |  CASE WHEN dt = 0 THEN NULL
         |    ELSE CAST((CAST(1000000 AS HUGEINT) * d1) // dt AS BIGINT) END AS w_ntok_ppm,
         |  CASE WHEN dt = 0 THEN NULL
         |    ELSE CAST((CAST(1000000 AS HUGEINT) * d2) // dt AS BIGINT) END AS w_stop_ppm
         |FROM d ORDER BY grp""".stripMargin
    },
    "q173_probe_residual_gate" -> {
      raw"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\s+')) AS HUGEINT) AS x1,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
         |      t -> list_contains($stopList, t))) AS HUGEINT) AS x2,
         |    CAST(n_chars AS HUGEINT) AS y
         |  FROM documents),
         |g AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS hn,
         |    sum(x1) AS s1, sum(x2) AS s2,
         |    sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
         |    sum(y) AS b0, sum(x1*y) AS b1, sum(x2*y) AS b2
         |  FROM f),
         |w AS (
         |  SELECT
         |    CAST((CAST(1000000 AS HUGEINT) * ${det3Sql(gramRepl(0))}) // ${det3Sql(gramA)} AS BIGINT) AS w0,
         |    CAST((CAST(1000000 AS HUGEINT) * ${det3Sql(gramRepl(1))}) // ${det3Sql(gramA)} AS BIGINT) AS w1,
         |    CAST((CAST(1000000 AS HUGEINT) * ${det3Sql(gramRepl(2))}) // ${det3Sql(gramA)} AS BIGINT) AS w2
         |  FROM g)
         |SELECT doc_id,
         |  CAST(1000000 * y - (w0 + w1 * x1 + w2 * x2) AS BIGINT) AS resid_ppm,
         |  abs(1000000 * y - (w0 + w1 * x1 + w2 * x2)) <= 20000000 AS keep
         |FROM f, w WHERE doc_id < 100 ORDER BY doc_id""".stripMargin
    },
    "q172_linear_probe" -> {
      raw"""WITH f AS (
         |  SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS HUGEINT) AS x1,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
         |      t -> list_contains($stopList, t))) AS HUGEINT) AS x2,
         |    CAST(n_chars AS HUGEINT) AS y
         |  FROM documents),
         |g AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS hn, CAST(count(*) AS BIGINT) AS n,
         |    sum(x1) AS s1, sum(x2) AS s2,
         |    sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
         |    sum(y) AS b0, sum(x1*y) AS b1, sum(x2*y) AS b2
         |  FROM f)
         |SELECT n,
         |  CAST((CAST(1000000 AS HUGEINT) * ${det3Sql(gramRepl(0))}) // ${det3Sql(gramA)} AS BIGINT) AS w_bias_ppm,
         |  CAST((CAST(1000000 AS HUGEINT) * ${det3Sql(gramRepl(1))}) // ${det3Sql(gramA)} AS BIGINT) AS w_ntok_ppm,
         |  CAST((CAST(1000000 AS HUGEINT) * ${det3Sql(gramRepl(2))}) // ${det3Sql(gramA)} AS BIGINT) AS w_stop_ppm
         |FROM g""".stripMargin
    },
    "q119_contrastive_triplets" ->
      """WITH s AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id, round(
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))), 5) AS sim
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND c.vec_id != q.vec_id),
        |p AS (SELECT q_id, c_id AS pos_id, sim AS pos_sim FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn
        |    FROM s) WHERE rn = 1),
        |n AS (SELECT q_id, c_id AS neg_id, sim AS neg_sim FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn
        |    FROM s WHERE sim < 0.30) WHERE rn = 1)
        |SELECT q_id, pos_id, pos_sim, neg_id, neg_sim
        |FROM p JOIN n USING (q_id) ORDER BY q_id""".stripMargin,
    "q148_ann_pq" ->
      pqSql(m = 4, ksub = 8, iters = 2, subDim = 16, nq = 10, kCand = 20, k = 3),
    // identical computation to q148 — the persisted-index round-trip must
    // not change a single row (the q125 contract)
    "q155_ann_pq_index" ->
      pqSql(m = 4, ksub = 8, iters = 2, subDim = 16, nq = 10, kCand = 20, k = 3),
    "q280_communities" -> lpaSql(4),
    "q157_ann_ivfpq" -> ivfpqSql(nlist = 8, nprobe = 4, m = 4, subDim = 16,
      ksub = 8, iters = 2, nq = 10, kCand = 20, k = 3),
  )
}
