package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, Multimodal, Similarity, TextAnalysis => TA}
import graft.tables.Tables

import PipelineOps._

/** Behavioral/statistical analytics: events, sketches, retrieval evaluation, statistical audits, reconciliation.
  *
  * One shard of [[PipelineOps]] (round-8 mechanical split of the
  * former 8k-line file — zero behavior change; PipelineOps merges the
  * shards and still owns the shared helpers/oracle builders). */
private[queries] object PipelineAnalytics {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q227_bm25_search" -> ((s, dir) => {
      // BM25 lexical retrieval: top-10 docs for three probe queries,
      // exact-integer Okapi scoring (integer-rational idf, cleared-
      // denominator saturation). Probe terms broadcast; only their
      // postings shuffle.
      val s2 = s; import s2.implicits._
      val probes = Seq((1L, "slow merge table"), (2L, "hash join fast"),
        (3L, "window sort batch")).toDF("q_id", "q_text")
      Curation.bm25TopK(t(s, dir, "documents"), col("doc_id"), col("text"),
          probes, col("q_id"), col("q_text"), k = 10)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "q228_bradley_terry" -> ((s, dir) => {
      // Bradley-Terry arena over sources: consecutive doc pairs are
      // "matches" judged by gini diversity (ties and same-source pairs
      // drop), 3 exact-integer MM rounds turn the win table into
      // per-source strengths — the preference-pairs -> reward-strength
      // step of an RLHF data pipeline.
      val d = t(s, dir, "documents").select(
        org.apache.spark.sql.graft.Bridge.idiv(col("doc_id"), lit(2L))
          .as("pid"),
        pmod(col("doc_id"), lit(2L)).as("side"),
        col("source"), TA.giniDiversityPpm(col("text")).as("g"))
      val a = d.filter(col("side") === 0)
        .select(col("pid"), col("source").as("sa"), col("g").as("ga"))
      val b = d.filter(col("side") === 1)
        .select(col("pid"), col("source").as("sb"), col("g").as("gb"))
      val outcomes = a.join(b, "pid")
        .filter(col("sa") =!= col("sb") && col("ga") =!= col("gb"))
        .select(
          when(col("ga") > col("gb"), col("sa")).otherwise(col("sb"))
            .as("winner"),
          when(col("ga") > col("gb"), col("sb")).otherwise(col("sa"))
            .as("loser"))
      Curation.bradleyTerryStrength(outcomes, col("winner"), col("loser"),
          iters = 3)
        .orderBy(col("p"))
    }),
    "q229_constraint_audit" -> ((s, dir) => {
      // Deequ-style declarative data-quality audit over a deliberately
      // dirtied orders view (planted FK orphans, negated prices, nulled
      // statuses): five constraint families, row-wise ones folded into
      // ONE aggregation pass.
      val o = t(s, dir, "orders").select(
        col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(97L)) === 0, -col("o_custkey"))
          .otherwise(col("o_custkey")).as("o_custkey"),
        when(pmod(col("o_orderkey"), lit(53L)) === 0,
          lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(pmod(col("o_orderkey"), lit(31L)) === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.ext.Quality.constraintAudit(o, Seq(
        graft.ext.Quality.Complete("status_complete", col("o_orderstatus"),
          minPpm = 990000L),
        graft.ext.Quality.Unique("orderkey_unique", Seq(col("o_orderkey"))),
        graft.ext.Quality.InRange("price_range", col("o_totalprice"),
          lit(0.0), lit(1000000.0)),
        graft.ext.Quality.InSet("status_domain", col("o_orderstatus"),
          Seq("O", "F", "P")),
        graft.ext.Quality.ForeignKey("custkey_fk", col("o_custkey"),
          t(s, dir, "customer"), col("c_custkey"))))
    }),
    "q231_sft_turns" -> ((s, dir) => {
      // SFT conversation-structure audit: events as conversations
      // (user_id = conversation, click/view = user turns), validating
      // the starts-with-user strict-alternation contract and computing
      // loss-mask token splits per conversation.
      graft.ext.EventsOps.conversationAudit(t(s, dir, "events"),
          col("user_id"), unix_micros(col("ts")), col("event_id"),
          col("event_type").isin("click", "view"),
          TA.tokenCount(col("props")))
        .orderBy(col("conv_id"))
    }),
    "q234_ndcg_audit" -> ((s, dir) => {
      // Ranking-quality audit: nDCG@10 of the q227 BM25 ranking, graded by
      // query-term coverage (n_terms) — the offline retrieval metric
      // computed with plan-time integer discounts so neither engine runs a
      // logarithm.
      val s2 = s; import s2.implicits._
      val probes = Seq((1L, "slow merge table"), (2L, "hash join fast"),
        (3L, "window sort batch")).toDF("q_id", "q_text")
      val ranked = Curation.bm25TopK(t(s, dir, "documents"), col("doc_id"),
        col("text"), probes, col("q_id"), col("q_text"), k = 10)
      Curation.ndcgAtK(ranked, col("q_id"), col("rnk"), col("n_terms"),
          k = 10)
        .orderBy(col("q_id"))
    }),
    "q235_rrf_fusion" -> ((s, dir) => {
      // Hybrid-retrieval fusion: reciprocal-rank fusion of two rankers over
      // the same probes — BM25 (idf + length norm) and raw term-frequency
      // coverage. RRF needs only the RANKS, which is why it's the fusion
      // rule that survives heterogeneous score scales.
      val s2 = s; import s2.implicits._
      val probes = Seq((1L, "slow merge table"), (2L, "hash join fast"),
        (3L, "window sort batch")).toDF("q_id", "q_text")
      val docs = t(s, dir, "documents")
      val bm25 = Curation.bm25TopK(docs, col("doc_id"), col("text"),
          probes, col("q_id"), col("q_text"), k = 10)
        .select(col("q_id"), col("doc_id"), col("rnk"))
      // TF ranker over the SAME query-term postings slice bm25TopK builds
      // internally (round 13): the corpus token stream is filtered by the
      // broadcast term set BEFORE the tf aggregation, and the construction
      // matches bm25TopK's so runtime ReuseExchange executes the postings
      // pipeline once for both rankers (s = count of matching token
      // instances per (q, doc) = the old sum-of-tf, exactly).
      val qt = Curation.bm25QueryTerms(probes, col("q_id"), col("q_text"))
      val qTerms = qt.select(col("t")).distinct()
      val tfW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("s").desc, col("doc_id"))
      val tfRank = Curation.bm25Postings(docs, col("doc_id"), col("text"),
          qTerms)
        .join(broadcast(qt), Seq("t"))
        .groupBy(col("q_id"), col("doc_id")).agg(sum(col("tf")).as("s"))
        .withColumn("rnk", row_number().over(tfW).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("q_id"), col("doc_id"), col("rnk"))
      Curation.rrfFuse(Seq(bm25, tfRank), topK = 10)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "q236_ece_calibration" -> ((s, dir) => {
      // Calibration audit: is the centroid classifier's distance-margin
      // confidence honest? Per-confidence-bucket accuracy vs mean
      // confidence and the corpus ECE, over the labeled embeddings.
      graft.ext.Similarity.calibrationProfile(
          t(s, dir, "embeddings"), k = 8, iters = 2, buckets = 10)
        .orderBy(col("bucket"))
    }),
    "q238_kendall_tau" -> ((s, dir) => {
      // Ranker-agreement audit: Kendall's tau between the BM25 and raw-TF
      // rankings per probe query — the "is fusion worth it" companion to
      // q235 (tau near 1e6 means the rankers are redundant).
      val s2 = s; import s2.implicits._
      val probes = Seq((1L, "slow merge table"), (2L, "hash join fast"),
        (3L, "window sort batch")).toDF("q_id", "q_text")
      val docs = t(s, dir, "documents")
      val bm25 = Curation.bm25TopK(docs, col("doc_id"), col("text"),
          probes, col("q_id"), col("q_text"), k = 10)
        .select(col("q_id"), col("doc_id"), col("rnk"))
      // TF ranker over the SAME query-term postings slice bm25TopK builds
      // internally (round 13): the corpus token stream is filtered by the
      // broadcast term set BEFORE the tf aggregation, and the construction
      // matches bm25TopK's so runtime ReuseExchange executes the postings
      // pipeline once for both rankers (s = count of matching token
      // instances per (q, doc) = the old sum-of-tf, exactly).
      val qt = Curation.bm25QueryTerms(probes, col("q_id"), col("q_text"))
      val qTerms = qt.select(col("t")).distinct()
      val tfW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("s").desc, col("doc_id"))
      val tfRank = Curation.bm25Postings(docs, col("doc_id"), col("text"),
          qTerms)
        .join(broadcast(qt), Seq("t"))
        .groupBy(col("q_id"), col("doc_id")).agg(sum(col("tf")).as("s"))
        .withColumn("rnk", row_number().over(tfW).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("q_id"), col("doc_id"), col("rnk"))
      Curation.kendallTau(bm25, tfRank).orderBy(col("q_id"))
    }),
    "q239_hits" -> ((s, dir) => {
      // HITS over the user -> event-type engagement bipartite graph: hub
      // users (broad heavy engagers) and authority event types, two
      // Kleinberg rounds of exact-integer mutual reinforcement.
      val e = t(s, dir, "events")
        .groupBy(col("user_id").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.ext.GraphOps.hits(e, iters = 2)
        .orderBy(col("role"), col("node"))
    }),
    "q243_winsorized_stats" -> ((s, dir) => {
      // Robust per-event-type value stats: means after clamping to the
      // [5%, 95%] exact rank bounds — tier-located, no per-row sort
      // window.
      graft.ext.EventsOps.winsorizedStats(t(s, dir, "events"),
          col("event_type"), col("value"))
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type"))
    }),
    "q244_poisson_bootstrap" -> ((s, dir) => {
      // Metric uncertainty in one pass: 32 deterministic Poisson-bootstrap
      // replicates of the mean document length — the spread IS the CI.
      Curation.poissonBootstrap(t(s, dir, "documents"), col("doc_id"),
          col("n_chars"), b = 32, seed = "pb1")
        .orderBy(col("b"))
    }),
    "q251_fd_audit" -> ((s, dir) => {
      // Functional-dependency discovery checks: the key FD holds, the
      // cross-dimension ones must be REFUTED with exact blast radii —
      // certifying a false FD corrupts every downstream dimension table.
      graft.ext.Quality.fdAudit(t(s, dir, "documents"), Seq(
          ("doc_id->lang", Seq(col("doc_id")), col("lang")),
          ("lang->source", Seq(col("lang")), col("source")),
          ("lang,source->len_band", Seq(col("lang"), col("source")),
            org.apache.spark.sql.graft.Bridge.idiv(col("n_chars"),
              lit(100L)))))
        .orderBy(col("fd"))
    }),
    "q252_trend_slope" -> ((s, dir) => {
      // Per-event-type activity trend: exact OLS slope of hourly counts in
      // micro-events/hour — growing or dying, with no window and no sort.
      graft.ext.EventsOps.trendSlope(t(s, dir, "events"),
          col("event_type"), col("ts"))
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type"))
    }),
    "q255_churn_hazard" -> ((s, dir) => {
      // Discrete life table over user lifetimes (days from first to last
      // activity): at-risk counts by reverse cumsum, exact per-day
      // hazards.
      graft.ext.EventsOps.churnHazard(t(s, dir, "events"), col("user_id"),
          col("ts"))
        .orderBy(col("t"))
    }),
    "q256_rbo_agreement" -> ((s, dir) => {
      // Rank-biased overlap between the BM25 and TF rankers: top-weighted
      // agreement that scores disjoint prefixes as real disagreement
      // (Kendall can't see docs only one ranker retrieved).
      val s2 = s; import s2.implicits._
      val probes = Seq((1L, "slow merge table"), (2L, "hash join fast"),
        (3L, "window sort batch")).toDF("q_id", "q_text")
      val docs = t(s, dir, "documents")
      val bm25 = Curation.bm25TopK(docs, col("doc_id"), col("text"),
          probes, col("q_id"), col("q_text"), k = 10)
        .select(col("q_id"), col("doc_id"), col("rnk"))
      // TF ranker over the SAME query-term postings slice bm25TopK builds
      // internally (round 13): the corpus token stream is filtered by the
      // broadcast term set BEFORE the tf aggregation, and the construction
      // matches bm25TopK's so runtime ReuseExchange executes the postings
      // pipeline once for both rankers (s = count of matching token
      // instances per (q, doc) = the old sum-of-tf, exactly).
      val qt = Curation.bm25QueryTerms(probes, col("q_id"), col("q_text"))
      val qTerms = qt.select(col("t")).distinct()
      val tfW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("s").desc, col("doc_id"))
      val tfRank = Curation.bm25Postings(docs, col("doc_id"), col("text"),
          qTerms)
        .join(broadcast(qt), Seq("t"))
        .groupBy(col("q_id"), col("doc_id")).agg(sum(col("tf")).as("s"))
        .withColumn("rnk", row_number().over(tfW).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("q_id"), col("doc_id"), col("rnk"))
      Curation.rboAtK(bm25, tfRank, k = 10).orderBy(col("q_id"))
    }),
    "q257_fellegi_sunter" -> ((s, dir) => {
      // Probabilistic record linkage: (lang, 50-char band) blocks, three
      // field comparisons with plan-time integer log-odds, two-threshold
      // link / possible / non-link classification.
      val docs = t(s, dir, "documents")
      val idiv = org.apache.spark.sql.graft.Bridge.idiv _
      Dedup.fellegiSunter(docs, col("doc_id"),
          block = Seq(col("lang"), idiv(col("n_chars"), lit(50L))),
          fields = Seq(
            ("source", col("source"), 900L, 150L),
            ("gini_band", idiv(TA.giniDiversityPpm(col("text")),
              lit(50000L)), 800L, 100L),
            ("tok_band", idiv(TA.tokenCount(col("text")), lit(10L)),
              850L, 200L)),
          linkMicro = 4000000L, nonlinkMicro = 0L)
        .orderBy(col("cls"))
    }),
    "q260_conversion_latency" -> ((s, dir) => {
      // How LONG does click -> purchase take: exact rank-based p50/p90 and
      // the exact mean, tier-located (no per-row sort window).
      graft.ext.EventsOps.conversionLatency(t(s, dir, "events"),
        fromType = "click", toType = "purchase")
    }),
    "q261_benford_audit" -> ((s, dir) => {
      // Were these values organic? First-significant-digit distribution of
      // event values vs Benford's law, per-digit deviations + TVD verdict.
      graft.ext.Quality.benfordAudit(t(s, dir, "events"), col("value"))
        .orderBy(col("digit"))
    }),
    "q263_did_uplift" -> ((s, dir) => {
      // Incident impact: did per-event value move differently for users
      // who hit a SEVERE error (value >= 300 -- rare enough to leave a
      // control group), net of the control group's own drift across the
      // same mid-time split?
      graft.ext.EventsOps.didUplift(t(s, dir, "events"), col("user_id"),
        col("ts"), col("value"),
        col("event_type") === "error" && col("value") >= 300.0)
    }),
    "q265_transition_rules" -> ((s, dir) => {
      // Association rules over consecutive events: confidence and lift
      // per (from -> to), support-gated.
      graft.ext.EventsOps.transitionRules(t(s, dir, "events"),
          minSupport = 50L)
        .orderBy(col("from_type"), col("to_type"))
    }),
    "q266_opening_paths" -> ((s, dir) => {
      // How do users start: top-10 opening 4-event journeys (sorted-struct
      // collect, the q98 determinism rule).
      graft.ext.EventsOps.openingPaths(t(s, dir, "events"), col("user_id"),
          col("ts"), col("event_id"), col("event_type"), depth = 4, k = 10)
        .orderBy(col("rnk"))
    }),
    "q268_order_reconcile" -> ((s, dir) => {
      // Accounting reconciliation: do lineitem totals explain
      // o_totalprice? The value-consistency audit the FK check can't see;
      // on this synthetic data the books do NOT balance, and the audit's
      // job is to say exactly how much.
      graft.ext.EventsOps.reconcileTotals(
        t(s, dir, "orders"), col("o_orderkey"), col("o_totalprice"),
        t(s, dir, "lineitem"), col("l_orderkey"),
        col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax")))
    }),
    "q281_skew_forecast" -> ((s, dir) => {
      // Shuffle-skew forecast with a planted hot key: every 10th user's
      // events remap to user 1, and the per-bucket load table (md5
      // partitioner surrogate at parts=16) must surface that bucket at
      // many-x the even share — the pre-join decision input for salting
      // and partition sizing. load_ppm = 1e6 means perfectly even.
      val idiv = org.apache.spark.sql.graft.Bridge.idiv _
      val ev = t(s, dir, "events").select(
        when(pmod(col("user_id"), lit(10L)) === 0, lit(1L))
          .otherwise(col("user_id")).as("user_id"))
      val buckets = graft.ops.Skew.shuffleSkewForecast(ev, col("user_id"),
        parts = 16)
      val tot = buckets.agg(sum(col("n_rows")).as("t"),
        count(lit(1)).as("nb"))
      buckets.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_rows"), col("n_keys"),
          idiv(col("n_rows") * col("nb") * 1000000L, col("t"))
            .as("load_ppm"))
        .orderBy(col("bucket"))
    }),
    "q278_approx_groupby" -> ((s, dir) => {
      // Approximate GROUP BY with error bars (the AQP shape): per-flag
      // mean quantity from a deterministic 10% sample with a 16-replicate
      // Poisson-bootstrap envelope, audited against the exact truth —
      // the estimator a dashboard uses when the full scan is the cost.
      Curation.approxGroupMeans(t(s, dir, "lineitem"),
          group = col("l_returnflag"),
          key = concat_ws("_", col("l_orderkey"), col("l_linenumber")),
          metricMilli = floor(col("l_quantity") * 1000).cast("long"),
          ratePermille = 100, b = 16)
        .orderBy(col("g"))
    }),
    "q279_join_size_estimate" -> ((s, dir) => {
      // Optimizer-shaped audit: |orders ⋈ lineitem| estimated from two
      // CM sketches via the AGMS inner-product identity (min over rows of
      // Σ_b cntA·cntB — collisions only overcount), vs the exact truth.
      Curation.cmJoinSizeEstimate(
        t(s, dir, "orders"), col("o_orderkey"),
        t(s, dir, "lineitem"), col("l_orderkey"),
        depth = 4, width = 256)
    }),
    "q218_rate_anomaly" -> ((s, dir) => {
      // Ingest-rate anomaly detection: hourly event counts per type,
      // robust-z (median/MAD, integer-exact) within each type, hours
      // with |z| > 4 flagged — the pipeline-health monitor that a mean/
      // stddev gate gets wrong whenever one burst drags the baseline.
      val ev = t(s, dir, "events")
      val hourly = ev.select(col("event_type"),
          org.apache.spark.sql.graft.Bridge.idiv(
            unix_micros(col("ts")), lit(3600000000L)).as("h"))
        .groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n"))
      Curation.robustScores(hourly,
          col("h"), col("event_type"), col("n"))
        .withColumn("anomaly",
          (abs(col("z_ppm")) > 4000000L).cast("long"))
        .groupBy(col("strat"))
        .agg(count(lit(1)).as("n_hours"),
          sum(col("anomaly")).as("n_anomalous"),
          max(abs(col("z_ppm"))).as("max_abs_z_ppm"))
        .orderBy(col("strat"))
    }),
    "q217_freshness_decay" -> ((s, dir) => {
      // Recency-weighted event statistics: each event's weight halves per
      // 72h of age from the corpus max timestamp (exact integer shifts,
      // no float exp); per type, decayed mass vs raw counts shows how
      // stale each stream is.
      import graft.ext.EventsOps
      val ev = t(s, dir, "events")
      val ref = ev.agg(max(col("ts")).as("ref_ts"))
      ev.crossJoin(broadcast(ref))
        .select(col("event_type"),
          EventsOps.freshnessWeightPpm(col("ts"), col("ref_ts"),
            halfLifeHours = 72L).as("w_ppm"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("w_ppm")).as("decayed_mass_ppm"),
          max(col("w_ppm")).as("max_w"), min(col("w_ppm")).as("min_w"))
        .orderBy(col("event_type"))
    }),
    "q215_cm_sketch" -> ((s, dir) => {
      // Count-min point-frequency estimates for a probe set (five corpus
      // terms + one absent term) against a 4x64 sketch of the token
      // stream, with the exact counts alongside: est >= true always, and
      // the absent key estimates whatever its collisions hold.
      val s2 = s; import s2.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(TA.tokens(col("text"))).as("w"))
      val sketch = Curation.cmSketch(toks, col("w"))
      val probes = Seq("table", "slow", "merge", "spark", "window",
        "zz-absent").toDF("w")
      val truth = toks.groupBy(col("w")).agg(count(lit(1)).as("true_cnt"))
      Curation.cmEstimate(sketch, probes, col("w"))
        .join(truth.withColumnRenamed("w", "probe"), Seq("probe"), "left")
        .select(col("probe"), col("est"),
          coalesce(col("true_cnt"), lit(0L)).as("true_cnt"))
        .withColumn("over", col("est") - col("true_cnt"))
        .orderBy(col("probe"))
    }),
    "q214_incremental_rollup" -> ((s, dir) => {
      // Incremental corpus-profile maintenance: yesterday's rollup
      // (docs < 400) merges with today's delta (docs >= 400) WITHOUT
      // rescanning yesterday — counts sum, and distinct-text counts ride
      // a mergeable KMV sketch (merge ≡ full-corpus sketch, exactly; the
      // oracle computes the single-pass form, so the equality check IS
      // the mergeability proof).
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("doc_id") < 400)
      val delta = docs.filter(col("doc_id") >= 400)
      def counts(d: DataFrame) = d.groupBy(col("source").as("stratum"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      val mergedCounts = counts(old).unionByName(counts(delta))
        .groupBy(col("stratum"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_chars")).as("sum_chars"))
      val mergedSketch = Curation.kmvMergeSketches(Seq(
        Curation.kmvStratumSketch(old, col("source"), col("text"), k = 16),
        Curation.kmvStratumSketch(delta, col("source"), col("text"), k = 16)), k = 16)
      mergedCounts
        .join(Curation.kmvSketchEstimate(mergedSketch, k = 16), Seq("stratum"))
        .orderBy(col("stratum"))
    }),
    "q202_pseudonymize" -> ((s, dir) => {
      // Consistent pseudonymization: cohorts share PII values (email by
      // doc_id%50, URL by %30, account number by %20), so the SAME value
      // must map to the SAME typed token across docs — the md5-compare
      // pins that plus Java-regex/RE2 agreement and the longest-first
      // replace order.
      val piiText = concat(col("text"),
        lit(" contact user"), (col("doc_id") % 50).cast("string"),
        lit("@mail.example.com via https://ex.example/u/"),
        (col("doc_id") % 30).cast("string"),
        lit(" acct 99"), (col("doc_id") % 20).cast("string"), lit("001122"))
      val ps = TA.pseudonymizePii(piiText)
      t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), ps.as("p"))
        .select(col("doc_id"), md5(col("p")).as("ps_md5"),
          regexp_extract(col("p"), "<EMAIL_([a-p]+)>", 1).as("email_pseudo"))
        .orderBy(col("doc_id"))
    }),
    "q194_kmv_estimate" -> ((s, dir) => {
      // Distinct-count estimation from a 20-value KMV sketch vs the exact
      // answer — "size the dedup yield before paying for it". The md5-
      // derived 60-bit hashes replay bit-for-bit in the oracle.
      val docs = t(s, dir, "documents")
      Curation.kmvDistinctEstimate(docs, col("text"), k = 20)
        .crossJoin(docs.agg(count_distinct(col("text")).as("n_exact")))
        .withColumn("err_ppm",
          expr("(1000000 * abs(n_est - n_exact)) div n_exact"))
    }),
    "q191_robust_outliers" -> ((s, dir) => {
      // Hampel outlier report: per-source median/MAD z-scores on doc
      // length, exact integer arithmetic (×4/×8 scaling absorbs the
      // interpolated quantiles); report docs beyond ±2 MADs.
      Curation.robustScores(t(s, dir, "documents"), col("doc_id"),
          col("source"), col("n_chars"))
        .filter(abs(col("z_ppm")) >= 2000000L)
        .withColumnRenamed("strat", "source")
        .orderBy(col("doc_id"))
    }),
    "q171_source_overlap" -> ((s, dir) => {
      // Corpus-level contamination matrix: exact trigram-shingle Jaccard
      // between every source PAIR — which crawls/feeds duplicate each
      // other, before any per-document dedup. One (source, gram) distinct
      // + a hash-keyed self-join; output bounded by sources², never corpus
      // size. Grams ride as XXH64 longs (only counts surface — q45's
      // collision argument); the oracle recounts the string sets.
      Dedup.groupShingleOverlap(t(s, dir, "documents"),
          col("source"), col("text"), n = 3)
        .orderBy(col("s1"), col("s2"))
    }),
    "q127_funnel" -> ((s, dir) => {
      // Ordered funnel (view → click → purchase within 7 days),
      // earliest-first matching: per step, users whose chain reaches it in
      // the window. One pushed-filter scan + user-keyed min-agg per step,
      // chained by user joins — no windows, no per-user buffering.
      graft.ext.EventsOps.funnel(t(s, dir, "events"),
          Seq("view", "click", "purchase"), windowSeconds = 7L * 86400L)
        .orderBy(col("step"))
    }),
    "q128_retention_cohorts" -> ((s, dir) => {
      // Weekly retention cohorts: users bucket by first-event week
      // (integer absolute week index), each cell counts users active k
      // weeks later. Two two-phase aggregations + one user join.
      graft.ext.EventsOps.retentionCohorts(t(s, dir, "events"), maxOffset = 4)
        .orderBy(col("cohort_week"), col("offset"))
    }),
    "q129_event_transitions" -> ((s, dir) => {
      // Next-event transition matrix: per-user (ts, event_id)-ordered
      // sequences paired with lead(), counted per (from, to). One window
      // shuffle; |types|^2 output.
      graft.ext.EventsOps.eventTransitions(t(s, dir, "events"))
        .orderBy(col("from_type"), col("to_type"))
    }),
    "q130_sketch_distinct" -> ((s, dir) => {
      // Mergeable-sketch distinct count: HLL++ (approx_count_distinct,
      // rsd 2%) beside the exact count, projected as the exact value plus an
      // in-tolerance flag the oracle can restate. The sketch is the 100 TB
      // path — fixed-size partials merge associatively across partitions and
      // stages (plain two-phase hash agg; raw user ids never shuffle), where
      // the exact count must expand-distinct. Tolerance 5% ≫ the 2% rsd, so
      // the flag is deterministic-by-margin, not luck.
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_uniq"),
          approx_count_distinct(col("user_id"), 0.02).as("hll"))
        .select(col("event_type"), col("exact_uniq"),
          (abs(col("hll") - col("exact_uniq")) <=
            col("exact_uniq") * 0.05).cast("int").as("within_tol"))
        .orderBy(col("event_type"))
    }),
    "q131_sketch_quantiles" -> ((s, dir) => {
      // Mergeable quantile sketch (approx_percentile, accuracy 5000 → rank
      // error ≤ 0.02%) beside the exact interpolated percentile (which
      // matches DuckDB quantile_cont bit-for-bit — q55). Projects the exact
      // values and sketch-in-tolerance flags. At 100 TB the sketch is the
      // only option: bounded per-group state, associative merges.
      //
      // The EXACT side is the distributed cumsum interpolation
      // (ops/Percentiles — the same percentile_cont formula, zero
      // per-group value buffering). History: the raw percentile()
      // spelling buffered every row in 3 per-flag ObjectHashAggregate
      // buffers (35 s at organic sf1, round-9 watch item); round 10's
      // frequency pre-aggregation shrank the buffer to the distinct-value
      // table but stayed buffer-bound at the 8 GiB heap (33.8 s);
      // round 11 removes the object buffer entirely — one map-combinable
      // freq agg + one windowed cumsum + a ≤2-rows-per-group bracket agg,
      // the only shape whose per-task state is O(1) at 100 TB
      // (PERFNOTES.md "Round 11: q131's exact side" has the paired
      // timings; answers bit-identical).
      val li = t(s, dir, "lineitem")
      val sketch = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          expr("approx_percentile(l_extendedprice, 0.5, 5000)").as("s50"),
          expr("approx_percentile(l_extendedprice, 0.95, 5000)").as("s95"))
      val exact = graft.ops.Percentiles.exactInterpolated(li,
          "l_returnflag", "l_extendedprice", Seq("p50" -> 0.5, "p95" -> 0.95))
        .select(col("l_returnflag"),
          round(col("p50"), 2).as("p50"), round(col("p95"), 2).as("p95"))
      sketch.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("p50"), col("p95"),
          (abs(col("s50") - col("p50")) <= col("p50") * 0.02)
            .cast("int").as("tol50"),
          (abs(col("s95") - col("p95")) <= col("p95") * 0.02)
            .cast("int").as("tol95"))
        .orderBy(col("l_returnflag"))
    }),
    "q293_percentiles_by_supplier" -> ((s, dir) => {
      // ops/Percentiles graded directly as a first-class operator (q131
      // exercises it only as the exact side of a sketch comparison) on a
      // HIGH-cardinality group — one group per supplier, thousands at sf1 —
      // the regime where the cumsum window's parallelism equals the group
      // count and the stage is embarrassingly parallel (the low-group-count
      // caveat in the scaladoc does not apply). Exact percentile_cont
      // semantics, bit-matched by DuckDB quantile_cont.
      graft.ops.Percentiles.exactInterpolated(t(s, dir, "lineitem"),
          "l_suppkey", "l_extendedprice", Seq("p50" -> 0.5, "p95" -> 0.95))
        .select(col("l_suppkey"), col("p50"), col("p95"))
        .orderBy(col("l_suppkey"))
    }),
    "q132_sketch_union" -> ((s, dir) => {
      // Persisted-sketch re-aggregation — the incremental-corpus pattern:
      // one DataSketches HLL per day materialized to parquet (binary
      // column), then the GLOBAL distinct answered by unioning the stored
      // sketches WITHOUT rescanning raw events. At 100 TB this is the only
      // affordable "distinct users ever" — each day's scan happens once, the
      // union touches |days| kilobyte-sized sketches. Exact twin + tolerance
      // flag pin the estimate (lgK=12 → rsd ≈ 1.6 %, margin 5 %).
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft-q132-hll")
      try {
        val ev = t(s, dir, "events")
        ev.groupBy(date_trunc("DAY", col("ts")).as("day"))
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
          .write.mode("overwrite").parquet(tmpRoot.toString + "/daily")
        val unioned = s.read.parquet(tmpRoot.toString + "/daily")
          .agg(count(lit(1)).as("n_days"),
            expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        val exact = ev.agg(countDistinct(col("user_id")).as("exact_uniq"))
        val out = unioned.crossJoin(exact) // both sides are 1 row
          .select(col("n_days"), col("exact_uniq"),
            (abs(col("est") - col("exact_uniq")) <=
              col("exact_uniq") * 0.05).cast("int").as("within_tol"))
        materialize(s, out) // 1 row; lets the scratch dir drop
      } finally {
        graft.tables.Hfs.rmTree(tmpRoot.toFile)
      }
    }),
    "q126_retention_delete" -> ((s, dir) => {
      // Right-to-erasure / retention delete under the gate: a scratch
      // snapshot drops every 9th document by predicate (tmp-then-swap
      // rewrite), and the rollup runs over what's left ON DISK — the
      // oracle restates the surviving membership. The partitioned
      // O(1)-data path (drop whole directories) is pinned in ScaleOpsSpec.
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft-q126-del")
      val tmp = tmpRoot.toString + "/snap"
      try {
        t(s, dir, "documents").write.parquet(tmp)
        graft.tables.Snapshots.deleteWhere(s, tmp, col("doc_id") % 9 === 0)
        val out = s.read.parquet(tmp).agg(
          count(lit(1)).as("n"),
          sum(col("doc_id")).as("sum_id"),
          sum(col("n_chars")).as("sum_chars"))
        materialize(s, out) // 1 row; lets the scratch dir drop immediately
      } finally {
        graft.tables.Hfs.rmTree(tmpRoot.toFile)
      }
    }),
    "q123_percentile_gate" -> ((s, dir) => {
      // "Keep each language's top-20%-quality documents": exact per-stratum
      // percentile threshold (stratum-sized → broadcast back), then a
      // scan-speed gate — the curation cut-line applied, not just measured
      // (q55). Per-lang rollup of what survived.
      Curation.percentileGate(t(s, dir, "documents"), col("lang"),
          TA.qualityScore(col("text")), p = 0.8)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          round(min(col("q")), 6).as("min_q"),
          sum(col("doc_id")).as("checksum"))
        .orderBy(col("lang"))
    }),
    "q139_source_overlap" -> ((s, dir) => {
      // Cross-source contamination matrix: distinct word-5-gram overlap
      // between every source pair (the train/eval leakage audit across
      // feeds). Grams aggregate to (source, gram) ONCE; the pair join runs
      // on that vocabulary-sized table keyed by gram, and a gram's blowup
      // is bounded by #sources^2, never corpus-sized. Jaccard from exact
      // integer set sizes.
      val g = t(s, dir, "documents")
        .select(col("source"), explode(array_distinct(
          Dedup.wordNgrams(col("text"), 5))).as("ng"))
        .distinct()
      val sizes = g.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      val shared = g.as("a").join(g.as("b"),
          col("a.ng") === col("b.ng") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
      shared
        .join(sizes.withColumnRenamed("source", "src_a").withColumnRenamed("sz", "sz_a"), "src_a")
        .join(sizes.withColumnRenamed("source", "src_b").withColumnRenamed("sz", "sz_b"), "src_b")
        .select(col("src_a"), col("src_b"), col("n_shared"),
          round(col("n_shared").cast("double") /
            (col("sz_a") + col("sz_b") - col("n_shared")), 6).as("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    }),
    "q141_gap_fill" -> ((s, dir) => {
      // Time-grid forward fill (LOCF): per user, the latest reading per
      // hour spreads across an hourly grid spanning that user's activity —
      // the gap-free feature series a trainer consumes. Integer epoch-hour
      // grid (portable floor-div); the fill is one per-user ordered window
      // (last non-null), grid rows bounded by span-hours x users. Hours
      // before a user's first reading stay null by construction of the
      // grid start, so every emitted row is defined.
      graft.ext.EventsOps.gapFillHourly(
          t(s, dir, "events").filter(col("user_id") < 20))
        .orderBy(col("user_id"), col("h"))
    }),
    "q160_distribution_drift" -> ((s, dir) => {
      // Snapshot drift monitoring: quality-score bin distributions of two
      // corpus versions (even/odd doc halves as stand-ins) compared per
      // language by exact-integer total variation distance — the
      // feed-change alarm of an ingest pipeline. Bin = floor(10·quality).
      val docs = t(s, dir, "documents")
      val bin = floor(TA.qualityScore(col("text")) * 10).cast("long")
      Curation.distributionDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          col("lang"), bin)
        .withColumnRenamed("stratum", "lang")
        .orderBy(col("lang"))
    }),
    "q156_domain_pagerank" -> ((s, dir) => {
      // Domain authority for crawl curation: integer-scaled weighted
      // PageRank over the cross-source gram-overlap graph (q139's matrix
      // read as edges) — the CommonCrawl domain-ranking pattern that feeds
      // mixture weights. 3 iterations, each one rank-to-edge join + one
      // target-keyed sum; floor-division arithmetic keeps every rank
      // bit-identical across engines, and the oracle replays the chain.
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
      graft.ext.GraphOps.pageRank(edges, iters = 3)
        .orderBy(col("rank").desc, col("node"))
    }),
    "q153_dataset_manifest" -> ((s, dir) => {
      // Order-invariant dataset fingerprint per source — the manifest a
      // reproducible training run records: same rows (any order, any
      // partitioning, any engine) => same (n, fp_sum, fp_sq). The oracle
      // recomputes the identical md5-fold multiset hash in DuckDB.
      Curation.manifest(t(s, dir, "documents"), col("source"),
          Seq(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
        .withColumnRenamed("stratum", "source")
        .orderBy(col("source"))
    }),
  )

  def oracle: Map[String, String] = Map(
    "q227_bm25_search" ->
      (s"WITH $bm25SearchCtes\n" +
        """SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, n_terms, score_ppm, rnk
          |FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin),
    "q228_bradley_terry" ->
      (raw"""WITH tok AS (
          |  SELECT doc_id, source,
          |    unnest(string_split_regex(trim(text), '\s+')) AS w
          |  FROM documents),
          |cnt AS MATERIALIZED (SELECT doc_id, source, w, CAST(count(*) AS BIGINT) AS c
          |  FROM tok GROUP BY doc_id, source, w),
          |gd AS (SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_tok,
          |  CAST(sum(c * c) AS BIGINT) AS sumsq
          |  FROM cnt GROUP BY doc_id, source),
          |g AS MATERIALIZED (SELECT doc_id, source,
          |  1000000 - (1000000 * sumsq) // (n_tok * n_tok) AS g FROM gd),
          |pa AS (SELECT doc_id // 2 AS pid, source, g FROM g WHERE doc_id % 2 = 0),
          |pb AS (SELECT doc_id // 2 AS pid, source, g FROM g WHERE doc_id % 2 = 1),
          |o AS MATERIALIZED (SELECT
          |    CASE WHEN pa.g > pb.g THEN pa.source ELSE pb.source END AS winner,
          |    CASE WHEN pa.g > pb.g THEN pb.source ELSE pa.source END AS loser
          |  FROM pa JOIN pb USING (pid)
          |  WHERE pa.source <> pb.source AND pa.g <> pb.g),
          |wins AS (SELECT winner AS p, CAST(count(*) AS BIGINT) AS n_wins
          |  FROM o GROUP BY winner),
          |sym AS MATERIALIZED (SELECT i, j, CAST(count(*) AS BIGINT) AS c FROM (
          |    SELECT winner AS i, loser AS j FROM o
          |    UNION ALL SELECT loser AS i, winner AS j FROM o)
          |  GROUP BY i, j),
          |pl AS (SELECT p, CAST(coalesce(n_wins, 0) AS BIGINT) AS n_wins
          |  FROM (SELECT DISTINCT i AS p FROM sym) LEFT JOIN wins USING (p)),
          |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pl),
          |w0 AS (SELECT p, CAST(1000000 AS BIGINT) AS w FROM pl),
          |""".stripMargin +
        btRoundCtes(3) +
        """,
          |ng AS (SELECT i AS p, CAST(sum(c) AS BIGINT) AS n_games
          |  FROM sym GROUP BY i)
          |SELECT pl.p, ng.n_games, pl.n_wins, w3.w AS strength_ppm
          |FROM pl JOIN w3 USING (p) JOIN ng USING (p) ORDER BY p""".stripMargin),
    "q229_constraint_audit" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN -o_custkey ELSE o_custkey END AS o_custkey,
        |    CASE WHEN o_orderkey % 53 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 31 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_compl,
        |    CAST(sum(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_uniq,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d_uniq,
        |    CAST(sum(CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_price,
        |    CAST(sum(CASE WHEN o_totalprice IS NOT NULL
        |      AND NOT (o_totalprice BETWEEN 0 AND 1000000) THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_status,
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
        |    CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_fk
        |  FROM o),
        |fk AS (SELECT CAST(count(*) AS BIGINT) AS v_fk FROM o
        |  WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
        |    (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)),
        |u AS (
        |  SELECT 'custkey_fk' AS cname, n AS n_rows, c_fk AS n_checked,
        |    v_fk AS n_violations, 0 AS is_compl FROM base, fk
        |  UNION ALL SELECT 'orderkey_unique', n, k_uniq, k_uniq - d_uniq, 0 FROM base
        |  UNION ALL SELECT 'price_range', n, c_price, v_price, 0 FROM base
        |  UNION ALL SELECT 'status_complete', n, n, v_compl, 1 FROM base
        |  UNION ALL SELECT 'status_domain', n, c_status, v_status, 0 FROM base),
        |m AS (SELECT cname, n_rows, n_checked, n_violations, is_compl,
        |  CAST(CASE WHEN n_checked = 0 THEN 1000000
        |    ELSE ((n_checked - n_violations) * 1000000) // n_checked END AS BIGINT) AS metric_ppm
        |  FROM u)
        |SELECT cname AS "constraint", n_rows, n_checked, n_violations, metric_ppm,
        |  CAST(CASE WHEN is_compl = 1
        |    THEN CASE WHEN metric_ppm >= 990000 THEN 1 ELSE 0 END
        |    ELSE CASE WHEN n_violations = 0 THEN 1 ELSE 0 END END AS BIGINT) AS pass
        |FROM m ORDER BY cname""".stripMargin,
    "q231_sft_turns" ->
      raw"""WITH e AS (
         |  SELECT user_id AS conv_id,
         |    list(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END
         |      ORDER BY ts, event_id) AS us,
         |    list(CAST(len(string_split_regex(trim(props), '\s+')) AS BIGINT)
         |      ORDER BY ts, event_id) AS tks
         |  FROM events GROUP BY user_id),
         |m AS (
         |  SELECT conv_id, CAST(len(us) AS BIGINT) AS n_turns,
         |    CAST(list_sum(us) AS BIGINT) AS n_user_turns,
         |    CAST(list_sum(list_transform(range(1, len(us) + 1),
         |      i -> CASE WHEN us[i] = 0 THEN tks[i] ELSE 0 END)) AS BIGINT) AS asst_tok,
         |    CAST(list_sum(list_transform(range(1, len(us) + 1),
         |      i -> CASE WHEN us[i] = 1 THEN tks[i] ELSE 0 END)) AS BIGINT) AS user_tok,
         |    CAST(CASE WHEN us[1] = 1 THEN 1 ELSE 0 END AS BIGINT) AS starts_user,
         |    CAST(CASE WHEN len(us) < 2 OR len(list_filter(range(2, len(us) + 1),
         |      i -> us[i] = us[i-1])) = 0 THEN 1 ELSE 0 END AS BIGINT) AS alternates
         |  FROM e)
         |SELECT conv_id, n_turns, n_user_turns,
         |  n_turns - n_user_turns AS n_asst_turns,
         |  asst_tok, user_tok, starts_user, alternates,
         |  CAST(CASE WHEN starts_user = 1 AND alternates = 1 THEN 1 ELSE 0 END
         |    AS BIGINT) AS valid
         |FROM m ORDER BY conv_id""".stripMargin,
    "q234_ndcg_audit" ->
      (s"WITH $bm25SearchCtes,\n" +
        s"""dsc AS (SELECT rr, CAST(dv AS BIGINT) AS dv FROM (VALUES
           |  ${graft.ext.Curation.ndcgDiscounts(10).zipWithIndex
                .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")})
           |  AS d(rr, dv)),
           |""".stripMargin +
        """base AS (SELECT q_id, n_terms AS rel, rnk FROM r WHERE rnk <= 10),
          |i AS (SELECT q_id, rel, rnk,
          |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, rnk)
          |    AS BIGINT) AS irnk FROM base),
          |a AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_ranked,
          |    CAST(sum(rel * d1.dv) AS BIGINT) AS dcg_n,
          |    CAST(sum(rel * d2.dv) AS BIGINT) AS idcg_n
          |  FROM i JOIN dsc d1 ON d1.rr = i.rnk JOIN dsc d2 ON d2.rr = i.irnk
          |  GROUP BY q_id)
          |SELECT CAST(q_id AS BIGINT) AS q_id, n_ranked, dcg_n, idcg_n,
          |  CAST(CASE WHEN idcg_n = 0 THEN NULL
          |    ELSE (dcg_n * 1000000) // idcg_n END AS BIGINT) AS ndcg_ppm
          |FROM a ORDER BY q_id""".stripMargin),
    "q235_rrf_fusion" ->
      (s"WITH $bm25SearchCtes,\n" +
        """tfr AS (SELECT qt.q_id, p.doc_id, CAST(sum(p.tf) AS BIGINT) AS s2
          |  FROM p JOIN qt USING (t) GROUP BY qt.q_id, p.doc_id),
          |tr2 AS (SELECT q_id, doc_id,
          |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY s2 DESC, doc_id)
          |    AS BIGINT) AS rnk FROM tfr),
          |u AS (SELECT q_id, doc_id, rnk FROM r WHERE rnk <= 10
          |  UNION ALL SELECT q_id, doc_id, rnk FROM tr2 WHERE rnk <= 10),
          |f AS (SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_rankers,
          |    CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf_ppm
          |  FROM u GROUP BY q_id, doc_id),
          |rr AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
          |    ORDER BY rrf_ppm DESC, doc_id) AS BIGINT) AS rnk2 FROM f)
          |SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, n_rankers, rrf_ppm,
          |  rnk2 AS rnk
          |FROM rr WHERE rnk2 <= 10 ORDER BY q_id, rnk2""".stripMargin),
    "q236_ece_calibration" ->
      (s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        """dd AS (
          |  SELECT q.vec_id, c.cell,
          |    CAST(list_sum(list_transform(generate_series(1, 64),
          |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS dist
          |  FROM qe q CROSS JOIN c2 c),
          |rk AS (SELECT vec_id, cell, dist,
          |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
          |  FROM dd),
          |asg AS (SELECT a.vec_id, a.cell AS cell, a.dist AS d1, b.dist AS d2
          |  FROM rk a JOIN rk b USING (vec_id) WHERE a.rn = 1 AND b.rn = 2),
          |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
          |  FROM embeddings WHERE label IS NOT NULL),
          |aj AS (SELECT asg.*, lab.label FROM asg JOIN lab USING (vec_id)),
          |mj AS (SELECT cell, label AS pred_label FROM (
          |    SELECT cell, label,
          |      row_number() OVER (PARTITION BY cell ORDER BY count(*) DESC, label) AS rn
          |    FROM aj GROUP BY cell, label) WHERE rn = 1),
          |cf AS (SELECT aj.vec_id, aj.label, mj.pred_label,
          |    CAST(CASE WHEN d1 + d2 = 0 THEN 500000
          |      ELSE (CAST(d2 AS HUGEINT) * 1000000) // (d1 + d2) END AS BIGINT)
          |      AS conf_ppm
          |  FROM aj JOIN mj USING (cell)),
          |bk AS (SELECT least((conf_ppm - 500000) // 50000, CAST(9 AS BIGINT)) AS bucket,
          |    CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CASE WHEN label = pred_label THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_correct,
          |    CAST(sum(conf_ppm) AS BIGINT) AS sum_conf
          |  FROM cf GROUP BY bucket),
          |m AS (SELECT bucket, n, n_correct,
          |    CAST((n_correct * 1000000) // n AS BIGINT) AS acc_ppm,
          |    CAST(sum_conf // n AS BIGINT) AS conf_avg_ppm
          |  FROM bk),
          |g AS (SELECT *, abs(acc_ppm - conf_avg_ppm) AS gap_ppm FROM m),
          |tt AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
          |  CAST(sum(gap_ppm * n) AS BIGINT) AS gw FROM g)
          |SELECT bucket, n, n_correct, acc_ppm, conf_avg_ppm, gap_ppm,
          |  CAST(gw // tn AS BIGINT) AS ece_ppm
          |FROM g, tt ORDER BY bucket""".stripMargin),
    "q238_kendall_tau" ->
      (s"WITH $bm25SearchCtes,\n" +
        """tfr AS (SELECT qt.q_id, p.doc_id, CAST(sum(p.tf) AS BIGINT) AS s2
          |  FROM p JOIN qt USING (t) GROUP BY qt.q_id, p.doc_id),
          |tr2 AS (SELECT q_id, doc_id,
          |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY s2 DESC, doc_id)
          |    AS BIGINT) AS rnk FROM tfr),
          |ja AS (SELECT r.q_id, r.doc_id, r.rnk AS ra, tr2.rnk AS rb
          |  FROM r JOIN tr2 USING (q_id, doc_id)
          |  WHERE r.rnk <= 10 AND tr2.rnk <= 10),
          |pr AS (SELECT x.q_id, (x.ra - y.ra) * (x.rb - y.rb) AS sg
          |  FROM ja x JOIN ja y ON x.q_id = y.q_id AND x.doc_id < y.doc_id),
          |per AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_pairs,
          |    CAST(sum(CASE WHEN sg > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_conc,
          |    CAST(sum(CASE WHEN sg < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc
          |  FROM pr GROUP BY q_id),
          |nc AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_common
          |  FROM ja GROUP BY q_id),
          |fin AS (SELECT nc.q_id, nc.n_common,
          |    coalesce(per.n_pairs, 0) AS n_pairs,
          |    coalesce(per.n_conc, 0) AS n_conc,
          |    coalesce(per.n_disc, 0) AS n_disc
          |  FROM nc LEFT JOIN per USING (q_id))
          |SELECT CAST(q_id AS BIGINT) AS q_id, n_common, n_pairs, n_conc,
          |  n_disc,
          |  CAST(CASE WHEN n_pairs = 0 THEN NULL
          |    WHEN n_conc >= n_disc
          |      THEN ((n_conc - n_disc) * 1000000) // n_pairs
          |    ELSE -(((n_disc - n_conc) * 1000000) // n_pairs)
          |  END AS BIGINT) AS tau_ppm
          |FROM fin ORDER BY q_id""".stripMargin),
    "q239_hits" ->
      ("""WITH e AS (SELECT CAST(user_id AS VARCHAR) AS src, event_type AS dst,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM events GROUP BY 1, 2),
         |hn AS (SELECT DISTINCT src FROM e),
         |an AS (SELECT DISTINCT dst FROM e),
         |nh AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hn),
         |na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM an),
         |h0 AS (SELECT src, CAST(1000000 AS BIGINT) AS h FROM hn),
         |""".stripMargin +
        hitsRoundCtes(2) +
        """
          |SELECT node, role, score_ppm FROM (
          |  SELECT src AS node, 'hub' AS role, h AS score_ppm FROM h2
          |  UNION ALL
          |  SELECT dst AS node, 'authority' AS role, a AS score_ppm FROM a2)
          |ORDER BY role, node""".stripMargin),
    "q243_winsorized_stats" ->
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |tiers AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM b GROUP BY g, v),
        |offs AS (SELECT g, v, cnt, coalesce(sum(cnt) OVER (PARTITION BY g
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS off FROM tiers),
        |ns AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY g),
        |rk AS (SELECT g, n,
        |    greatest(1, (n * 50000 + 999999) // 1000000) AS rlo,
        |    greatest(1, (n * 950000 + 999999) // 1000000) AS rhi FROM ns),
        |lo AS (SELECT rk.g, offs.v AS lo_milli FROM rk JOIN offs
        |  ON offs.g = rk.g AND rk.rlo > offs.off
        |    AND rk.rlo <= offs.off + offs.cnt),
        |hi AS (SELECT rk.g, offs.v AS hi_milli FROM rk JOIN offs
        |  ON offs.g = rk.g AND rk.rhi > offs.off
        |    AND rk.rhi <= offs.off + offs.cnt),
        |cl AS (SELECT b.g, b.v,
        |    least(greatest(b.v, lo.lo_milli), hi.hi_milli) AS vw,
        |    lo.lo_milli, hi.hi_milli
        |  FROM b JOIN lo USING (g) JOIN hi USING (g)),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    min(lo_milli) AS lo_milli, min(hi_milli) AS hi_milli,
        |    CAST(sum(v) AS BIGINT) AS rs, CAST(sum(vw) AS BIGINT) AS ws
        |  FROM cl GROUP BY g)
        |SELECT g AS event_type, n, lo_milli, hi_milli,
        |  CAST(CASE WHEN rs >= 0 THEN (rs * 1000) // n
        |    ELSE -((-rs * 1000) // n) END AS BIGINT) AS raw_mean_micro,
        |  CAST(CASE WHEN ws >= 0 THEN (ws * 1000) // n
        |    ELSE -((-ws * 1000) // n) END AS BIGINT) AS win_mean_micro
        |FROM a ORDER BY event_type""".stripMargin,
    "q244_poisson_bootstrap" ->
      """WITH base AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS m
        |  FROM documents),
        |e AS (SELECT id, m, unnest(generate_series(1, 32)) AS b FROM base),
        |h AS (SELECT b, m, list_reduce(
        |    list_transform(string_split(md5('pb1:' || CAST(b AS VARCHAR)
        |        || ':' || CAST(id AS VARCHAR)), '')[1:15],
        |      c -> CAST(CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
        |                ELSE unicode(c) - 48 END AS BIGINT)),
        |    (a, v) -> a * 16 + v) % 1000000 AS hv FROM e),
        |w AS (SELECT b, m, CASE WHEN hv < 367879 THEN 0
        |    WHEN hv < 735759 THEN 1 WHEN hv < 919699 THEN 2
        |    WHEN hv < 981012 THEN 3 WHEN hv < 996340 THEN 4
        |    WHEN hv < 999406 THEN 5 ELSE 6 END AS w FROM h),
        |a AS (SELECT CAST(b AS BIGINT) AS b, CAST(sum(w) AS BIGINT) AS n_eff,
        |    CAST(sum(w * m) AS BIGINT) AS sum_m FROM w GROUP BY b)
        |SELECT b, n_eff, sum_m,
        |  CAST(CASE WHEN n_eff = 0 THEN NULL
        |    WHEN sum_m >= 0 THEN (sum_m * 1000000) // n_eff
        |    ELSE -((-sum_m * 1000000) // n_eff) END AS BIGINT) AS mean_ppm
        |FROM a ORDER BY b""".stripMargin,
    "q251_fd_audit" -> {
      def fdCte(tag: String, lexpr: String, rexpr: String, fd: String) =
        s"""a$tag AS (SELECT l, count(DISTINCT r) AS nd, count(*) AS n FROM (
           |    SELECT $lexpr AS l, $rexpr AS r FROM documents) GROUP BY l),
           |r$tag AS (SELECT '$fd' AS fd,
           |    CAST(count(*) AS BIGINT) AS n_groups,
           |    CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_violating_groups,
           |    CAST(sum(CASE WHEN nd >= 2 THEN n ELSE 0 END) AS BIGINT)
           |      AS n_rows_in_violation,
           |    CAST(CASE WHEN sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) = 0
           |      THEN 1 ELSE 0 END AS BIGINT) AS holds
           |  FROM a$tag)""".stripMargin
      "WITH " +
        fdCte("1", "coalesce(CAST(doc_id AS VARCHAR), chr(2))",
          "coalesce(lang, chr(2))", "doc_id->lang") + ",\n" +
        fdCte("2", "coalesce(lang, chr(2))",
          "coalesce(source, chr(2))", "lang->source") + ",\n" +
        fdCte("3",
          "concat_ws(chr(1), coalesce(lang, chr(2)), coalesce(source, chr(2)))",
          "coalesce(CAST(n_chars // 100 AS VARCHAR), chr(2))",
          "lang,source->len_band") + "\n" +
        """SELECT * FROM r1 UNION ALL SELECT * FROM r2
          |UNION ALL SELECT * FROM r3 ORDER BY fd""".stripMargin
    },
    "q252_trend_slope" ->
      """WITH b AS (SELECT event_type AS g,
        |    epoch_us(ts) // 3600000000 AS h FROM events),
        |h0 AS (SELECT min(h) AS h0 FROM b),
        |c AS (SELECT g, x, CAST(count(*) AS BIGINT) AS y FROM (
        |    SELECT g, h - h0.h0 AS x FROM b, h0) GROUP BY g, x),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n_hours,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM c GROUP BY g),
        |s AS (SELECT g, n_hours, sy,
        |    CAST(n_hours AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |    CAST(n_hours AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
        |  FROM a)
        |SELECT g AS event_type, n_hours, sy AS n_events,
        |  CAST(CASE WHEN den = 0 THEN NULL
        |    WHEN num >= 0 THEN (num * 1000000) // den
        |    ELSE -((-num * 1000000) // den) END AS BIGINT) AS slope_micro
        |FROM s ORDER BY event_type""".stripMargin,
    "q255_churn_hazard" ->
      """WITH lt AS (
        |  SELECT user_id,
        |    max(epoch_us(ts) // 86400000000) - min(epoch_us(ts) // 86400000000)
        |      AS lifetime
        |  FROM events GROUP BY user_id),
        |h AS (SELECT lifetime AS t, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM lt GROUP BY lifetime),
        |r AS (SELECT t, n_churned, CAST(sum(n_churned) OVER (ORDER BY t
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        |    AS n_at_risk
        |  FROM h)
        |SELECT CAST(t AS BIGINT) AS t, n_at_risk, n_churned,
        |  (n_churned * 1000000) // n_at_risk AS hazard_ppm
        |FROM r ORDER BY t""".stripMargin,
    "q256_rbo_agreement" ->
      (s"WITH $bm25SearchCtes,\n" +
        s"""wt AS (SELECT rr, CAST(dv AS BIGINT) AS dv FROM (VALUES
           |  ${graft.ext.Curation.rboWeights(10, 900L).zipWithIndex
                .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")})
           |  AS d(rr, dv)),
           |""".stripMargin +
        """tfr AS (SELECT qt.q_id, p.doc_id, CAST(sum(p.tf) AS BIGINT) AS s2
          |  FROM p JOIN qt USING (t) GROUP BY qt.q_id, p.doc_id),
          |tr2 AS (SELECT q_id, doc_id,
          |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY s2 DESC, doc_id)
          |    AS BIGINT) AS rnk FROM tfr),
          |joint AS (SELECT r.q_id, greatest(r.rnk, tr2.rnk) AS m
          |  FROM r JOIN tr2 USING (q_id, doc_id)
          |  WHERE r.rnk <= 10 AND tr2.rnk <= 10),
          |dep AS (SELECT q_id, unnest(generate_series(m, 10)) AS d FROM joint),
          |ov AS (SELECT q_id, d, CAST(count(*) AS BIGINT) AS ov
          |  FROM dep GROUP BY q_id, d),
          |tm AS (SELECT q_id, CAST(sum((wt.dv * ov.ov) // ov.d) AS BIGINT)
          |    AS num, CAST(max(ov) AS BIGINT) AS n_common
          |  FROM ov JOIN wt ON wt.rr = ov.d GROUP BY q_id),
          |qs AS (SELECT DISTINCT q_id FROM q)
          |SELECT CAST(qs.q_id AS BIGINT) AS q_id,
          |  coalesce(tm.n_common, 0) AS n_common,
          |  CAST((coalesce(tm.num, 0) * 1000000) // """.stripMargin +
        s"${graft.ext.Curation.rboWeights(10, 900L).sum} AS BIGINT) AS rbo_ppm\n" +
        "FROM qs LEFT JOIN tm USING (q_id) ORDER BY q_id"),
    "q257_fellegi_sunter" -> {
      val (wa0, wd0) = graft.ext.Dedup.fsWeights(900L, 150L)
      val (wa1, wd1) = graft.ext.Dedup.fsWeights(800L, 100L)
      val (wa2, wd2) = graft.ext.Dedup.fsWeights(850L, 200L)
      raw"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
         |  FROM documents),
         |cnt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
         |  FROM tok GROUP BY doc_id, w),
         |gd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
         |  CAST(sum(c * c) AS BIGINT) AS sumsq FROM cnt GROUP BY doc_id),
         |gi AS (SELECT doc_id,
         |  1000000 - (1000000 * sumsq) // (n_tok * n_tok) AS g, n_tok
         |  FROM gd),
         |f AS (SELECT d.doc_id, d.lang, d.n_chars // 50 AS band, d.source,
         |    gi.g // 50000 AS f1, gi.n_tok // 10 AS f2
         |  FROM documents d JOIN gi USING (doc_id)),
         |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    (CASE WHEN a.source IS NOT DISTINCT FROM b.source
         |       THEN $wa0 ELSE $wd0 END)
         |    + (CASE WHEN a.f1 IS NOT DISTINCT FROM b.f1
         |       THEN $wa1 ELSE $wd1 END)
         |    + (CASE WHEN a.f2 IS NOT DISTINCT FROM b.f2
         |       THEN $wa2 ELSE $wd2 END) AS score
         |  FROM f a JOIN f b ON a.lang = b.lang AND a.band = b.band
         |    AND a.doc_id < b.doc_id),
         |c AS (SELECT CASE WHEN score >= 4000000 THEN 'link'
         |    WHEN score <= 0 THEN 'nonlink' ELSE 'possible' END AS cls,
         |    score, id1 + id2 AS ps FROM p)
         |SELECT cls, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(score) AS BIGINT) AS sum_score_micro,
         |  CAST(sum(ps) AS BIGINT) AS checksum
         |FROM c GROUP BY cls ORDER BY cls""".stripMargin
    },
    "q260_conversion_latency" ->
      """WITH f AS (SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'click' GROUP BY user_id),
        |t AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS p
        |  FROM events WHERE event_type = 'purchase'),
        |lat AS (SELECT (min(p) - c) // 1000000 AS lat_s
        |  FROM f JOIN t USING (user_id) WHERE p >= c GROUP BY user_id, c),
        |tiers AS (SELECT lat_s, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lat GROUP BY lat_s),
        |offs AS (SELECT lat_s, cnt, coalesce(sum(cnt) OVER (ORDER BY lat_s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM tiers),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(lat_s) AS BIGINT) AS s FROM lat),
        |p50 AS (SELECT lat_s AS p50_s FROM tot, offs
        |  WHERE greatest(1, (n * 500000 + 999999) // 1000000) > off
        |    AND greatest(1, (n * 500000 + 999999) // 1000000) <= off + cnt),
        |p90 AS (SELECT lat_s AS p90_s FROM tot, offs
        |  WHERE greatest(1, (n * 900000 + 999999) // 1000000) > off
        |    AND greatest(1, (n * 900000 + 999999) // 1000000) <= off + cnt)
        |SELECT tot.n AS n_converted, p50.p50_s, p90.p90_s,
        |  (tot.s * 1000000) // tot.n AS mean_micro_s
        |FROM tot, p50, p90""".stripMargin,
    "q261_benford_audit" ->
      (s"""WITH ex AS (SELECT rr, CAST(dv AS BIGINT) AS dv FROM (VALUES
          |  ${graft.ext.Quality.benfordExpectedPpm.zipWithIndex
               .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")})
          |  AS d(rr, dv)),
          |""".stripMargin +
        """b AS (SELECT CAST(substr(CAST(CAST(floor(value * 1000) AS BIGINT)
          |      AS VARCHAR), 1, 1) AS BIGINT) AS digit
          |  FROM events WHERE value > 0),
          |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM b
          |  GROUP BY digit),
          |tt AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM g),
          |per AS (SELECT digit, n, (n * 1000000) // tn AS obs_ppm, ex.dv
          |    AS exp_ppm
          |  FROM g, tt JOIN ex ON ex.rr = g.digit),
          |dv AS (SELECT *, abs(obs_ppm - exp_ppm) AS dev_ppm FROM per),
          |tv AS (SELECT CAST(sum(dev_ppm) // 2 AS BIGINT) AS tvd_ppm FROM dv)
          |SELECT digit, n, obs_ppm, exp_ppm, dev_ppm, tv.tvd_ppm
          |FROM dv, tv ORDER BY digit""".stripMargin),
    "q263_did_uplift" ->
      """WITH b AS (SELECT user_id AS u, epoch_us(ts) AS t,
        |    CAST(floor(value * 1000) AS BIGINT) AS v,
        |    CASE WHEN event_type = 'error' AND value >= 300.0
        |      THEN 1 ELSE 0 END AS im
        |  FROM events),
        |mid AS (SELECT (min(t) + max(t)) // 2 AS mid FROM b),
        |tr AS (SELECT DISTINCT u FROM b WHERE im = 1),
        |f AS (SELECT b.u,
        |    CASE WHEN tr.u IS NULL THEN 0 ELSE 1 END AS trf,
        |    CASE WHEN b.t >= mid.mid THEN 1 ELSE 0 END AS post, b.v
        |  FROM b LEFT JOIN tr ON tr.u = b.u, mid WHERE b.im = 0),
        |a AS (SELECT
        |    CAST(count(DISTINCT CASE WHEN trf = 1 THEN u END) AS BIGINT)
        |      AS n_treated,
        |    CAST(count(DISTINCT CASE WHEN trf = 0 THEN u END) AS BIGINT)
        |      AS n_control,
        |    CAST(sum(CASE WHEN trf = 1 AND post = 0 THEN v ELSE 0 END) AS BIGINT) AS s_t0,
        |    CAST(sum(CASE WHEN trf = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t0,
        |    CAST(sum(CASE WHEN trf = 1 AND post = 1 THEN v ELSE 0 END) AS BIGINT) AS s_t1,
        |    CAST(sum(CASE WHEN trf = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t1,
        |    CAST(sum(CASE WHEN trf = 0 AND post = 0 THEN v ELSE 0 END) AS BIGINT) AS s_c0,
        |    CAST(sum(CASE WHEN trf = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c0,
        |    CAST(sum(CASE WHEN trf = 0 AND post = 1 THEN v ELSE 0 END) AS BIGINT) AS s_c1,
        |    CAST(sum(CASE WHEN trf = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c1
        |  FROM f),
        |m AS (SELECT n_treated, n_control,
        |    CAST(CASE WHEN n_t0 = 0 THEN NULL WHEN s_t0 >= 0 THEN (s_t0 * 1000) // n_t0
        |      ELSE -((-s_t0 * 1000) // n_t0) END AS BIGINT) AS pre_t,
        |    CAST(CASE WHEN n_t1 = 0 THEN NULL WHEN s_t1 >= 0 THEN (s_t1 * 1000) // n_t1
        |      ELSE -((-s_t1 * 1000) // n_t1) END AS BIGINT) AS post_t,
        |    CAST(CASE WHEN n_c0 = 0 THEN NULL WHEN s_c0 >= 0 THEN (s_c0 * 1000) // n_c0
        |      ELSE -((-s_c0 * 1000) // n_c0) END AS BIGINT) AS pre_c,
        |    CAST(CASE WHEN n_c1 = 0 THEN NULL WHEN s_c1 >= 0 THEN (s_c1 * 1000) // n_c1
        |      ELSE -((-s_c1 * 1000) // n_c1) END AS BIGINT) AS post_c
        |  FROM a)
        |SELECT n_treated, n_control, pre_t, post_t, pre_c, post_c,
        |  (post_t - pre_t) - (post_c - pre_c) AS did_micro
        |FROM m""".stripMargin,
    "q265_transition_rules" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |mt AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |ft AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |  FROM mt GROUP BY from_type),
        |tt AS (SELECT to_type, CAST(sum(n) AS BIGINT) AS n_to
        |  FROM mt GROUP BY to_type),
        |al AS (SELECT CAST(sum(n) AS BIGINT) AS n_all FROM mt),
        |r AS (SELECT mt.from_type, mt.to_type, mt.n, ft.n_from,
        |    CAST((mt.n * 1000000) // ft.n_from AS BIGINT) AS confidence_ppm,
        |    tt.n_to, al.n_all
        |  FROM mt JOIN ft USING (from_type) JOIN tt USING (to_type), al
        |  WHERE mt.n >= 50)
        |SELECT from_type, to_type, n, n_from, confidence_ppm,
        |  CAST((CAST(confidence_ppm AS HUGEINT) * n_all) // n_to AS BIGINT)
        |    AS lift_ppm
        |FROM r ORDER BY from_type, to_type""".stripMargin,
    "q266_opening_paths" ->
      """WITH p AS (SELECT user_id,
        |    array_to_string(list(event_type ORDER BY ts, event_id)[1:4], '>')
        |      AS path
        |  FROM events GROUP BY user_id),
        |g AS (SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |  FROM p GROUP BY path),
        |r AS (SELECT path, n_users, CAST(row_number() OVER (
        |    ORDER BY n_users DESC, path) AS BIGINT) AS rnk FROM g)
        |SELECT path, n_users, rnk FROM r WHERE rnk <= 10 ORDER BY rnk""".stripMargin,
    "q268_order_reconcile" ->
      """WITH l AS (SELECT l_orderkey AS k,
        |    CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |      AS DECIMAL(30,10))), 2) AS DOUBLE) AS l_total
        |  FROM lineitem GROUP BY l_orderkey),
        |j AS (SELECT o.o_orderkey AS k, o.o_totalprice AS h_total, l.l_total,
        |    CASE WHEN l.l_total IS NULL THEN NULL
        |      ELSE round(abs(l.l_total - o.o_totalprice), 2) END AS diff
        |  FROM orders o LEFT JOIN l ON l.k = o.o_orderkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_headers,
        |  CAST(sum(CASE WHEN l_total IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_no_lines,
        |  CAST(sum(CASE WHEN diff <= 0.01 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_matched,
        |  CAST(sum(CASE WHEN diff > 0.01 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_mismatched,
        |  round(coalesce(max(diff), 0), 2) AS max_diff,
        |  CAST(round(sum(CAST(coalesce(diff, 0) AS DECIMAL(30,10))), 2)
        |    AS DOUBLE) AS sum_diff
        |FROM j""".stripMargin,
    "q281_skew_forecast" ->
      """WITH ev AS (SELECT CASE WHEN user_id % 10 = 0 THEN 1
        |    ELSE user_id END AS user_id FROM events),
        |b AS (SELECT user_id, (list_reduce(list_transform(
        |    string_split(md5(CAST(user_id AS VARCHAR)), '')[1:15],
        |    c -> CAST(CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
        |              ELSE unicode(c) - 48 END AS BIGINT)),
        |    (a, v) -> a * 16 + v) % 16) AS bucket FROM ev),
        |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
        |  FROM b GROUP BY bucket),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS nb FROM g)
        |SELECT bucket, n_rows, n_keys,
        |  CAST((n_rows * nb * 1000000) // t AS BIGINT) AS load_ppm
        |FROM g CROSS JOIN t ORDER BY bucket""".stripMargin,
    "q278_approx_groupby" ->
      (s"""WITH base AS (SELECT l_returnflag AS g,
          |    CAST(l_orderkey AS VARCHAR) || '_' ||
          |      CAST(l_linenumber AS VARCHAR) AS k,
          |    CAST(floor(l_quantity * 1000) AS BIGINT) AS m FROM lineitem),
          |samp AS (SELECT * FROM base
          |  WHERE ${md5ModSql("'aq:' || k")} < 100000),
          |est AS (SELECT g, CAST(count(*) AS BIGINT) AS n_sampled,
          |    CAST(sum(m) AS BIGINT) AS s_m FROM samp GROUP BY g),
          |rep0 AS (SELECT g, m, bb.b AS b,
          |    ${md5ModSql("'aqb:' || CAST(bb.b AS VARCHAR) || ':' || k")} AS h
          |  FROM samp CROSS JOIN
          |    (SELECT unnest(generate_series(1, 16)) AS b) bb),
          |rep1 AS (SELECT g, b, m,
          |    CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
          |         WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
          |         WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5
          |         ELSE 6 END AS w
          |  FROM rep0),
          |rep2 AS (SELECT g, b, CAST(sum(w) AS BIGINT) AS n_eff,
          |    CAST(sum(w * m) AS BIGINT) AS wm FROM rep1 GROUP BY g, b),
          |rep3 AS (SELECT g, b,
          |    CASE WHEN wm >= 0 THEN wm // n_eff
          |      ELSE -((-wm) // n_eff) END AS mean_b
          |  FROM rep2 WHERE n_eff > 0),
          |ci AS (SELECT g, CAST(min(mean_b) AS BIGINT) AS ci_lo_milli,
          |    CAST(max(mean_b) AS BIGINT) AS ci_hi_milli FROM rep3 GROUP BY g),
          |tr AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
          |    CAST(sum(m) AS BIGINT) AS t_m FROM base GROUP BY g)
          |SELECT tr.g, tr.n_rows,
          |  coalesce(est.n_sampled, 0) AS n_sampled,
          |  CAST(CASE WHEN t_m >= 0 THEN t_m // n_rows
          |    ELSE -((-t_m) // n_rows) END AS BIGINT) AS true_mean_milli,
          |  CAST(CASE WHEN s_m IS NULL THEN NULL
          |    WHEN s_m >= 0 THEN s_m // n_sampled
          |    ELSE -((-s_m) // n_sampled) END AS BIGINT) AS est_mean_milli,
          |  ci.ci_lo_milli, ci.ci_hi_milli,
          |  CAST(CASE WHEN t_m >= 0 THEN t_m // n_rows
          |      ELSE -((-t_m) // n_rows) END
          |    BETWEEN ci.ci_lo_milli AND ci.ci_hi_milli AS BIGINT) AS inside
          |FROM tr LEFT JOIN est ON est.g = tr.g
          |        LEFT JOIN ci ON ci.g = tr.g
          |ORDER BY tr.g""".stripMargin),
    "q279_join_size_estimate" ->
      """WITH sa AS (SELECT r, b, CAST(count(*) AS BIGINT) AS ca FROM (
        |    SELECT rr.r AS r, (list_reduce(list_transform(
        |        string_split(md5(CAST(rr.r AS VARCHAR) || ':' ||
        |          CAST(o_orderkey AS VARCHAR)), '')[1:11],
        |        c -> CAST(CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
        |                  ELSE unicode(c) - 48 END AS BIGINT)),
        |      (a, v) -> a * 16 + v) % 256) AS b
        |    FROM orders CROSS JOIN
        |      (SELECT unnest(generate_series(0, 3)) AS r) rr)
        |  GROUP BY r, b),
        |sb AS (SELECT r, b, CAST(count(*) AS BIGINT) AS cb FROM (
        |    SELECT rr.r AS r, (list_reduce(list_transform(
        |        string_split(md5(CAST(rr.r AS VARCHAR) || ':' ||
        |          CAST(l_orderkey AS VARCHAR)), '')[1:11],
        |        c -> CAST(CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
        |                  ELSE unicode(c) - 48 END AS BIGINT)),
        |      (a, v) -> a * 16 + v) % 256) AS b
        |    FROM lineitem CROSS JOIN
        |      (SELECT unnest(generate_series(0, 3)) AS r) rr)
        |  GROUP BY r, b),
        |ip AS (SELECT sa.r, sum(CAST(ca AS HUGEINT) * cb) AS ip
        |  FROM sa JOIN sb ON sa.r = sb.r AND sa.b = sb.b GROUP BY sa.r),
        |est AS (SELECT CAST(min(ip) AS BIGINT) AS est_join_rows FROM ip),
        |ca2 AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS na
        |  FROM orders GROUP BY o_orderkey),
        |cb2 AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nb
        |  FROM lineitem GROUP BY l_orderkey),
        |tr AS (SELECT CAST(coalesce(sum(CAST(na AS HUGEINT) * nb), 0)
        |    AS BIGINT) AS true_join_rows
        |  FROM ca2 JOIN cb2 ON ca2.k = cb2.k)
        |SELECT est_join_rows, true_join_rows,
        |  CAST((abs(est_join_rows - true_join_rows) * 1000000)
        |    // greatest(true_join_rows, 1) AS BIGINT) AS err_ppm
        |FROM est CROSS JOIN tr""".stripMargin,
    "q218_rate_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY event_type, h),
        |med AS (SELECT event_type, CAST(4 * quantile_cont(x, 0.5) AS BIGINT) AS med4
        |        FROM hourly GROUP BY event_type),
        |dev AS (SELECT b.event_type, b.h, b.x, m.med4, abs(b.x * 4 - m.med4) AS dev4
        |        FROM hourly b JOIN med m ON m.event_type = b.event_type),
        |mad AS (SELECT event_type, CAST(2 * quantile_cont(dev4, 0.5) AS BIGINT) AS mad8
        |        FROM dev GROUP BY event_type),
        |z AS (SELECT d.event_type, d.h,
        |        (2000000 * (d.x * 4 - d.med4)) // greatest(mad8, 1) AS z_ppm
        |      FROM dev d JOIN mad ON mad.event_type = d.event_type)
        |SELECT event_type AS strat, CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(sum(CASE WHEN abs(z_ppm) > 4000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
        |  CAST(max(abs(z_ppm)) AS BIGINT) AS max_abs_z_ppm
        |FROM z GROUP BY event_type ORDER BY strat""".stripMargin,
    "q217_freshness_decay" ->
      """WITH ref AS (SELECT max(ts) AS ref_ts FROM events),
        |w AS (
        |  SELECT event_type,
        |    1000000 // (1 << least(
        |      (epoch_us(ref_ts) // 3600000000 - epoch_us(ts) // 3600000000) // 72,
        |      20)) AS w_ppm
        |  FROM events, ref)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(w_ppm) AS BIGINT) AS decayed_mass_ppm,
        |  CAST(max(w_ppm) AS BIGINT) AS max_w, CAST(min(w_ppm) AS BIGINT) AS min_w
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q215_cm_sketch" ->
      raw"""WITH toks AS (
         |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
         |cells AS (
         |  SELECT r, list_reduce(
         |      list_transform(string_split(md5(CAST(r AS VARCHAR) || ':' || w), '')[1:11],
         |        c -> CAST(CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
         |                  ELSE unicode(c) - 48 END AS BIGINT)),
         |      (a, v) -> a * 16 + v) % 64 AS b
         |  FROM toks, unnest(generate_series(0, 3)) AS t(r)),
         |sk AS (SELECT r, b, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY r, b),
         |probes AS (SELECT * FROM (VALUES ('table'), ('slow'), ('merge'),
         |  ('spark'), ('window'), ('zz-absent')) AS t(probe)),
         |pc AS (
         |  SELECT probe, r, list_reduce(
         |      list_transform(string_split(md5(CAST(r AS VARCHAR) || ':' || probe), '')[1:11],
         |        c -> CAST(CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
         |                  ELSE unicode(c) - 48 END AS BIGINT)),
         |      (a, v) -> a * 16 + v) % 64 AS b
         |  FROM probes, unnest(generate_series(0, 3)) AS t(r)),
         |est AS (
         |  SELECT probe, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est
         |  FROM pc LEFT JOIN sk USING (r, b) GROUP BY probe),
         |tr AS (SELECT w, CAST(count(*) AS BIGINT) AS true_cnt FROM toks GROUP BY w)
         |SELECT e.probe, e.est, coalesce(tr.true_cnt, 0) AS true_cnt,
         |  e.est - coalesce(tr.true_cnt, 0) AS over
         |FROM est e LEFT JOIN tr ON tr.w = e.probe
         |ORDER BY e.probe""".stripMargin,
    "q214_incremental_rollup" ->
      """WITH h AS (
        |  SELECT DISTINCT source AS stratum, list_reduce(
        |    list_transform(string_split(md5(text), '')[1:15],
        |      c -> CAST(CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
        |                ELSE unicode(c) - 48 END AS BIGINT)),
        |    (a, v) -> a * 16 + v) AS h
        |  FROM documents),
        |topk AS (
        |  SELECT stratum, h FROM (
        |    SELECT stratum, h, row_number() OVER (
        |      PARTITION BY stratum ORDER BY h) AS r FROM h)
        |  WHERE r <= 16),
        |est AS (
        |  SELECT stratum, max(h) AS h_k, CAST(count(*) AS BIGINT) AS m
        |  FROM topk GROUP BY stratum),
        |e AS (
        |  SELECT stratum, CASE WHEN m < 16 THEN m ELSE
        |    CAST((CAST(15 AS HUGEINT) * 1152921504606846976) // h_k AS BIGINT) END AS n_est
        |  FROM est),
        |c AS (
        |  SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY source)
        |SELECT c.stratum, c.n_docs, c.sum_chars, e.n_est
        |FROM c JOIN e USING (stratum) ORDER BY c.stratum""".stripMargin,
    "q202_pseudonymize" ->
      raw"""WITH p0 AS (
         |  SELECT doc_id, text || ' contact user' || CAST(doc_id % 50 AS VARCHAR) ||
         |    '@mail.example.com via https://ex.example/u/' || CAST(doc_id % 30 AS VARCHAR) ||
         |    ' acct 99' || CAST(doc_id % 20 AS VARCHAR) || '001122' AS x
         |  FROM documents WHERE doc_id < 300),
         |p1 AS (SELECT doc_id, list_reduce(list_prepend(x,
         |    list_transform(list_sort(list_transform(
         |      list_distinct(regexp_extract_all(x, 'https?://[^ \t\r\n]+')),
         |      m -> lpad(CAST(10000 - length(m) AS VARCHAR), 5, '0') || m)),
         |      y -> y[6:])),
         |    (a, m) -> replace(a, m, '<URL_' ||
         |      translate(md5(m)[1:8], '0123456789', 'ghijklmnop') || '>')) AS x
         |  FROM p0),
         |p2 AS (SELECT doc_id, list_reduce(list_prepend(x,
         |    list_transform(list_sort(list_transform(
         |      list_distinct(regexp_extract_all(x, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')),
         |      m -> lpad(CAST(10000 - length(m) AS VARCHAR), 5, '0') || m)),
         |      y -> y[6:])),
         |    (a, m) -> replace(a, m, '<EMAIL_' ||
         |      translate(md5(m)[1:8], '0123456789', 'ghijklmnop') || '>')) AS x
         |  FROM p1),
         |p3 AS (SELECT doc_id, list_reduce(list_prepend(x,
         |    list_transform(list_sort(list_transform(
         |      list_distinct(regexp_extract_all(x, '[0-9]{7,}')),
         |      m -> lpad(CAST(10000 - length(m) AS VARCHAR), 5, '0') || m)),
         |      y -> y[6:])),
         |    (a, m) -> replace(a, m, '<NUM_' ||
         |      translate(md5(m)[1:8], '0123456789', 'ghijklmnop') || '>')) AS x
         |  FROM p2)
         |SELECT doc_id, md5(x) AS ps_md5,
         |  regexp_extract(x, '<EMAIL_([a-p]+)>', 1) AS email_pseudo
         |FROM p3 ORDER BY doc_id""".stripMargin,
    "q194_kmv_estimate" ->
      """WITH h AS (
        |  SELECT DISTINCT list_reduce(
        |    list_transform(string_split(md5(text), '')[1:15],
        |      c -> CAST(CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
        |                ELSE unicode(c) - 48 END AS BIGINT)),
        |    (a, v) -> a * 16 + v) AS h
        |  FROM documents),
        |topk AS (SELECT h FROM h ORDER BY h LIMIT 20),
        |s AS (SELECT max(h) AS h_k, CAST(count(*) AS BIGINT) AS m FROM topk),
        |x AS (SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_exact FROM documents),
        |e AS (SELECT CAST(20 AS BIGINT) AS k, h_k,
        |  CASE WHEN m < 20 THEN m ELSE
        |    CAST((CAST(19 AS HUGEINT) * 1152921504606846976) // h_k AS BIGINT) END AS n_est
        |  FROM s)
        |SELECT k, h_k, n_est, n_exact,
        |  (1000000 * abs(n_est - n_exact)) // n_exact AS err_ppm
        |FROM e, x""".stripMargin,
    "q191_robust_outliers" ->
      """WITH base AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x FROM documents),
        |med AS (SELECT source, CAST(4 * quantile_cont(x, 0.5) AS BIGINT) AS med4
        |        FROM base GROUP BY source),
        |dev AS (SELECT b.doc_id, b.source, b.x, m.med4, abs(b.x * 4 - m.med4) AS dev4
        |        FROM base b JOIN med m ON m.source = b.source),
        |mad AS (SELECT source, CAST(2 * quantile_cont(dev4, 0.5) AS BIGINT) AS mad8
        |        FROM dev GROUP BY source),
        |z AS (SELECT d.doc_id, d.source, d.x AS score,
        |        (2000000 * (d.x * 4 - d.med4)) // greatest(mad8, 1) AS z_ppm
        |      FROM dev d JOIN mad ON mad.source = d.source)
        |SELECT doc_id, source, score, CAST(z_ppm AS BIGINT) AS z_ppm
        |FROM z WHERE abs(z_ppm) >= 2000000 ORDER BY doc_id""".stripMargin,
    "q171_source_overlap" ->
      raw"""WITH sh AS (
         |  SELECT DISTINCT src, g FROM (
         |    SELECT source AS src, unnest(list_transform(
         |      generate_series(1, len(t) - 2),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
         |    FROM (SELECT source, string_split_regex(trim(text), '\s+') AS t
         |          FROM documents) q
         |    WHERE len(t) >= 3) q2),
         |tot AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY src),
         |com AS (
         |  SELECT a.src AS s1, b.src AS s2, CAST(count(*) AS BIGINT) AS n_common
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.src < b.src
         |  GROUP BY a.src, b.src)
         |SELECT s1, s2, n_common, t1.n AS n1, t2.n AS n2,
         |  (1000000 * n_common) // (t1.n + t2.n - n_common) AS jaccard_ppm
         |FROM com JOIN tot t1 ON t1.src = com.s1 JOIN tot t2 ON t2.src = com.s2
         |ORDER BY s1, s2""".stripMargin,
    // scored pairs once; argmax twice via (sim, -id)-ordered windows —
    // the same tie rule as the struct max
    // the q41 quality formula per doc, quantile_cont (= Spark percentile)
    // threshold per lang, gate re-applied in the join condition
    "q123_percentile_gate" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang, round(
         |    0.5 * round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1), 6)
         |    + 0.3 * least(round(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |        t -> list_contains($stopList, t))) AS DOUBLE)
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) * 3, 1.0)
         |    + 0.2 * least(round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) / 8, 1.0), 6) AS q
         |  FROM documents),
         |cd AS (SELECT doc_id, lang, q,
         |    cume_dist() OVER (PARTITION BY lang ORDER BY q) AS cd
         |  FROM scored)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
         |  round(min(q), 6) AS min_q,
         |  CAST(sum(doc_id) AS BIGINT) AS checksum
         |FROM cd WHERE cd >= 0.8
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // earliest-first chain restated stepwise: t0 = first view, t1 = first
    // click >= t0, t2 = first purchase >= t1; window on integer micros
    "q127_funnel" ->
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (
        |  SELECT e.user_id, s0.t0, min(e.ts) AS t1
        |  FROM events e JOIN s0 ON e.user_id = s0.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= s0.t0
        |  GROUP BY e.user_id, s0.t0),
        |s2 AS (
        |  SELECT e.user_id, s1.t0, min(e.ts) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s1.t1
        |  GROUP BY e.user_id, s1.t0)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS step, 'view' AS event_type,
        |    CAST(count(*) AS BIGINT) AS n_users FROM s0
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM s1
        |  WHERE epoch_us(t1) - epoch_us(t0) <= 604800000000
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM s2
        |  WHERE epoch_us(t2) - epoch_us(t0) <= 604800000000
        |) ORDER BY step""".stripMargin,
    // absolute integer week index both sides; distinct (user, week)
    // activity joined to first-event cohorts
    "q128_retention_cohorts" ->
      """WITH wk AS (
        |  SELECT user_id,
        |    CAST((epoch_us(ts) - ((epoch_us(ts) % 604800000000 + 604800000000)
        |      % 604800000000)) / 604800000000 AS BIGINT) AS week
        |  FROM events),
        |cohort AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, week FROM wk)
        |SELECT cohort_week, week - cohort_week AS "offset",
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM active JOIN cohort USING (user_id)
        |WHERE week - cohort_week BETWEEN 0 AND 4
        |GROUP BY cohort_week, week - cohort_week
        |ORDER BY cohort_week, week - cohort_week""".stripMargin,
    "q129_event_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE to_type IS NOT NULL
        |GROUP BY from_type, to_type ORDER BY from_type, to_type""".stripMargin,
    // the oracle restates the exact side and pins the tolerance flags at 1 —
    // a sketch outside tolerance hash-mismatches the flag column
    "q130_sketch_distinct" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_uniq,
        |  CAST(1 AS INT) AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q132_sketch_union" ->
      """SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_uniq,
        |  CAST(1 AS INT) AS within_tol
        |FROM events""".stripMargin,
    "q131_sketch_quantiles" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 2) AS p95,
        |  CAST(1 AS INT) AS tol50, CAST(1 AS INT) AS tol95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q293_percentiles_by_supplier" ->
      """SELECT l_suppkey,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.95) AS p95
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "q126_retention_delete" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 9 != 0""".stripMargin,
    "q139_source_overlap" ->
      """WITH g AS (
        |  SELECT DISTINCT source, ng FROM (
        |    SELECT source, unnest(list_distinct(
        |      CASE WHEN len(tk) >= 5
        |        THEN list_transform(generate_series(1, len(tk) - 4),
        |               i -> array_to_string(tk[i:i+4], ' '))
        |        ELSE [] END)) AS ng
        |    FROM (SELECT source, string_split_regex(trim(text), '\s+') AS tk
        |          FROM documents))),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM g GROUP BY source),
        |shared AS (
        |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM g a JOIN g b ON a.ng = b.ng AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared,
        |  round(CAST(n_shared AS DOUBLE) / (sa.sz + sb.sz - n_shared), 6) AS jaccard
        |FROM shared
        |JOIN sizes sa ON sa.source = src_a
        |JOIN sizes sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "q141_gap_fill" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts, value, epoch_us(ts) // 3600000000 AS h
        |  FROM events WHERE user_id < 20),
        |latest AS (
        |  SELECT user_id, h, value FROM (
        |    SELECT user_id, h, value, row_number() OVER (
        |      PARTITION BY user_id, h ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1),
        |bounds AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM bounds)
        |SELECT g.user_id, g.h, last_value(l.value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM grid g LEFT JOIN latest l ON l.user_id = g.user_id AND l.h = g.h
        |ORDER BY g.user_id, g.h""".stripMargin,
    "q156_domain_pagerank" -> pageRankSql(3),
    "q160_distribution_drift" ->
      s"""WITH comp AS (
         |  SELECT doc_id, lang,
         |    round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1), 6) AS alpha,
         |    round(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |        t -> list_contains($stopList, t))) AS DOUBLE)
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS stop_ratio,
         |    round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS mtl
         |  FROM documents),
         |q AS (SELECT doc_id, lang,
         |    CAST(floor(round(0.5 * alpha + 0.3 * least(stop_ratio * 3, 1.0)
         |      + 0.2 * least(mtl / 8, 1.0), 6) * 10) AS BIGINT) AS bin
         |  FROM comp),
         |ba AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS na
         |  FROM q WHERE doc_id % 2 = 0 GROUP BY 1, 2),
         |bb AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS nb
         |  FROM q WHERE doc_id % 2 = 1 GROUP BY 1, 2),
         |ta AS (SELECT lang, CAST(count(*) AS BIGINT) AS tot_a
         |  FROM q WHERE doc_id % 2 = 0 GROUP BY 1),
         |tb AS (SELECT lang, CAST(count(*) AS BIGINT) AS tot_b
         |  FROM q WHERE doc_id % 2 = 1 GROUP BY 1),
         |j AS (SELECT coalesce(ba.lang, bb.lang) AS lang,
         |    coalesce(ba.bin, bb.bin) AS bin,
         |    coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
         |  FROM ba FULL OUTER JOIN bb ON ba.lang = bb.lang AND ba.bin = bb.bin)
         |SELECT j.lang, max(coalesce(tot_a, 0)) AS n_a, max(coalesce(tot_b, 0)) AS n_b,
         |  CAST(sum(abs(na * coalesce(tot_b, 0) - nb * coalesce(tot_a, 0))) AS BIGINT) AS drift_int,
         |  CASE WHEN max(coalesce(tot_a, 0)) = 0 OR max(coalesce(tot_b, 0)) = 0 THEN 1.0
         |    ELSE round(CAST(sum(abs(na * coalesce(tot_b, 0) - nb * coalesce(tot_a, 0))) AS DOUBLE)
         |      / (2.0 * max(tot_a) * max(tot_b)), 6) END AS tvd
         |FROM j FULL OUTER JOIN ta ON ta.lang = j.lang
         |       FULL OUTER JOIN tb ON tb.lang = j.lang
         |GROUP BY j.lang ORDER BY j.lang""".stripMargin,
    "q153_dataset_manifest" ->
      """WITH h AS (
        |  SELECT source, list_reduce(
        |    list_transform(generate_series(1, 32),
        |      i -> CAST(ascii(substring(m, i, 1)) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT source, md5(coalesce(CAST(doc_id AS VARCHAR), chr(2)) || chr(1) ||
        |          coalesce(text, chr(2)) || chr(1) || coalesce(lang, chr(2)) ||
        |          chr(1) || coalesce(source, chr(2)) || chr(1) ||
        |          coalesce(CAST(n_chars AS VARCHAR), chr(2))) AS m
        |        FROM documents))
        |SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(h) AS BIGINT) AS fp_sum,
        |  CAST(sum(h * h % 1000000007) AS BIGINT) AS fp_sq
        |FROM h GROUP BY source ORDER BY source""".stripMargin,
  )
}
