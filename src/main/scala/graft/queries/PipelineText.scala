package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, Multimodal, Similarity, TextAnalysis => TA}
import graft.tables.Tables

import PipelineOps._

/** Text analysis and lexical statistics: quality, tokenization, language, n-gram models, BPE, vocabulary, text audits.
  *
  * One shard of [[PipelineOps]] (round-8 mechanical split of the
  * former 8k-line file — zero behavior change; PipelineOps merges the
  * shards and still owns the shared helpers/oracle builders). */
private[queries] object PipelineText {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q41_text_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 100)
      d.select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("n_tok"),
        TA.alphaRatio(col("text")).as("alpha"),
        TA.stopwordRatio(col("text")).as("stop_ratio"),
        TA.meanTokenLen(col("text")).as("mtl"),
        TA.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),
    "q42_token_count" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 100)
      d.select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("ws_tok"),
        TA.bpeishTokenCount(col("text")).as("bpe_tok"),
        length(col("text")).cast("long").as("n_chars_calc"))
        .orderBy(col("doc_id"))
    }),
    "q43_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(TA.langId(col("text")).as("pred"))
        .groupBy(col("pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("pred"))
    }),
    "q55_quality_quantiles" -> ((s, dir) => {
      // Exact percentile aggregation of the quality-score distribution per
      // language — the corpus-curation cut-line query (keep top-X% docs).
      val d = t(s, dir, "documents")
        .select(TA.langId(col("text")).as("lang"), TA.qualityScore(col("text")).as("q"))
      d.groupBy(col("lang")).agg(
          count(lit(1)).as("n"),
          round(expr("percentile(q, 0.5)"), 6).as("p50"),
          round(expr("percentile(q, 0.9)"), 6).as("p90"),
          round(expr("percentile(q, 0.99)"), 6).as("p99"))
        .orderBy(col("lang"))
    }),
    "q60_heavy_hitters" -> ((s, dir) => {
      // Exact heavy-hitter vocabulary: tokens in ≥ 30% of documents. The
      // result is vocabulary-sized; the plan is explode → two-phase count —
      // the same plan at 100 TB (partial counts combine map-side).
      Curation.heavyHitterTokens(t(s, dir, "documents"),
          col("doc_id"), col("text"), minDocFrac = 0.3)
        .orderBy(col("df").desc, col("tok"))
    }),
    "q61_tfidf" -> ((s, dir) => {
      // Top-3 TF-IDF terms per document (integer-scaled idf — exact in both
      // engines; ranking ties go to the term). df spans the WHOLE corpus;
      // the doc_id filter prunes only the tf/window side (pushes through the
      // window on its partition key and the tf aggregation on its group key).
      Curation.tfidfTopTerms(t(s, dir, "documents"), col("doc_id"), col("text"), k = 3)
        .filter(col("doc_id") < 50)
        .orderBy(col("doc_id"), col("rnk"))
    }),
    "q63_repetition" -> ((s, dir) => {
      // Intra-document repetition signals (Gopher-style quality features):
      // top-token dominance + distinct-token ratio, two hash aggs.
      Curation.repetitionSignals(t(s, dir, "documents"), col("doc_id"), col("text"))
        .filter(col("doc_id") < 100)
        .orderBy(col("doc_id"))
    }),
    "q100_chunking" -> ((s, dir) => {
      // Fixed-token chunking with overlap (64-token windows, 16 overlap):
      // per-chunk token counts and content hashes — the md5 pins the exact
      // slice boundaries cross-engine.
      Curation.chunkDocuments(t(s, dir, "documents").filter(col("doc_id") < 50),
          col("doc_id"), col("text"), chunkTokens = 64, overlapTokens = 16)
        .select(col("doc_id"), col("chunk_id"), col("chunk_tok"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),
    "q112_corpus_profile" -> ((s, dir) => {
      // Data-health profile of the documents table: per-column null rate,
      // exact cardinality, and native-typed min/max — one scan (the multi-
      // DISTINCT plans as a single Expand aggregation), unpivoted to a row
      // per column. Text profiles via its md5 (portable ordering; raw-text
      // min/max would hinge on collation). The report an ingest pipeline
      // checks before a batch trains.
      Curation.profile(
          t(s, dir, "documents").withColumn("text_md5", md5(col("text"))),
          Seq("doc_id", "lang", "source", "n_chars", "text_md5"))
        .orderBy(col("col_name"))
    }),
    "q116_quality_classifier" -> ((s, dir) => {
      // Hashing-trick linear classifier scoring — the fastText SERVING
      // shape: unigram + adjacent-bigram features hash into 2^18 buckets
      // (no vocabulary join, constant memory at any corpus size), integer
      // formula weights, keep = margin >= 0. One codegen'd kernel pass at
      // scan speed, no shuffle; the margin is exact cross-engine integer
      // arithmetic so the per-doc scores carry a full DuckDB oracle.
      t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), TA.hashedLinearMargin(col("text")).as("margin"))
        .withColumn("keep", (col("margin") >= 0).cast("long"))
        .orderBy(col("doc_id"))
    }),
    "q178_line_boilerplate" -> ((s, dir) => {
      // Line-level boilerplate removal (the CCNet/RefinedWeb cleanup): a
      // line recurring at its source's own scale — ≥ max(2, ⌈4%·source
      // docs⌉) distinct docs — is struck everywhere and docs reassemble in
      // order. The synthetic corpus has no newlines, so both engines first
      // cut identical lines (8-word groups, one global regexp) — the
      // operator's df-count / strike / rebuild plumbing is what's under
      // test, and it sees real repeats (planted near-dups). The fraction
      // form keeps the threshold meaningful at ANY sf (fixed minDocs=2
      // would call every twice-pasted snippet in a 250-doc source
      // "boilerplate").
      val docs = t(s, dir, "documents").withColumn("lined",
        regexp_replace(trim(col("text")), "((?:\\S+ ){7}\\S+) ", "$1\n"))
      Curation.stripBoilerplateLinesFrac(docs, col("doc_id"), col("source"),
          col("lined"), sepRegex = "\n", sep = "\n", fracPpm = 40000L)
        .orderBy(col("doc_id"))
    }),
    "q232_mojibake_audit" -> ((s, dir) => {
      // Encoding-corruption audit: every 13th doc gets a double-encoded
      // UTF-8 tail, every 29th a replacement-char tail; the per-source
      // report must isolate exactly the planted corruption.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(13L)) === 0, lit(mojiTail1))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(29L)) === 0, lit(mojiTail2))
            .otherwise(lit(""))).as("text"))
      docs.select(col("doc_id"), col("source"),
          TA.mojibakeCount(col("text")).as("hits"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("hits") > 0).cast("long")).as("n_flagged"),
          sum(col("hits")).as("n_hits"),
          sum(when(col("hits") > 0, col("doc_id")).otherwise(0L))
            .as("checksum"))
        .withColumn("flagged_ppm", org.apache.spark.sql.graft.Bridge.idiv(
          col("n_flagged") * 1000000L, col("n_docs")))
        .orderBy(col("source"))
    }),
    "q233_tokenizer_fertility" -> ((s, dir) => {
      // Tokenizer-fairness audit: chars-per-BPE-token and BPE-tokens-
      // per-word by language under the 4-merge trained vocabulary — the
      // fertility skew that decides which languages pay more tokens for
      // the same text.
      val docs = t(s, dir, "documents")
      val wc = graft.ext.Bpe.wordCounts(docs, col("text"))
      val merges = graft.ext.Bpe.trainMerges(wc, nMerges = 4)
      // the vocab is corpus-derived (distinct words — unbounded on real
      // text): measured size-aware regime, never an unconditional broadcast
      val vocab = graft.ops.Checkpoints.truncate(
        graft.ext.Bpe.encodeWords(wc, merges).select(col("w"), col("n_tok")))
      val vBytes = vocab.count() * 48L
      docs.select(col("doc_id"), col("lang"),
          explode(TA.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .join(graft.ops.JoinRegime.sizeAware(vocab, vBytes), "w")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w")).cast("long")).as("n_chars"),
          sum(col("n_tok")).as("n_bpe_tok"))
        .withColumn("chars_per_tok_ppm",
          org.apache.spark.sql.graft.Bridge.idiv(
            col("n_chars") * 1000000L, col("n_bpe_tok")))
        .withColumn("tok_per_word_ppm",
          org.apache.spark.sql.graft.Bridge.idiv(
            col("n_bpe_tok") * 1000000L, col("n_words")))
        .orderBy(col("lang"))
    }),
    "q241_ngram_diversity" -> ((s, dir) => {
      // Distinct-1/2/3 diversity per source: the mode-collapse /
      // synthetic-data cliff detector.
      Curation.ngramDiversityProfile(t(s, dir, "documents"), col("source"),
          col("text"), maxN = 3)
        .withColumnRenamed("stratum", "source")
        .orderBy(col("source"), col("n"))
    }),
    "q242_vocab_concentration" -> ((s, dir) => {
      // Corpus vocabulary concentration: type/token ratio, hapax fraction,
      // top-100 head coverage — the Zipf-shape sanity row of a corpus
      // report.
      Curation.vocabularyConcentration(t(s, dir, "documents"), col("text"),
        topK = 100)
    }),
    "q254_json_props" -> ((s, dir) => {
      // JSON side-channel audit: the $.k payload per event type, with
      // every 17th event's payload re-keyed (planted corruption) — the
      // audit must isolate it as missing, not crash on it.
      val ev = t(s, dir, "events").withColumn("props",
        when(pmod(col("event_id"), lit(17L)) === 0, lit("""{"other": 1}"""))
          .otherwise(col("props")))
      graft.ext.EventsOps.jsonPropProfile(ev, col("event_type"),
          col("props"), "$.k")
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type"))
    }),
    "q258_term_movers" -> ((s, dir) => {
      // What changed between corpus halves: smoothed term-frequency lift,
      // support-gated, top-20 risers — term-level drift where q160 gives
      // one distance.
      val docs = t(s, dir, "documents")
      val half = docs.agg(max(col("doc_id")).as("m")).collect()(0).getLong(0) / 2
      Curation.termMovers(docs.filter(col("doc_id") <= half),
          docs.filter(col("doc_id") > half), col("text"), k = 20)
        .orderBy(col("rnk"))
    }),
    "q270_text_hygiene" -> ((s, dir) => {
      // Basic text hygiene per source, with planted dirt the audit must
      // isolate: every 11th doc gains leading double-space, every 23rd an
      // NBSP, every 31st a BEL control char.
      val nbsp = new String(Character.toChars(0xA0))
      val bel = new String(Character.toChars(0x07))
      val docs = t(s, dir, "documents").select(col("source"),
        concat(
          when(pmod(col("doc_id"), lit(11L)) === 0, lit("  ")).otherwise(lit("")),
          col("text"),
          when(pmod(col("doc_id"), lit(23L)) === 0, lit(nbsp)).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(31L)) === 0, lit(bel)).otherwise(lit("")))
          .as("text"))
      docs.select(col("source"), TA.hygieneFlags(col("text")).as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("h.empty")).as("n_empty"),
          sum(col("h.untrimmed")).as("n_untrimmed"),
          sum(col("h.multispace")).as("n_multispace"),
          sum(col("h.control")).as("n_control"),
          sum(col("h.nbsp")).as("n_nbsp"))
        .orderBy(col("source"))
    }),
    "q272_script_audit" -> ((s, dir) => {
      // Script-consistency audit with planted dirt: every 13th doc gains a
      // Cyrillic tail, every 29th a CJK one, every 37th Greek (a Latin
      // corpus with lang labels — the mismatch IS the signal: mislabel,
      // mojibake, or injection). Five codepoint-range deletions per row,
      // scan speed; rollup by (lang, detected foreign script).
      val docs = t(s, dir, "documents").select(col("lang"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(13L)) === 0, lit(" привет мир"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(29L)) === 0, lit(" 你好世界"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(37L)) === 0, lit(" αβγδ"))
            .otherwise(lit(""))).as("text"))
      docs.select(col("lang"), TA.scriptProfile(col("text")).as("p"))
        .groupBy(col("lang"), col("p.foreign").as("foreign_script"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p.cyrillic") + col("p.greek") + col("p.arabic") +
            col("p.cjk")).as("n_foreign_chars"))
        .orderBy(col("lang"), col("foreign_script"))
    }),
    "q275_zipf_slope" -> ((s, dir) =>
      // Zipf rank-frequency slope over the top-1000 tokens, exact-integer
      // (log2 buckets via binary-string length, DECIMAL OLS moments) —
      // natural text reads ~ -1; template spam flattens the head.
      Curation.zipfSlope(t(s, dir, "documents"), col("text"), topK = 1000)),
    "q276_truncation_audit" -> ((s, dir) => {
      // Truncation audit: the synthetic corpus carries no terminal
      // punctuation, so every 7th doc gains a planted period — the audit
      // must count exactly the unplanted rows as cut-off (an extraction /
      // chunking bug signature when it clusters by source).
      val docs = t(s, dir, "documents").select(col("source"),
        when(pmod(col("doc_id"), lit(7L)) === 0,
          concat(col("text"), lit("."))).otherwise(col("text")).as("text"))
      docs.select(col("source"), TA.truncatedFlag(col("text")).as("tr"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tr")).as("n_truncated"))
        .orderBy(col("source"))
    }),
    "q225_term_associations" -> ((s, dir) => {
      // "What goes with X": top-5 same-document associates by lift for
      // three probe terms, support >= 5 (lift on rare pairs is noise).
      val s2 = s; import s2.implicits._
      val probes = Seq("table", "slow", "merge").toDF("p")
      Curation.termAssociations(t(s, dir, "documents"), col("doc_id"),
          col("text"), probes, col("p"), k = 5, minSupport = 5L)
        .orderBy(col("probe"), col("rnk"))
    }),
    "q224_mixed_language" -> ((s, dir) => {
      // Mixed-language detection: every 10th doc gets a French tail
      // grafted on (the concatenation-artifact shape); the head/tail
      // language profile must flag exactly the grafted docs as mixed.
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"),
            lit(" le la les de et un est le la de et est")))
          .otherwise(col("text")).as("text"))
      docs.select(col("doc_id"), TA.mixedLangProfile(col("text")).as("p"))
        .select(col("doc_id"), col("p.lang_head").as("lang_head"),
          col("p.lang_tail").as("lang_tail"),
          col("p.mixed").cast("long").as("mixed"))
        .groupBy(col("lang_head"), col("lang_tail"), col("mixed"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("checksum"))
        .orderBy(col("lang_head"), col("lang_tail"), col("mixed"))
    }),
    "q212_garbage_gate" -> ((s, dir) => {
      // Binary-junk gate: every 5th doc gets a corrupted twin (control
      // bytes + a 30-char run appended); the printable-ratio + max-run
      // gate must flag exactly the twins. Grouped so the driver check
      // pins both signals' exact values in aggregate.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val junk = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit("\u0001\u0002\u0003\u0004\u0005"),
            lit("z" * 30)).as("text"))
      docs.unionByName(junk)
        .select(col("doc_id"),
          TA.printableRatioPpm(col("text")).as("printable_ppm"),
          TA.maxCharRun(col("text")).as("max_run"))
        .withColumn("keep",
          (col("printable_ppm") >= 990000L && col("max_run") <= 10L).cast("long"))
        .withColumn("is_twin", (col("doc_id") >= 1000000L).cast("long"))
        .groupBy(col("is_twin"), col("keep"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("printable_ppm")).as("sum_ppm"),
          sum(col("max_run")).as("sum_run"))
        .orderBy(col("is_twin"), col("keep"))
    }),
    "q211_lexicon_filter" -> ((s, dir) => {
      // Weighted-lexicon safety filter: a 5-term lexicon (including a
      // two-token phrase) scores every doc per category; the roll-up
      // counts flagged docs (category weight >= 5) per source.
      val s2 = s; import s2.implicits._
      val lex = Seq(
        ("slow", "latency", 5L), ("fast", "latency", 1L),
        ("merge", "ops", 2L), ("window", "ops", 1L),
        ("slow fast", "latency", 7L)
      ).toDF("term", "category", "weight")
      val docs = t(s, dir, "documents")
      Curation.lexiconHits(docs, col("doc_id"), col("text"),
          lex, col("term"), col("category"), col("weight"))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"), col("category"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_hits")).as("n_hits"),
          sum(when(col("sum_weight") >= 5L, 1L).otherwise(0L)).as("n_flagged"))
        .orderBy(col("source"), col("category"))
    }),
    "q210_phrase_search" -> ((s, dir) => {
      // Inverted-index phrase search: the first 6 tokens of docs 3/77/123
      // become query phrases; every occurrence in the corpus surfaces
      // with its token offset (self-matches at start 0 included). Gram
      // alignment + exact token-slice verify — hash collisions can't
      // false-positive.
      val docs = t(s, dir, "documents")
      val phrases = docs.filter(col("doc_id").isin(3L, 77L, 123L))
        .select(col("doc_id").as("phrase_id"),
          array_join(slice(TA.tokens(col("text")), 1, 6), " ").as("phrase"))
      Dedup.phraseSearch(docs, col("doc_id"), col("text"),
          phrases, col("phrase_id"), col("phrase"), n = 4)
        .orderBy(col("phrase_id"), col("doc_id"), col("start"))
    }),
    "q207_url_canonical" -> ((s, dir) => {
      // URL canonicalization: every doc yields two crawl variants of one
      // page (case/port/www/tracking-params/fragment/trailing-slash
      // noise vs the clean form); canonicalization must collapse each
      // pair. Rolled up per registered domain: raw vs canonical counts.
      val base = t(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"))
      val u1 = concat(lit("http://WWW.Site"), (col("doc_id") % 7).cast("string"),
        lit(".Ex"), (col("doc_id") % 3).cast("string"),
        lit(".COM:80/p/"), (col("doc_id") % 97).cast("string"),
        lit("/?utm_source=feed&id="), (col("doc_id") % 41).cast("string"),
        lit("&utm_campaign=x#sec2"))
      val u2 = concat(lit("http://site"), (col("doc_id") % 7).cast("string"),
        lit(".ex"), (col("doc_id") % 3).cast("string"),
        lit(".com/p/"), (col("doc_id") % 97).cast("string"),
        lit("?id="), (col("doc_id") % 41).cast("string"))
      base.select(u1.as("u")).unionByName(base.select(u2.as("u")))
        .select(TA.canonicalUrl(col("u")).as("cu"),
          TA.urlDomain(col("u")).as("dom"))
        .groupBy(col("dom"))
        .agg(count(lit(1)).as("n_raw"),
          countDistinct(col("cu")).as("n_canon"),
          min(col("cu")).as("sample_cu"))
        .orderBy(col("dom"))
    }),
    "q203_bitext_margin" -> ((s, dir) => {
      // Margin-based bitext mining: even vec_ids are the "source
      // language" mining batch (first 50), odd vec_ids the target corpus;
      // each source vector keeps its best-MARGIN (not best-dot) partner.
      val emb = t(s, dir, "embeddings")
      val xp = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 100)
      val yp = emb.filter(col("vec_id") % 2 === 1)
      Similarity.bitextMarginPairs(xp, yp, k = 4)
        .orderBy(col("x_id"))
    }),
    "q201_vocab_oov" -> ((s, dir) => {
      // Tokenizer-coverage audit rolled up per source: OOV mass against
      // the corpus's own top-16 vocabulary, plus how many docs would
      // fragment badly (> 25% OOV). The per-source corpus rate divides
      // SUMS (exact), not an average of per-doc ratios.
      val docs = t(s, dir, "documents")
      Curation.oovRatePpm(docs, col("doc_id"), col("text"), vocabSize = 16)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tok"),
          sum(col("n_oov")).as("sum_oov"),
          sum(when(col("oov_ppm") > 250000L, 1L).otherwise(0L)).as("n_frag"))
        .withColumn("corpus_oov_ppm",
          org.apache.spark.sql.graft.Bridge.idiv(
            lit(1000000L) * col("sum_oov"), col("sum_tok")))
        .orderBy(col("source"))
    }),
    "q196_markup_strip" -> ((s, dir) => {
      // HTML → text extraction: each doc is wrapped in a deterministic web
      // page (style block, attributed tags, entities, a script whose body
      // contains `<`/`>`/`&&` that MUST NOT leak, a comment) and stripped
      // back. Both engines build the identical page and run the identical
      // regex/entity chain, so the recovered text (and its md5) is exact.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val page = concat(
        lit("<html><head><title>d</title><style type=\"text/css\">p { color: #333; }</style></head>" +
          "<body><h1 id=\"t\">Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p class=\"main\">"), col("text"),
        lit(" &amp; more &lt;raw&gt; &quot;quoted&quot;&nbsp;tail</p>" +
          "<script>if (a < b && c > d) { go(\"x\"); }</script>" +
          "<!-- hidden comment --></body></html>"))
      docs.select(col("doc_id"),
          TA.stripMarkup(page).as("clean"))
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
          length(col("clean")).cast("long").as("n_chars_clean"))
        .orderBy(col("doc_id"))
    }),
    "q188_trigram_lm" -> ((s, dir) => {
      // Interpolated char-trigram fluency (Jelinek-Mercer fixed-weight mix
      // with the suffix-bigram backoff, λ = 0.6): the 20 least-fluent docs
      // — the higher-order CCNet filter. Both model tables are
      // charset-bounded broadcasts.
      import graft.ext.NgramLm
      val docs = t(s, dir, "documents")
      val lm2 = NgramLm.probTable(docs, col("text"))
      val lm3 = NgramLm.probTable3(docs, col("text"))
      NgramLm.scoreInterpolated(docs, col("doc_id"), col("text"),
          lm3, lm2, mixPpm = 600000L)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("m"), col("fluency3"))
        .orderBy(col("fluency3"), col("doc_id")).limit(20)
    }),
    "q170_repetition_signals" -> ((s, dir) => {
      // Gopher/MassiveText repetition rules (Rae et al. 2021): top-word
      // fraction, top-bigram fraction, type/token ratio, repeated-trigram
      // positional cover, and the composite all-integer keep gate. Pure
      // per-row sorted-fold HOF expressions — zero shuffle, scan speed at
      // any corpus size (q63 computes the unigram subset by exploded
      // aggregation: two shuffles; this is the scan-speed superset). The
      // oracle recomputes every count by exploding to (doc, pos, token)
      // rows, so the signals are cross-engine exact.
      val d = t(s, dir, "documents").filter(col("doc_id") < 150)
      d.select(col("doc_id"),
          TA.tokenCount(col("text")).as("n_tok"),
          TA.distinctTokenCount(col("text")).as("n_distinct"),
          TA.topTokenCount(col("text")).as("top1_cnt"),
          TA.topBigramCount(col("text")).as("top2_cnt"),
          TA.repeatedTrigramCover(col("text")).as("rep3_cover"),
          TA.repetitionKeep(col("text")).as("keep"))
        .orderBy(col("doc_id"))
    }),
    "q134_bpe_pairs" -> ((s, dir) => {
      // BPE-tokenizer training inner loop as a distributed query: count
      // adjacent character pairs across the corpus and keep those above a
      // relative frequency floor (threshold, not top-k — tie-safe like q60).
      // explode → two-phase count; the result is alphabet²-bounded, never
      // corpus-sized. Real BPE training re-runs exactly this aggregation
      // per merge step with the winning pair fused into the symbol stream —
      // each iteration is one shuffle-once pass at 100 TB.
      val pairs = t(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      val total = pairs.agg(count(lit(1)).as("n_pairs"))
      pairs.groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total)) // 1-row total
        .filter(col("n") >= col("n_pairs") * 0.01)
        .select(col("pair"), col("n"),
          round(col("n").cast("double") / col("n_pairs"), 6).as("frac"))
        .orderBy(col("n").desc, col("pair"))
    }),
    "q94_token_budget" -> ((s, dir) => {
      // "Best N tokens per language": take docs longest-first per lang while
      // the running whitespace-token total stays within 2000 — contiguous
      // prefix semantics, integer-exact in both engines.
      Curation.tokenBudgetSample(t(s, dir, "documents"),
          col("doc_id"), col("text"), col("lang"), col("n_chars"), budgetTokens = 2000L)
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("checksum"))
        .orderBy(col("lang"))
    }),
    "q110_pii_redaction" -> ((s, dir) => {
      // PII scrubbing: URLs, emails, and long digit runs collapse to typed
      // placeholders (TextAnalysis.redactPii — codegen'd regexp chain, no
      // shuffle, scan-speed). The synthetic corpus carries no PII, so the
      // query plants a deterministic PII suffix per doc ON BOTH SIDES (the
      // oracle builds the identical string) — the redaction itself, and its
      // md5, must then match cross-engine, which pins Java-regex and RE2
      // agreement on the conservative pattern classes.
      val piiText = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or https://ex.example/p/"),
        col("doc_id").cast("string"),
        lit("?sid=98765432 ref 123456789"))
      val red = TA.redactPii(piiText)
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), md5(red).as("red_md5"),
          size(regexp_extract_all(red, lit("<URL>"), lit(0))).cast("long").as("n_url"),
          size(regexp_extract_all(red, lit("<EMAIL>"), lit(0))).cast("long").as("n_email"),
          size(regexp_extract_all(red, lit("<NUM>"), lit(0))).cast("long").as("n_num"))
        .orderBy(col("doc_id"))
    }),
    "q135_mg_heavy_hitters" -> ((s, dir) => {
      // Two-pass exact heavy hitters via a Misra-Gries sketch: pass 1
      // aggregates k=63-entry mergeable summaries (shuffle carries one
      // summary per partition, NOT a vocabulary-sized count table — the
      // q60 contrast); pass 2 exact-counts ONLY the candidate tokens. The
      // sketch guarantees every token with frequency > n/(k+1) is a
      // candidate, so the thresholded result is exactly the true
      // phi=3%-heavy hitters under any partitioning — which is why the
      // plain HAVING-count SQL is a full oracle.
      val toks = t(s, dir, "documents")
        .select(explode(TA.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      val row = toks.agg(
        graft.functions.MisraGries.candidates(63)(col("tok")).as("cand"),
        count(lit(1)).as("n")).head() // 1 row, <= 63 strings — driver-bounded
      val cand = row.getSeq[String](0)
      val n = row.getLong(1)
      toks.filter(col("tok").isin(cand: _*))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        // integer form of cnt >= n * 0.03 — no float-boundary ambiguity
        .filter(col("cnt") * 100 >= lit(n) * 3)
        .select(col("tok"), col("cnt"),
          round(col("cnt") / lit(n.toDouble), 6).as("frac"))
        .orderBy(col("cnt").desc, col("tok"))
    }),
    "q138_bigram_lm" -> ((s, dir) => {
      // Char-bigram LM fluency scoring (the CCNet/KenLM quality-filter
      // pattern): train the charset^2-bounded model in one pass, broadcast
      // it, score every doc map-side, keep the 20 least-fluent (the docs a
      // perplexity gate would drop). Integer-scaled probabilities — exact
      // cross-engine arithmetic (same trick as the TF-IDF integer idf).
      val docs = t(s, dir, "documents")
      val lm = graft.ext.NgramLm.probTable(docs, col("text"))
      graft.ext.NgramLm.score(docs, col("doc_id"), col("text"), lm)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("m"), col("fluency"))
        .orderBy(col("fluency"), col("doc_id"))
        .limit(20)
    }),
    "q142_bpe_train" -> ((s, dir) => {
      // Distributed BPE training: 4 merge rounds, each ONE vocabulary-sized
      // weighted pair count + a 1-row argmax collect; the corpus-sized
      // shuffle happens once (distinct-word counts). The merge table is the
      // result — the DuckDB oracle replays the identical sentinel-string
      // replace chain, so every (step, pair, count) is cross-engine exact.
      val wc = graft.ext.Bpe.wordCounts(t(s, dir, "documents"), col("text"))
      val merges = graft.ext.Bpe.trainMerges(wc, nMerges = 4)
      s.createDataFrame(merges)
        .select(col("step"), col("x"), col("y"), col("cnt"))
        .orderBy(col("step"))
    }),
    "q143_bpe_encode" -> ((s, dir) => {
      // BPE encoding via the trained vocabulary: train 4 merges, encode the
      // DISTINCT words (vocabulary-sized), then join docs to the encoded
      // vocab — no per-document merge loop at any scale. The vocab is
      // corpus-derived (Heaps-law growth on real text), so the join rides
      // the measured size-aware regime: broadcast under the byte bound,
      // shuffle_hash above — never an unconditional broadcast. Output:
      // per-doc BPE token counts for the first 50 docs.
      val docs = t(s, dir, "documents")
      val wc = graft.ext.Bpe.wordCounts(docs, col("text"))
      val merges = graft.ext.Bpe.trainMerges(wc, nMerges = 4)
      val vocab = graft.ops.Checkpoints.truncate(
        graft.ext.Bpe.encodeWords(wc, merges).select(col("w"), col("n_tok")))
      val vBytes = vocab.count() * 48L
      docs.filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(TA.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .join(graft.ops.JoinRegime.sizeAware(vocab, vBytes), "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_bpe_tok"))
        .orderBy(col("doc_id"))
    }),
    "q152_text_gz" -> ((s, dir) => {
      // Gzipped line-text ingestion — the WET/CommonCrawl shape: documents
      // serialize to one delimited line each in .gz shards (gzip splits at
      // FILE granularity, so shard count = read parallelism — the reason
      // crawl dumps ship as many small .gz files), then parse back at scan
      // speed and roll up; must equal the parquet original.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q152").toString
      try {
        val sep = "\u0007"
        t(s, dir, "documents")
          .select(concat_ws(sep, col("doc_id"), col("lang"), col("text")).as("value"))
          .repartition(8) // shard count = future read parallelism
          .write.mode("overwrite").option("compression", "gzip").text(tmp)
        val back = s.read.text(tmp)
          .select(split(col("value"), sep, 3).as("p"))
          .select(element_at(col("p"), 1).cast("long").as("doc_id"),
            element_at(col("p"), 2).as("lang"),
            element_at(col("p"), 3).as("text"))
        materialize(s, back.groupBy(col("lang")).agg(
            count(lit(1)).as("n"),
            sum(length(col("text"))).as("sum_len"),
            sum(col("doc_id")).as("checksum"))
          .orderBy(col("lang")))
      } finally {
        graft.tables.Hfs.rmTree(new java.io.File(tmp))
      }
    }),
    "q147_collocations" -> ((s, dir) => {
      // Collocation mining: adjacent word pairs ranked by integer-scaled
      // lift (PMI sans log) over a min-support floor — fixed phrases and
      // boilerplate templates surface above raw frequency. Two corpus
      // aggregations; scoring joins touch aggregated tables only.
      Curation.collocations(t(s, dir, "documents"), col("text"),
        minCount = 10L, topK = 30)
    }),
  )

  def oracle: Map[String, String] = Map(
    "q41_text_quality" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok,
         |    round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1), 6) AS alpha,
         |    round(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |        t -> list_contains($stopList, t))) AS DOUBLE)
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS stop_ratio,
         |    round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS mtl
         |  FROM documents WHERE doc_id < 100)
         |SELECT doc_id, n_tok, alpha, stop_ratio, mtl,
         |  round(0.5 * alpha + 0.3 * least(stop_ratio * 3, 1.0)
         |    + 0.2 * least(mtl / 8, 1.0), 6) AS quality
         |FROM b ORDER BY doc_id""".stripMargin,
    "q42_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tok,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS bpe_tok,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "q43_lang_id" ->
      """WITH s AS (
        |  SELECT
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> list_contains(['the','a','of','and','to','is','in'], t))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> list_contains(['le','la','les','de','et','un','est'], t))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> list_contains(['der','die','das','und','ist','ein','nicht'], t))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> list_contains(['el','los','las','y','un','es','que'], t))) AS BIGINT) AS s_es,
        |    regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS has_cjk
        |  FROM documents),
        |p AS (
        |  SELECT CASE WHEN has_cjk THEN 'zh'
        |    WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
        |    WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
        |    WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
        |    WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
        |    ELSE 'es' END AS pred
        |  FROM s)
        |SELECT pred, count(*) AS n FROM p GROUP BY pred ORDER BY pred""".stripMargin,
    "q232_mojibake_audit" ->
      (s"""WITH d AS (
         |  SELECT doc_id, source, text ||
         |    CASE WHEN doc_id % 13 = 0 THEN '$mojiTail1' ELSE '' END ||
         |    CASE WHEN doc_id % 29 = 0 THEN '$mojiTail2' ELSE '' END AS text
         |  FROM documents),
         |h AS (SELECT doc_id, source,
         |  CAST(len(regexp_extract_all(text,
         |    '${graft.ext.TextAnalysis.mojibakePattern}')) AS BIGINT) AS hits
         |  FROM d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  CAST(sum(hits) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN hits > 0 THEN doc_id ELSE 0 END) AS BIGINT) AS checksum,
         |  (CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |    // CAST(count(*) AS BIGINT) AS flagged_ppm
         |FROM h GROUP BY source ORDER BY source""".stripMargin),
    "q233_tokenizer_fertility" ->
      (s"WITH ${bpeCtes(4)},\n" +
        raw"""vocab AS (
           |  SELECT w, CAST(len(list_filter(string_split(s, chr(1)||chr(1)),
           |    t -> t <> '')) AS BIGINT) AS n_tok FROM s4),
           |dtk AS (
           |  SELECT doc_id, lang,
           |    unnest(string_split_regex(trim(text), '\s+')) AS w
           |  FROM documents)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(length(w)) AS BIGINT) AS n_chars,
           |  CAST(sum(n_tok) AS BIGINT) AS n_bpe_tok,
           |  (CAST(sum(length(w)) AS BIGINT) * 1000000)
           |    // CAST(sum(n_tok) AS BIGINT) AS chars_per_tok_ppm,
           |  (CAST(sum(n_tok) AS BIGINT) * 1000000)
           |    // CAST(count(*) AS BIGINT) AS tok_per_word_ppm
           |FROM dtk JOIN vocab USING (w) WHERE w <> ''
           |GROUP BY lang ORDER BY lang""".stripMargin),
    "q241_ngram_diversity" ->
      raw"""WITH tw AS (
         |  SELECT source, string_split_regex(trim(text), '\s+') AS w
         |  FROM documents),
         |g1 AS (SELECT source, CAST(1 AS BIGINT) AS n, unnest(w) AS g FROM tw),
         |g2 AS (SELECT source, CAST(2 AS BIGINT) AS n,
         |  unnest(CASE WHEN len(w) >= 2
         |    THEN list_transform(generate_series(1, len(w) - 1),
         |      i -> w[i] || ' ' || w[i+1]) ELSE [] END) AS g FROM tw),
         |g3 AS (SELECT source, CAST(3 AS BIGINT) AS n,
         |  unnest(CASE WHEN len(w) >= 3
         |    THEN list_transform(generate_series(1, len(w) - 2),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END) AS g
         |  FROM tw),
         |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
         |  UNION ALL SELECT * FROM g3),
         |a AS (SELECT source, n, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
         |  FROM u GROUP BY source, n)
         |SELECT source, n, n_grams, n_distinct,
         |  (n_distinct * 1000000) // n_grams AS distinct_ppm
         |FROM a ORDER BY source, n""".stripMargin,
    "q242_vocab_concentration" ->
      raw"""WITH tok AS (
         |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
         |  FROM documents),
         |v AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok
         |  WHERE w <> '' GROUP BY w),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hapax_types FROM v),
         |h AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS head_mass
         |  FROM (SELECT c FROM v ORDER BY c DESC, w LIMIT 100))
         |SELECT n_tokens, n_types, hapax_types,
         |  (hapax_types * 1000000) // n_types AS hapax_ppm,
         |  (n_types * 1000000) // n_tokens AS type_token_ppm,
         |  (head_mass * 1000000) // n_tokens AS top100_coverage_ppm
         |FROM t, h""".stripMargin,
    "q254_json_props" ->
      """WITH e AS (SELECT event_type AS g,
        |    CASE WHEN event_id % 17 = 0 THEN '{"other": 1}' ELSE props END
        |      AS props
        |  FROM events),
        |v AS (SELECT g,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS v FROM e),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_missing,
        |    CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        |    CAST(min(v) AS BIGINT) AS v_min, CAST(max(v) AS BIGINT) AS v_max,
        |    CAST(sum(coalesce(v, 0)) AS BIGINT) AS v_sum
        |  FROM v GROUP BY g)
        |SELECT g AS event_type, n, n_missing,
        |  (n_missing * 1000000) // n AS missing_ppm,
        |  n_distinct, v_min, v_max, v_sum
        |FROM a ORDER BY event_type""".stripMargin,
    "q258_term_movers" ->
      raw"""WITH mx AS (SELECT max(doc_id) // 2 AS h FROM documents),
         |o AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
         |  FROM documents, mx WHERE doc_id <= mx.h),
         |nn AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
         |  FROM documents, mx WHERE doc_id > mx.h),
         |co AS (SELECT term, CAST(count(*) AS BIGINT) AS c_old FROM o
         |  WHERE term <> '' GROUP BY term),
         |cn AS (SELECT term, CAST(count(*) AS BIGINT) AS c_new FROM nn
         |  WHERE term <> '' GROUP BY term),
         |j AS (SELECT coalesce(co.term, cn.term) AS term,
         |    coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
         |  FROM co FULL OUTER JOIN cn ON co.term = cn.term),
         |g AS (SELECT term, c_old, c_new,
         |    ((c_new + 1) * 1000000) // (c_old + 1) AS lift_ppm
         |  FROM j WHERE c_new >= 5),
         |r AS (SELECT *, CAST(row_number() OVER (ORDER BY lift_ppm DESC, term)
         |    AS BIGINT) AS rnk FROM g)
         |SELECT term, c_old, c_new, lift_ppm, rnk
         |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin,
    "q272_script_audit" ->
      raw"""WITH d AS (SELECT lang, text ||
         |    (CASE WHEN doc_id % 13 = 0 THEN ' привет мир' ELSE '' END) ||
         |    (CASE WHEN doc_id % 29 = 0 THEN ' 你好世界' ELSE '' END) ||
         |    (CASE WHEN doc_id % 37 = 0 THEN ' αβγδ' ELSE '' END) AS text
         |  FROM documents),
         |p AS (SELECT lang,
         |    CAST(length(text) - length(regexp_replace(text,
         |      '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS cyr,
         |    CAST(length(text) - length(regexp_replace(text,
         |      '[\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS grk,
         |    CAST(length(text) - length(regexp_replace(text,
         |      '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS ara,
         |    CAST(length(text) - length(regexp_replace(text,
         |      '[\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS cjk
         |  FROM d),
         |f AS (SELECT lang, cyr, grk, ara, cjk,
         |    CASE WHEN greatest(cyr, grk, ara, cjk) = 0 THEN 'none'
         |         WHEN cyr = greatest(cyr, grk, ara, cjk) THEN 'cyrillic'
         |         WHEN grk = greatest(cyr, grk, ara, cjk) THEN 'greek'
         |         WHEN ara = greatest(cyr, grk, ara, cjk) THEN 'arabic'
         |         ELSE 'cjk' END AS foreign_script
         |  FROM p)
         |SELECT lang, foreign_script, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(cyr + grk + ara + cjk) AS BIGINT) AS n_foreign_chars
         |FROM f GROUP BY lang, foreign_script
         |ORDER BY lang, foreign_script""".stripMargin,
    "q275_zipf_slope" ->
      raw"""WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
         |  FROM documents),
         |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM w
         |  WHERE len(w) > 0 GROUP BY w),
         |r AS (SELECT * FROM (SELECT w, c, CAST(row_number() OVER (
         |    ORDER BY c DESC, w) AS BIGINT) AS rank FROM cnt)
         |  WHERE rank <= 1000),
         |p AS (SELECT CAST(length(bin(rank)) AS BIGINT) AS x,
         |    CAST(length(bin(c)) AS BIGINT) AS y FROM r),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
         |    sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx
         |  FROM p),
         |s AS (SELECT n_points, sy,
         |    CAST(CAST(n_points AS DECIMAL(38,0)) * sxy
         |      - CAST(sx AS DECIMAL(38,0)) * sy AS BIGINT) AS num,
         |    CAST(CAST(n_points AS DECIMAL(38,0)) * sxx
         |      - CAST(sx AS DECIMAL(38,0)) * sx AS BIGINT) AS den
         |  FROM m)
         |SELECT n_points, sy AS checksum,
         |  CAST(CASE WHEN den = 0 THEN NULL
         |    WHEN num >= 0 THEN (num * 1000000) // den
         |    ELSE -((-num * 1000000) // den) END AS BIGINT) AS slope_micro
         |FROM s""".stripMargin,
    "q276_truncation_audit" ->
      """WITH d AS (SELECT source,
        |    CASE WHEN doc_id % 7 = 0 THEN text || '.' ELSE text END AS text
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN trim(text) != '' AND NOT regexp_matches(
        |    trim(text), '[.!?…。！？]$') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_truncated
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q270_text_hygiene" ->
      """WITH d AS (SELECT source,
        |    (CASE WHEN doc_id % 11 = 0 THEN '  ' ELSE '' END) || text ||
        |    (CASE WHEN doc_id % 23 = 0 THEN chr(160) ELSE '' END) ||
        |    (CASE WHEN doc_id % 31 = 0 THEN chr(7) ELSE '' END) AS text
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_empty,
        |  CAST(sum(CASE WHEN regexp_matches(text, '^ | $') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_untrimmed,
        |  CAST(sum(CASE WHEN regexp_matches(text, '  ') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_multispace,
        |  CAST(sum(CASE WHEN regexp_matches(text,
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F]') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_control,
        |  CAST(sum(CASE WHEN regexp_matches(text, chr(160)) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_nbsp
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q225_term_associations" ->
      raw"""WITH dt AS (
         |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
         |  FROM documents),
         |total AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dt),
         |df AS (SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM dt GROUP BY t),
         |probes AS (SELECT * FROM (VALUES ('table'), ('slow'), ('merge')) AS x(p)),
         |pd AS (SELECT p, doc_id FROM dt JOIN probes ON dt.t = probes.p),
         |co AS (
         |  SELECT pd.p, dt.t, CAST(count(*) AS BIGINT) AS n_xy
         |  FROM pd JOIN dt USING (doc_id)
         |  WHERE dt.t <> pd.p
         |  GROUP BY pd.p, dt.t
         |  HAVING count(*) >= 5),
         |lift AS (
         |  SELECT co.p, co.t, co.n_xy,
         |    CAST((CAST(co.n_xy AS HUGEINT) * 1000000 * total.n_docs) //
         |         (px.n_t * dy.n_t) AS BIGINT) AS lift_ppm
         |  FROM co JOIN df px ON px.t = co.p
         |          JOIN df dy ON dy.t = co.t, total),
         |r AS (
         |  SELECT p, t, n_xy, lift_ppm, CAST(row_number() OVER (
         |    PARTITION BY p ORDER BY lift_ppm DESC, t) AS BIGINT) AS rnk
         |  FROM lift)
         |SELECT p AS probe, t AS term, n_xy, lift_ppm, rnk
         |FROM r WHERE rnk <= 5 ORDER BY probe, rnk""".stripMargin,
    "q224_mixed_language" ->
      (raw"""WITH uni AS (
          |  SELECT doc_id, CASE WHEN doc_id % 10 = 0
          |    THEN text || ' le la les de et un est le la de et est'
          |    ELSE text END AS text
          |  FROM documents),
          |tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM uni),
          |hv AS (
          |  SELECT doc_id,
          |    array_to_string(w[1 : (len(w) + 1) // 2], ' ') AS t1,
          |    array_to_string(w[(len(w) + 1) // 2 + 1 :], ' ') AS t2
          |  FROM tk),
          |""".stripMargin +
        s"sc AS (\n  SELECT doc_id,\n    ${langScoreCols("t1", "h")},\n    ${langScoreCols("t2", "t")}\n  FROM hv),\n" +
        s"p AS (\n  SELECT doc_id,\n    ${langPredSql("h")} AS lang_head,\n    ${langPredSql("t")} AS lang_tail\n  FROM sc),\n" +
        """m AS (
          |  SELECT doc_id, lang_head, lang_tail,
          |    CAST(CASE WHEN lang_head <> lang_tail AND lang_head <> 'und'
          |         AND lang_tail <> 'und' THEN 1 ELSE 0 END AS BIGINT) AS mixed
          |  FROM p)
          |SELECT lang_head, lang_tail, mixed, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(doc_id) AS BIGINT) AS checksum
          |FROM m GROUP BY lang_head, lang_tail, mixed
          |ORDER BY lang_head, lang_tail, mixed""".stripMargin),
    "q55_quality_quantiles" ->
      s"""WITH comp AS (
         |  SELECT
         |    round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1), 6) AS alpha,
         |    round(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |        t -> list_contains($stopList, t))) AS DOUBLE)
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS stop_ratio,
         |    round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS mtl,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> list_contains(['the','a','of','and','to','is','in'], t))) AS BIGINT) AS s_en,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> list_contains(['le','la','les','de','et','un','est'], t))) AS BIGINT) AS s_fr,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> list_contains(['der','die','das','und','ist','ein','nicht'], t))) AS BIGINT) AS s_de,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> list_contains(['el','los','las','y','un','es','que'], t))) AS BIGINT) AS s_es,
         |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk
         |  FROM documents),
         |scored AS (
         |  SELECT
         |    CASE WHEN has_cjk THEN 'zh'
         |      WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
         |      WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
         |      WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
         |      WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
         |      ELSE 'es' END AS lang,
         |    round(0.5 * alpha + 0.3 * least(stop_ratio * 3, 1.0)
         |      + 0.2 * least(mtl / 8, 1.0), 6) AS q
         |  FROM comp)
         |SELECT lang, count(*) AS n,
         |  round(quantile_cont(q, 0.5), 6) AS p50,
         |  round(quantile_cont(q, 0.9), 6) AS p90,
         |  round(quantile_cont(q, 0.99), 6) AS p99
         |FROM scored GROUP BY lang ORDER BY lang""".stripMargin,
    "q60_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
        |  FROM documents),
        |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY tok),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT tok, df, round(CAST(df AS DOUBLE) / n_docs, 6) AS doc_frac
        |FROM dfreq, t WHERE df >= n_docs * 0.3
        |ORDER BY df DESC, tok""".stripMargin,
    "q61_tfidf" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tk GROUP BY tok),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
        |    CAST(tf.tf * ((n_docs * 1000000) // dfreq.df) AS BIGINT) AS score
        |  FROM tf JOIN dfreq USING (tok), t),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, tok) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT doc_id, tok, tf, df, score, rnk FROM r
        |WHERE rnk <= 3 AND doc_id < 50 ORDER BY doc_id, rnk""".stripMargin,
    "q63_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents WHERE doc_id < 100),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
        |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT), 6) AS top_tok_ratio,
        |  round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT), 6) AS distinct_ratio
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q100_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents WHERE doc_id < 50),
        |n AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tok FROM t),
        |c AS (
        |  SELECT doc_id, tk, n_tok, unnest(generate_series(0,
        |    CASE WHEN n_tok <= 64 THEN 0
        |         ELSE CAST(ceil((n_tok - 16.0) / 48) AS BIGINT) - 1 END)) AS chunk_id
        |  FROM n)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(tk[chunk_id*48+1 : least(chunk_id*48+64, n_tok)]) AS BIGINT) AS chunk_tok,
        |  md5(array_to_string(tk[chunk_id*48+1 : least(chunk_id*48+64, n_tok)], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // per-column stats restated as one UNION ALL branch per column
    "q112_corpus_profile" ->
      """WITH d AS (SELECT *, md5(text) AS text_md5 FROM documents)
        |SELECT * FROM (
        |  SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |    CAST(min(doc_id) AS VARCHAR) AS min_str,
        |    CAST(max(doc_id) AS VARCHAR) AS max_str FROM d
        |  UNION ALL
        |  SELECT 'lang', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT lang) AS BIGINT),
        |    CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR) FROM d
        |  UNION ALL
        |  SELECT 'source', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT source) AS BIGINT),
        |    CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR) FROM d
        |  UNION ALL
        |  SELECT 'n_chars', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT n_chars) AS BIGINT),
        |    CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM d
        |  UNION ALL
        |  SELECT 'text_md5', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN text_md5 IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT text_md5) AS BIGINT),
        |    CAST(min(text_md5) AS VARCHAR), CAST(max(text_md5) AS VARCHAR) FROM d
        |) ORDER BY col_name""".stripMargin,
    "q94_token_budget" ->
      """WITH b AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT *, sum(n_tok) OVER (
        |    PARTITION BY lang ORDER BY n_chars DESC, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM b)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS checksum
        |FROM c WHERE cum <= 2000
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // full restatement of the hashing-trick margin: md5 60-bit fold per
    // feature (q102's token-hash idiom), bucket mod, formula weights
    "q116_quality_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id < 300),
        |feats AS (
        |  SELECT doc_id, list_concat(t,
        |    list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS fs
        |  FROM toks),
        |m AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(fs, f ->
        |      ((list_reduce(list_transform(string_split(md5(f), '')[1:15],
        |          c -> CAST(CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
        |                    ELSE unicode(c) - 48 END AS BIGINT)),
        |        (a, v) -> a * 16 + v) % 262144) * 2654435761) % 8191 - 4095))
        |    AS BIGINT) AS margin
        |  FROM feats)
        |SELECT doc_id, margin, CAST(margin >= 0 AS BIGINT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "q178_line_boilerplate" ->
      raw"""WITH synth AS (
         |  SELECT doc_id, source,
         |    regexp_replace(trim(text), '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS s2
         |  FROM documents),
         |lsx AS (SELECT doc_id, source, string_split(s2, chr(10)) AS ls FROM synth),
         |l AS (SELECT doc_id, source, i, ls[i] AS line
         |      FROM lsx, unnest(generate_series(1, len(ls))) AS u(i)),
         |thr AS (SELECT source,
         |  greatest(2, (count(*) * 40000 + 999999) // 1000000) AS thr
         |  FROM documents GROUP BY source),
         |f0 AS (SELECT source, line, count(DISTINCT doc_id) AS df
         |       FROM l GROUP BY source, line),
         |f AS (SELECT f0.source, f0.line FROM f0 JOIN thr USING (source)
         |      WHERE df >= thr),
         |j AS (SELECT l.doc_id, l.i, l.line, f.line IS NOT NULL AS boiler
         |      FROM l LEFT JOIN f ON f.source = l.source AND f.line = l.line)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(sum(CASE WHEN boiler THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(CASE WHEN boiler THEN NULL ELSE line END,
         |    chr(10) ORDER BY i), '')) AS clean_md5
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q212_garbage_gate" ->
      raw"""WITH uni AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |    text || chr(1) || chr(2) || chr(3) || chr(4) || chr(5) || repeat('z', 30)
         |  FROM documents WHERE doc_id % 5 = 0),
         |chars AS (
         |  SELECT doc_id, unnest(string_split(text, '')) AS c,
         |    unnest(generate_series(1, length(text))) AS i
         |  FROM uni),
         |bnd AS (
         |  SELECT doc_id, i, CASE WHEN lag(c) OVER
         |      (PARTITION BY doc_id ORDER BY i) IS DISTINCT FROM c
         |    THEN 1 ELSE 0 END AS nb
         |  FROM chars),
         |rid AS (
         |  SELECT doc_id, i, sum(nb) OVER
         |    (PARTITION BY doc_id ORDER BY i
         |     ROWS UNBOUNDED PRECEDING) AS run_id
         |  FROM bnd),
         |runs AS (SELECT doc_id, run_id, count(*) AS rl FROM rid GROUP BY doc_id, run_id),
         |mr AS (SELECT doc_id, CAST(max(rl) AS BIGINT) AS max_run FROM runs GROUP BY doc_id),
         |sig AS (
         |  SELECT u.doc_id,
         |    (1000000 * length(regexp_replace(u.text, '[^\x20-\x7e\t\n\r]', '', 'g')))
         |      // greatest(length(u.text), 1) AS printable_ppm,
         |    coalesce(mr.max_run, 0) AS max_run
         |  FROM uni u LEFT JOIN mr ON mr.doc_id = u.doc_id),
         |g AS (
         |  SELECT doc_id, printable_ppm, max_run,
         |    CAST(CASE WHEN printable_ppm >= 990000 AND max_run <= 10
         |         THEN 1 ELSE 0 END AS BIGINT) AS keep,
         |    CAST(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END AS BIGINT) AS is_twin
         |  FROM sig)
         |SELECT is_twin, keep, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(printable_ppm) AS BIGINT) AS sum_ppm,
         |  CAST(sum(max_run) AS BIGINT) AS sum_run
         |FROM g GROUP BY is_twin, keep ORDER BY is_twin, keep""".stripMargin,
    "q211_lexicon_filter" ->
      raw"""WITH lex AS (
         |  SELECT * FROM (VALUES
         |    ('slow', 'latency', 5), ('fast', 'latency', 1),
         |    ('merge', 'ops', 2), ('window', 'ops', 1),
         |    ('slow fast', 'latency', 7)) AS t(term, category, weight)),
         |tok AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
         |  FROM documents),
         |tw AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i+1])) AS t
         |  FROM tw WHERE len(w) >= 2),
         |hits AS (
         |  SELECT doc_id, category, CAST(weight AS BIGINT) AS w FROM tok JOIN lex ON tok.t = lex.term
         |  UNION ALL
         |  SELECT doc_id, category, CAST(weight AS BIGINT) FROM bg JOIN lex ON bg.t = lex.term),
         |per AS (
         |  SELECT doc_id, category, CAST(count(*) AS BIGINT) AS n_hits,
         |    CAST(sum(w) AS BIGINT) AS sum_weight
         |  FROM hits GROUP BY doc_id, category)
         |SELECT d.source, p.category, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(p.n_hits) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN p.sum_weight >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
         |FROM per p JOIN documents d USING (doc_id)
         |GROUP BY d.source, p.category ORDER BY d.source, p.category""".stripMargin,
    "q210_phrase_search" ->
      raw"""WITH ph AS (
         |  SELECT doc_id AS phrase_id,
         |    string_split_regex(trim(text), '\s+')[1:6] AS ptk
         |  FROM documents WHERE doc_id IN (3, 77, 123)),
         |dt AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
         |m AS (
         |  SELECT p.phrase_id, d.doc_id,
         |    unnest(list_filter(range(1, greatest(1, len(d.tk) - 4)),
         |      i -> d.tk[i : i + 5] = p.ptk)) AS s
         |  FROM ph p, dt d)
         |SELECT phrase_id, doc_id, CAST(s - 1 AS BIGINT) AS start
         |FROM m ORDER BY phrase_id, doc_id, start""".stripMargin,
    "q207_url_canonical" ->
      raw"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 400),
         |raw_urls AS (
         |  SELECT 'http://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) ||
         |    '.Ex' || CAST(doc_id % 3 AS VARCHAR) ||
         |    '.COM:80/p/' || CAST(doc_id % 97 AS VARCHAR) ||
         |    '/?utm_source=feed&id=' || CAST(doc_id % 41 AS VARCHAR) ||
         |    '&utm_campaign=x#sec2' AS u FROM ids
         |  UNION ALL
         |  SELECT 'http://site' || CAST(doc_id % 7 AS VARCHAR) ||
         |    '.ex' || CAST(doc_id % 3 AS VARCHAR) ||
         |    '.com/p/' || CAST(doc_id % 97 AS VARCHAR) ||
         |    '?id=' || CAST(doc_id % 41 AS VARCHAR) FROM ids),
         |p1 AS (
         |  SELECT u, regexp_replace(u, '#.*', '') AS nf FROM raw_urls),
         |p2 AS (
         |  SELECT u,
         |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |    regexp_replace(lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
         |      '^www\.', '') AS host0,
         |    regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
         |  FROM p1),
         |p3 AS (
         |  SELECT u, scheme,
         |    CASE scheme WHEN 'http' THEN regexp_replace(host0, ':80$$', '')
         |      WHEN 'https' THEN regexp_replace(host0, ':443$$', '')
         |      ELSE host0 END AS host,
         |    regexp_replace(regexp_replace(rest, '\?.*', ''), '/+$$', '') AS path,
         |    list_filter(string_split(regexp_extract(rest, '\?(.*)', 1), '&'),
         |      p -> NOT (regexp_matches(p, '^(utm_[A-Za-z0-9_]*|gclid|fbclid)=') OR p = '')) AS kept
         |  FROM p2),
         |cus AS (
         |  SELECT u, scheme || '://' || host || path ||
         |    CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END AS cu
         |  FROM p3),
         |dom AS (
         |  SELECT cu, regexp_extract(cu, '^[a-z][a-z0-9+.-]*://([^/?#:]*)', 1) AS h2 FROM cus),
         |fin AS (
         |  SELECT cu, CASE WHEN regexp_matches(h2, '[^.]+\.[^.]+$$')
         |    THEN regexp_extract(h2, '([^.]+\.[^.]+)$$', 1) ELSE h2 END AS dom
         |  FROM dom)
         |SELECT dom, CAST(count(*) AS BIGINT) AS n_raw,
         |  CAST(count(DISTINCT cu) AS BIGINT) AS n_canon,
         |  min(cu) AS sample_cu
         |FROM fin GROUP BY dom ORDER BY dom""".stripMargin,
    "q203_bitext_margin" ->
      """WITH q AS (
        |  SELECT vec_id AS x_id,
        |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xv
        |  FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 100),
        |c AS (
        |  SELECT vec_id AS y_id,
        |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS yv
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |dots AS (
        |  SELECT x_id, y_id,
        |    CAST(list_sum(list_transform(generate_series(1, 64), i -> xv[i] * yv[i])) AS BIGINT) AS d
        |  FROM q, c),
        |pos AS (SELECT * FROM dots WHERE d > 0),
        |fwd AS (
        |  SELECT *, row_number() OVER (PARTITION BY x_id ORDER BY d DESC, y_id) AS rf FROM pos),
        |f AS (SELECT x_id, y_id, d FROM fwd WHERE rf <= 4),
        |sx AS (SELECT x_id, CAST(sum(d) AS BIGINT) AS sum_x,
        |       CAST(count(*) AS BIGINT) AS k_x FROM f GROUP BY x_id),
        |bwd AS (
        |  SELECT *, row_number() OVER (PARTITION BY y_id ORDER BY d DESC, x_id) AS rb FROM pos),
        |b AS (SELECT y_id, CAST(sum(d) AS BIGINT) AS sum_y, CAST(count(*) AS BIGINT) AS k_y
        |      FROM (SELECT * FROM bwd WHERE rb <= 4) GROUP BY y_id),
        |m AS (
        |  SELECT f.x_id, f.y_id, f.d,
        |    CAST((CAST(f.d AS HUGEINT) * 1000000 * (sx.k_x + b.k_y)) // (sx.sum_x + b.sum_y) AS BIGINT) AS margin_ppm
        |  FROM f JOIN sx USING (x_id) JOIN b USING (y_id)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY x_id ORDER BY margin_ppm DESC, y_id) AS rm FROM m)
        |SELECT x_id, y_id, d, margin_ppm FROM r WHERE rm = 1 ORDER BY x_id""".stripMargin,
    "q201_vocab_oov" ->
      raw"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
         |  FROM documents),
         |vocab AS (
         |  SELECT w FROM (
         |    SELECT w, count(*) AS c FROM tok GROUP BY w
         |    ORDER BY c DESC, w LIMIT 16)),
         |per_doc AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         |  FROM tok t LEFT JOIN vocab v ON t.w = v.w
         |  GROUP BY t.doc_id),
         |j AS (
         |  SELECT p.*, (1000000 * p.n_oov) // p.n_tok AS oov_ppm, d.source
         |  FROM per_doc p JOIN documents d USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS sum_tok,
         |  CAST(sum(n_oov) AS BIGINT) AS sum_oov,
         |  CAST(sum(CASE WHEN oov_ppm > 250000 THEN 1 ELSE 0 END) AS BIGINT) AS n_frag,
         |  CAST((1000000 * sum(n_oov)) // sum(n_tok) AS BIGINT) AS corpus_oov_ppm
         |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "q196_markup_strip" ->
      raw"""WITH page AS (
         |  SELECT doc_id,
         |    '<html><head><title>d</title><style type="text/css">p { color: #333; }</style></head>' ||
         |    '<body><h1 id="t">Doc ' || CAST(doc_id AS VARCHAR) ||
         |    '</h1><p class="main">' || text ||
         |    ' &amp; more &lt;raw&gt; &quot;quoted&quot;&nbsp;tail</p>' ||
         |    '<script>if (a < b && c > d) { go("x"); }</script>' ||
         |    '<!-- hidden comment --></body></html>' AS h
         |  FROM documents),
         |stripped AS (
         |  SELECT doc_id, trim(regexp_replace(
         |    replace(replace(replace(replace(replace(replace(
         |      regexp_replace(
         |        regexp_replace(
         |          regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
         |          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
         |        '<[^>]*>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
         |    '\s+', ' ', 'g')) AS clean
         |  FROM page)
         |SELECT doc_id, md5(clean) AS clean_md5,
         |  CAST(length(clean) AS BIGINT) AS n_chars_clean
         |FROM stripped ORDER BY doc_id""".stripMargin,
    "q188_trigram_lm" ->
      (s"WITH $trigramLmCtes\n" +
        """SELECT sc.doc_id, d.lang, sc.m, CAST(sc.tot // sc.m AS BIGINT) AS fluency3
          |FROM sc JOIN documents d ON d.doc_id = sc.doc_id
          |ORDER BY fluency3, sc.doc_id LIMIT 20""".stripMargin),
    "q170_repetition_signals" ->
      raw"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
         |  FROM documents WHERE doc_id < 150),
         |u AS (
         |  SELECT doc_id, unnest(generate_series(1, len(t))) AS pos, t
         |  FROM toks),
         |g AS (
         |  SELECT doc_id, pos, t[pos] AS tok,
         |    CASE WHEN pos + 1 <= len(t) THEN t[pos] || ' ' || t[pos+1] END AS big,
         |    CASE WHEN pos + 2 <= len(t)
         |      THEN t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2] END AS tri
         |  FROM u),
         |base AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
         |  FROM g GROUP BY doc_id),
         |t1 AS (
         |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top1_cnt FROM (
         |    SELECT doc_id, count(*) AS c FROM g GROUP BY doc_id, tok) q
         |  GROUP BY doc_id),
         |t2 AS (
         |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top2_cnt FROM (
         |    SELECT doc_id, count(*) AS c FROM g WHERE big IS NOT NULL
         |    GROUP BY doc_id, big) q
         |  GROUP BY doc_id),
         |rep AS (
         |  SELECT doc_id, tri FROM g WHERE tri IS NOT NULL
         |  GROUP BY doc_id, tri HAVING count(*) >= 2),
         |cov AS (
         |  SELECT k.doc_id, CAST(count(DISTINCT k.pos + d.d) AS BIGINT) AS rep3_cover
         |  FROM g k JOIN rep r ON k.doc_id = r.doc_id AND k.tri = r.tri
         |  CROSS JOIN (SELECT unnest([0,1,2]) AS d) d
         |  GROUP BY k.doc_id)
         |SELECT b.doc_id, b.n_tok, b.n_distinct, t1.top1_cnt,
         |  CAST(coalesce(t2.top2_cnt, 0) AS BIGINT) AS top2_cnt,
         |  CAST(coalesce(cov.rep3_cover, 0) AS BIGINT) AS rep3_cover,
         |  (b.n_tok >= 10 AND t1.top1_cnt * 5 <= b.n_tok
         |    AND coalesce(t2.top2_cnt, 0) * 10 <= b.n_tok
         |    AND coalesce(cov.rep3_cover, 0) * 4 <= b.n_tok) AS keep
         |FROM base b JOIN t1 USING (doc_id)
         |LEFT JOIN t2 USING (doc_id) LEFT JOIN cov USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q134_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |p AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair
        |  FROM w, unnest(range(1, length(w))) AS t(i)
        |  WHERE length(w) >= 2),
        |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY pair),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM p)
        |SELECT pair, n, round(CAST(n AS DOUBLE) / n_pairs, 6) AS frac
        |FROM c, t WHERE n >= n_pairs * 0.01
        |ORDER BY n DESC, pair""".stripMargin,
    // identical PII construction + RE2 spelling of the same regex cascade
    "q110_pii_redaction" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com or https://ex.example/p/'
        |      || CAST(doc_id AS VARCHAR) || '?sid=98765432 ref 123456789' AS pii
        |  FROM documents WHERE doc_id < 200),
        |r AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(pii,
        |      'https?://[^ \t\r\n]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{7,}', '<NUM>', 'g') AS red
        |  FROM p)
        |SELECT doc_id, md5(red) AS red_md5,
        |  CAST(length(regexp_extract_all(red, '<URL>')) AS BIGINT) AS n_url,
        |  CAST(length(regexp_extract_all(red, '<EMAIL>')) AS BIGINT) AS n_email,
        |  CAST(length(regexp_extract_all(red, '<NUM>')) AS BIGINT) AS n_num
        |FROM r ORDER BY doc_id""".stripMargin,
    "q135_mg_heavy_hitters" ->
      """WITH tk AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
        |tk2 AS (SELECT tok FROM tk WHERE tok <> ''),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tk2),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tk2 GROUP BY tok)
        |SELECT tok, cnt, round(cnt / (SELECT n * 1.0 FROM t), 6) AS frac
        |FROM c WHERE cnt * 100 >= (SELECT n FROM t) * 3
        |ORDER BY cnt DESC, tok""".stripMargin,
    "q138_bigram_lm" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
        |bgr AS (
        |  SELECT doc_id, unnest([substring(w, i, 2) for i in range(1, length(w))]) AS bg
        |  FROM tk WHERE length(w) >= 2),
        |c AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_bi FROM bgr GROUP BY bg),
        |px AS (SELECT substring(bg, 1, 1) AS x, CAST(sum(c_bi) AS BIGINT) AS c_x
        |       FROM c GROUP BY 1),
        |lm AS (SELECT bg, (1000000 * c_bi) // c_x AS p
        |       FROM c JOIN px ON substring(c.bg, 1, 1) = px.x),
        |sc AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(p) AS BIGINT) AS tot
        |       FROM bgr b JOIN lm USING (bg) GROUP BY b.doc_id)
        |SELECT sc.doc_id, d.lang, sc.m, CAST(sc.tot // sc.m AS BIGINT) AS fluency
        |FROM sc JOIN documents d ON d.doc_id = sc.doc_id
        |ORDER BY fluency, sc.doc_id LIMIT 20""".stripMargin,
    "q142_bpe_train" ->
      (s"WITH ${bpeCtes(4)},\n" +
        (1 to 4).map(i =>
          s"SELECT CAST($i AS BIGINT) AS step, x, y, cnt FROM b${i - 1}")
          .mkString("m AS (", " UNION ALL ", ")\n") +
        "SELECT step, x, y, cnt FROM m ORDER BY step"),
    "q143_bpe_encode" ->
      (s"WITH ${bpeCtes(4)},\n" +
        """vocab AS (
          |  SELECT w, CAST(len(list_filter(string_split(s, chr(1)||chr(1)),
          |    t -> t <> '')) AS BIGINT) AS n_tok FROM s4),
          |dtk AS (
          |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
          |  FROM documents WHERE doc_id < 50)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
          |  CAST(sum(n_tok) AS BIGINT) AS n_bpe_tok
          |FROM dtk JOIN vocab USING (w) WHERE w <> ''
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "q152_text_gz" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |  CAST(sum(doc_id) AS BIGINT) AS checksum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q147_collocations" ->
      """WITH tk AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS l FROM documents),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(l) AS w FROM tk) WHERE w <> '' GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
        |idx AS (SELECT l, unnest(range(1, len(l))) AS i FROM tk WHERE len(l) >= 2),
        |bi AS (SELECT l[i] AS x, l[i+1] AS y, CAST(count(*) AS BIGINT) AS cxy
        |  FROM idx WHERE l[i] <> '' AND l[i+1] <> ''
        |  GROUP BY 1, 2 HAVING count(*) >= 10),
        |sc AS (
        |  SELECT x, y, cxy, ux.c AS cx, uy.c AS cy,
        |    ((cxy * n) // ux.c) * 1000000 // uy.c AS lift
        |  FROM bi JOIN uni ux ON ux.w = x JOIN uni uy ON uy.w = y, tot)
        |SELECT x, y, cxy, cx, cy, CAST(lift AS BIGINT) AS lift FROM sc
        |ORDER BY lift DESC, x, y LIMIT 30""".stripMargin,
  )
}
