package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, Multimodal, Similarity, TextAnalysis => TA}
import graft.tables.Tables

import PipelineOps._

/** Storage-layer operators: versioned tables, snapshots, layout/pruning, joins with table-side tricks, multimodal IO, format round-trips.
  *
  * One shard of [[PipelineOps]] (round-8 mechanical split of the
  * former 8k-line file — zero behavior change; PipelineOps merges the
  * shards and still owns the shared helpers/oracle builders). */
private[queries] object PipelineTables {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q53_multimodal_meta" -> ((s, dir) => {
      // Binary payload column + metadata extraction (pure expressions).
      val d = Multimodal.withPayload(t(s, dir, "documents").filter(col("doc_id") < 100))
      d.select(
        col("doc_id"),
        Multimodal.payloadBytes(col("payload")).as("n_bytes"),
        ascii(col("text")).cast("long").as("first_cp"))
        .orderBy(col("doc_id"))
    }),
    "q54_multimodal_decode" -> ((s, dir) => {
      // Batch-wise decode via mapPartitions (codec STUBBED — FakeCodec);
      // resize planning + frame sampling as expressions. Every output column
      // is scalar (struct flattened, frame offsets serialized) so the driver
      // can sort/hash the result, and the FakeCodec arithmetic is
      // reproducible in the SQL oracle from octet_length alone.
      val d = Multimodal.decodeImages(
        Multimodal.withPayload(t(s, dir, "documents").filter(col("doc_id") < 100)))
      val resized = Multimodal.resizePlan(col("width"), col("height"), 256)
      d.select(
        col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"),
        col("format"),
        resized.getField("width").cast("long").as("resized_w"),
        resized.getField("height").cast("long").as("resized_h"),
        concat_ws(",", Multimodal.frameSampleOffsets(col("payload"), 4)).as("frames"))
        .orderBy(col("doc_id"))
    }),
    "q105_multimodal_audio" -> ((s, dir) => {
      // The audio half of the multimodal contract: batch decode
      // (FakeAudioCodec — sanctioned stub, every field derived from
      // octet_length so the oracle recomputes it), duration math and the
      // fixed-window seek plan as exact integer expressions. Same
      // mapPartitions plumbing as q54; WavCodec (real JDK decode) runs the
      // identical contract in MultimodalSpec.
      val d = Multimodal.decodeAudio(
        Multimodal.withPayload(t(s, dir, "documents").filter(col("doc_id") < 100)))
      d.select(
        col("doc_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("audio_channels").cast("long").as("audio_channels"),
        col("n_frames"),
        col("audio_format"),
        Multimodal.audioDurationMs(col("n_frames"), col("sample_rate")).as("dur_ms"),
        concat_ws(",", Multimodal.audioWindowStarts(col("n_frames"),
          col("sample_rate"), windowMs = 250)).as("win_starts"))
        .orderBy(col("doc_id"))
    }),
    "q106_multimodal_video" -> ((s, dir) => {
      // The video third of the multimodal contract: batch decode
      // (FakeVideoCodec stub — oracle-recomputable), resize planning on the
      // frame dims, duration from frames/fps, and evenly-spaced frame-index
      // sampling — all exact integer expressions. GifCodec (real JDK
      // multi-frame decode) runs the same contract in MultimodalSpec.
      val d = Multimodal.decodeVideo(
        Multimodal.withPayload(t(s, dir, "documents").filter(col("doc_id") < 100)))
      val resized = Multimodal.resizePlan(col("v_width"), col("v_height"), 384)
      d.select(
        col("doc_id"),
        col("v_width").cast("long").as("v_width"),
        col("v_height").cast("long").as("v_height"),
        col("v_frames").cast("long").as("v_frames"),
        col("fps_milli").cast("long").as("fps_milli"),
        col("video_format"),
        resized.getField("width").cast("long").as("resized_w"),
        resized.getField("height").cast("long").as("resized_h"),
        call_function("div", col("v_frames").cast("long") * 1000000L,
          col("fps_milli")).as("dur_ms"),
        concat_ws(",", Multimodal.frameIndexSample(col("v_frames"), 8)).as("sample_idx"))
        .orderBy(col("doc_id"))
    }),
    "q80_bucketed_join" -> ((s, dir) => {
      // Bucketed co-located join under the driver's gate: both sides are
      // written as 8-bucket catalog tables (the shuffle paid ONCE, at write
      // time — the 100 TB amortization for repeated fact⋈fact joins), then
      // joined on the bucket key with zero Exchange on either side
      // (ScaleOpsSpec asserts the plan). The result must equal the plain
      // join — the oracle.
      dropScratch(s, "q80_li_bkt")
      dropScratch(s, "q80_ord_bkt")
      val li = Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      val ords = Tables.table(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      graft.tables.Bucketing.writeBucketed(li, "q80_li_bkt", 8, Seq("l_orderkey"))
      graft.tables.Bucketing.writeBucketed(ords, "q80_ord_bkt", 8, Seq("l_orderkey"))
      val out = graft.tables.Bucketing
        .bucketedJoin(s, "q80_li_bkt", "q80_ord_bkt", Seq("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          round(graft.functions.Stable.sumD(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("l_returnflag"))
      // 3-row final rollup — safe to materialize so the scratch tables drop.
      val result = materialize(s, out)
      s.sql("DROP TABLE IF EXISTS q80_li_bkt")
      s.sql("DROP TABLE IF EXISTS q80_ord_bkt")
      result
    }),
    "q97_partitioned_read" -> ((s, dir) => {
      // Hive-style partitioned layout under the driver's gate: documents
      // rewritten partitioned by lang, then filtered on the partition
      // column — pruning happens at file-LISTING time (ScaleOpsSpec asserts
      // exactly one partition directory scans). Result must equal the same
      // filter over the unpartitioned original.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q97-part").toString
      try {
        graft.tables.Layout.writePartitioned(t(s, dir, "documents"), tmp, Seq("lang"))
        val out = s.read.parquet(tmp)
          .filter(col("lang") === "en")
          .agg(
            count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("doc_id")).as("checksum"))
        materialize(s, out) // 1 row
      } finally {
        graft.tables.Hfs.rmTree(new java.io.File(tmp))
      }
    }),
    "q115_dpp_join" -> ((s, dir) => {
      // Dynamic partition pruning under the driver's gate: lineitem is laid
      // out hive-partitioned by ship month, and the month filter arrives
      // only THROUGH A JOIN with a dim derived from orders (months whose
      // quarter is Q1) — no static predicate on the partition column exists
      // at plan time, so directory pruning must come from Spark's runtime
      // DPP subquery on the dim's broadcast. At 100 TB this is the
      // difference between scanning every date partition and scanning the
      // joined ones; ScaleOpsSpec asserts the dynamicpruning filter and the
      // partitions-read metric. Result must equal the plain semi-join over
      // the unpartitioned original.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q115-dpp").toString
      try {
        val li = t(s, dir, "lineitem")
          .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
        graft.tables.Layout.writePartitioned(li, tmp, Seq("ship_month"))
        val months = t(s, dir, "orders")
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"),
            quarter(col("o_orderdate")).as("qtr"))
          .filter(col("qtr") === 1)
          .select("ship_month").distinct()
        val out = s.read.parquet(tmp).join(months, "ship_month")
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity")).as("sum_qty"),
            sum(col("l_orderkey")).as("sum_ok"))
        materialize(s, out) // 1 row; lets the scratch dir drop immediately
      } finally {
        graft.tables.Hfs.rmTree(new java.io.File(tmp))
      }
    }),
    "q117_range_join" -> ((s, dir) => {
      // Range-join ROLLUP with aggregate pushdown: 2-day activity windows
      // (first event onward) for every 20th user, attributed against ALL
      // events by time alone — no equi key, the join Spark would plan as a
      // nested loop. The pair-materializing band form (q165) is bound by
      // the true pair output, which grows quadratically when density
      // scales (ScaleGen replicates events into a fixed time span) — so
      // here the rollup pushes THROUGH the join: windows decompose into
      // day/hour/minute aligned bins meeting pre-aggregated per-bin
      // partials, and only sub-minute edge slivers touch raw points. Same
      // answer as the theta join (the oracle), never the pairs.
      val ev = t(s, dir, "events")
      val points = ev.select(col("event_id"), unix_micros(col("ts")).as("pt"))
      val wins = ev.filter(col("user_id") % 20 === 0)
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("ws"))
        .select(col("user_id").as("w_user"), col("ws"),
          (col("ws") + lit(2L * 86400L * 1000000L)).as("we"))
      graft.ops.RangeJoin.multiLevelRangeAgg(points, "pt", Seq("event_id"),
          wins, Seq("w_user"), "ws", "we",
          widths = Seq(86400L * 1000000L, 3600L * 1000000L, 60L * 1000000L))
        .select(col("w_user"), col("n_points").as("n_events"),
          col("sum_event_id").as("checksum"))
        .orderBy(col("w_user"))
    }),
    "q282_lineage_chain" -> ((s, dir) => {
      // Tamper-evident commit lineage: a three-version table (init,
      // append, delete) emits its Merkle chain — per version the content
      // checksum and md5(version:n:checksum:prev) link; the oracle
      // recomputes the contents from the base table and chains the same
      // md5, so a single final hash verifies the whole history.
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft-q282")
      val root = "file://" + tmpRoot.toString + "/table"
      try {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        graft.tables.VersionedTable.init(s, root,
          docs.filter(col("doc_id") < 400))
        graft.tables.VersionedTable.commit(s, root)(cur =>
          cur.unionByName(docs.filter(col("doc_id") >= 400)))
        graft.tables.VersionedTable.commit(s, root)(cur =>
          cur.filter(col("doc_id") % 7 =!= 0))
        val out = graft.tables.VersionedTable.lineage(s, root,
          col("doc_id") * 1000003L + col("n_chars"))
        materialize(s, out.orderBy(col("version")))
      } finally {
        graft.tables.Hfs.rmTree(tmpRoot.toFile)
      }
    }),
    "q286_column_diff" -> ((s, dir) => {
      // Column-level change attribution: a simulated migration drops
      // every 17th doc, adds 20 new ones, rewrites text for every 5th
      // and lang for every 9th — the audit must charge each column
      // exactly its own churn (the "one-field migration rewrote three"
      // detector).
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      val migrated = docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(lit("v2 "), col("text")))
            .otherwise(col("text")).as("text"),
          when(col("doc_id") % 9 === 0, lit("xx")).otherwise(col("lang"))
            .as("lang"),
          col("n_chars"))
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
            col("lang"), col("n_chars")))
      graft.tables.Snapshots.columnDiff(docs, migrated, "doc_id",
          Seq("text", "lang", "n_chars"))
        .orderBy(col("column"))
    }),
    "q285_source_influence" -> ((s, dir) => {
      // Data valuation, leave-one-out form: per source, how far the
      // corpus quality mean moves if the source were dropped — a closed
      // form over per-source sums (one pass values every source; no
      // per-source re-scan), the prioritization number for pruning or
      // up-weighting sources before a mixture re-design.
      val docs = t(s, dir, "documents")
      Curation.sourceInfluence(docs, col("source"),
          floor(TA.qualityScore(col("text")) * 1000000).cast("long"))
        .orderBy(col("source"))
    }),
    "q167_version_diff" -> ((s, dir) => {
      // Time travel + version diff over the commit log: v1 = the corpus,
      // v2 = every 3rd doc's text rewritten (upsert), v3 = every 13th doc
      // dropped (retention). diffByFingerprint(v1, v3) — both read by
      // VERSION, not by pointer — classifies every key; the per-status
      // rollup is the "what moved since the training run" report. The
      // oracle restates the membership/modification arithmetic directly.
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft-q167")
      val root = "file://" + tmpRoot.toString + "/table"
      try {
        val VT = graft.tables.VersionedTable
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        VT.init(s, root, docs)
        graft.tables.Snapshots.upsertByKey(s, root,
          docs.filter(col("doc_id") % 3 === 0)
            .withColumn("text", concat(lit("w"), col("doc_id"))), "doc_id")
        graft.tables.Snapshots.deleteWhere(s, root, col("doc_id") % 13 === 0)
        val d = graft.tables.Snapshots.diffByFingerprint(
          VT.readVersion(s, root, 1L), VT.readVersion(s, root, 3L),
          "doc_id", md5(col("text")))
        materialize(s, d.groupBy(col("status"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("checksum"))
          .orderBy(col("status")))
      } finally {
        graft.tables.Hfs.rmTree(tmpRoot.toFile)
      }
    }),
    "q165_range_join_pairs" -> ((s, dir) => {
      // The pair-materializing binned range join (when the caller needs
      // the pairs themselves, not a rollup): bin width auto-scales with
      // point density (binWidthFor — granularity follows the data, the LSH
      // planes rule), so per-bin candidate enumeration stays bounded as
      // the corpus densifies. Windows for every 40th user to keep this
      // distinct from q117's set; rolled up only to keep the oracle
      // compact — the operator under test emits pairs.
      val ev = t(s, dir, "events")
      val points = ev.select(col("event_id"), unix_micros(col("ts")).as("pt"))
      val wins = ev.filter(col("user_id") % 40 === 0)
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("ws"))
        .select(col("user_id").as("w_user"), col("ws"),
          (col("ws") + lit(2L * 86400L * 1000000L)).as("we"))
      val bin = graft.ops.RangeJoin.binWidthFor(points, "pt")
      graft.ops.RangeJoin.binnedRangeJoin(points, "pt", wins, "ws", "we", bin)
        .groupBy(col("w_user"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("checksum"))
        .orderBy(col("w_user"))
    }),
    "q166_versioned_upsert" -> ((s, dir) => {
      // The object-store-safe commit protocol under the gate: a versioned
      // table (pointer-swap commits — data dir + atomic marker PUT, zero
      // renames) runs the maintenance quartet init → upsert → retention
      // delete → compact, then vacuums to the current version. The rollup
      // reads ONLY the committed pointer; the oracle restates the
      // membership arithmetic of the surviving version. file:// scheme
      // pins the Hadoop FileSystem path — the same code hdfs:/s3a: take.
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft-q166")
      val root = "file://" + tmpRoot.toString + "/table"
      try {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("n_chars"))
        graft.tables.VersionedTable.init(s, root,
          docs.filter(col("doc_id") % 6 =!= 0))
        val updates = docs.filter(col("doc_id") % 4 === 0)
          .withColumn("text", concat(lit("v"), col("doc_id")))
          .withColumn("n_chars", length(col("text")).cast("long"))
        graft.tables.Snapshots.upsertByKey(s, root, updates, "doc_id")
        graft.tables.Snapshots.deleteWhere(s, root, col("doc_id") % 11 === 0)
        graft.tables.Layout.compact(s, root, targetBytes = 128L << 20)
        graft.tables.VersionedTable.vacuum(s, root, keep = 1)
        val out = graft.tables.Snapshots.readSnapshot(s, root).agg(
          count(lit(1)).as("n"),
          sum(col("doc_id")).as("sum_id"),
          sum(when(col("text") === concat(lit("v"), col("doc_id")), 1L)
            .otherwise(0L)).as("n_updated"),
          sum(col("n_chars")).as("sum_chars"))
          .withColumn("final_version",
            lit(graft.tables.VersionedTable.currentVersion(s, root).get))
        materialize(s, out)
      } finally {
        graft.tables.Hfs.rmTree(tmpRoot.toFile)
      }
    }),
    "q120_upsert" -> ((s, dir) => {
      // MERGE-style corpus upsert under the gate: snapshot v1 = documents
      // missing every 7th row; the update batch rewrites every 5th doc's
      // text (deterministic 'u<doc_id>') and re-inserts the missing
      // multiples of 5. Rollup over the MATERIALIZED v2 directory proves
      // the merge really happened on disk; the oracle restates membership
      // and update arithmetic directly.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q120-ups").toString + "/snap"
      try {
        val docs = t(s, dir, "documents")
        docs.filter(col("doc_id") % 7 =!= 0).write.parquet(tmp)
        val updates = docs.filter(col("doc_id") % 5 === 0)
          .withColumn("text", concat(lit("u"), col("doc_id")))
          .withColumn("n_chars", length(col("text")).cast("long"))
        graft.tables.Snapshots.upsertByKey(s, tmp, updates, "doc_id")
        val out = s.read.parquet(tmp).agg(
          count(lit(1)).as("n"),
          sum(col("doc_id")).as("sum_id"),
          sum(when(col("text") === concat(lit("u"), col("doc_id")), 1L)
            .otherwise(0L)).as("n_updated"),
          sum(col("n_chars")).as("sum_chars"))
        materialize(s, out) // 1 row; lets the scratch dir drop immediately
      } finally {
        graft.tables.Hfs.rmTree(new java.io.File(tmp).getParentFile)
      }
    }),
    "q121_snapshot_diff" -> ((s, dir) => {
      // Snapshot diff: v1 drops every 7th doc and mangles every 11th's
      // text; v2 is the original corpus. One full-outer shuffle on the key,
      // md5 fingerprints decide changed-vs-unchanged; per-status rollup is
      // the "what moved since the last training run" report.
      val docs = t(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(lit("m"), col("text")))
            .otherwise(col("text")))
      graft.tables.Snapshots.diffByFingerprint(v1, docs, "doc_id", md5(col("text")))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("checksum"))
        .orderBy(col("status"))
    }),
    "q85_layout_pruning" -> ((s, dir) => {
      // Z-order layout under the driver's gate: lineitem is rewritten
      // clustered on the Morton interleave of (l_orderkey, l_partkey)
      // quantile ranks — the sampled-sketch rank pass, no global window —
      // then filtered on BOTH cluster dimensions and rolled up. The filtered
      // result must equal the same filter over the original table (the
      // oracle); ScaleOpsSpec asserts the footer math that makes the scan
      // skip most row groups for exactly this predicate shape.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q85-z").toString
      try {
        val li = t(s, dir, "lineitem")
        graft.tables.Layout.writeZOrdered(li, tmp, 8, col("l_orderkey"), col("l_partkey"))
        val out = s.read.parquet(tmp)
          .filter(col("l_orderkey").between(100, 300) && col("l_partkey").between(50, 250))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity")).as("sum_qty"),
            sum(col("l_orderkey")).as("sum_ok"),
            sum(col("l_partkey")).as("sum_pk"))
        materialize(s, out) // 1 row; lets the scratch dir drop immediately
      } finally {
        graft.tables.Hfs.rmTree(new java.io.File(tmp))
      }
    }),
    "q108_incremental_neardup" -> ((s, dir) => {
      // q82's incremental-ingest wiring applied to NEAR-dup dedup: the
      // corpus's simhash60Md5 band keys (4×15-bit bands packed into one
      // long) are a pre-built bucketed snapshot; the batch probes it
      // co-located (zero Exchange on the snapshot side, ScaleOpsSpec) and
      // drops docs within Hamming ≤ 5 of any corpus fingerprint or of a
      // smaller-id batch doc. Every step is deterministic cross-engine
      // integer arithmetic (the q102 signature), so the surviving-doc set
      // carries a full DuckDB restatement — the production daily-ingest
      // shape (exact-dup ingest = q82, near-dup ingest = this) under the
      // full oracle gate.
      dropScratch(s, "q108_band_snap")
      val docs = t(s, dir, "documents")
      Dedup.snapshotSimhashBands(docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), "q108_band_snap", 8)
      val out = Dedup.novelNearDupAgainstSnapshot(s, "q108_band_snap",
          docs.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"),
          maxHamming = 5)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
      // data-sized result — same scratch-table hygiene as q82: round-trip
      // through a single-file parquet, drop the snapshot, read back.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q108").toString
      out.coalesce(1).write.mode("overwrite").parquet(tmp)
      s.sql("DROP TABLE IF EXISTS q108_band_snap")
      s.read.parquet(tmp)
    }),
    "q79_skew_salted_join" -> ((s, dir) => {
      // Skew-salted equi-join under the driver's gate: events (the heavy,
      // potentially hot-keyed side) salt 8 ways, customer dim replicated per
      // salt, join on (key, salt). The salted result must be row-identical
      // to the plain join — which IS the oracle (plain SQL join + rollup).
      val ev = Tables.table(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("value"))
      val dim = Tables.table(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.ops.Skew.saltedJoin(ev, dim, "user_id", factor = 8)
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(graft.functions.Stable.sumD(col("value")), 2).as("sum_value"))
        .orderBy(col("c_mktsegment"), col("event_type"))
    }),
    "q136_bloom_join" -> ((s, dir) => {
      // Bloom-pruned semi join: the high-value-orders filter folds into a
      // 1M-bit bloom probed at lineitem SCAN speed, so non-matching fact
      // rows never reach the join's exchange; the exact semi join removes
      // false positives, making the result equal the plain semi join (the
      // oracle). Spark's own BloomFilterAggregate/MightContain pair.
      val hi = t(s, dir, "orders").filter(col("o_totalprice") > 450000.0)
      graft.ops.BloomPrune.bloomSemiJoin(
          t(s, dir, "lineitem"), col("l_orderkey"),
          hi, col("o_orderkey"),
          expectedItems = 200000L, numBits = 1000000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(graft.functions.Stable.sumD(
            col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("l_returnflag"))
    }),
    "q150_jsonl_roundtrip" -> ((s, dir) => {
      // JSON-lines I/O round trip — the interchange format half the
      // training-data world ships in: documents export to JSONL shards,
      // re-mount under an EXPLICIT schema (schema inference over JSONL is
      // a full extra pass at 100 TB — never pay it twice), and the rollup
      // over the mounted copy must equal the parquet original (the oracle).
      val tmp = java.nio.file.Files.createTempDirectory("graft-q150").toString
      try {
        t(s, dir, "documents").write.mode("overwrite").json(tmp)
        val back = s.read.schema(
          "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
          .json(tmp)
        materialize(s, back.groupBy(col("lang")).agg(
            count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("doc_id")).as("checksum"),
            sum(length(col("text"))).as("sum_len"))
          .orderBy(col("lang")))
      } finally {
        graft.tables.Hfs.rmTree(new java.io.File(tmp))
      }
    }),
    "q151_orc_roundtrip" -> ((s, dir) => {
      // ORC I/O round trip — the other columnar container Spark ships
      // natively; same contract as q150: mounted copy ≡ parquet original.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q151").toString
      try {
        t(s, dir, "documents").write.mode("overwrite").orc(tmp)
        materialize(s, s.read.orc(tmp).groupBy(col("lang")).agg(
            count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("doc_id")).as("checksum"))
          .orderBy(col("lang")))
      } finally {
        graft.tables.Hfs.rmTree(new java.io.File(tmp))
      }
    }),
    "q145_multimodal_imageio" -> ((s, dir) => {
      // Real-codec multimodal decode under the oracle gate: deterministic
      // synthetic PNGs (formula-sized, ImageIO-ENCODED per row) round-trip
      // through actual PNG bytes and [[Multimodal.ImageIoCodec]]'s decode —
      // the full encode→bytes→decode loop with a real codec, batch-wise in
      // mapPartitions. The oracle recomputes width/height from the sizing
      // formula: the decode must reproduce them from the bytes alone.
      val withPng = Multimodal.withSyntheticPng(
        t(s, dir, "documents").filter(col("doc_id") < 100).select(col("doc_id")))
      Multimodal.decodeImages(withPng, codec = Multimodal.ImageIoCodec)
        .select(col("doc_id"), col("width"), col("height"),
          col("channels"), col("format"),
          Multimodal.payloadBytes(col("payload")).as("png_bytes"))
        .filter(col("png_bytes") > 0) // real PNGs are never empty
        .drop("png_bytes")
        .orderBy(col("doc_id"))
    }),
    "q294_remote_table" -> ((s, dir) => {
      // Remote table engine under the oracle gate (reference
      // `remote_table.rs` + store service; SURVEY §2.1's last row): this
      // session doubles as the serving node (HttpApiServer /v1/remote/*)
      // and reads lineitem BACK over a live socket through the
      // `graft-remote` DSv2 connector — schema fetch, file-grained split
      // planning, executor-side gzip'd ndjson fetch, with the predicate,
      // projection and their application all on the serving side. The
      // rollup over the wire-read rows must match DuckDB over the original
      // parquet: full type round-trip (long/double/string/timestamp) plus
      // exact remote predicate semantics in one hash.
      val api = new graft.server.HttpApiServer(s)
      api.registerRemoteTable("lineitem", s"$dir/lineitem.parquet")
      val port = api.start()
      try {
        val remote = s.read.format("graft-remote")
          .option("url", s"http://127.0.0.1:$port")
          .option("table", "lineitem").load()
        val out = remote
          .filter(col("l_quantity") < 10 && col("l_returnflag") === "R")
          .groupBy(col("l_linestatus"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_orderkey")).as("key_checksum"),
            round(graft.functions.Stable.sumD(col("l_extendedprice")), 2)
              .as("sum_price"),
            max(col("l_shipdate")).as("last_ship"))
          .orderBy(col("l_linestatus"))
        // evaluate while the server is still up — the finally stops it
        materialize(s, out)
      } finally api.stop()
    }),
  )

  def oracle: Map[String, String] = Map(
    "q282_lineage_chain" ->
      """WITH v1 AS (SELECT doc_id, n_chars FROM documents WHERE doc_id < 400),
        |v2 AS (SELECT * FROM v1 UNION ALL
        |  SELECT doc_id, n_chars FROM documents WHERE doc_id >= 400),
        |v3 AS (SELECT * FROM v2 WHERE doc_id % 7 != 0),
        |m1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(doc_id AS HUGEINT) * 1000003 + n_chars) AS VARCHAR)
        |    AS cs FROM v1),
        |m2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(doc_id AS HUGEINT) * 1000003 + n_chars) AS VARCHAR)
        |    AS cs FROM v2),
        |m3 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(doc_id AS HUGEINT) * 1000003 + n_chars) AS VARCHAR)
        |    AS cs FROM v3),
        |c1 AS (SELECT CAST(1 AS BIGINT) AS version, n, cs,
        |  md5('1:' || CAST(n AS VARCHAR) || ':' || cs || ':genesis') AS h
        |  FROM m1),
        |c2 AS (SELECT CAST(2 AS BIGINT) AS version, m2.n, m2.cs,
        |  md5('2:' || CAST(m2.n AS VARCHAR) || ':' || m2.cs || ':' || c1.h)
        |    AS h FROM m2, c1),
        |c3 AS (SELECT CAST(3 AS BIGINT) AS version, m3.n, m3.cs,
        |  md5('3:' || CAST(m3.n AS VARCHAR) || ':' || m3.cs || ':' || c2.h)
        |    AS h FROM m3, c2)
        |SELECT version, n AS n_rows, cs AS checksum, h AS chain_hash
        |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2
        |      UNION ALL SELECT * FROM c3) ORDER BY version""".stripMargin,
    "q286_column_diff" ->
      """WITH o AS (SELECT doc_id, text, lang, n_chars FROM documents),
        |n AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'v2 ' || text ELSE text END AS text,
        |    CASE WHEN doc_id % 9 = 0 THEN 'xx' ELSE lang END AS lang,
        |    n_chars
        |  FROM documents WHERE doc_id % 17 != 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text, lang, n_chars FROM documents
        |  WHERE doc_id < 20),
        |j AS (SELECT o.doc_id AS ok, n.doc_id AS nk,
        |    o.text AS ot, n.text AS nt, o.lang AS ol, n.lang AS nl,
        |    o.n_chars AS oc, n.n_chars AS nc
        |  FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_added,
        |  CAST(sum(CASE WHEN nk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
        |  CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
        |    AND NOT (ot IS NOT DISTINCT FROM nt) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS chg_text,
        |  CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
        |    AND NOT (ol IS NOT DISTINCT FROM nl) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS chg_lang,
        |  CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
        |    AND NOT (oc IS NOT DISTINCT FROM nc) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS chg_n_chars
        |  FROM j)
        |SELECT * FROM (
        |  SELECT 'text' AS column, chg_text AS n_changed, n_added,
        |    n_removed, n_common FROM a
        |  UNION ALL SELECT 'lang', chg_lang, n_added, n_removed, n_common
        |    FROM a
        |  UNION ALL SELECT 'n_chars', chg_n_chars, n_added, n_removed,
        |    n_common FROM a)
        |ORDER BY "column"""".stripMargin,
    "q285_source_influence" ->
      (s"""WITH b AS (SELECT source,
          |    CAST(floor(round(
          |      0.5 * round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '',
          |        'g')) AS DOUBLE) / greatest(length(text), 1), 6)
          |      + 0.3 * least(round(CAST(len(list_filter(
          |          string_split_regex(trim(text), '\\s+'),
          |          t -> list_contains($stopList, t))) AS DOUBLE)
          |        / greatest(len(string_split_regex(trim(text), '\\s+')), 1),
          |        6) * 3, 1.0)
          |      + 0.2 * least(round(CAST(length(regexp_replace(text, '\\s+',
          |          '', 'g')) AS DOUBLE)
          |        / greatest(len(string_split_regex(trim(text), '\\s+')), 1),
          |        6) / 8, 1.0), 6) * 1000000) AS BIGINT) AS m
          |  FROM documents),
          |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s,
          |    CAST(sum(m) AS BIGINT) AS s_s FROM b GROUP BY source),
          |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS N,
          |    CAST(sum(s_s) AS BIGINT) AS S FROM per)
          |SELECT source, n_s AS n_docs,
          |  CAST(CASE WHEN s_s >= 0 THEN s_s // n_s
          |    ELSE -((-s_s) // n_s) END AS BIGINT) AS mean_micro,
          |  CAST(CASE WHEN N = n_s THEN NULL
          |    WHEN (CAST(s_s AS HUGEINT) * N - CAST(S AS HUGEINT) * n_s) >= 0
          |      THEN (CAST(s_s AS HUGEINT) * N - CAST(S AS HUGEINT) * n_s)
          |        // (CAST(N AS HUGEINT) * (N - n_s))
          |    ELSE -((CAST(S AS HUGEINT) * n_s - CAST(s_s AS HUGEINT) * N)
          |        // (CAST(N AS HUGEINT) * (N - n_s)))
          |    END AS BIGINT) AS influence_micro
          |FROM per CROSS JOIN tot ORDER BY source""".stripMargin),
    "q53_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ascii(text) AS BIGINT) AS first_cp
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "q54_multimodal_decode" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS len
        |  FROM documents WHERE doc_id < 100),
        |m AS (
        |  SELECT doc_id, len,
        |    64 + (len * 2654435761) % 1856 AS width,
        |    64 + (len * 40503) % 1016 AS height,
        |    CASE WHEN (len * 7919) % 4 = 0 THEN 1 ELSE 3 END AS channels,
        |    CASE WHEN len % 2 = 0 THEN 'fake/png' ELSE 'fake/jpeg' END AS format
        |  FROM b),
        |r AS (SELECT *, least(256.0 / greatest(width, height), 1.0) AS scale FROM m)
        |SELECT doc_id,
        |  CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(channels AS BIGINT) AS channels,
        |  format,
        |  CAST(floor(width * scale) AS BIGINT) AS resized_w,
        |  CAST(floor(height * scale) AS BIGINT) AS resized_h,
        |  array_to_string(list_transform(generate_series(0, 3), i -> (i * len) // 4), ',') AS frames
        |FROM r ORDER BY doc_id""".stripMargin,
    "q105_multimodal_audio" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS len
        |  FROM documents WHERE doc_id < 100),
        |m AS (
        |  SELECT doc_id,
        |    CASE (len * 2654435761) % 5
        |      WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
        |      WHEN 3 THEN 44100 ELSE 48000 END AS sample_rate,
        |    CASE WHEN (len * 7919) % 3 = 0 THEN 1 ELSE 2 END AS audio_channels,
        |    len * 4 + 1000 AS n_frames,
        |    CASE WHEN len % 2 = 0 THEN 'fake/wav' ELSE 'fake/flac' END AS audio_format
        |  FROM b),
        |w AS (
        |  SELECT *, (sample_rate * 250) // 1000 AS win_frames,
        |    greatest(least((n_frames + (sample_rate * 250) // 1000 - 1)
        |      // ((sample_rate * 250) // 1000), 16), 1) AS n_win
        |  FROM m)
        |SELECT doc_id,
        |  CAST(sample_rate AS BIGINT) AS sample_rate,
        |  CAST(audio_channels AS BIGINT) AS audio_channels,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  audio_format,
        |  CAST(n_frames * 1000 // sample_rate AS BIGINT) AS dur_ms,
        |  array_to_string(list_transform(generate_series(0, CAST(n_win - 1 AS BIGINT)),
        |    i -> i * win_frames), ',') AS win_starts
        |FROM w ORDER BY doc_id""".stripMargin,
    "q106_multimodal_video" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS len
        |  FROM documents WHERE doc_id < 100),
        |m AS (
        |  SELECT doc_id,
        |    160 + (len * 2654435761) % 1760 AS v_width,
        |    120 + (len * 40503) % 960 AS v_height,
        |    24 + (len * 7919) % 2400 AS v_frames,
        |    CASE WHEN len % 2 = 0 THEN 24000 ELSE 29970 END AS fps_milli,
        |    'fake/mp4' AS video_format
        |  FROM b),
        |r AS (SELECT *, least(384.0 / greatest(v_width, v_height), 1.0) AS scale FROM m)
        |SELECT doc_id,
        |  CAST(v_width AS BIGINT) AS v_width,
        |  CAST(v_height AS BIGINT) AS v_height,
        |  CAST(v_frames AS BIGINT) AS v_frames,
        |  CAST(fps_milli AS BIGINT) AS fps_milli,
        |  video_format,
        |  CAST(floor(v_width * scale) AS BIGINT) AS resized_w,
        |  CAST(floor(v_height * scale) AS BIGINT) AS resized_h,
        |  CAST(v_frames * 1000000 // fps_milli AS BIGINT) AS dur_ms,
        |  CASE WHEN v_frames >= 8
        |    THEN array_to_string(list_transform(generate_series(0, 7),
        |      i -> (i * v_frames) // 8), ',')
        |    ELSE array_to_string(generate_series(0, v_frames - 1), ',')
        |  END AS sample_idx
        |FROM r ORDER BY doc_id""".stripMargin,
    // the partitioned rewrite is row-preserving — plain filter+rollup oracle
    "q97_partitioned_read" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS checksum
        |FROM documents WHERE lang = 'en'""".stripMargin,
    // the clustered rewrite is row-preserving — plain filter+rollup oracle
    "q85_layout_pruning" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        |  CAST(sum(l_partkey) AS BIGINT) AS sum_pk
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 300 AND l_partkey BETWEEN 50 AND 250""".stripMargin,
    "q117_range_join" ->
      """WITH w AS (
        |  SELECT user_id AS w_user,
        |    epoch_us(min(ts)) AS ws,
        |    epoch_us(min(ts)) + 2 * 86400 * CAST(1000000 AS BIGINT) AS we
        |  FROM events WHERE user_id % 20 = 0 GROUP BY user_id)
        |SELECT w_user, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(e.event_id) AS BIGINT) AS checksum
        |FROM events e JOIN w ON epoch_us(e.ts) >= w.ws AND epoch_us(e.ts) < w.we
        |GROUP BY w_user ORDER BY w_user""".stripMargin,
    "q167_version_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |v3 AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 3 = 0 THEN 'w' || CAST(doc_id AS VARCHAR)
        |        ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 13 != 0),
        |d AS (SELECT coalesce(v1.doc_id, v3.doc_id) AS doc_id,
        |    CASE WHEN v1.fp IS NULL THEN 'added'
        |         WHEN v3.fp IS NULL THEN 'removed'
        |         WHEN v1.fp != v3.fp THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v3 ON v1.doc_id = v3.doc_id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS checksum
        |FROM d GROUP BY status ORDER BY status""".stripMargin,
    "q166_versioned_upsert" ->
      """WITH v2 AS (
        |  SELECT doc_id, length('v' || CAST(doc_id AS VARCHAR)) AS n_chars, TRUE AS upd
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id, n_chars, FALSE
        |  FROM documents WHERE doc_id % 6 != 0 AND doc_id % 4 != 0),
        |v3 AS (SELECT * FROM v2 WHERE doc_id % 11 != 0)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(CASE WHEN upd THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(4 AS BIGINT) AS final_version
        |FROM v3""".stripMargin,
    "q165_range_join_pairs" ->
      """WITH w AS (
        |  SELECT user_id AS w_user,
        |    epoch_us(min(ts)) AS ws,
        |    epoch_us(min(ts)) + 2 * 86400 * CAST(1000000 AS BIGINT) AS we
        |  FROM events WHERE user_id % 40 = 0 GROUP BY user_id)
        |SELECT w_user, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(e.event_id) AS BIGINT) AS checksum
        |FROM events e JOIN w ON epoch_us(e.ts) >= w.ws AND epoch_us(e.ts) < w.we
        |GROUP BY w_user ORDER BY w_user""".stripMargin,
    // v2 membership + update arithmetic restated directly
    "q120_upsert" ->
      """WITH v2 AS (
        |  SELECT doc_id, length('u' || CAST(doc_id AS VARCHAR)) AS n_chars, TRUE AS upd
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, n_chars, FALSE
        |  FROM documents WHERE doc_id % 7 != 0 AND doc_id % 5 != 0)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(CASE WHEN upd THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM v2""".stripMargin,
    // diff semantics restated as the modular-arithmetic membership rules
    // (CASE order mirrors the operator: a key absent from v1 is 'added'
    // even if it also hits the mangle rule)
    "q121_snapshot_diff" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'added'
        |         WHEN doc_id % 11 = 0 THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM documents)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS checksum
        |FROM d GROUP BY status ORDER BY status""".stripMargin,
    "q115_dpp_join" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
        |FROM lineitem
        |WHERE strftime(l_shipdate, '%Y-%m') IN (
        |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m')
        |  FROM orders WHERE quarter(o_orderdate) = 1)""".stripMargin,
    // full restatement of near-dup ingest: q102's signature, bands split by
    // doc parity, corpus-hit + smaller-batch-hit anti-joins
    "q108_incremental_neardup" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_transform(string_split_regex(trim(text), '\s+'),
        |      t -> list_reduce(
        |             list_transform(string_split(md5(t), '')[1:15],
        |               c -> CAST(CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
        |                         ELSE unicode(c) - 48 END AS BIGINT)),
        |             (a, v) -> a * 16 + v)) AS gs
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 59), b ->
        |      CASE WHEN list_sum(list_transform(gs, g -> ((g >> b) & 1) * 2 - 1)) > 0
        |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS fp
        |  FROM g),
        |bands AS (
        |  SELECT doc_id, fp, bb.bidx AS bidx, (fp >> (15 * bb.bidx)) & 32767 AS bval
        |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS bidx) bb),
        |corp_hit AS (
        |  SELECT DISTINCT b.doc_id FROM bands b JOIN bands c
        |    ON b.bidx = c.bidx AND b.bval = c.bval
        |  WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
        |    AND bit_count(xor(b.fp, c.fp)) <= 5),
        |batch_hit AS (
        |  SELECT DISTINCT y.doc_id FROM bands x JOIN bands y
        |    ON x.bidx = y.bidx AND x.bval = y.bval AND x.doc_id < y.doc_id
        |  WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 1
        |    AND bit_count(xor(x.fp, y.fp)) <= 5)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 2 = 1
        |  AND doc_id NOT IN (SELECT doc_id FROM corp_hit)
        |  AND doc_id NOT IN (SELECT doc_id FROM batch_hit)
        |ORDER BY doc_id""".stripMargin,
    // the bucketed join is row-identical to the plain join — plain SQL oracle
    "q80_bucketed_join" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS sum_qty,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the salted join is row-identical to the plain join — plain SQL oracle
    "q79_skew_salted_join" ->
      """SELECT c_mktsegment, event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,
    "q136_bloom_join" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // I/O round trips: the mounted copy must reproduce the parquet
    // original, so each oracle is the plain rollup over documents
    "q150_jsonl_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS checksum,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q151_orc_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS checksum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q145_multimodal_imageio" ->
      """SELECT doc_id,
        |  16 + doc_id % 48 AS width,
        |  16 + doc_id % 32 AS height,
        |  3 AS channels,
        |  'image/png' AS format
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    // the remote read is row-preserving over (filter, project) — the oracle
    // is the same rollup on the parquet the server serves
    "q294_remote_table" ->
      """SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS key_checksum,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_price,
        |  max(l_shipdate) AS last_ship
        |FROM lineitem
        |WHERE l_quantity < 10 AND l_returnflag = 'R'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
  )
}
