package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Event of the `events` table projected for stateful sessionization. */
case class SessionEvent(user_id: Long, ts: java.time.Instant, value: Double)

/** Open-session accumulator kept in `GroupState` (epoch-µs bounds). */
case class SessionState(startUs: Long, lastUs: Long, n: Long, sum: Double)

/** A closed session emitted by [[EventStreams.sessionizeStateful]]. */
case class UserSession(user_id: Long, session_start: java.time.Instant,
    session_end: java.time.Instant, n_events: Long, sum_value: Double)

/** Structured Streaming over the event stream — the event-time surface the
  * reference lacks outright (SURVEY.md §2.9: its "streams" are internal async
  * batch pulls, no watermarks/windows anywhere in the tree). Spark-native
  * restatement: `readStream` file source → event-time transforms with
  * watermarks → `writeStream` sinks.
  *
  * Scale notes: every aggregation here keys its state by (window, key) and
  * shuffles once on that key; watermarks bound state size, so a 1000-executor
  * cluster holds only the open windows, never the history. The stateful
  * sessionizer uses event-time timeouts — state for an idle user is evicted
  * the moment the watermark passes its gap.
  */
object EventStreams {

  /** Streaming scan of an sf directory's events table. `maxFilesPerTrigger`
    * bounds micro-batch size (at 100 TB the source must not swallow the whole
    * backlog in one batch).
    *
    * The file source needs an explicit schema, and `events.ts` has shipped
    * both as TIMESTAMP(NANOS) (unreadable by the vectorized reader — read raw
    * longs, rebuild µs) and as plain timestamp[us]. Probe the footer once via
    * the batch reader (graft.tables.Tables.events handles both) and build the
    * matching stream schema; either way the stream's `ts` is TimestampType. */
  def readEvents(spark: SparkSession, sfDir: String, maxFilesPerTrigger: Int = 4): DataFrame = {
    val tsType = graft.tables.Tables
      .eventsRaw(spark, s"$sfDir/events.parquet") // sets nanosAsLong if needed
      .schema("ts").dataType
    val rawSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // glob (not the bare file path): the file-source requires a directory
    // basePath, and a glob pins it to the parent dir whether `events.parquet`
    // is a single file (small sf dirs) or a directory of parts
    val s = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("basePath", sfDir)
      .parquet(s"$sfDir/events.parquet*")
    tsType match {
      case LongType => s.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => s.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming scan of an sf directory's embeddings table — continuous
    * vector ingestion (new embeddings arrive as files land). */
  def readEmbeddings(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("basePath", sfDir)
      .parquet(s"$sfDir/embeddings.parquet*")

  /** Streaming scan of an sf directory's documents table — the ingest-stream
    * model of a training-data pipeline (documents arrive as files land;
    * `maxFilesPerTrigger` bounds each micro-batch). */
  def readDocuments(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("basePath", sfDir)
      .parquet(s"$sfDir/documents.parquet*")

  /** Streaming incremental ingest dedup — q82's daily-ingest shape as a
    * STREAM: arriving docs anti-join the static corpus fingerprint set
    * (stream–static join, no stream shuffle when the snapshot broadcasts),
    * and the within-stream dedup is a streaming aggregation keyed by
    * fingerprint that keeps the MIN doc id — deterministic regardless of
    * micro-batch boundaries or partition arrival order, where a
    * dropDuplicates keep-first would depend on both. State = one row per
    * novel fingerprint (Complete mode re-emits the running novel set each
    * batch — the daily-batch model; a continuous deployment would switch to
    * Update mode + watermarked eviction, same operator). */
  def novelIngest(docs: DataFrame, corpusFps: DataFrame,
      fingerprint: org.apache.spark.sql.Column): DataFrame =
    docs.withColumn("fp", fingerprint)
      .join(corpusFps, Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("lang"), col("doc_id")).as("lang"),
        min_by(col("n_chars"), col("doc_id")).as("n_chars"))

  /** Streaming ingest-novelty gate — q177's per-document novelty scoring as
    * a STREAM: each arriving doc's DISTINCT shingle hashes (a per-row
    * computation — a document is one row, so no cross-doc distinct state)
    * explode against the static corpus gram set via a STATELESS
    * stream–static left join, and one doc-keyed streaming aggregation folds
    * the membership flags into (n_grams, n_known, novelty_ppm). A doc's
    * grams always ride in its own micro-batch, so the answer is independent
    * of batch boundaries; Complete mode re-emits the running scored set
    * (the daily-batch model, as [[novelIngest]]). */
  def noveltyStream(docs: DataFrame, corpusGrams: DataFrame,
      text: org.apache.spark.sql.Column, n: Int): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(
        graft.ext.Dedup.wordNgramHashes(text, n))).as("h"))
      .join(corpusGrams.select(col("h"), lit(1).as("known")), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("known")), lit(0)).cast("long").as("n_known"))
      .withColumn("novelty_ppm",
        expr("(1000000 * (n_grams - n_known)) div n_grams"))

  /** Tumbling event-time window aggregation with a watermark. Window starts
    * align to the epoch, so `1 hour` buckets equal `date_trunc('hour', ts)` —
    * which keeps the batch oracle comparable. */
  def tumblingAgg(events: DataFrame, width: String = "1 hour",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")).cast("double"), 2).as("s"))
      .select(col("w.start").as("h"), col("event_type"), col("n"), col("s"))

  /** Sliding (overlapping) windows — each event lands in width/slide
    * buckets. Sums accumulate in decimal (order-stable, oracle-exact) like
    * [[tumblingAgg]]. */
  def slidingAgg(events: DataFrame, width: String = "1 hour", slide: String = "30 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")).cast("double"), 2).as("s"))
      .select(col("w.start").as("ws"), col("w.end").as("we"), col("event_type"), col("n"), col("s"))

  /** Gap-based sessions via the built-in `session_window` (merge-on-overlap
    * state op). Session end = last event + gap; a new event exactly `gap`
    * after the previous one starts a NEW session (end bound exclusive). */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(30,10)")).cast("double"), 2).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Custom-state sessionization exemplar: `flatMapGroupsWithState` with
    * event-time timeout. Sessions close either when a later event for the
    * same user breaks the gap (emitted immediately) or when the watermark
    * passes `last + gap` (emitted by timeout). This is the extension point
    * for state machines `session_window` can't express (e.g. per-session
    * feature accumulation). */
  def sessionizeStateful(events: DataFrame, gapSeconds: Long,
      watermarkDelay: String = "0 seconds"): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L

    def toUs(i: java.time.Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000L
    def toInstant(us: Long): java.time.Instant =
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L)
    def close(uid: Long, s: SessionState): UserSession =
      UserSession(uid, toInstant(s.startUs), toInstant(s.lastUs + gapUs), s.n,
        math.rint(s.sum * 100) / 100)

    val fn = (uid: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) => {
      val out = scala.collection.mutable.ArrayBuffer[UserSession]()
      if (state.hasTimedOut) {
        out += close(uid, state.get)
        state.remove()
      } else {
        var cur = state.getOption
        it.toSeq.sortBy(e => toUs(e.ts)).foreach { e =>
          val us = toUs(e.ts)
          cur match {
            case Some(s) if us - s.lastUs < gapUs =>
              // min() the start too: a LATER batch can deliver an event that
              // is above the watermark yet earlier than the open session's
              // first event — merging it must extend the span backwards,
              // not silently fold it under the old start
              cur = Some(SessionState(math.min(s.startUs, us),
                math.max(s.lastUs, us), s.n + 1, s.sum + e.value))
            case Some(s) =>
              out += close(uid, s)
              cur = Some(SessionState(us, us, 1, e.value))
            case None =>
              cur = Some(SessionState(us, us, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // timeout fires when the watermark passes last+gap; clamp above the
          // current watermark (setting an already-passed timestamp throws)
          val t = math.max((s.lastUs + gapUs) / 1000L, state.getCurrentWatermarkMs() + 1)
          state.setTimeoutTimestamp(t)
        }
      }
      out.iterator
    }

    events.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts"), col("value")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming exactly-once dedup on an id column: duplicates arriving
    * within the watermark horizon are dropped; state for ids older than the
    * watermark is evicted (without the watermark this op's state grows
    * forever — the 100 TB failure mode). */
  def dedupStream(events: DataFrame, idCols: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicates(idCols :+ "ts")

  /** Streaming dedup for REDELIVERED events: duplicates that arrive with a
    * DIFFERENT event time (producer retries restamp). [[dedupStream]] keys
    * its state on (id, ts) and would pass both copies;
    * `dropDuplicatesWithinWatermark` keys on the id columns alone and keeps
    * each id's state until the watermark clears it — the at-least-once-
    * delivery dedup. Which physical copy survives is arrival-order-
    * dependent, so downstream consumers (and the q101 oracle) must project
    * only columns identical across copies. */
  def dedupStreamWithinWatermark(events: DataFrame, idCols: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream ⋈ static dimension: the static side broadcasts under the
    * autoBroadcast threshold, so the stream never shuffles — enrichment at
    * scan speed. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream–stream interval join: rows of `left` match rows of `right` with
    * the same `key` whose event time falls in `(left.ts, left.ts + window]`.
    * BOTH sides carry watermarks and the join condition bounds time in both
    * directions — that is what lets Spark evict buffered rows once the
    * watermark passes their interval (without the bound, stream-stream join
    * state grows forever — the 100 TB failure mode). Inner join: no result
    * row is emitted until both sides' watermarks clear it, so AvailableNow
    * output equals the batch join, which is the oracle contract. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      window: String = "1 hour", watermarkDelay: String = "30 minutes"): DataFrame = {
    val l = left.select(col(key).as("l_key"), col("ts").as("l_ts"),
      col("event_id").as("l_id")).withWatermark("l_ts", watermarkDelay)
    val r = right.select(col(key).as("r_key"), col("ts").as("r_ts"),
      col("event_id").as("r_id")).withWatermark("r_ts", watermarkDelay)
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") > col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $window"))
  }

  /** LEFT OUTER stream–stream interval join: like [[intervalJoin]], plus
    * left rows with NO match in `(l_ts, l_ts + window]` emit with null
    * right columns — but only once the watermark passes the end of their
    * match interval (before that, a match could still arrive; this delayed
    * null-emission is the defining semantics of streaming outer joins).
    * Consequence for a finite run: left rows whose interval end lies within
    * `watermarkDelay` of the stream's final event time are still open when
    * the run ends and are NOT emitted as unmatched — the oracle restates
    * exactly that frontier (final watermark = max event time −
    * watermarkDelay, ms resolution). Matched rows are unaffected and equal
    * the inner join's output. */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame, key: String,
      window: String = "1 hour", watermarkDelay: String = "30 minutes"): DataFrame = {
    val l = left.select(col(key).as("l_key"), col("ts").as("l_ts"),
      col("event_id").as("l_id")).withWatermark("l_ts", watermarkDelay)
    val r = right.select(col(key).as("r_key"), col("ts").as("r_ts"),
      col("event_id").as("r_id")).withWatermark("r_ts", watermarkDelay)
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") > col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $window"),
      "left_outer")
  }

  /** Run a streaming DataFrame to completion over the currently-available
    * data (Trigger.AvailableNow) into an in-memory table; returns the result
    * as a batch DataFrame. This is how streaming queries enter the driver's
    * batch Verify/oracle harness.
    *
    * Per-run cost knobs (a finite AvailableNow run is planning + state-store
    * + checkpoint-fsync dominated, not data dominated):
    *   - the checkpoint (offset/commit logs + state snapshots, fsync'd per
    *     batch) goes to a fresh tmpfs dir when /dev/shm exists — durability
    *     of a temp checkpoint buys nothing, the fsyncs cost real time;
    *   - `needFinalBatch=false` (sound for Complete-mode aggregations: every
    *     batch re-emits the full result, so the trailing no-data batch that
    *     exists to advance the watermark cannot change the output) skips
    *     one of the two micro-batches a single-file source pays. Append-mode
    *     event-time operators (the stateful sessionizer) NEED it — that
    *     final watermark advance is what flushes timed-out state. */
  /** State store provider for every stateful operator here: RocksDB. The
    * default HDFS-backed provider keeps ALL open state on-heap — fine at
    * sf0.1, an executor OOM at 100 TB session/dedup/join state. RocksDB
    * spills state to local disk with a bounded block cache, and changelog
    * checkpointing ships per-batch deltas instead of full snapshots — the
    * production configuration for large state, pure config (no operator
    * changes; StreamingSpec + the q33–q81 oracles run under it verbatim). */
  private val stateStoreConf = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  def runAvailableNow(df: DataFrame, name: String,
      outputMode: OutputMode = OutputMode.Complete,
      needFinalBatch: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val base = {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    }
    val cp = java.nio.file.Files.createTempDirectory(base, s"graft-ck-$name-")
    val overrides = ("spark.sql.streaming.noDataMicroBatches.enabled"
      -> needFinalBatch.toString) +: stateStoreConf
    val prev = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = df.writeStream
        .format("memory").queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", cp.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      // best-effort temp cleanup (tmpfs/tmp either way)
      graft.tables.Hfs.rmTree(cp.toFile)
    }
    spark.table(name)
  }

  /** Streaming CDC apply: every micro-batch reduces to its latest row per
    * `key` (one hash agg) and version-aware-upserts into the parquet
    * snapshot at `path` ([[graft.tables.Snapshots.upsertLatestByKey]]) —
    * the materialized "current state per key" view a feature store keeps.
    * Because the merge keeps the max of `orderCols` across BOTH sides, the
    * final snapshot is independent of how the source splits into
    * micro-batches or which order they deliver — the property the q122
    * oracle (a plain batch argmax) checks. foreachBatch is the supported
    * arbitrary-sink surface; state lives in the snapshot itself, so there
    * is no streaming state store to size. */
  def runUpsertSink(stream: DataFrame, path: String, key: String,
      orderCols: Seq[String]): Unit = {
    val base = {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    }
    val cp = java.nio.file.Files.createTempDirectory(base, "graft-ck-upsert-")
    try {
      val q = stream.writeStream
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
          val s = batch.sparkSession
          val latest = graft.tables.Snapshots.latestPerKey(batch, key, orderCols)
          // existence/bootstrap through the Hadoop FileSystem of the path
          // URI (java.io.File sees nothing on hdfs:/file:-scheme roots);
          // a VersionedTable root commits each batch as a pointer-swapped
          // version — the streaming CDC view gains atomic object-store
          // commits and time travel for free
          // both branches are replay-idempotent at batch 0 (a restart can
          // replay the first micro-batch): versioned roots pointer-swap a
          // complete version, flat roots bootstrap tmp-then-rename and
          // treat a markerless partial as absent (round-11 ADVICE)
          if (graft.tables.VersionedTable.isVersioned(s, path))
            graft.tables.Snapshots.upsertLatestByKey(s, path, latest, key, orderCols)
          else graft.tables.Snapshots.bootstrapOrUpsertLatest(
            s, path, latest, key, orderCols)
        }
        .option("checkpointLocation", cp.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      graft.tables.Hfs.rmTree(cp.toFile)
    }
  }
}
