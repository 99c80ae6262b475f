package graft.dev

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, Trigger}
import org.apache.spark.sql.types._

import graft.SparkBoot
import graft.streaming.EventStreams

/** Chaos under STREAMING (round-11 verdict item 7): StreamingRecoverySpec's
  * kills are injected exceptions inside ONE JVM; this probe combines
  * [[ChaosPlugin]] executor halts (`Runtime.halt(137)`, no shutdown hooks)
  * with a local-cluster run of the two graded stateful pipelines —
  * the flatMapGroupsWithState sessionizer (q35's operator) and the
  * foreachBatch CDC upsert (q122's) — over RocksDB state with changelog
  * checkpointing, so real executor deaths land MID-microbatch: state-store
  * partitions lose their loaded RocksDB instances, in-flight shuffle
  * output vanishes, and the relaunched executor must reload state from the
  * checkpoint. If the query itself dies (retry budget exhausted), it is
  * restarted from the SAME checkpoint — the production orchestrator move,
  * which cannot mask nondeterminism: the completed run still has to match.
  *
  * Protocol: phase 1 runs both pipelines with the chaos killer DISABLED
  * (same master, same RocksDB config — identical plans) to produce the
  * clean reference; phase 2 re-runs them on a fresh context with chaos ON
  * and asserts byte-identical sorted output. Exit 2 on divergence, exit 3
  * if no executor was ever killed (a vacuous pass is a failed receipt).
  *
  * Run via dev/gate.sh GATE_STREAM_FAULT=1:
  * {{{
  * SPARK_GRAFT_MASTER='local-cluster[2,8,4096]' SPARK_SCALA_VERSION=2.13 \
  *   SPARK_GRAFT_FAULT=1 SPARK_GRAFT_CHAOS_PERIOD_MS=30000 \
  *   sbt -batch "runMain graft.dev.StreamChaos /root/testdata/sf0.01"
  * }}} */
object StreamChaos {
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def boot(chaos: Boolean): SparkSession = SparkBoot.builder("graft-stream-chaos")
    .config("spark.graft.chaos.enabled", chaos.toString)
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    .getOrCreate()

  /** Time-ordered multi-chunk copy of `events` → 12 micro-batches under
    * maxFilesPerTrigger=1: enough batches that a ~30 s chaos schedule lands
    * kills mid-run, identical file set for both phases. */
  private def chunkSource(spark: SparkSession, sfDir: String): String = {
    val dir = Files.createTempDirectory("graft-stream-chaos-src").toString
    val ev = graft.tables.Tables.table(spark, sfDir, "events")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))
    val rn = ev.withColumn("rn", row_number().over(w))
    val rows = ev.count()
    val chunks = 12
    val per = (rows + chunks - 1) / chunks
    for (k <- 0 until chunks)
      rn.filter(col("rn") > k * per && col("rn") <= (k + 1) * per)
        .drop("rn").coalesce(1).write.mode("overwrite").parquet(s"$dir/chunk-$k")
    dir
  }

  private def stream(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", 1).option("basePath", srcDir)
      .parquet(s"$srcDir/chunk-*")

  /** Start-to-completion with query-level restarts from the same
    * checkpoint when chaos exhausts a retry budget. Returns restart count. */
  private def runWithRestarts(label: String, maxRestarts: Int)(
      start: () => org.apache.spark.sql.streaming.StreamingQuery): Int = {
    var restarts = 0
    var done = false
    while (!done) {
      val q = start()
      try { q.awaitTermination(); done = true }
      catch { case e: StreamingQueryException =>
        restarts += 1
        if (restarts > maxRestarts) throw e
        System.err.println(s"[stream-chaos] $label died " +
          s"(${Option(e.getMessage).getOrElse("").take(120)}) — restart $restarts")
      }
    }
    restarts
  }

  private def sessionizerRun(spark: SparkSession, srcDir: String,
      root: String, maxRestarts: Int): (Seq[String], Int) = {
    val out = s"$root/sess-out"; val cp = s"$root/sess-cp"
    val restarts = runWithRestarts("sessionizer", maxRestarts) { () =>
      EventStreams.sessionizeStateful(
          stream(spark, srcDir).filter(col("user_id") < 200), gapSeconds = 1800)
        .toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    }
    (spark.read.parquet(out).collect().map(_.toString).sorted.toSeq, restarts)
  }

  private def cdcRun(spark: SparkSession, srcDir: String,
      root: String, maxRestarts: Int): (Seq[String], Int) = {
    val snap = s"$root/cdc-snap"; val cp = s"$root/cdc-cp"
    val restarts = runWithRestarts("cdc-upsert", maxRestarts) { () =>
      stream(spark, srcDir).writeStream
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          val s = batch.sparkSession
          val latest = graft.tables.Snapshots.latestPerKey(
            batch, "user_id", Seq("ts", "event_id"))
          // replay-idempotent bootstrap: a chaos kill mid-batch-0 must not
          // leave a partial snapshot the replay then upserts into
          graft.tables.Snapshots.bootstrapOrUpsertLatest(
            s, snap, latest, "user_id", Seq("ts", "event_id"))
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
    }
    (spark.read.parquet(snap).collect().map(_.toString).sorted.toSeq, restarts)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val root = Files.createTempDirectory("graft-stream-chaos").toString

    // phase 1: clean reference — chaos disabled, otherwise identical config
    val clean = boot(chaos = false)
    val srcDir = chunkSource(clean, sfDir)
    val (sessClean, _) = sessionizerRun(clean, srcDir, s"$root/clean", 0)
    val (cdcClean, _) = cdcRun(clean, srcDir, s"$root/clean", 0)
    println(s"[stream-chaos] clean reference: sessionizer=${sessClean.size} rows, " +
      s"cdc snapshot=${cdcClean.size} rows")
    clean.stop()

    // phase 2: same pipelines under induced executor halts
    val spark = boot(chaos = true)
    val kills = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onExecutorRemoved(
            e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit = {
          kills.incrementAndGet(): Unit
        }
      })
    val (sessChaos, r1) = sessionizerRun(spark, srcDir, s"$root/chaos", 6)
    val (cdcChaos, r2) = cdcRun(spark, srcDir, s"$root/chaos", 6)
    val killed = kills.get()
    println(s"[stream-chaos] chaos run: $killed executor removals, " +
      s"$r1 sessionizer restarts, $r2 cdc restarts")

    val sessOk = sessChaos == sessClean
    val cdcOk = cdcChaos == cdcClean
    println(s"[stream-chaos] sessionizer ${if (sessOk) "MATCH" else "DIVERGED"} " +
      s"(${sessChaos.size} vs ${sessClean.size} rows)")
    println(s"[stream-chaos] cdc-upsert ${if (cdcOk) "MATCH" else "DIVERGED"} " +
      s"(${cdcChaos.size} vs ${cdcClean.size} rows)")
    spark.stop()
    if (!sessOk || !cdcOk) {
      sessClean.diff(sessChaos).take(5).foreach(r =>
        System.err.println(s"[stream-chaos] missing session row: $r"))
      sessChaos.diff(sessClean).take(5).foreach(r =>
        System.err.println(s"[stream-chaos] extra session row: $r"))
      sys.exit(2)
    }
    if (killed == 0) {
      System.err.println("[stream-chaos] FAIL: no executor was killed — " +
        "vacuous pass (is SPARK_GRAFT_FAULT=1 and the period short enough?)")
      sys.exit(3)
    }
    println("[stream-chaos] PASS")
  }
}
