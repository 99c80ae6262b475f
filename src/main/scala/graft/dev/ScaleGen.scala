package graft.dev

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: scale an sf directory N× (default: sf0.1 → "sf1" under /tmp)
  * for super-linearity checks — the PERFNOTES scaling table.
  *
  * Replication is structure-preserving, not naive duplication:
  *   - fact/dim keys shift per replica (orderkey/custkey/partkey/suppkey,
  *     doc_id, vec_id), so join fan-outs and group cardinalities scale
  *     exactly linearly;
  *   - document TOKENS are prefixed per replica (`rI_`): a bijection on the
  *     token alphabet keeps every within-replica n-gram/Jaccard relation
  *     identical while making cross-replica intersections empty — naive
  *     copies would add C(N,2) planted J=1.0 pairs per doc and any near-dup
  *     plan would (correctly) report quadratic output, measuring the data,
  *     not the plan;
  *   - embeddings get a per-replica deterministic sign-flip pattern (an
  *     orthogonal transform: within-replica cosines are bit-preserved,
  *     cross-replica similarities decohere), replica 0 is the original;
  *   - events shift event/user ids per replica with timestamps verbatim:
  *     the window set stays fixed while per-window density and streaming
  *     state (sessions, dedup keys, join buffers) scale exactly N×;
  *   - nation/region (true dims) copy verbatim.
  *
  * The optional 4th arg `dupPermille` (default 0 = pure disjoint
  * replication) plants REALISTIC cross-replica duplicate density: that
  * fraction of each replica's documents/embeddings become id-remapped
  * NEAR-copies of their base row (every 7th token replaced / two sign
  * flips) instead of alphabet-remapped disjoint content. Pure disjoint
  * replication makes every blocking operator's candidate set artificially
  * empty across replicas — band/bucket selectivity then measures only
  * within-replica structure, which understates candidate volume by
  * exactly the duplicate rate a production corpus would have (round-7
  * verdict item 6). The membership rule is the engine's own
  * [[graft.ext.Curation.sampleKey]] on (id + replica), so the planted
  * rate is deterministic and the EXPECTED pair count is computable:
  * ≈ rows · (copies−1) · rate (each non-base replica row pairs with its
  * base; near-copies of the same base also pair with each other).
  *
  * Usage: runMain graft.dev.ScaleGen [srcDir] [dstDir] [copies] [dupPermille]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val dupPermille = if (args.length > 3) args(3).toInt else 0
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.SparkBoot.builder("graft-scale-gen").getOrCreate()

    def rd(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    // key strides: one past the source max, so replica key spaces are disjoint
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    val li = rd("lineitem"); val ords = rd("orders"); val cust = rd("customer")
    val part = rd("part"); val supp = rd("supplier")
    val docs = rd("documents"); val emb = rd("embeddings")
    val ev = graft.tables.Tables.events(spark, s"$src/events.parquet")
    val oS = stride(li, "l_orderkey"); val cS = stride(cust, "c_custkey")
    val pS = stride(part, "p_partkey"); val sS = stride(supp, "s_suppkey")
    val dS = stride(docs, "doc_id"); val vS = stride(emb, "vec_id")
    val eS = stride(ev, "event_id"); val uS = stride(ev, "user_id")

    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => f(df, i)).reduce(_ unionByName _)

    val out = Map(
      "lineitem" -> replicate(li)((d, i) => d
        .withColumn("l_orderkey", col("l_orderkey") + i * oS)
        .withColumn("l_partkey", col("l_partkey") + i * pS)
        .withColumn("l_suppkey", col("l_suppkey") + i * sS)),
      "orders" -> replicate(ords)((d, i) => d
        .withColumn("o_orderkey", col("o_orderkey") + i * oS)
        .withColumn("o_custkey", col("o_custkey") + i * cS)),
      "customer" -> replicate(cust)((d, i) => d
        .withColumn("c_custkey", col("c_custkey") + i * cS)),
      "part" -> replicate(part)((d, i) => d
        .withColumn("p_partkey", col("p_partkey") + i * pS)),
      "supplier" -> replicate(supp)((d, i) => d
        .withColumn("s_suppkey", col("s_suppkey") + i * sS)),
      "documents" -> replicate(docs)((d, i) => {
        val disjoint = regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")
        // near-copy: every 7th token replaced by a replica marker —
        // Jaccard vs the base ≈ 6/7·(1/(1+2/7)) ≈ 0.75, inside every
        // near-dup operator's net (q45/q46/q47 thresholds ≤ 0.7)
        val nearCopy = regexp_replace(col("text"),
          "((\\S+\\s+){6})\\S+", s"$$1ndup$i")
        val isDup = graft.ext.Curation.sampleKey(col("doc_id") + i)
          .lt(lit(dupPermille.toLong))
        val txt = if (i == 0) col("text")
          else when(isDup, nearCopy).otherwise(disjoint)
        d.withColumn("doc_id", col("doc_id") + i * dS)
          .withColumn("text", txt)
          .withColumn("n_chars", length(col("text")).cast("long"))
      }),
      "embeddings" -> replicate(emb)((d, i) => {
        val decohere = transform(col("embedding"), (x, dIdx) =>
          // avalanche-hash parity per (replica, dim) — NOT a linear
          // congruence: any affine mask makes far replica pairs' relative
          // flip pattern near-constant (observed: mod-7 gave replicas
          // 1/8 identical masks, a shifted LCG gave pairs 6 apart a
          // 96%-coherent flip = near-negated twins; both inflate the
          // cross-replica pair count ~15×)
          when(pmod(xxhash64(dIdx, lit(i)), lit(2L)) === 0, -x).otherwise(x))
        // near-copy: flip exactly dims (i % 64) and ((i + 31) % 64) —
        // cosine vs the base ≈ 1 − 4/64 ≈ 0.94 for unit-ish vectors,
        // inside the 0.45 near-dup threshold
        val nearCopy = transform(col("embedding"), (x, dIdx) =>
          when(dIdx === lit(i % 64) || dIdx === lit((i + 31) % 64), -x)
            .otherwise(x))
        val isDup = graft.ext.Curation.sampleKey(col("vec_id") + i)
          .lt(lit(dupPermille.toLong))
        d.withColumn("vec_id", col("vec_id") + i * vS)
          .withColumn("embedding",
            if (i == 0) col("embedding")
            else when(isDup, nearCopy).otherwise(decohere))
      }),
      // events: disjoint event/user key spaces per replica, timestamps
      // verbatim — the window set stays FIXED while per-window density and
      // the open-state population (sessions, dedup keys, join buffers) scale
      // exactly N×, which is the axis streaming state actually grows on
      "events" -> replicate(ev)((d, i) => d
        .withColumn("event_id", col("event_id") + i * eS)
        .withColumn("user_id", col("user_id") + i * uS)),
      "nation" -> rd("nation"),
      "region" -> rd("region"))

    out.foreach { case (name, df) =>
      df.repartition(math.max(cpus / 2, 4))
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] $name written")
    }
    spark.stop()
  }
}
