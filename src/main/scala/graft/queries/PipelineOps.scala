package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, Multimodal, Similarity, TextAnalysis => TA}
import graft.tables.Tables

/** Training-data pipeline operators (the beyond-reference surface the engine
  * is for): deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding cosine), ANN similarity search, text analysis, multimodal
  * plumbing. Queries whose operators use engine-internal hashes (murmur /
  * SipHash LSH buckets) have no SQL oracle — the driver records the weaker
  * rows-only check; their correctness is covered by ScalaTest against exact
  * recomputation. */
object PipelineOps {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Mojibake fixtures for q232, built from code points (ASCII source; the
    * SAME Scala constants interpolate into the DuckDB oracle, so the two
    * engines inject byte-identical corruption): a double-encoded e-acute +
    * right-quote tail and a U+FFFD replacement-char tail. */
  private[queries] def cp(c: Int): String = new String(Character.toChars(c))
  private[queries] val mojiTail1: String =
    s" encod${cp(0xC3)}${cp(0xA9)} don${cp(0xE2)}${cp(0x20AC)}${cp(0x2122)}t"
  private[queries] val mojiTail2: String = s" bad${cp(0xFFFD)}byte"

  /** Scratch-table hygiene for queries that build bucketed catalog tables:
    * drop the catalog entry AND any orphaned warehouse directory a previous
    * aborted run left behind (saveAsTable refuses a managed location that
    * exists without a catalog entry). */
  private[queries] def dropScratch(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val d = new java.io.File(wh, name)
    if (d.exists) graft.tables.Hfs.rmTree(d)
  }

  /** Evaluate `df` eagerly into a local-relation DataFrame (row order kept)
    * so scratch catalog tables can be dropped before the query returns —
    * they must not leak into the session catalog (SHOW TABLES / system
    * .databases goldens pin the catalog contents). Only for final rollups /
    * driver-bounded results, never data-sized frames. */
  private[queries] def materialize(s: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect().toSeq
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), df.schema)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    PipelineAnalytics.queries ++
      PipelineAnn.queries ++
      PipelineCuration.queries ++
      PipelineDedup.queries ++
      PipelineTables.queries ++
      PipelineText.queries


  /** Keep-rates (permille) for the stratified-sampling queries — the
    * "mixture weights" knob; mirrored literally in the oracle SQL. */
  private[queries] val sampleRates =
    Map("en" -> 300, "fr" -> 200, "de" -> 150, "es" -> 150)

  private[queries] val sampleRateCase =
    """CASE %s WHEN 'en' THEN 300 WHEN 'fr' THEN 200 WHEN 'de' THEN 150
      |       WHEN 'es' THEN 150 ELSE 100 END""".stripMargin

  private[queries] val sampleKeySql = "((%s %% 1000003) * 2654435761) %% 1000"

  private[queries] val stopList = "['the','a','an','of','to','in','is','and','or','for']"

  /** The shared symbol layout of the q172/q173/q174 probe oracles: the 3×3
    * Gram matrix over (bias, x1, x2) and the column-j replacement for the
    * Cramer solve. */
  private[queries] val gramA = Array(
    Array("hn", "s1", "s2"),
    Array("s1", "s11", "s12"),
    Array("s2", "s12", "s22"))
  private[queries] def gramRepl(j: Int): Array[Array[String]] =
    Array.tabulate(3, 3)((r, c) => if (c == j) s"b$r" else gramA(r)(c))

  /** 3×3 determinant as a SQL expression string (cofactor expansion along
    * the first row) — generates the Cramer solve the q172 oracle runs in
    * HUGEINT, mirroring [[graft.ext.Regression.det]] term for term. */
  private[queries] def det3Sql(m: Array[Array[String]]): String = {
    def minor(r0: Int, r1: Int, c0: Int, c1: Int) =
      s"(${m(r0)(c0)}*${m(r1)(c1)} - ${m(r0)(c1)}*${m(r1)(c0)})"
    s"(${m(0)(0)}*${minor(1, 2, 1, 2)} - ${m(0)(1)}*${minor(1, 2, 0, 2)}" +
      s" + ${m(0)(2)}*${minor(1, 2, 0, 1)})"
  }

  /** Exact word-3-gram Jaccard pairs (J ≥ 0.2) — the oracle for q45 (exact
    * inverted-index) and q46 (MinHash+LSH, whose verified candidates equal
    * the exact answer on the planted-dup corpus). */
  private[queries] def ngramJaccardOracle(minJ: Double): String =
    raw"""WITH toks AS (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, source, unnest(
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
      |SELECT d1, d2, jaccard FROM j WHERE jaccard >= $minJ ORDER BY d1, d2""".stripMargin

  /** Unrolled-SQL restatement of [[graft.ext.Similarity.kmeansFit]]: `iters`
    * rounds of (assign, floor-div centroid update) CTEs over c0 = the k
    * lowest-id quantized vectors, then the final assignment. Every step is
    * integer arithmetic, so the SQL is exact — `(s - ((s % cnt + cnt) %
    * cnt)) / cnt` is floor division spelled portably (nonneg mod works under
    * both truncating and flooring `%`). */
  private[queries] def kmeansAssign(i: Int, cPrev: String, dim: Int): String =
    s"""d$i AS (
       |  SELECT q.vec_id, q.qv, c.cell,
       |    CAST(list_sum(list_transform(generate_series(1, $dim),
       |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS dist
       |  FROM qe q CROSS JOIN $cPrev c),
       |a$i AS (SELECT vec_id, qv, cell, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM d$i) WHERE rn = 1)""".stripMargin

  /** The Lloyd-training CTE chain: qe (quantized vectors), c0 (seed
    * centroids), then `iters` rounds of (assign, floor-div update) ending at
    * centroid CTE `c{iters}`. `(s - ((s % cnt + cnt) % cnt)) / cnt` is floor
    * division spelled portably (nonneg mod works under both truncating and
    * flooring `%`). */
  /** [[kmeansCtes]] with the cluster count as a SQL EXPRESSION instead of
    * a literal — the oracle-side mirror of [[graft.ext.Similarity
    * .semDedupClustersFor]]-auto geometry. k appears in exactly one place
    * (the c0 seed cut), so a scalar subquery recomputing the rule from
    * `count(*)` makes one static oracle string correct at EVERY verify
    * scale (a baked `8` was right at sf0.01's 500 vectors and wrong at
    * sf0.1's 2000 — the round-8 finding). */
  private[queries] def semDedupK: String =
    "(SELECT least(65536, greatest(8, (count(*) + 63) // 64)) FROM embeddings)"

  private[queries] def kmeansCtes(k: Int, iters: Int, dim: Int): String =
    kmeansCtesE(k.toString, iters, dim)

  /** Rename a CTE chain's names with a prefix (word-boundary replace) so
    * two independent chains can coexist in one WITH — q267's auto-switch
    * oracle carries the fixed-IVF chain AND the trained-kmeans chain,
    * whose `c1` would otherwise collide.
    *
    * The name list is DERIVED from the chain's own `name AS (` headers
    * (never hand-enumerated): a caller-maintained list silently breaks the
    * oracle the day the kmeans chain gains a CTE nobody added to it
    * (round-9 ADVICE finding). The header regex cannot confuse casts or
    * column aliases — `AS BIGINT)` / `) AS rnk` have no `(` after the
    * alias — and a post-rename assert proves no bare name survived (a
    * name inside a string literal would, and must fail loudly here, not
    * as a DuckDB collision). */
  private[queries] def prefixCtes(chain: String, prefix: String): String = {
    val header = "([A-Za-z_]\\w*)\\s+AS\\s*\\(".r
    val names = header.findAllMatchIn(chain).map(_.group(1)).toSeq.distinct
    require(names.nonEmpty, "prefixCtes: no CTE headers found")
    // Over-rename guard (round-10 ADVICE): the word-boundary replace below
    // also rewrites a COLUMN alias or a string literal that happens to
    // reuse a CTE name — silently, since the post-rename assert only
    // checks headers. Refuse such chains up front: a CTE name must not
    // appear as `AS <name>` without an opening paren (column alias) nor
    // inside a single-quoted literal. Literal detection is parity-based,
    // not a single inside-quotes regex (round-11 ADVICE: that regex read a
    // closing quote as an opening one and false-positived on a name
    // BETWEEN two literals): split on ' — even segments are unquoted SQL,
    // odd segments are literal interiors; a doubled '' escape flips parity
    // twice, a no-op.
    val segs = chain.split("'", -1).zipWithIndex
    val unquoted = segs.collect { case (s, i) if i % 2 == 0 => s }
    val quoted = segs.collect { case (s, i) if i % 2 == 1 => s }
    names.foreach { n =>
      require(!unquoted.exists(s =>
          s"(?i)\\bAS\\s+$n\\b(?!\\s*\\()".r.findFirstIn(s).isDefined),
        s"prefixCtes: CTE name '$n' reused as a column alias — rename one")
      require(!quoted.exists(s => s"\\b$n\\b".r.findFirstIn(s).isDefined),
        s"prefixCtes: CTE name '$n' appears inside a string literal")
    }
    val out = names.foldLeft(chain)((s, n) => s.replaceAll(s"\\b$n\\b", prefix + n))
    // every header in the renamed chain must carry the prefix — proves the
    // derivation caught every CTE and the rename left none behind
    val bare = header.findAllMatchIn(out).map(_.group(1))
      .filterNot(_.startsWith(prefix)).toSeq
    require(bare.isEmpty, s"prefixCtes: unrenamed CTE header(s): $bare")
    out
  }

  private[queries] def kmeansCtesE(k: String, iters: Int, dim: Int): String = {
    def update(i: Int, cPrev: String): String =
      s"""s$i AS (
         |  SELECT cell, ii.i AS pos, sum(qv[ii.i]) AS s, count(*) AS cnt
         |  FROM a$i CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS i) ii
         |  GROUP BY cell, ii.i),
         |n$i AS (SELECT cell,
         |    list(CAST((s - ((s % cnt + cnt) % cnt)) / cnt AS BIGINT) ORDER BY pos) AS cv
         |  FROM s$i GROUP BY cell),
         |c$i AS (SELECT p.cell, COALESCE(n$i.cv, p.cv) AS cv
         |  FROM $cPrev p LEFT JOIN n$i ON n$i.cell = p.cell)""".stripMargin
    val rounds = (1 to iters)
      .map(i => kmeansAssign(i, s"c${i - 1}", dim) + ",\n" + update(i, s"c${i - 1}"))
      .mkString(",\n")
    s"""qe AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cell, qv AS cv FROM qe WHERE vec_id < $k),
       |$rounds""".stripMargin
  }

  /** Unrolled-SQL restatement of [[graft.ext.Similarity.kmeansFit]]. */
  private[queries] def kmeansSql(k: Int, iters: Int, dim: Int): String = {
    val fin = iters + 1
    s"""WITH ${kmeansCtes(k, iters, dim)},
       |${kmeansAssign(fin, s"c$iters", dim)}
       |SELECT vec_id, cell, dist FROM a$fin ORDER BY vec_id""".stripMargin
  }

  /** Unrolled-SQL restatement of [[graft.ext.Similarity.ivfTopKTrained]]:
    * the Lloyd chain, corpus cell assignment under the trained centroids,
    * query-side top-`nprobe` probe ranking over the same distance CTE, and
    * q103's exact-cosine re-rank tail. */
  private[queries] def ivfTrainedSql(nlist: Int, iters: Int, dim: Int,
      nprobe: Int, k: Int, nq: Int): String = {
    val fin = iters + 1
    s"""WITH ${kmeansCtes(nlist, iters, dim)},
       |${kmeansAssign(fin, s"c$iters", dim)},
       |cells AS (SELECT vec_id AS c_id, cell FROM a$fin),
       |qp AS (SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM d$fin WHERE vec_id < $nq) WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT DISTINCT q_id, c_id FROM qp JOIN cells USING (cell)
       |  WHERE c_id != q_id),
       |s AS (
       |  SELECT q_id, c_id, round(
       |    list_sum(list_transform(generate_series(1, $dim),
       |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c2e.embedding[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(generate_series(1, $dim),
       |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(generate_series(1, $dim),
       |         i -> CAST(c2e.embedding[i] AS DOUBLE) * CAST(c2e.embedding[i] AS DOUBLE))))), 5) AS sim
       |  FROM cand JOIN embeddings q ON q.vec_id = cand.q_id
       |            JOIN embeddings c2e ON c2e.vec_id = cand.c_id),
       |r AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM s)
       |SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin
  }

  def oracle: Map[String, String] =
    PipelineAnalytics.oracle ++
      PipelineAnn.oracle ++
      PipelineCuration.oracle ++
      PipelineDedup.oracle ++
      PipelineTables.oracle ++
      PipelineText.oracle


  /** Unrolled-SQL restatement of [[graft.ext.GraphOps.pageRank]] over the
    * source gram-overlap graph: q139's edge derivation, then `iters` rounds
    * of (contrib join-sum, damped floor-division update). */
  /** Unrolled synchronous-LPA rounds over the q156 gram-overlap graph:
    * per round, incident label weights per dst, argmax with min-label
    * tie-break. All nodes have in-edges on a symmetric graph, so the
    * keep-previous-label fallback never fires and the unroll is exact. */
  private[queries] def lpaSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""l$i AS (
         |  SELECT dst AS node, label FROM (
         |    SELECT e.dst, l.label,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY sum(e.w) DESC, l.label) AS rn
         |    FROM e JOIN l${i - 1} l ON l.node = e.src
         |    GROUP BY e.dst, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    raw"""WITH g AS (
         |  SELECT DISTINCT source, ng FROM (
         |    SELECT source, unnest(list_distinct(
         |      CASE WHEN len(tk) >= 5
         |        THEN list_transform(generate_series(1, len(tk) - 4),
         |               i -> array_to_string(tk[i:i+4], ' '))
         |        ELSE [] END)) AS ng
         |    FROM (SELECT source, string_split_regex(trim(text), '\s+') AS tk
         |          FROM documents))),
         |shared AS (
         |  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS w
         |  FROM g a JOIN g b ON a.ng = b.ng AND a.source < b.source
         |  GROUP BY 1, 2),
         |e AS (SELECT sa AS src, sb AS dst, w FROM shared
         |      UNION ALL SELECT sb, sa, w FROM shared),
         |l0 AS (SELECT DISTINCT node, node AS label FROM (
         |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |$rounds
         |SELECT node, label FROM l$iters ORDER BY node""".stripMargin
  }

  private[queries] def pageRankSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, CAST(sum((r.rank * e.w) // o.ow) AS BIGINT) AS contrib
         |  FROM e JOIN ow o ON o.src = e.src JOIN r${i - 1} r ON r.node = e.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT n2.node,
         |    (1000000000000 * 15) // 100 // (SELECT n FROM nn)
         |      + (85 * coalesce(c.contrib, 0)) // 100 AS rank
         |  FROM nodes n2 LEFT JOIN c$i c ON c.node = n2.node)""".stripMargin
    }.mkString(",\n")
    raw"""WITH g AS (
         |  SELECT DISTINCT source, ng FROM (
         |    SELECT source, unnest(list_distinct(
         |      CASE WHEN len(tk) >= 5
         |        THEN list_transform(generate_series(1, len(tk) - 4),
         |               i -> array_to_string(tk[i:i+4], ' '))
         |        ELSE [] END)) AS ng
         |    FROM (SELECT source, string_split_regex(trim(text), '\s+') AS tk
         |          FROM documents))),
         |shared AS (
         |  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS w
         |  FROM g a JOIN g b ON a.ng = b.ng AND a.source < b.source
         |  GROUP BY 1, 2),
         |e AS (SELECT sa AS src, sb AS dst, w FROM shared
         |      UNION ALL SELECT sb, sa, w FROM shared),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY src),
         |r0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS rank FROM nodes),
         |$rounds
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM r$iters
         |ORDER BY rank DESC, node""".stripMargin
  }

  /** Generic Lloyd-chain CTE builder under a name prefix: `{pfx}qe` (the
    * provided source of (vec_id, qv)), seeds `{pfx}c0`, `iters` rounds of
    * (assign, floor-div update), and a FINAL full-population assignment at
    * round `iters+1` whose d-CTE doubles as a distance table. Shared by the
    * PQ chains (embedding slices) and the IVFPQ chains (residual slices). */
  private[queries] def lloydChainSql(pfx: String, ksub: Int, iters: Int, subDim: Int,
      qeSql: String): String = {
    def assign(i: Int, cPrev: String): String =
      s"""${pfx}d$i AS (
         |  SELECT q.vec_id, q.qv, c.cell,
         |    CAST(list_sum(list_transform(generate_series(1, $subDim),
         |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS dist
         |  FROM ${pfx}qe q CROSS JOIN $cPrev c),
         |${pfx}a$i AS (SELECT vec_id, qv, cell, dist FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM ${pfx}d$i) WHERE rn = 1)""".stripMargin
    def update(i: Int, cPrev: String): String =
      s"""${pfx}s$i AS (
         |  SELECT cell, ii.i AS pos, sum(qv[ii.i]) AS s, count(*) AS cnt
         |  FROM ${pfx}a$i CROSS JOIN (SELECT unnest(generate_series(1, $subDim)) AS i) ii
         |  GROUP BY cell, ii.i),
         |${pfx}n$i AS (SELECT cell,
         |    list(CAST((s - ((s % cnt + cnt) % cnt)) / cnt AS BIGINT) ORDER BY pos) AS cv
         |  FROM ${pfx}s$i GROUP BY cell),
         |${pfx}c$i AS (SELECT p.cell, COALESCE(${pfx}n$i.cv, p.cv) AS cv
         |  FROM $cPrev p LEFT JOIN ${pfx}n$i ON ${pfx}n$i.cell = p.cell)""".stripMargin
    val rounds = (1 to iters)
      .map(i => assign(i, s"${pfx}c${i - 1}") + ",\n" + update(i, s"${pfx}c${i - 1}"))
      .mkString(",\n")
    s"""${pfx}qe AS ($qeSql),
       |${pfx}c0 AS (SELECT vec_id AS cell, qv AS cv FROM ${pfx}qe WHERE vec_id < $ksub),
       |$rounds,
       |${assign(iters + 1, s"${pfx}c$iters")}""".stripMargin
  }

  /** One subspace's PQ codebook chain (prefix `p{j}`) over the raw
    * embedding slice `[off+1, off+subDim]`. */
  private[queries] def pqSubCtes(j: Int, ksub: Int, iters: Int, subDim: Int): String = {
    val off = j * subDim
    lloydChainSql(s"p$j", ksub, iters, subDim,
      s"""SELECT vec_id, list_transform(embedding[${off + 1}:${off + subDim}],
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings""".stripMargin)
  }

  /** Unrolled-SQL restatement of [[graft.ext.Similarity.ivfPqTopK]]: the
    * coarse Lloyd chain ([[kmeansCtes]] + final assignment), residual
    * vectors, m residual-codebook chains ([[lloydChainSql]] prefix
    * `rq{j}`), encoding, probe ranking, per-probed-cell ADC lookup tables,
    * the (cell, j, code) equi-join ADC sum, and the exact-cosine re-rank. */
  private[queries] def ivfpqSql(nlist: Int, nprobe: Int, m: Int, subDim: Int,
      ksub: Int, iters: Int, nq: Int, kCand: Int, k: Int): String = {
    val dim = m * subDim
    val fin = iters + 1
    val chains = (0 until m).map { j =>
      val off = j * subDim
      lloydChainSql(s"rq$j", ksub, iters, subDim,
        s"SELECT vec_id, rv[${off + 1}:${off + subDim}] AS qv FROM res")
    }.mkString(",\n")
    val codesAll = (0 until m).map(j =>
      s"""SELECT a.vec_id AS c_id, r.cell, CAST($j AS BIGINT) AS j, a.cell AS code
         |  FROM rq${j}a$fin a JOIN res r ON r.vec_id = a.vec_id""".stripMargin)
      .mkString(" UNION ALL ")
    val lutAll = (0 until m).map { j =>
      val off = j * subDim
      s"""SELECT r.q_id, r.cell, CAST($j AS BIGINT) AS j, b.cell AS code,
         |  CAST(list_sum(list_transform(generate_series(1, $subDim),
         |    i -> (r.rv[$off + i] - b.cv[i]) * (r.rv[$off + i] - b.cv[i]))) AS BIGINT) AS d
         |  FROM qres r CROSS JOIN rq${j}c$iters b""".stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH ${kmeansCtes(nlist, iters, dim)},
       |${kmeansAssign(fin, s"c$iters", dim)},
       |res AS (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(generate_series(1, $dim), i -> a.qv[i] - c.cv[i]) AS rv
       |  FROM a$fin a JOIN c$iters c ON c.cell = a.cell),
       |$chains,
       |codes AS ($codesAll),
       |qp AS (SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM d$fin WHERE vec_id < $nq) WHERE rn <= $nprobe),
       |qres AS (
       |  SELECT qp.q_id, qp.cell,
       |    list_transform(generate_series(1, $dim), i -> q.qv[i] - c.cv[i]) AS rv
       |  FROM qp JOIN qe q ON q.vec_id = qp.q_id JOIN c$iters c ON c.cell = qp.cell),
       |lut AS ($lutAll),
       |adc AS (
       |  SELECT l.q_id, cd.c_id, CAST(sum(l.d) AS BIGINT) AS adc
       |  FROM codes cd JOIN lut l
       |    ON l.cell = cd.cell AND l.j = cd.j AND l.code = cd.code
       |  WHERE l.q_id != cd.c_id
       |  GROUP BY 1, 2),
       |cand AS (SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (
       |      PARTITION BY q_id ORDER BY adc, c_id) AS crn FROM adc)
       |  WHERE crn <= $kCand),
       |sc AS (
       |  SELECT q_id, c_id, round(
       |    list_sum(list_transform(generate_series(1, $dim),
       |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c2e.embedding[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(generate_series(1, $dim),
       |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(generate_series(1, $dim),
       |         i -> CAST(c2e.embedding[i] AS DOUBLE) * CAST(c2e.embedding[i] AS DOUBLE))))), 5) AS sim
       |  FROM cand JOIN embeddings q ON q.vec_id = cand.q_id
       |            JOIN embeddings c2e ON c2e.vec_id = cand.c_id),
       |r AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM sc)
       |SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin
  }

  /** Restatement of the PQ ENCODING stage alone — q163's oracle (the
    * streaming encode must equal the batch codes): the m codebook chains,
    * final assignments unioned to (c_id, j, code) long form. */
  private[queries] def pqCodesSql(m: Int, ksub: Int, iters: Int,
      subDim: Int): String = {
    val fin = iters + 1
    val chains = (0 until m).map(j => pqSubCtes(j, ksub, iters, subDim))
      .mkString(",\n")
    val codesAll = (0 until m)
      .map(j => s"SELECT vec_id AS c_id, CAST($j AS BIGINT) AS j, cell AS code FROM p${j}a$fin")
      .mkString(" UNION ALL ")
    s"""WITH $chains,
       |codes AS ($codesAll)
       |SELECT c_id, j, code FROM codes ORDER BY c_id, j""".stripMargin
  }

  /** Unrolled-SQL restatement of [[graft.ext.Similarity.pqTopK]]: m
    * codebook chains, code/LUT unions, the ADC aggregation, and q118's
    * exact-cosine re-rank tail over the ADC survivors. */
  private[queries] def pqSql(m: Int, ksub: Int, iters: Int, subDim: Int,
      nq: Int, kCand: Int, k: Int): String = {
    val fin = iters + 1
    val dim = m * subDim
    val chains = (0 until m).map(j => pqSubCtes(j, ksub, iters, subDim))
      .mkString(",\n")
    val codesAll = (0 until m)
      .map(j => s"SELECT vec_id AS c_id, cell AS code, CAST($j AS BIGINT) AS j FROM p${j}a$fin")
      .mkString(" UNION ALL ")
    val lutAll = (0 until m)
      .map(j => s"SELECT vec_id AS q_id, cell AS code, CAST($j AS BIGINT) AS j, dist FROM p${j}d$fin WHERE vec_id < $nq")
      .mkString(" UNION ALL ")
    s"""WITH $chains,
       |codes AS ($codesAll),
       |lut AS ($lutAll),
       |adc AS (
       |  SELECT q_id, c_id, CAST(sum(dist) AS BIGINT) AS adc
       |  FROM codes JOIN lut USING (j, code) WHERE q_id != c_id
       |  GROUP BY 1, 2),
       |cand AS (SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (
       |      PARTITION BY q_id ORDER BY adc, c_id) AS crn FROM adc)
       |  WHERE crn <= $kCand),
       |sc AS (
       |  SELECT q_id, c_id, round(
       |    list_sum(list_transform(generate_series(1, $dim),
       |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c2e.embedding[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(generate_series(1, $dim),
       |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(generate_series(1, $dim),
       |         i -> CAST(c2e.embedding[i] AS DOUBLE) * CAST(c2e.embedding[i] AS DOUBLE))))), 5) AS sim
       |  FROM cand JOIN embeddings q ON q.vec_id = cand.q_id
       |            JOIN embeddings c2e ON c2e.vec_id = cand.c_id),
       |r AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM sc)
       |SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin
  }

  /** Unrolled-SQL restatement of [[graft.ext.Bpe.trainMerges]]: `n` chained
    * CTE rounds of (pair count → argmax → sentinel-string replace) over the
    * distinct-word table, each bit-identical to the Spark iteration (same
    * double-U+0001 framing, same left-to-right `replace`, same
    * count-desc/lexicographic tie-break). `b{i}` holds round i+1's winning
    * pair; `s{i}` the symbol strings entering round i+1. */
  /** The interpolated char-trigram LM scoring CTE chain (shared by q188
    * and q205): builds both model tables and per-doc (m, tot); final
    * fluency3 = tot // m. */
  // def, not val: referenced from the oracleSql map, which may initialize
  // first in the object body
  private[queries] def trigramLmCtes: String =
    """tk AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
      |bgr AS (
      |  SELECT doc_id, unnest([substring(w, i, 2) for i in range(1, length(w))]) AS bg
      |  FROM tk WHERE length(w) >= 2),
      |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_bi FROM bgr GROUP BY bg),
      |px AS (SELECT substring(bg, 1, 1) AS x, CAST(sum(c_bi) AS BIGINT) AS c_x
      |       FROM c2 GROUP BY 1),
      |lm2 AS (SELECT bg, (1000000 * c_bi) // c_x AS p2
      |        FROM c2 JOIN px ON substring(c2.bg, 1, 1) = px.x),
      |tgr AS (
      |  SELECT doc_id, unnest([substring(w, i, 3) for i in range(1, length(w) - 1)]) AS tg
      |  FROM tk WHERE length(w) >= 3),
      |c3 AS (SELECT tg, CAST(count(*) AS BIGINT) AS c_tri FROM tgr GROUP BY tg),
      |pxy AS (SELECT substring(tg, 1, 2) AS xy, CAST(sum(c_tri) AS BIGINT) AS c_xy
      |        FROM c3 GROUP BY 1),
      |lm3 AS (SELECT tg, (1000000 * c_tri) // c_xy AS p3
      |        FROM c3 JOIN pxy ON substring(c3.tg, 1, 2) = pxy.xy),
      |sc AS (
      |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum((600000 * coalesce(p3, 0) + 400000 * coalesce(p2, 0)) // 1000000)
      |         AS BIGINT) AS tot
      |  FROM tgr t LEFT JOIN lm3 USING (tg)
      |       LEFT JOIN lm2 ON lm2.bg = substring(t.tg, 2, 2)
      |  GROUP BY t.doc_id)""".stripMargin

  /** Marker-score columns + prediction CASE for one text column `src`,
    * suffix-tagged — the q43 langId restatement factored for reuse on
    * document halves (q224). */
  private[queries] def langScoreCols(src: String, sfx: String): String = {
    val ms = Seq(
      "en" -> "['the','a','of','and','to','is','in']",
      "fr" -> "['le','la','les','de','et','un','est']",
      "de" -> "['der','die','das','und','ist','ein','nicht']",
      "es" -> "['el','los','las','y','un','es','que']")
    ms.map { case (l, lst) =>
      s"CAST(len(list_filter(string_split_regex(trim($src), '\\s+'), x -> list_contains($lst, x))) AS BIGINT) AS ${l}_$sfx"
    }.mkString(",\n    ") +
      s",\n    regexp_matches($src, '[\\x{4e00}-\\x{9fff}]') AS cjk_$sfx"
  }

  private[queries] def langPredSql(sfx: String): String = {
    val g = s"greatest(en_$sfx, fr_$sfx, de_$sfx, es_$sfx)"
    s"""CASE WHEN cjk_$sfx THEN 'zh'
       |      WHEN $g = 0 THEN 'und'
       |      WHEN en_$sfx = $g THEN 'en'
       |      WHEN fr_$sfx = $g THEN 'fr'
       |      WHEN de_$sfx = $g THEN 'de'
       |      ELSE 'es' END""".stripMargin
  }

  /** The q49b deterministic-IVF CTE chain (untrained lowest-16 centroids,
    * nprobe 4, queries vec_id < 10, re-ranked by round-5 cosine) ending
    * at ranked candidates `r` — shared by q49b and q216's recall audit. */
  /** The q193 kNN-label-vote chain (normalized centroids, IVF cells,
    * probes filtered by `probeWhere`, exact re-rank at k=5, per-query
    * vote relations c1/tot), shared with the q267 hotspot rollup. */
  private[queries] def knnVoteCtes(probeWhere: String): String =
    s"""cents AS (
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
       |    FROM scores $probeWhere) t WHERE rn <= 4),
       |cand AS (
       |  SELECT p.q_id, c.vec_id AS c_id
       |  FROM probes p JOIN cells c USING (cell)
       |  WHERE c.vec_id != p.q_id),
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
       |r AS (SELECT q_id, c_id FROM (SELECT q_id, c_id, row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM s) t WHERE rnk <= 5),
       |v AS (SELECT r.q_id, e.label AS c_label, CAST(count(*) AS BIGINT) AS n_votes
       |      FROM r JOIN embeddings e ON e.vec_id = r.c_id
       |      WHERE e.label IS NOT NULL GROUP BY r.q_id, e.label),
       |tot AS (SELECT q_id, CAST(sum(n_votes) AS BIGINT) AS n_neighbors
       |        FROM v GROUP BY q_id),
       |c1 AS (SELECT q_id, c_label AS voted_label, n_votes FROM (
       |   SELECT *, row_number() OVER (
       |     PARTITION BY q_id ORDER BY n_votes DESC, c_label) AS vrnk FROM v) t
       |   WHERE vrnk = 1)""".stripMargin

  private[queries] def ivfTopKCtes: String =
    """cents AS (
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
      |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM s)""".stripMargin

  /** Unrolled MMR greedy chain (k rounds): each round scores the remaining
    * candidates as 70·rel − 30·max-dot-to-selected and takes the best
    * (ties → lowest vec_id), mirroring Similarity.mmrSelect exactly. */
  private[queries] def mmrSql(queryId: Long, nCand: Int, k: Int): String = {
    val dotQ = "list_sum(list_transform(generate_series(1, 64), i -> b.v[i] * q.qv[i]))"
    def dotCS(c: String, s: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> $c.v[i] * $s.v[i]))"
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""qv AS (
         |  SELECT list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings WHERE vec_id = $queryId)""".stripMargin,
      s"""base AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         |  FROM embeddings WHERE vec_id <> $queryId)""".stripMargin,
      s"""cand AS (
         |  SELECT b.vec_id, b.v, CAST($dotQ AS BIGINT) AS rel
         |  FROM base b, qv q ORDER BY rel DESC, vec_id LIMIT $nCand)""".stripMargin,
      s"""selu1 AS (
         |  SELECT vec_id, v, rel, CAST(1 AS BIGINT) AS rank, CAST(70 * rel AS BIGINT) AS gain
         |  FROM cand ORDER BY 70 * rel DESC, vec_id LIMIT 1)""".stripMargin)
    for (i <- 2 to k) {
      parts += s"""g$i AS (
         |  SELECT c.vec_id, c.v, c.rel, max(CAST(${dotCS("c", "s")} AS BIGINT)) AS ms
         |  FROM cand c, selu${i - 1} s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM selu${i - 1})
         |  GROUP BY c.vec_id, c.v, c.rel)""".stripMargin
      parts += s"""pick$i AS (
         |  SELECT vec_id, v, rel, CAST($i AS BIGINT) AS rank,
         |    CAST(70 * rel - 30 * ms AS BIGINT) AS gain
         |  FROM g$i ORDER BY 70 * rel - 30 * ms DESC, vec_id LIMIT 1)""".stripMargin
      parts += s"selu$i AS (SELECT * FROM selu${i - 1} UNION ALL SELECT * FROM pick$i)"
    }
    s"WITH ${parts.mkString(",\n")}\n" +
      s"SELECT rank, vec_id, rel, gain FROM selu$k ORDER BY rank"
  }

  /** The q228 Bradley–Terry MM rounds, unrolled: each round computes the
    * per-player denominator d (Σ over opponents of c·1e9 // (w_i + w_j)),
    * the raw MM update wr = n_wins·1e9 // d, and the mean-normalized
    * strengths w (Σw pinned to |players|·1e6) — the identical integer
    * sequence [[graft.ext.Curation.bradleyTerryStrength]] runs. */
  /** The q227 BM25 scoring chain (probes → postings slice → integer Okapi →
    * per-query ranking CTE `r`), shared by the retrieval-metric oracles:
    * q234's nDCG audits this ranking, q235 fuses it with the TF ranker
    * (whose CTEs build on the same `p`/`qt` postings). */
  private[queries] def bm25SearchCtes: String =
    raw"""dt AS (
       |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
       |    FROM documents)
       |  GROUP BY doc_id, t),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM dt GROUP BY doc_id),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(dl) AS BIGINT) AS tt FROM dl),
       |q AS (SELECT * FROM (VALUES (1, 'slow merge table'),
       |  (2, 'hash join fast'), (3, 'window sort batch')) AS x(q_id, q_text)),
       |qt AS (SELECT DISTINCT q_id,
       |  unnest(string_split_regex(trim(q_text), '\s+')) AS t FROM q),
       |qterms AS (SELECT DISTINCT t FROM qt),
       |p AS (SELECT dt.* FROM dt JOIN qterms USING (t)),
       |dft AS (SELECT t, CAST(count(*) AS BIGINT) AS df_t FROM p GROUP BY t),
       |sc AS (
       |  SELECT qt.q_id, p.doc_id,
       |    CAST(((tot.n_docs - dft.df_t + 1) * 1000000) // (dft.df_t + 1)
       |      AS BIGINT) AS idf_ppm,
       |    CAST((CAST(p.tf AS HUGEINT) * 1000000000 * 2200 * tot.tt) //
       |      (CAST(p.tf AS HUGEINT) * 1000000 * tot.tt
       |       + CAST(300000 AS HUGEINT) * tot.tt
       |       + CAST(900000 AS HUGEINT) * dl.dl * tot.n_docs)
       |      AS BIGINT) AS sat_ppm
       |  FROM p JOIN dft USING (t) JOIN dl USING (doc_id)
       |    JOIN qt USING (t), tot),
       |agg AS (
       |  SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |    CAST(sum((CAST(idf_ppm AS HUGEINT) * sat_ppm) // 1000000)
       |      AS BIGINT) AS score_ppm
       |  FROM sc GROUP BY q_id, doc_id),
       |r AS (SELECT q_id, doc_id, n_terms, score_ppm,
       |  CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rnk FROM agg)""".stripMargin

  /** The q95 duplicate-cluster chain (3-gram Jaccard pairs → symmetric
    * edges → recursive transitive closure → min-label `comp`), shared with
    * the canonical-selection oracle. Usage: `WITH RECURSIVE $ccJaccardCtes`.
    *
    * `pairs`/`edges` carry MATERIALIZED hints: inside a WITH RECURSIVE,
    * DuckDB 1.0 re-inlines non-recursive CTEs into the recursion, so the
    * full inverted-index pair join (~129M joined rows at sf1's 50k docs)
    * re-executed per fixpoint step — 9 min and ~80 GB of spill before
    * failing at sf1. Materialized, the closure runs over the ~2.6k actual
    * edges and the whole oracle takes ~20 s (found by the round-9 organic
    * sf1 gate; sf0.1's 5k docs kept the blowup under the radar). */
  /** DuckDB restatement of the engine's md5-fold-mod-1e6 gate:
    * `pmod(conv(substring(md5(e),1,15),16,10), 1e6)` — the first 15 hex
    * nibbles folded base-16, exact in both engines. */
  private[queries] def md5ModSql(e: String): String =
    s"""(list_reduce(list_transform(string_split(md5($e), '')[1:15],
       |      c -> CAST(CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
       |                ELSE unicode(c) - 48 END AS BIGINT)),
       |      (a, v) -> a * 16 + v) % 1000000)""".stripMargin

  private[queries] def ccJaccardCtes: String =
    raw"""toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
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
       |pairs AS MATERIALIZED (
       |  SELECT d1, d2 FROM inter
       |  JOIN sizes sa ON sa.doc_id = d1
       |  JOIN sizes sb ON sb.doc_id = d2
       |  WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.2),
       |edges AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (
       |  SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a)""".stripMargin

  /** Unrolled power-iteration rounds ([[graft.ext.Similarity
    * .spectralProfile]]): matvec off v{i-1} over the covariance relation,
    * then ∞-norm renormalize to 10⁶ with sign-split truncating division
    * (BigInt `/` truncates toward zero; DuckDB `//` floors — the split
    * makes them agree on negatives). */
  private[queries] def spectralRoundCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""u$i AS (SELECT cov.i AS j, sum(CAST(cij AS HUGEINT) * v${i - 1}.v) AS u
         |  FROM cov JOIN v${i - 1} ON v${i - 1}.j = cov.j GROUP BY cov.i),
         |m$i AS (SELECT max(abs(u)) AS mx FROM u$i),
         |v$i AS (SELECT j, CASE WHEN mx = 0 THEN u
         |    WHEN u >= 0 THEN (u * 1000000) // mx
         |    ELSE -((-u * 1000000) // mx) END AS v
         |  FROM u$i, m$i)""".stripMargin
    }.mkString(",\n")

  /** Unrolled HITS rounds ([[graft.ext.GraphOps.hits]]): each round is the
    * authority update off h{i-1}, sum-normalize, then the hub update off
    * a{i}, sum-normalize — Kleinberg's order, exact-integer. */
  private[queries] def hitsRoundCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""ar$i AS (SELECT dst, sum(CAST(w AS HUGEINT) * h) AS raw
         |  FROM e JOIN h${i - 1} USING (src) GROUP BY dst),
         |at$i AS (SELECT sum(raw) AS t FROM ar$i),
         |a$i AS (SELECT dst, CAST((raw * na.n * 1000000) // at$i.t AS BIGINT) AS a
         |  FROM ar$i, at$i, na),
         |hr$i AS (SELECT src, sum(CAST(w AS HUGEINT) * a) AS raw
         |  FROM e JOIN a$i USING (dst) GROUP BY src),
         |ht$i AS (SELECT sum(raw) AS t FROM hr$i),
         |h$i AS (SELECT src, CAST((raw * nh.n * 1000000) // ht$i.t AS BIGINT) AS h
         |  FROM hr$i, ht$i, nh)""".stripMargin
    }.mkString(",\n")

  private[queries] def btRoundCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""d$i AS (SELECT sym.i AS p,
         |  CAST(sum((c * 1000000000) // (wi.w + wj.w)) AS BIGINT) AS d
         |  FROM sym JOIN w${i - 1} wi ON wi.p = sym.i
         |    JOIN w${i - 1} wj ON wj.p = sym.j GROUP BY sym.i),
         |r$i AS (SELECT pl.p, (pl.n_wins * 1000000000) // d$i.d AS wr
         |  FROM pl JOIN d$i USING (p)),
         |s$i AS (SELECT CAST(sum(wr) AS HUGEINT) AS s FROM r$i),
         |w$i AS (SELECT p, CAST((CAST(wr AS HUGEINT) * 1000000 * np) // s
         |  AS BIGINT) AS w FROM r$i, s$i, np)""".stripMargin
    }.mkString(",\n")

  private[queries] def bpeCtes(n: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      """wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w)""".stripMargin,
      """s0 AS (SELECT w, n, chr(1)||chr(1) ||
        |  array_to_string(regexp_extract_all(w, '(?s).'), chr(1)||chr(1)) ||
        |  chr(1)||chr(1) AS s FROM wc)""".stripMargin)
    for (i <- 0 until n) {
      parts += s"""l$i AS (SELECT n, list_filter(string_split(s$i.s, chr(1)||chr(1)),
                  |  t -> t <> '') AS l FROM s$i)""".stripMargin
      parts += s"i$i AS (SELECT n, l, unnest(range(1, len(l))) AS i FROM l$i)"
      parts += s"""p$i AS (SELECT l[i] AS x, l[i+1] AS y, CAST(sum(n) AS BIGINT) AS cnt
                  |  FROM i$i GROUP BY 1, 2)""".stripMargin
      parts += s"b$i AS (SELECT x, y, cnt FROM p$i ORDER BY cnt DESC, x, y LIMIT 1)"
      // LEFT JOIN ON TRUE: when a round finds no pairs b$i is empty; the bare
      // cross join would empty s${i+1} and every later round, diverging from
      // trainMerges' early-stop. The CASE falls back to the unmodified string.
      parts += s"""s${i + 1} AS (SELECT w, n, CASE WHEN b.x IS NULL THEN s ELSE replace(s,
                  |  chr(1)||b.x||chr(1)||chr(1)||b.y||chr(1),
                  |  chr(1)||b.x||b.y||chr(1)) END AS s FROM s$i LEFT JOIN b$i b ON TRUE)""".stripMargin
    }
    parts.mkString(",\n")
  }
}
