package perfbench

/** One statement of a workload: `text` goes to the engine in the reference
  * dialect; `oracle`, when present, is the same question in DuckDB SQL and
  * is answered over the same parquet files to check the engine's rows. */
final case class Stmt(kind: String, text: String, oracle: Option[String] = None)

/** Seeded statement generators. Pure functions of the seed: the same seed
  * gives the same statements, so a run can be replayed exactly. */
object Statements {

  private val Dates = IndexedSeq("1996-03-31", "1997-06-30", "1998-09-02", "2000-06-30")
  private val Statuses = DataGen.Statuses.toIndexedSeq
  private val Segments = DataGen.Segments.toIndexedSeq
  private val Priorities = DataGen.Priorities.toIndexedSeq
  private val Regions = DataGen.Regions.toIndexedSeq

  /** An olap_mix template: literal slots filled from small sets, so most
    * statements repeat within a run. Row counts of `numbers(N)` are fixed:
    * a literal that scales a template's cost would make the tail depend on
    * the draw. */
  final case class Template(kind: String, make: Rng => Stmt)

  private def same(kind: String, sql: String): Stmt = Stmt(kind, sql, Some(sql))

  val olapTemplates: IndexedSeq[Template] = IndexedSeq(
    Template("q1_groupby", r => {
      val d = r.pick(Dates)
      same("q1_groupby",
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
          "round(sum(l_extendedprice), 2) AS sum_base, " +
          "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, " +
          "round(avg(l_discount), 6) AS avg_disc, count(*) AS n FROM lineitem " +
          s"WHERE l_shipdate <= TIMESTAMP '$d 00:00:00' " +
          "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
    }),
    Template("combinators", r => {
      val x = r.pick(IndexedSeq("0.02", "0.05", "0.08"))
      val d = r.pick(Dates)
      Stmt("combinators",
        s"SELECT l_returnflag, sumIf(l_quantity, l_discount > $x) AS q, " +
          "countIf(l_tax < 0.04) AS c, uniq(l_suppkey) AS u FROM lineitem " +
          s"WHERE l_shipdate >= TIMESTAMP '$d 00:00:00' GROUP BY l_returnflag ORDER BY l_returnflag",
        Some(s"SELECT l_returnflag, sum(CASE WHEN l_discount > $x THEN l_quantity END) AS q, " +
          "count(CASE WHEN l_tax < 0.04 THEN 1 END) AS c, count(DISTINCT l_suppkey) AS u " +
          s"FROM lineitem WHERE l_shipdate >= TIMESTAMP '$d 00:00:00' " +
          "GROUP BY l_returnflag ORDER BY l_returnflag"))
    }),
    Template("combinators_orders", r => {
      val t = r.pick(IndexedSeq(100000, 250000, 400000))
      Stmt("combinators_orders",
        s"SELECT o_orderstatus, uniq(o_custkey) AS u, countIf(o_totalprice > $t) AS c, " +
          s"avgIf(o_totalprice, o_totalprice > $t) AS a FROM orders " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus",
        Some(s"SELECT o_orderstatus, count(DISTINCT o_custkey) AS u, " +
          s"count(CASE WHEN o_totalprice > $t THEN 1 END) AS c, " +
          s"avg(CASE WHEN o_totalprice > $t THEN o_totalprice END) AS a FROM orders " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus"))
    }),
    Template("having", r => {
      val p = r.pick(Priorities)
      val k = r.pick(IndexedSeq(5, 6, 7))
      same("having",
        "SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS total FROM orders " +
          s"WHERE o_orderpriority = '$p' GROUP BY o_custkey HAVING count(*) >= $k ORDER BY o_custkey")
    }),
    Template("topk_offset", r => {
      val s = r.pick(Statuses)
      val off = r.pick(IndexedSeq(0, 10, 50))
      same("topk_offset",
        s"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = '$s' " +
          s"ORDER BY o_totalprice DESC LIMIT 20 OFFSET $off")
    }),
    Template("topk_numbers", r => {
      val m = r.pick(IndexedSeq(7, 11, 13))
      Stmt("topk_numbers",
        s"SELECT number FROM numbers(4000000) WHERE number % $m = 1 ORDER BY number DESC LIMIT 10",
        Some(s"SELECT number FROM range(4000000) t(number) WHERE number % $m = 1 " +
          "ORDER BY number DESC LIMIT 10"))
    }),
    Template("limit_by", r => {
      val seg = r.pick(Segments)
      Stmt("limit_by",
        s"SELECT c_nationkey, c_custkey, c_acctbal FROM customer WHERE c_mktsegment = '$seg' " +
          "ORDER BY c_nationkey, c_acctbal DESC, c_custkey LIMIT 2 BY c_nationkey",
        Some("SELECT c_nationkey, c_custkey, c_acctbal FROM (SELECT c_nationkey, c_custkey, " +
          "c_acctbal, row_number() OVER (PARTITION BY c_nationkey " +
          "ORDER BY c_acctbal DESC, c_custkey) AS rn FROM customer " +
          s"WHERE c_mktsegment = '$seg') WHERE rn <= 2 " +
          "ORDER BY c_nationkey, c_acctbal DESC, c_custkey"))
    }),
    Template("in_subquery", r => {
      val seg = r.pick(Segments)
      val b = r.pick(IndexedSeq(0, 5000, 9000))
      same("in_subquery",
        "SELECT o_orderpriority, count(*) AS n FROM orders WHERE o_custkey IN " +
          s"(SELECT c_custkey FROM customer WHERE c_mktsegment = '$seg' AND c_acctbal > $b) " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority")
    }),
    Template("scalar_subquery", r => {
      val s = r.pick(Statuses)
      same("scalar_subquery",
        "SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total FROM orders " +
          s"WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders WHERE o_orderstatus = '$s')")
    }),
    Template("exists", r => {
      val b = r.pick(IndexedSeq(1000, 5000, 9000))
      val t = r.pick(IndexedSeq(400000, 499990, 600000))
      same("exists",
        s"SELECT c_mktsegment, count(*) AS n FROM customer WHERE c_acctbal > $b AND EXISTS " +
          s"(SELECT 1 FROM orders WHERE o_totalprice > $t) GROUP BY c_mktsegment ORDER BY c_mktsegment")
    }),
    Template("dim_join", r => {
      val reg = r.pick(Regions)
      same("dim_join",
        "SELECT n_name, count(*) AS n, round(sum(c_acctbal), 2) AS bal FROM customer " +
          "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
          s"WHERE r_name = '$reg' GROUP BY n_name ORDER BY n_name")
    }),
    Template("count_star", r => {
      val t = r.pick(IndexedSeq("lineitem", "orders", "customer"))
      same("count_star", s"SELECT count(*) AS n FROM $t")
    }),
    Template("numbers_grouped", r => {
      val m = r.pick(IndexedSeq(7, 10, 13))
      Stmt("numbers_grouped",
        s"SELECT number % $m AS k, sum(number) AS s, count(*) AS c FROM numbers(2000000) " +
          "GROUP BY k ORDER BY k",
        Some(s"SELECT number % $m AS k, sum(number)::BIGINT AS s, count(*) AS c " +
          "FROM range(2000000) t(number) GROUP BY k ORDER BY k"))
    }),
    Template("numbers_nonaffine", r => {
      val m = r.pick(IndexedSeq(5, 7, 11))
      Stmt("numbers_nonaffine",
        s"SELECT sum(number * number % $m) AS s, max(number % 1000) AS m FROM numbers(10000000)",
        Some(s"SELECT sum(number * number % $m)::BIGINT AS s, max(number % 1000) AS m " +
          "FROM range(10000000) t(number)"))
    }))

  /** Pass `pass` of olap_mix: every template once, in a seeded order, with
    * seeded literals. Each pass has the same template mix, so a run's
    * latency distribution does not depend on the luck of the draw. */
  def olapPass(seed: Long, pass: Int): Seq[Stmt] = {
    val r = new Rng(seed * 1000003L + pass)
    r.shuffle(olapTemplates).map(_.make(r))
  }

  // ---- wire_short ----------------------------------------------------------

  /** Kinds of one wire_short block of 30 arrivals: every block has the same
    * composition, so runs differ in literals and arrival times, not in mix.
    * A third are point lookups and a quarter are sub-50 ms statements (SET,
    * closed-form `numbers` sums, `system.one`/`system.settings`), so the
    * median falls inside the point lookups, below the share of them that
    * queue behind a heavy statement; 1 in 10 is a wide select. */
  val wireBlockKinds: Seq[String] =
    Seq.fill(6)("point_order") ++ Seq.fill(6)("point_customer") ++
      Seq.fill(2)("set") ++ Seq.fill(2)("numbers_sum") ++
      Seq.fill(2)("system_one") ++ Seq.fill(2)("system_settings") ++
      Seq("show_tables", "show_databases", "describe", "system_tables") ++
      Seq("numbers_groupby", "dim_nation", "dim_supplier") ++
      Seq("wide_small", "wide_small", "wide_large")

  private def wireStmt(kind: String, r: Rng, n: DataGen.Sizes): Stmt = kind match {
    case "point_order" =>
      Stmt(kind, "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
        s"FROM orders WHERE o_orderkey = ${(r.long() >>> 1) % n.orders}")
    case "point_customer" =>
      Stmt(kind, "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment " +
        s"FROM customer WHERE c_custkey = ${(r.long() >>> 1) % n.customers}")
    case "show_tables" => Stmt(kind, "SHOW TABLES")
    case "show_databases" => Stmt(kind, "SHOW DATABASES")
    case "describe" =>
      Stmt(kind, s"DESCRIBE ${r.pick(IndexedSeq("orders", "customer", "lineitem", "part"))}")
    case "set" => Stmt(kind, s"SET max_block_size = ${1024 + r.int(1 << 20)}")
    case "system_one" => Stmt(kind, "SELECT * FROM system.one")
    case "system_settings" =>
      Stmt(kind, "SELECT name, value FROM system.settings WHERE name = 'max_threads'")
    case "system_tables" =>
      Stmt(kind, "SELECT database, name FROM system.tables ORDER BY database, name")
    case "numbers_sum" =>
      Stmt(kind, s"SELECT sum(number) AS s, count(*) AS c FROM numbers(${1000 + r.int(99000)})")
    case "numbers_groupby" =>
      Stmt(kind, "SELECT number % 3 AS m, count(*) AS c " +
        s"FROM numbers(${1000 + r.int(99000)}) GROUP BY m ORDER BY m")
    case "dim_nation" =>
      Stmt(kind, "SELECT n_regionkey, count(*) AS c FROM nation " +
        s"WHERE n_nationkey < ${1 + r.int(25)} GROUP BY n_regionkey ORDER BY n_regionkey")
    case "dim_supplier" =>
      Stmt(kind, "SELECT s_nationkey, count(*) AS c, round(sum(s_acctbal), 2) AS bal " +
        s"FROM supplier WHERE s_acctbal > ${r.int(9000)} GROUP BY s_nationkey ORDER BY s_nationkey")
    case "wide_small" | "wide_large" =>
      // ~4 lines per order: 2500..7500 orders is 10k..30k rows, 7500..12500
      // is 30k..50k; two small and one large per block
      val span = (if (kind == "wide_small") 2500 else 7500) + r.int(5001)
      val lo = (r.long() >>> 1) % (n.orders - span)
      Stmt(kind, "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, " +
        s"l_shipdate FROM lineitem WHERE l_orderkey >= $lo AND l_orderkey < ${lo + span} " +
        "ORDER BY l_orderkey, l_linenumber")
  }

  /** `n` wire_short statements in blocks of [[wireBlockKinds]], each block a
    * seeded shuffle, so the kind mix is the same in every run. */
  def wireStatements(seed: Long, n: Int, sizes: DataGen.Sizes): IndexedSeq[Stmt] = {
    val r = new Rng(seed * 7919L + 17)
    Iterator.continually(r.shuffle(wireBlockKinds)).flatten.take(n)
      .map(wireStmt(_, r, sizes)).toIndexedSeq
  }

  // ---- ingest_rw -----------------------------------------------------------

  val IngestTable = "ingest_t"
  val IngestGroups = 8

  /** One INSERT of `rows` rows with keys `first until first + rows`; the
    * group of each row is returned so the reads can be checked. */
  def ingestInsert(r: Rng, first: Long, rows: Int): (Stmt, IndexedSeq[Int]) = {
    val groups = IndexedSeq.fill(rows)(r.int(IngestGroups))
    val values = groups.zipWithIndex.map { case (g, i) =>
      s"(${first + i}, $g, ${r.int(1000000) / 100.0}, 'w${r.int(1000)}')"
    }
    (Stmt("insert", s"INSERT INTO $IngestTable VALUES ${values.mkString(", ")}"), groups)
  }

  /** A range-count read over keys `[lo, hi)` of the `inserted` so far. */
  def ingestRange(r: Rng, inserted: Long): (Stmt, Long, Long) = {
    val lo = (r.long() >>> 1) % math.max(1L, inserted)
    val hi = lo + 1 + (r.long() >>> 1) % math.max(1L, inserted)
    (Stmt("range_count", s"SELECT count(*) AS c FROM $IngestTable WHERE k >= $lo AND k < $hi"),
      lo, hi)
  }

  val ingestGroupBy: Stmt = Stmt("groupby",
    s"SELECT g, count(*) AS c, sum(k) AS sk FROM $IngestTable GROUP BY g ORDER BY g")

  // ---- pipeline_iter -------------------------------------------------------

  /** Fixpoint entries of the engine's driver contract, run at sf0.01. */
  val pipelineEntries: Seq[String] = Seq("q239_hits", "q280_communities")
}
