package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, Range, ReturnAnswer}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

/** Fused generator+aggregate kernel for ungrouped aggregates over `numbers(N)`
  * (= `spark.range`): the Spark analogue of the reference's vectorized
  * aggregation kernels over its numbers generator
  * (fusequery/query/src/datasources/system/numbers_stream.rs:46-78 feeding
  * common/functions/src/aggregates/aggregate_sum.rs — generator blocks are
  * produced and consumed inside one pipeline, never materialized).
  *
  * Spark's stock plan for `numbers.agg(sum/min/max/avg/count)` is
  * Range → WholeStageCodegen(HashAggregate partial) → shuffle(1) → final.
  * The generated loop is already fused, but every row pays the aggregation
  * buffer protocol — null-flag checks and writes into an UnsafeRow-backed
  * mutable buffer per aggregate per row, plus range batch bookkeeping —
  * measured ~5 B rows/s on 32 threads (BENCH_r01) against the reference's
  * 20–34 B/s hand-SIMD kernels (BASELINE.md).
  *
  * Here the whole ungrouped aggregate collapses into one generated Java
  * method per query shape: local primitive accumulators in a countdown loop,
  * no buffer, no null flags, no per-row calls. HotSpot's superword pass
  * vectorizes the integer accumulation chains — the reference's SIMD story
  * re-expressed as JIT output. Per-partition partials merge on the driver
  * (output is one row; this operator only ever sees the generator, never
  * table data, so the driver merge is `numSlices` tiny arrays).
  *
  * Semantics preserved exactly:
  *   - partition boundaries replicate `RangeExec`'s `i·n/slices` split, so
  *     per-partition double accumulation (non-affine avg) associates
  *     identically; AFFINE averages skip accumulation entirely — exact
  *     BigInt sum + one correctly-rounded division (strictly tighter than
  *     any float accumulation order once the sum passes 2^53);
  *   - LEGACY arithmetic wraps — identical to Java `+`/`*`/`%`;
  *   - ANSI arithmetic must throw on overflow: eligibility requires a static
  *     no-overflow proof (exact closed form for affine expressions, interval
  *     arithmetic otherwise) over every expression node AND every sum's
  *     running prefix — when the proof fails the stock path plans the query
  *     and raises the runtime error it should;
  *   - empty range: sum/min/max/avg → NULL, count → 0.
  */
abstract class RangeAggKernel {
  /** Accumulate `count` elements starting at `start`, stepping `step`, into
    * the caller-allocated accumulator slots. */
  def run(start: Long, count: Long, step: Long, lacc: Array[Long], dacc: Array[Double]): Unit
}

object RangeAggKernel {
  private val cache = new ConcurrentHashMap[String, RangeAggKernel]()

  /** Compile (janino — the same compiler behind Spark's whole-stage codegen)
    * and cache by source: one class per distinct query shape per JVM. */
  def compile(source: String): RangeAggKernel =
    cache.computeIfAbsent(source, { src =>
      val ev = new org.codehaus.janino.ClassBodyEvaluator()
      ev.setExtendedClass(classOf[RangeAggKernel])
      ev.cook(src)
      ev.getClazz.getDeclaredConstructor().newInstance().asInstanceOf[RangeAggKernel]
    })
}

/** How one distinct aggregate lands in the kernel's accumulator arrays. */
private[plans] sealed trait SlotKind extends Serializable
private[plans] object SlotKind {
  case class SumLong(lIdx: Int) extends SlotKind
  case class MinLong(lIdx: Int) extends SlotKind
  case class MaxLong(lIdx: Int) extends SlotKind
  /** double running sum; the divisor count is the range cardinality */
  case class AvgLong(dIdx: Int) extends SlotKind
  /** count of provably non-null expressions = range cardinality, loop-free */
  case object CountAll extends SlotKind
  /** value solved in closed form at plan time (affine sum / endpoint
    * min-max) — loop-free, like CountAll */
  case class ConstLong(value: Long) extends SlotKind
  /** double solved in closed form at plan time (affine average: exact
    * BigInt sum, one correctly-rounded rational division) */
  case class ConstDouble(value: Double) extends SlotKind
}

private[plans] case class RangeAggSlot(kind: SlotKind, resultType: DataType)
  extends Serializable

case class RangeAggExec(
    start: Long,
    step: Long,
    numElements: Long,
    numSlices: Int,
    kernelSource: String,
    slots: Seq[RangeAggSlot],
    nLong: Int,
    nDouble: Int,
    resultExprs: Seq[NamedExpression],
    output: Seq[Attribute]) extends LeafExecNode {

  override def outputPartitioning: Partitioning = SinglePartition

  /** RangeExec's partition split: partition i covers global element indices
    * [i·n/slices, (i+1)·n/slices). */
  private def partitionSpecs: Seq[(Long, Long)] = {
    val n = BigInt(numElements)
    val slices = math.max(numSlices, 1)
    (0 until slices).map { i =>
      val lo = n * i / slices
      val hi = n * (i + 1) / slices
      ((BigInt(start) + lo * BigInt(step)).toLong, (hi - lo).toLong)
    }.filter(_._2 > 0)
  }

  private lazy val resultRow: InternalRow = {
    val n = numElements
    val src = kernelSource
    val nl = nLong
    val nd = nDouble
    val st = step
    val partials: Array[(Array[Long], Array[Double])] =
      if (n == 0 || (nl == 0 && nd == 0)) Array.empty // all slots loop-free
      else {
        val specs = partitionSpecs
        sparkContext
          .parallelize(specs, specs.length)
          .map { case (pStart, pCount) =>
            val l = new Array[Long](nl)
            val d = new Array[Double](nd)
            RangeAggKernel.compile(src).run(pStart, pCount, st, l, d)
            (l, d)
          }
          .collect()
      }

    // Merge in partition order (deterministic; matches the association the
    // ANSI proof reasoned about).
    val l = new Array[Long](nLong)
    val d = new Array[Double](nDouble)
    slots.foreach {
      case RangeAggSlot(SlotKind.MinLong(i), _) => l(i) = Long.MaxValue
      case RangeAggSlot(SlotKind.MaxLong(i), _) => l(i) = Long.MinValue
      case _ =>
    }
    partials.foreach { case (pl, pd) =>
      slots.foreach {
        case RangeAggSlot(SlotKind.SumLong(i), _) => l(i) += pl(i)
        case RangeAggSlot(SlotKind.MinLong(i), _) => l(i) = math.min(l(i), pl(i))
        case RangeAggSlot(SlotKind.MaxLong(i), _) => l(i) = math.max(l(i), pl(i))
        case RangeAggSlot(SlotKind.AvgLong(i), _) => d(i) += pd(i)
        case _ =>
      }
    }

    val values: IndexedSeq[Literal] = slots.map { s =>
      s.kind match {
        case SlotKind.CountAll => Literal(n, LongType)
        case _ if n == 0 => Literal(null, s.resultType)
        case SlotKind.ConstLong(v) => Literal(v, LongType)
        case SlotKind.ConstDouble(v) => Literal(v, DoubleType)
        case SlotKind.SumLong(i) => Literal(l(i), LongType)
        case SlotKind.MinLong(i) => Literal(l(i), LongType)
        case SlotKind.MaxLong(i) => Literal(l(i), LongType)
        case SlotKind.AvgLong(i) => Literal(d(i) / n.toDouble, DoubleType)
      }
    }.toIndexedSeq

    // Substitute computed values for the AggregateExpression leaves (matched
    // by canonicalized form, the same first-seen order the planner assigned
    // slots in), then evaluate the remainder of each output expression —
    // e.g. the `sum/count` arithmetic of a composed column — on the driver.
    val ordinal = scala.collection.mutable.LinkedHashMap[Expression, Int]()
    resultExprs.foreach(_.foreach {
      case ae: AggregateExpression =>
        if (!ordinal.contains(ae.canonicalized)) ordinal(ae.canonicalized) = ordinal.size
      case _ =>
    })
    val substituted = resultExprs.map(_.transformUp {
      case ae: AggregateExpression => values(ordinal(ae.canonicalized))
    })
    val proj = UnsafeProjection.create(substituted, Nil)
    proj(InternalRow.empty).copy()
  }

  override def executeCollect(): Array[InternalRow] = Array(resultRow)
  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)
  // toLocalIterator at the root (the wire servers): the row is already here
  override def executeToIterator(): Iterator[InternalRow] = executeCollect().iterator

  protected override def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(Seq(resultRow), 1)
}

/** Planner strategy: `Aggregate(no grouping, supported aggs, Range)` →
  * [[RangeAggExec]]. Anything it can't prove safe falls through untouched. */
object RangeAggStrategy extends SparkStrategy {

  // ----------------------------------------------------------- expression IR
  /** Java code + value interval (+ affine form `a·id + b` when exact) for a
    * LongType expression over the range's id attribute (Java var `v`).
    * `noWrap` = every node's interval fits in long over the whole id range,
    * so the Java value IS the mathematical value (needed for endpoint
    * min/max; sums only need congruence mod 2^64, which `+ - *` preserve
    * even when wrapping). */
  private case class Gen(code: String, lo: BigInt, hi: BigInt,
      affine: Option[(BigInt, BigInt)], noWrap: Boolean = true)

  private val LongMin = BigInt(Long.MinValue)
  private val LongMax = BigInt(Long.MaxValue)
  private def fitsLong(lo: BigInt, hi: BigInt): Boolean = lo >= LongMin && hi <= LongMax

  private def mode(e: Expression): String = e match {
    case a: Add => a.evalMode.toString
    case a: Subtract => a.evalMode.toString
    case a: Multiply => a.evalMode.toString
    case a: IntegralDivide => a.evalMode.toString
    case a: Remainder => a.evalMode.toString
    case a: Pmod => a.evalMode.toString
    case u: UnaryMinus => if (u.failOnError) "ANSI" else "LEGACY"
    case _ => "LEGACY"
  }

  /** Generate Java for `e`; None = unsupported. In LEGACY mode Java's
    * wrapping arithmetic IS the semantics (interval tracked only to keep the
    * Sum proof available); in ANSI mode every node's interval must fit in
    * long — reject rather than risk a missed runtime error. */
  private def gen(e: Expression, id: Attribute, idLo: BigInt, idHi: BigInt): Option[Gen] = {
    if (mode(e) == "TRY") return None
    e match {
      case a: Attribute if a.exprId == id.exprId =>
        Some(Gen("v", idLo, idHi, Some((BigInt(1), BigInt(0)))))
      case Literal(x: Long, LongType) =>
        Some(Gen(s"${x}L", BigInt(x), BigInt(x), Some((BigInt(0), BigInt(x)))))
      case Literal(x: Int, IntegerType) =>
        Some(Gen(s"${x}L", BigInt(x), BigInt(x), Some((BigInt(0), BigInt(x)))))
      case Cast(child, LongType, _, _)
          if child.dataType == IntegerType || child.dataType == LongType =>
        gen(child, id, idLo, idHi)
      case u: UnaryMinus if u.dataType == LongType =>
        gen(u.child, id, idLo, idHi).flatMap { c =>
          val (lo, hi) = (-c.hi, -c.lo)
          if (fitsLong(lo, hi) || mode(u) == "LEGACY")
            Some(Gen(s"(-${c.code})", lo, hi,
              c.affine.map { case (a, b) => (-a, -b) },
              c.noWrap && fitsLong(lo, hi)))
          else None
        }
      case b: BinaryArithmetic if b.dataType == LongType =>
        for {
          l <- gen(b.left, id, idLo, idHi)
          r <- gen(b.right, id, idLo, idHi)
          g <- binaryGen(b, l, r)
          if fitsLong(g.lo, g.hi) || mode(b) == "LEGACY"
        } yield g
      case _ => None
    }
  }

  private def binaryGen(b: BinaryArithmetic, l: Gen, r: Gen): Option[Gen] = b match {
    case _: Add =>
      val (lo, hi) = (l.lo + r.lo, l.hi + r.hi)
      Some(Gen(s"(${l.code} + ${r.code})", lo, hi,
        for ((a1, b1) <- l.affine; (a2, b2) <- r.affine) yield (a1 + a2, b1 + b2),
        l.noWrap && r.noWrap && fitsLong(lo, hi)))
    case _: Subtract =>
      val (lo, hi) = (l.lo - r.hi, l.hi - r.lo)
      Some(Gen(s"(${l.code} - ${r.code})", lo, hi,
        for ((a1, b1) <- l.affine; (a2, b2) <- r.affine) yield (a1 - a2, b1 - b2),
        l.noWrap && r.noWrap && fitsLong(lo, hi)))
    case _: Multiply =>
      val p = Seq(l.lo * r.lo, l.lo * r.hi, l.hi * r.lo, l.hi * r.hi)
      val affine = (l.affine, r.affine) match {
        case (Some((a, b)), Some((z, c))) if z == 0 => Some((a * c, b * c))
        case (Some((z, c)), Some((a, b))) if z == 0 => Some((a * c, b * c))
        case _ => None
      }
      Some(Gen(s"(${l.code} * ${r.code})", p.min, p.max, affine,
        l.noWrap && r.noWrap && fitsLong(p.min, p.max)))
    case _: Remainder =>
      // nonzero-literal divisor only: Java % = Spark remainder for longs, and
      // the divide-by-zero semantics difference (null vs error) never arises
      constDivisor(r).map { m =>
        val mm = m.abs - 1
        Gen(s"(${l.code} % ${m}L)", -mm, mm, None, l.noWrap)
      }
    case _: IntegralDivide =>
      constDivisor(r).flatMap { m =>
        // Long.MinValue div -1 wraps in LEGACY, throws in ANSI; reject when
        // the dividend interval admits it so both modes stay exact.
        if (m == BigInt(-1) && l.lo <= LongMin) None
        else Some(Gen(s"(${l.code} / ${m}L)",
          Seq(l.lo / m, l.hi / m).min - 1, Seq(l.lo / m, l.hi / m).max + 1, None,
          l.noWrap))
      }
    case _: Pmod =>
      // positive-literal divisor only: for m < 0 the folded form
      // ((l % m) + m) % m diverges from Spark's pmod (pmod(1, -3) is 1 in
      // Spark — `r = a % n; r < 0 ? (r + n) % n : r` — but -2 when folded);
      // negative/zero divisors fall back to the stock plan.
      constDivisor(r).filter(_ > 0).map { m =>
        Gen(s"((((${l.code} % ${m}L) + ${m}L) % ${m}L))", BigInt(0), m - 1, None,
          l.noWrap)
      }
    case _ => None
  }

  private def constDivisor(g: Gen): Option[BigInt] =
    if (g.lo == g.hi && g.lo != 0 && g.affine.exists(_._1 == 0)) Some(g.lo) else None

  // --------------------------------------------------------------- sum proof
  /** Σ over k ∈ [ka, kb) of (A·k + B). */
  /** The IEEE-754 double NEAREST to the exact rational s/n (round half to
    * even) — one rounding, total. `BigDecimal(...).toDouble` at any fixed
    * precision rounds twice (decimal digits, then bits) and can land one
    * ulp off at half-ulp boundaries. Normal-range results only (the avg of
    * a numbers() range is ≥ 2^-63 in magnitude, far from subnormal). */
  private[graft] def rationalToDouble(s: BigInt, n: BigInt): Double = {
    if (s.signum == 0) return 0.0
    val neg = (s.signum < 0) != (n.signum < 0)
    val a = s.abs; val b = n.abs
    // e = floor(log2(a/b)): a/b < 2^(e0+1) always, so e is e0 or e0-1
    val e0 = a.bitLength - b.bitLength
    val e = if (e0 >= 0) { if (a >= (b << e0)) e0 else e0 - 1 }
            else { if ((a << -e0) >= b) e0 else e0 - 1 }
    // 53-bit mantissa m = round(a/b · 2^(52-e)), half-to-even on the
    // exact remainder
    val shift = 52 - e
    val (num, den) =
      if (shift >= 0) (a << shift, b) else (a, b << -shift)
    val (q, rem) = num /% den
    val cmp = (rem << 1).compare(den)
    val m = if (cmp > 0 || (cmp == 0 && q.testBit(0))) q + 1 else q
    val d = math.scalb(m.toDouble, e - 52) // m ≤ 2^53: toDouble is exact
    if (neg) -d else d
  }

  private def affineSum(A: BigInt, B: BigInt, ka: BigInt, kb: BigInt): BigInt =
    if (kb <= ka) BigInt(0)
    else A * (ka + kb - 1) * (kb - ka) / 2 + B * (kb - ka)

  /** Bound the largest running-prefix magnitude any contiguous sub-loop of
    * the sum can reach: every partition's prefix is (subset of the negative
    * values) + (subset of the positive values), each bounded by its class
    * total over the whole range. Affine values are monotone in k, so the
    * class split is a single cut — computed exactly; non-affine expressions
    * fall back to n·max|value|. */
  private def sumPrefixBound(g: Gen, start: BigInt, step: BigInt, n: BigInt): BigInt =
    g.affine match {
      case Some((a, b)) =>
        // value(k) = a·(start + k·step) + b = A·k + B, k ∈ [0, n)
        val A = a * step
        val B = a * start + b
        if (A == 0) B.abs * n
        else {
          val cut0 = (-B) / A
          Seq(cut0 - 1, cut0, cut0 + 1)
            .map(_.max(BigInt(0)).min(n))
            .map { c =>
              val s1 = affineSum(A, B, BigInt(0), c)
              val s2 = affineSum(A, B, c, n)
              s1.abs.max(s2.abs).max((s1 + s2).abs)
            }.max
        }
      case None => n * g.lo.abs.max(g.hi.abs)
    }

  /** For an affine, provably non-wrapping expression, min/max over the range
    * sit at the endpoints (A·k + B is monotone in k): return the two endpoint
    * values. noWrap is required — under LEGACY wrap the values are not
    * monotone and the loop is the semantics. */
  private def affineEndpoints(g: Gen, r: Range, nBig: BigInt): Option[(BigInt, BigInt)] =
    g.affine match {
      case Some((a, b)) if g.noWrap && nBig > 0 =>
        val v0 = a * BigInt(r.start) + b
        val v1 = a * (BigInt(r.start) + (nBig - 1) * BigInt(r.step)) + b
        Some((v0, v1))
      case _ => None
    }

  private def hasAnsiNode(e: Expression): Boolean =
    e.exists {
      case b: BinaryArithmetic => mode(b) != "LEGACY"
      case u: UnaryMinus => u.failOnError
      case _ => false
    }

  // ---------------------------------------------------------------- planning
  private def tryPlan(aggExprs: Seq[NamedExpression], r: Range): Seq[SparkPlan] = {
    if (r.output.size != 1) return Nil
    val id = r.output.head
    val nBig = r.numElements
    if (nBig > LongMax) return Nil
    val n = nBig.toLong
    val (idLo, idHi) =
      if (n == 0) (BigInt(0), BigInt(0))
      else {
        val last = BigInt(r.start) + (nBig - 1) * BigInt(r.step)
        (BigInt(r.start).min(last), BigInt(r.start).max(last))
      }

    // Outputs may reference only aggregates and foldables — never bare id.
    def referencesIdOutsideAgg(e: Expression): Boolean = e match {
      case _: AggregateExpression => false
      case _: Attribute => true
      case other => other.children.exists(referencesIdOutsideAgg)
    }
    if (aggExprs.exists(referencesIdOutsideAgg)) return Nil

    val aggs = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    if (aggs.isEmpty) return Nil

    val distinctAggs = scala.collection.mutable.ArrayBuffer[AggregateExpression]()
    val seen = scala.collection.mutable.HashSet[Expression]()
    aggs.foreach { ae =>
      if (seen.add(ae.canonicalized)) distinctAggs += ae
    }

    var nLong = 0
    var nDouble = 0
    // distinct value expression code (with loop var spelled `v`) -> var base
    val valueVars = scala.collection.mutable.LinkedHashMap[String, String]()
    // (slot, value var base) for the loop ops; CountAll never loops
    val loopOps = scala.collection.mutable.ArrayBuffer[(SlotKind, String)]()

    def valueVar(g: Gen): String =
      valueVars.getOrElseUpdate(g.code, s"x${valueVars.size}")
    def childGen(child: Expression): Option[Gen] =
      if (child.dataType == LongType) gen(child, id, idLo, idHi) else None

    val slotsOpt: Seq[Option[RangeAggSlot]] = distinctAggs.toSeq.map { ae =>
      if (ae.isDistinct || ae.filter.isDefined) None
      else ae.aggregateFunction match {
        case c: Count if c.children.nonEmpty && c.children.forall(ch =>
            !ch.nullable && (ch.foldable || childGen(ch).isDefined)) =>
          Some(RangeAggSlot(SlotKind.CountAll, LongType))
        case s: Sum if s.child.dataType == LongType &&
            s.evalContext.evalMode.toString != "TRY" =>
          childGen(s.child).flatMap { g =>
            val ansi = s.evalContext.evalMode.toString == "ANSI" || hasAnsiNode(s.child)
            val safe = !ansi ||
              sumPrefixBound(g, BigInt(r.start), BigInt(r.step), nBig) <= LongMax
            if (!safe) None
            else g.affine match {
              case Some((a, b)) =>
                // Σ over k ∈ [0, n) of A·k + B, solved at plan time. Exact in
                // ANSI (the safe proof above rules out any throw); in LEGACY
                // `+ - *` wrap ≡ mod 2^64, and BigInt.toLong keeps the low 64
                // bits — the same wrapped value the loop would produce.
                val A = a * BigInt(r.step)
                val B = a * BigInt(r.start) + b
                Some(RangeAggSlot(
                  SlotKind.ConstLong(affineSum(A, B, BigInt(0), nBig).toLong), LongType))
              case None =>
                val i = nLong; nLong += 1
                val k = SlotKind.SumLong(i)
                loopOps += ((k, valueVar(g)))
                Some(RangeAggSlot(k, LongType))
            }
          }
        case m: Min if m.child.dataType == LongType =>
          childGen(m.child).map { g =>
            affineEndpoints(g, r, nBig) match {
              case Some((v0, v1)) => RangeAggSlot(SlotKind.ConstLong(v0.min(v1).toLong), LongType)
              case None =>
                val i = nLong; nLong += 1
                val k = SlotKind.MinLong(i)
                loopOps += ((k, valueVar(g)))
                RangeAggSlot(k, LongType)
            }
          }
        case m: Max if m.child.dataType == LongType =>
          childGen(m.child).map { g =>
            affineEndpoints(g, r, nBig) match {
              case Some((v0, v1)) => RangeAggSlot(SlotKind.ConstLong(v0.max(v1).toLong), LongType)
              case None =>
                val i = nLong; nLong += 1
                val k = SlotKind.MaxLong(i)
                loopOps += ((k, valueVar(g)))
                RangeAggSlot(k, LongType)
            }
          }
        case a: Average if a.child.dataType == LongType && a.evalMode.toString != "TRY" =>
          childGen(a.child).map { g =>
            g.affine match {
              case Some((aa, bb)) if g.noWrap && nBig > 0 =>
                // Exact rational mean at plan time: Σ(A·k + B) over [0, n)
                // in BigInt, then the CORRECTLY-ROUNDED double of the exact
                // quotient (rationalToDouble: one binary rounding, half to
                // even) — strictly tighter than any float accumulation
                // order (stock Spark's double running sum drifts past 2^53;
                // round 8 flipped the last executing BASELINE shape to
                // closed form with this). LEGACY wrap disqualifies via
                // noWrap: wrapped values are not affine and the loop is
                // the semantics.
                val A = aa * BigInt(r.step)
                val B = aa * BigInt(r.start) + bb
                val s = affineSum(A, B, BigInt(0), nBig)
                val v = rationalToDouble(s, nBig)
                RangeAggSlot(SlotKind.ConstDouble(v), DoubleType)
              case _ =>
                val i = nDouble; nDouble += 1
                val k = SlotKind.AvgLong(i)
                loopOps += ((k, valueVar(g)))
                RangeAggSlot(k, DoubleType)
            }
          }
        case _ => None
      }
    }
    if (slotsOpt.exists(_.isEmpty)) return Nil
    val slots = slotsOpt.flatten
    val source = buildKernelSource(valueVars, loopOps.toSeq, BigInt(r.step))

    // Compile on the driver now: a codegen bug surfaces at planning time and
    // falls back to the stock plan instead of failing the query mid-run.
    try RangeAggKernel.compile(source)
    catch { case _: Exception => return Nil }

    val slices = r.numSlices.getOrElse(
      SparkSession.active.sparkContext.defaultParallelism)
    RangeAggExec(r.start, r.step, n, slices, source, slots, nLong, nDouble,
      aggExprs, aggExprs.map(_.toAttribute)) :: Nil
  }

  /** Emit the kernel source. Long accumulators (sum/min/max) get 4
    * independent lanes: long `+`/`min`/`max` are associative, so the
    * re-association is exact, the dependency chains shorten 4×, and HotSpot
    * can ILP/vectorize them; a lane partial is a sum of a subset of each
    * sign class of the values, so the ANSI running-prefix proof covers lane
    * partials too. Average's double accumulation is NOT associative: it
    * stays one serial accumulator fed in element order inside the same
    * unrolled body (per iteration the adds run lane 0..3 = elements
    * 4i..4i+3, in order), bit-identical to the serial loop. Count never
    * loops — it is the range cardinality — so a count-only kernel is
    * loop-free. */
  private def buildKernelSource(
      valueVars: collection.Map[String, String],
      ops: Seq[(SlotKind, String)],
      step: BigInt): String = {
    def subst(code: String, vv: String): String = code.replaceAll("\\bv\\b", vv)

    val accDecls = ops.map {
      case (SlotKind.SumLong(i), _) => s"long l${i}_0 = 0L, l${i}_1 = 0L, l${i}_2 = 0L, l${i}_3 = 0L;"
      case (SlotKind.MinLong(i), _) =>
        s"long l${i}_0 = Long.MAX_VALUE, l${i}_1 = Long.MAX_VALUE, l${i}_2 = Long.MAX_VALUE, l${i}_3 = Long.MAX_VALUE;"
      case (SlotKind.MaxLong(i), _) =>
        s"long l${i}_0 = Long.MIN_VALUE, l${i}_1 = Long.MIN_VALUE, l${i}_2 = Long.MIN_VALUE, l${i}_3 = Long.MIN_VALUE;"
      case (SlotKind.AvgLong(i), _) => s"double d$i = 0.0;"
      case _ => ""
    }
    val stores = ops.map {
      case (SlotKind.SumLong(i), _) => s"lacc[$i] = l${i}_0 + l${i}_1 + l${i}_2 + l${i}_3;"
      case (SlotKind.MinLong(i), _) =>
        s"lacc[$i] = Math.min(Math.min(l${i}_0, l${i}_1), Math.min(l${i}_2, l${i}_3));"
      case (SlotKind.MaxLong(i), _) =>
        s"lacc[$i] = Math.max(Math.max(l${i}_0, l${i}_1), Math.max(l${i}_2, l${i}_3));"
      case (SlotKind.AvgLong(i), _) => s"dacc[$i] = d$i;"
      case _ => ""
    }

    def laneBlock(lane: Int): String = {
      val vv = s"v$lane"
      val decls = valueVars.map { case (code, base) =>
        s"final long ${base}_$lane = ${subst(code, vv)};"
      }
      val body = ops.map {
        case (SlotKind.SumLong(i), x) => s"l${i}_$lane += ${x}_$lane;"
        case (SlotKind.MinLong(i), x) => s"l${i}_$lane = Math.min(l${i}_$lane, ${x}_$lane);"
        case (SlotKind.MaxLong(i), x) => s"l${i}_$lane = Math.max(l${i}_$lane, ${x}_$lane);"
        case (SlotKind.AvgLong(i), x) => s"d$i += (double) ${x}_$lane;"
        case _ => ""
      }
      (decls ++ body).mkString("\n      ")
    }

    val tailDecls = valueVars.map { case (code, base) =>
      s"final long ${base}_t = ${subst(code, "v")};"
    }
    val tailBody = ops.map {
      case (SlotKind.SumLong(i), x) => s"l${i}_0 += ${x}_t;"
      case (SlotKind.MinLong(i), x) => s"l${i}_0 = Math.min(l${i}_0, ${x}_t);"
      case (SlotKind.MaxLong(i), x) => s"l${i}_0 = Math.max(l${i}_0, ${x}_t);"
      case (SlotKind.AvgLong(i), x) => s"d$i += (double) ${x}_t;"
      case _ => ""
    }

    // Lane priming uses only true element values (guarded by count >= 4);
    // 4·step must be representable for the lane stride.
    val unroll = ops.nonEmpty && (step * 4).isValidLong
    val loop =
      if (ops.isEmpty) "" // count-only: the answer is the cardinality
      else if (!unroll)
        s"""  long c = 0;
           |  long v = start;
           |  for (; c < count; c++) {
           |    ${tailDecls.mkString("\n    ")}
           |    ${tailBody.mkString("\n    ")}
           |    v += step;
           |  }""".stripMargin
      else
        s"""  long c = 0;
           |  long v = start;
           |  if (count >= 4) {
           |    long v0 = v, v1 = v0 + step, v2 = v1 + step, v3 = v2 + step;
           |    final long step4 = step * 4L;
           |    for (; c + 4 <= count; c += 4) {
           |      ${(0 until 4).map(laneBlock).mkString("\n      ")}
           |      v0 += step4; v1 += step4; v2 += step4; v3 += step4;
           |    }
           |    v = v0;
           |  }
           |  for (; c < count; c++) {
           |    ${tailDecls.mkString("\n    ")}
           |    ${tailBody.mkString("\n    ")}
           |    v += step;
           |  }""".stripMargin

    s"""@Override public void run(long start, long count, long step, long[] lacc, double[] dacc) {
       |  ${accDecls.mkString("\n  ")}
       |$loop
       |  ${stores.mkString("\n  ")}
       |}""".stripMargin
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(root) => apply(root)
    case agg: Aggregate if agg.groupingExpressions.isEmpty =>
      agg.child match {
        case r: Range => tryPlan(agg.aggregateExpressions, r)
        case Project(ps, r: Range) if ps.forall(_.deterministic) =>
          val byId = ps.map(p => p.toAttribute.exprId -> p).toMap
          val inlined = agg.aggregateExpressions.map(_.transformUp {
            case a: Attribute => byId.get(a.exprId).map {
              case Alias(c, _) => c
              case other => other
            }.getOrElse(a)
          }.asInstanceOf[NamedExpression])
          tryPlan(inlined, r)
        case _ => Nil
      }
    case _ => Nil
  }
}
