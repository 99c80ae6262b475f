package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** One-pass random-hyperplane LSH key kernel.
  *
  * The Column-level spelling of multiprobe LSH (per-table `dot` against
  * literal hyperplanes + `array_sort` margin ranking + `pow`/`bitwiseXOR`
  * flip masks, times `tables × probes` keys) builds an expression tree that
  * re-derives the projections under every key — hundreds of 64-element dot
  * products per ROW once tables×probes grows, and a generated method too
  * large to stay in whole-stage codegen. Measured on q50: 127 s at sf0.1
  * for 2 000 vectors — the key computation, not the join, was the cost.
  *
  * This expression computes everything once per row in one compiled pass:
  * all `tables × planes` projections, the sign-pattern buckets, the
  * margin-ranked multiprobe flips, emitting packed-long keys
  * `(table << 53) | bucket` (cheaper to shuffle/join than the previous
  * `"t:bucket"` strings). The hyperplane matrix is generated once on the
  * driver (seeded, deterministic — identical to the previous Column
  * spelling: per table `t`, `planes × dim` standard normals from
  * `Random(7 + t)`) and ships as one reference object.
  *
  * Multiprobe (Lv et al., VLDB'07 shape): probe `s` flips the sign bits of
  * the planes at margin-ranks `{j : bit j of s}` — ranks sorted by
  * |projection| ascending, ties by plane index — so probes run
  * cheapest-flip-first: {} {0} {1} {0,1} {2} …. `probes = 1` degenerates to
  * the plain single-bucket keys (the corpus side of an asymmetric join).
  * Duplicate keys a flip collision would produce are deduplicated in-kernel
  * (the Column spelling exploded them and relied on a later
  * `dropDuplicates`; dropping them here keeps the explode×join smaller).
  */
case class LshKeys(child: Expression, planes: Int, tables: Int, dim: Int,
    probes: Int, seed: Long) extends UnaryExpression {

  require(planes >= 1 && planes <= 52, s"planes in [1,52], got $planes")
  require(tables >= 1 && tables <= 1024, s"tables in [1,1024], got $tables")
  require(probes >= 1 && probes <= 16, s"probes in [1,16], got $probes")
  require(probes == 1 || planes >= 4, "multiprobe ranks 4 planes; need planes >= 4")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_keys"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_keys needs array<float|double>, got $other")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** tables × planes × dim hyperplane normals, flattened row-major; table t
    * uses `Random(seed + t)` — bit-compatible with the previous per-table
    * `hyperplanes()` Column spelling. */
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](tables * planes * dim)
    var t = 0
    while (t < tables) {
      val r = new scala.util.Random(seed + t)
      var i = 0
      while (i < planes * dim) {
        a(t * planes * dim + i) = r.nextGaussian()
        i += 1
      }
      t += 1
    }
    a
  }

  override protected def nullSafeEval(input: Any): Any =
    LshKernel.keys(input.asInstanceOf[ArrayData], flat, planes, tables, dim,
      probes, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", flat, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.LshKernel.keys($v, $planesRef, " +
        s"$planes, $tables, $dim, $probes, $isFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): LshKeys =
    copy(child = newChild)
}

/** Static kernel: one virtual call per row from generated code; the loops
  * inside are plain compiled Scala over primitive arrays. */
object LshKernel {

  /** Packed keys for one vector; see [[LshKeys]]. Returns an UnsafeArrayData
    * over a primitive long[] — no boxing on the explode path. */
  def keys(vec: ArrayData, flat: Array[Double], planes: Int, tables: Int,
      dim: Int, probes: Int, isFloat: Boolean): ArrayData = {
    val n = math.min(vec.numElements(), dim)
    val out = new Array[Long](tables * probes)
    var m = 0 // emitted (deduplicated) key count
    val proj = new Array[Double](planes)
    val rank = new Array[Int](4)
    var t = 0
    while (t < tables) {
      val tStart = m // dedup scans only this table's keys (prefixes differ)
      val base0 = t * planes * dim
      var base = 0L
      var p = 0
      while (p < planes) {
        var s = 0.0
        val off = base0 + p * dim
        var d = 0
        while (d < n) {
          val x = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
          s += x * flat(off + d)
          d += 1
        }
        if (s >= 0) base |= 1L << p
        proj(p) = math.abs(s)
        p += 1
      }

      if (probes == 1) {
        out(m) = (t.toLong << 53) | base
        m += 1
      } else {
        // margin ranks: the 4 smallest |projection| planes, ties by index
        // ascending (matches the previous array_sort of (abs, idx) structs)
        var r = 0
        while (r < 4) { rank(r) = -1; r += 1 }
        var i = 0
        while (i < planes) {
          var j = 0
          var placed = false
          while (j < 4 && !placed) {
            val cur = rank(j)
            if (cur < 0 || proj(i) < proj(cur) ||
                (proj(i) == proj(cur) && i < cur)) {
              var k = 3
              while (k > j) { rank(k) = rank(k - 1); k -= 1 }
              rank(j) = i
              placed = true
            }
            j += 1
          }
          i += 1
        }
        var sIdx = 0
        while (sIdx < probes) {
          var mask = 0L
          var b = 0
          while (b < 4) {
            if ((sIdx & (1 << b)) != 0) mask ^= 1L << rank(b)
            b += 1
          }
          val key = (t.toLong << 53) | (base ^ mask)
          // in-row dedup (collided flips): linear scan, arrays are tiny
          var dup = false
          var e = tStart
          while (e < m && !dup) { dup = out(e) == key; e += 1 }
          if (!dup) { out(m) = key; m += 1 }
          sIdx += 1
        }
      }
      t += 1
    }
    val trimmed = if (m == out.length) out else java.util.Arrays.copyOf(out, m)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(trimmed)
  }

  /** Deterministic-integer keys for one vector; see [[LshKeysDeterministic]].
    * The float→double→×1e6→floor quantization here is the same IEEE op
    * sequence the DuckDB restatement runs — exact, both engines. */
  def detKeys(vec: ArrayData, w: Array[Long], planes: Int, tables: Int,
      dim: Int, flips: Boolean, probes: Int, isFloat: Boolean): ArrayData = {
    val n = math.min(vec.numElements(), dim)
    val qv = new Array[Long](n)
    var d = 0
    while (d < n) {
      val x = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
      qv(d) = math.floor(x * 1000000.0).toLong
      d += 1
    }
    val perTable = if (probes > 1) probes else if (flips) planes + 1 else 1
    val out = new Array[Long](tables * perTable)
    val proj = new Array[Long](planes)
    val rank = new Array[Int](4)
    var m = 0
    var t = 0
    while (t < tables) {
      val base0 = t * planes * dim
      var bucket = 0L
      var p = 0
      while (p < planes) {
        var s = 0L
        val off = base0 + p * dim
        var i = 0
        while (i < n) { s += qv(i) * w(off + i); i += 1 }
        if (s > 0) bucket |= 1L << p
        proj(p) = math.abs(s)
        p += 1
      }
      out(m) = (t.toLong << 20) | bucket
      m += 1
      if (probes > 1) {
        // margin-directed multiprobe over INTEGER projections — the
        // [[LshKernel.keys]] probe rule made oracle-restatable: ranks =
        // the 4 smallest |projection| planes (ties by plane index
        // ascending), probe j flips the ranked planes at j's set bits
        // (binary counting = cheapest-flip-first). Distinct subsets of
        // distinct planes → distinct keys, no dedup needed.
        var r = 0
        while (r < 4) { rank(r) = -1; r += 1 }
        var i = 0
        while (i < planes) {
          var j = 0
          var placed = false
          while (j < 4 && !placed) {
            val cur = rank(j)
            if (cur < 0 || proj(i) < proj(cur) ||
                (proj(i) == proj(cur) && i < cur)) {
              var k = 3
              while (k > j) { rank(k) = rank(k - 1); k -= 1 }
              rank(j) = i
              placed = true
            }
            j += 1
          }
          i += 1
        }
        var sIdx = 1 // 0 = the base bucket, already emitted
        while (sIdx < probes) {
          var mask = 0L
          var b = 0
          while (b < 4) {
            if ((sIdx & (1 << b)) != 0) mask ^= 1L << rank(b)
            b += 1
          }
          out(m) = (t.toLong << 20) | (bucket ^ mask)
          m += 1
          sIdx += 1
        }
      } else if (flips) {
        var p2 = 0
        while (p2 < planes) {
          out(m) = (t.toLong << 20) | (bucket ^ (1L << p2))
          m += 1
          p2 += 1
        }
      }
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Deterministic-integer LSH keys — the oracle-expressible twin of
  * [[LshKeys]] (q103; see [[graft.ext.Similarity.lshTopKDeterministic]]).
  * Plane weights come from the public integer formula
  * `s(i) = (i · 2654435761) % 131071; w(i) = s(i)² % 131071 − 65535` over
  * the flattened index `i = (t·planes+p)·dim + d`, and projections run in
  * exact integer arithmetic over `floor(1e6·x)` quantized components, so
  * bucket assignment is bit-identical in any engine. The SQUARE matters:
  * the round-7 formula stopped at the linear `s(i)`, making corresponding
  * weights of any two tables differ by one constant (mod the prime) — the
  * tables were affinely related, so multi-table recall barely improved on
  * one table (q50's deterministic twin measured 0.14 where independent
  * tables predict ~0.9). Squaring mod the prime breaks the affine relation
  * (quadratic residues), and measured recall matches the independence
  * prediction (plane-grid simulation, commit 4fec09b: near-dup recall
  * 1.000 at planes=6/tables=16 at every test scale, vs 0.43–0.67
  * linear). Keys
  * pack as `(table << 20) | bucket`. `flips = false` emits one key per
  * table (corpus side); `flips = true` adds every radius-1 bit flip
  * (query side, `planes + 1` keys per table — blind flips, not
  * margin-ranked: margins would need the float projections the SQL
  * restatement deliberately avoids). Flip keys can't collide (they differ
  * from base and each other in exactly one bit) — no dedup pass needed. */
case class LshKeysDeterministic(child: Expression, planes: Int, tables: Int,
    dim: Int, flips: Boolean, probes: Int = 1) extends UnaryExpression {

  require(planes >= 1 && planes <= 20, s"planes in [1,20], got $planes")
  require(tables >= 1 && tables <= 1024, s"tables in [1,1024], got $tables")
  require(probes >= 1 && probes <= 16, s"probes in [1,16], got $probes")
  require(probes == 1 || planes >= 4, "margin multiprobe ranks 4 planes; need planes >= 4")
  require(probes == 1 || !flips, "probes>1 (margin multiprobe) replaces radius-1 flips")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_keys_det"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_keys_det needs array<float|double>, got $other")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** tables × planes × dim integer weights, flattened row-major — tiny
    * (20×6×64 = 7 680 longs at the defaults), computed once on the driver. */
  @transient private lazy val flat: Array[Long] = {
    val a = new Array[Long](tables * planes * dim)
    var i = 0
    while (i < a.length) {
      val s = (i * 2654435761L) % 131071L
      a(i) = (s * s) % 131071L - 65535L // s² < 1.8e10 — no overflow
      i += 1
    }
    a
  }

  override protected def nullSafeEval(input: Any): Any =
    LshKernel.detKeys(input.asInstanceOf[ArrayData], flat, planes, tables, dim,
      flips, probes, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("lshDetWeights", flat, "long[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.LshKernel.detKeys($v, $wRef, " +
        s"$planes, $tables, $dim, $flips, $probes, $isFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): LshKeysDeterministic =
    copy(child = newChild)
}

object LshExpressions {
  import org.apache.spark.sql.graft.Bridge

  /** Packed-long LSH keys (see [[LshKeys]]); `probes = 1` = single-bucket. */
  def lshKeys(vec: Column, planes: Int, tables: Int, dim: Int,
      probes: Int = 1, seed: Long = 7L): Column =
    Bridge.column(LshKeys(Bridge.expression(vec), planes, tables, dim, probes, seed))

  /** Deterministic-integer LSH keys (see [[LshKeysDeterministic]]). */
  def lshKeysDeterministic(vec: Column, planes: Int, tables: Int, dim: Int,
      flips: Boolean): Column =
    Bridge.column(LshKeysDeterministic(Bridge.expression(vec), planes, tables, dim, flips))

  /** Margin-directed multiprobe keys over deterministic integer planes —
    * the production probe rule ([[LshKeys]] probes) with the
    * oracle-restatable plane source (see [[LshKernel.detKeys]]). */
  def lshKeysDeterministicProbed(vec: Column, planes: Int, tables: Int,
      dim: Int, probes: Int): Column =
    Bridge.column(LshKeysDeterministic(Bridge.expression(vec), planes, tables,
      dim, flips = false, probes = probes))
}
