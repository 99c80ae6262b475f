package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{BlockingOperatorWithCodegen, CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._

/** Limit-aware top-k for primitive sort keys — the Spark analogue of the
  * reference's limit-aware sort/merge cascade
  * (fusequery/query/src/pipelines/processors/pipeline_builder.rs:220-261 +
  * common/datablocks/src/data_block_sort.rs:30-96, which merges pre-sorted
  * blocks with a per-block heap bounded at LIMIT).
  *
  * Spark's stock `TakeOrderedAndProjectExec` ends the whole-stage-codegen
  * span below it: every input row is materialized as an UnsafeRow, pulled
  * through the iterator protocol, copied, and compared via a generated
  * row ordering. For a single non-nullable fixed-width key that boundary is
  * almost all of the per-row cost — the 20× gap on
  * `ORDER BY number DESC LIMIT 100` measured in BENCH_r01.
  *
  * Here the bounded heap lives INSIDE the codegen'd loop (consume-side
  * blocking operator, the same protocol as partial `HashAggregateExec`): per
  * row the generated code reads one primitive, maps it to an order-preserving
  * signed long, and compares against the heap root — no row materialization,
  * no iterator, no virtual ordering call. A row is built and copied only when
  * it beats the current k-th best: expected O(k·ln(n/k)) times total,
  * amortized zero. Each partition emits ≤k rows already sorted;
  * [[PrimitiveTopKExec]] merges ≤ partitions·k rows on the driver.
  *
  * Key mapping (order-preserving into signed Long):
  *   long/int/short/byte/date/timestamp → the value itself;
  *   float/double → IEEE-754 sortable bits (`b ^ ((b >> 63) & 0x7fff…)`,
  *   NaN above +Inf, matching Spark's NaN-greatest ordering);
  *   ascending → bitwise NOT (x < y ⟺ ~x > ~y, overflow-free).
  */
case class PrimitiveTopKPartialExec(limit: Int, order: SortOrder, child: SparkPlan)
  extends UnaryExecNode with BlockingOperatorWithCodegen {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = Seq(order)
  override protected def withNewChildInternal(newChild: SparkPlan): PrimitiveTopKPartialExec =
    copy(child = newChild)

  private def keyAttr = order.child.asInstanceOf[Attribute]
  private def keyOrdinal: Int = {
    val i = child.output.indexWhere(_.exprId == keyAttr.exprId)
    require(i >= 0, s"sort key $keyAttr not in child output ${child.output}")
    i
  }
  private def desc: Boolean = order.direction == Descending

  // ---------------------------------------------------------------- iterator
  protected override def doExecute(): RDD[InternalRow] = {
    val k = limit
    val ordinal = keyOrdinal
    val dt = keyAttr.dataType
    val d = desc
    child.execute().mapPartitions { iter =>
      PrimitiveTopK.partitionTopK(iter, k, ordinal, dt, d)
    }
  }

  // ----------------------------------------------------------------- codegen
  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  // Empty, NOT the default `references` (the SortExec convention): with the
  // key in usedInputs, consume() pre-evaluates a deferred key variable
  // OUTSIDE doConsume while row.code (prepareRowVar's copies, prepared
  // before that pre-evaluation) still declares the same generated locals
  // inside — janino rejects the stage ("Redefinition of local variable")
  // and the operator silently drops to interpreted execution. doConsume
  // evaluates exactly what each layout needs, exactly once.
  override def usedInputs: AttributeSet = AttributeSet.empty

  private val rowCls = classOf[UnsafeRow].getName

  /** Key-only shape: the operator's output IS the sort column and nothing
    * else (`SELECT number … ORDER BY number DESC LIMIT k`). No row ever needs
    * to be materialized: candidates live in a primitive long buffer compacted
    * by quickselect, ~3 ops per row in the hot loop even on adversarial
    * (monotonic) input order where a heap would sift full-depth per row. */
  private def keyOnly: Boolean =
    child.output.size == 1 && child.output.head.exprId == keyAttr.exprId

  private var keysTerm: String = _
  private var rowsTerm: String = _
  private var sizeTerm: String = _
  private var insertFn: String = _

  // key-only state
  private var bufTerm: String = _
  private var nTerm: String = _
  private var thrTerm: String = _
  private var compactFn: String = _
  private def bufLen: Int = math.max(4 * limit, 256)

  /** mapped-key computation: `long <mk> = order-preserving(long) of the key` */
  private def mapCode(mk: String, v: String): String = {
    val raw = keyAttr.dataType match {
      case LongType | TimestampType | TimestampNTZType => s"long $mk = $v;"
      case IntegerType | DateType | ShortType | ByteType => s"long $mk = (long) $v;"
      case DoubleType =>
        s"""long $mk = Double.doubleToLongBits($v);
           |$mk = $mk ^ (($mk >> 63) & 0x7fffffffffffffffL);""".stripMargin
      case FloatType =>
        s"""long $mk = Double.doubleToLongBits((double) $v);
           |$mk = $mk ^ (($mk >> 63) & 0x7fffffffffffffffL);""".stripMargin
      case other => throw new IllegalStateException(s"unsupported top-k key type $other")
    }
    if (desc) raw else s"$raw\n$mk = ~$mk;"
  }

  protected override def doProduce(ctx: CodegenContext): String =
    if (keyOnly) doProduceKeyOnly(ctx) else doProduceRows(ctx)

  /** The mapping in [[mapCode]] is an involution after the asc-flip is
    * undone, so the reverse map is the same bit trick. */
  private def doProduceKeyOnly(ctx: CodegenContext): String = {
    val needToProcess = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "topkNeedsInput",
      v => s"$v = true;")
    bufTerm = ctx.addMutableState("long[]", "topkBuf", v => s"$v = new long[$bufLen];")
    nTerm = ctx.addMutableState(CodeGenerator.JAVA_INT, "topkN", v => s"$v = 0;")
    thrTerm = ctx.addMutableState(CodeGenerator.JAVA_LONG, "topkThr",
      v => s"$v = Long.MIN_VALUE;")
    val outIdx = ctx.addMutableState(CodeGenerator.JAVA_INT, "topkOutIdx", v => s"$v = 0;")
    val endIdx = ctx.addMutableState(CodeGenerator.JAVA_INT, "topkEndIdx", v => s"$v = 0;")

    // Buffer compaction: sort, keep the top `limit`, raise the admission
    // threshold to the current k-th best. Amortized O(log bufLen) per
    // accepted key; after the threshold is live, most rows fail the single
    // `>=` compare and never touch the buffer.
    val compact = ctx.freshName("topkCompact")
    compactFn = ctx.addNewFunction(compact,
      s"""
         |private void $compact() {
         |  java.util.Arrays.sort($bufTerm, 0, $nTerm);
         |  int keep = Math.min($limit, $nTerm);
         |  System.arraycopy($bufTerm, $nTerm - keep, $bufTerm, 0, keep);
         |  $nTerm = keep;
         |  if (keep >= $limit) $thrTerm = $bufTerm[0];
         |}
       """.stripMargin)

    val consumeInput = ctx.freshName("topkConsumeInput")
    val consumeInputFn = ctx.addNewFunction(consumeInput,
      s"""
         |private void $consumeInput() throws java.io.IOException {
         |  ${child.asInstanceOf[CodegenSupport].produce(ctx, this)}
         |}
       """.stripMargin)

    val mk = ctx.freshName("topkKey")
    val rawVal = ctx.freshName("topkRaw")
    val unflip = if (desc) "" else s"$mk = ~$mk;"
    val reverse = keyAttr.dataType match {
      case LongType | TimestampType | TimestampNTZType => s"long $rawVal = $mk;"
      case IntegerType | DateType => s"int $rawVal = (int) $mk;"
      case ShortType => s"short $rawVal = (short) $mk;"
      case ByteType => s"byte $rawVal = (byte) $mk;"
      case DoubleType =>
        s"""$mk = $mk ^ (($mk >> 63) & 0x7fffffffffffffffL);
           |double $rawVal = Double.longBitsToDouble($mk);""".stripMargin
      case FloatType =>
        s"""$mk = $mk ^ (($mk >> 63) & 0x7fffffffffffffffL);
           |float $rawVal = (float) Double.longBitsToDouble($mk);""".stripMargin
      case other => throw new IllegalStateException(s"unsupported top-k key type $other")
    }
    ctx.INPUT_ROW = null
    ctx.currentVars = null
    val ev = ExprCode.forNonNullValue(
      org.apache.spark.sql.catalyst.expressions.codegen.JavaCode.variable(
        rawVal, keyAttr.dataType))
    s"""
       |if ($needToProcess) {
       |  $consumeInputFn();
       |  java.util.Arrays.sort($bufTerm, 0, $nTerm);
       |  $outIdx = $nTerm - 1;
       |  $endIdx = Math.max($nTerm - $limit, 0) - 1;
       |  $needToProcess = false;
       |}
       |while ($outIdx > $endIdx) {
       |  long $mk = $bufTerm[$outIdx];
       |  $outIdx--;
       |  $unflip
       |  $reverse
       |  ${consume(ctx, Seq(ev))}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  private def doProduceRows(ctx: CodegenContext): String = {
    val needToProcess = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "topkNeedsInput",
      v => s"$v = true;")
    keysTerm = ctx.addMutableState("long[]", "topkKeys", v => s"$v = new long[$limit];")
    rowsTerm = ctx.addMutableState(s"$rowCls[]", "topkRows", v => s"$v = new $rowCls[$limit];")
    sizeTerm = ctx.addMutableState(CodeGenerator.JAVA_INT, "topkSize", v => s"$v = 0;")
    val outIdx = ctx.addMutableState(CodeGenerator.JAVA_INT, "topkOutIdx", v => s"$v = 0;")

    // Bounded min-heap on the mapped key: root = current k-th best.
    val siftDown = ctx.freshName("topkSiftDown")
    val siftDownFn = ctx.addNewFunction(siftDown,
      s"""
         |private void $siftDown(int size) {
         |  int i = 0;
         |  while (true) {
         |    int l = 2 * i + 1;
         |    if (l >= size) return;
         |    int r = l + 1;
         |    int m = (r < size && $keysTerm[r] < $keysTerm[l]) ? r : l;
         |    if ($keysTerm[i] <= $keysTerm[m]) return;
         |    long tk = $keysTerm[i]; $keysTerm[i] = $keysTerm[m]; $keysTerm[m] = tk;
         |    $rowCls tr = $rowsTerm[i]; $rowsTerm[i] = $rowsTerm[m]; $rowsTerm[m] = tr;
         |    i = m;
         |  }
         |}
       """.stripMargin)

    val insert = ctx.freshName("topkInsert")
    insertFn = ctx.addNewFunction(insert,
      s"""
         |private void $insert(long mk, $rowCls src) {
         |  if ($sizeTerm < $limit) {
         |    int i = $sizeTerm;
         |    $keysTerm[i] = mk; $rowsTerm[i] = src.copy();
         |    $sizeTerm = i + 1;
         |    while (i > 0) {
         |      int parent = (i - 1) >> 1;
         |      if ($keysTerm[parent] <= $keysTerm[i]) break;
         |      long tk = $keysTerm[i]; $keysTerm[i] = $keysTerm[parent]; $keysTerm[parent] = tk;
         |      $rowCls tr = $rowsTerm[i]; $rowsTerm[i] = $rowsTerm[parent]; $rowsTerm[parent] = tr;
         |      i = parent;
         |    }
         |  } else {
         |    // Recycle the evicted root's backing buffer — on adversarial
         |    // input order (monotonic toward the requested direction) EVERY
         |    // row beats the root, and a fresh copy() per row would allocate
         |    // n byte arrays.
         |    $keysTerm[0] = mk; $rowsTerm[0].copyFrom(src);
         |    $siftDownFn($sizeTerm);
         |  }
         |}
       """.stripMargin)

    // Heap-sort drain: pop the min to the tail; index 0 ends up the best →
    // the array reads back in requested order.
    val drain = ctx.freshName("topkDrain")
    val drainFn = ctx.addNewFunction(drain,
      s"""
         |private void $drain() {
         |  int n = $sizeTerm;
         |  while (n > 0) {
         |    long mk = $keysTerm[0]; $rowCls r = $rowsTerm[0];
         |    n--;
         |    $keysTerm[0] = $keysTerm[n]; $rowsTerm[0] = $rowsTerm[n];
         |    $siftDownFn(n);
         |    $keysTerm[n] = mk; $rowsTerm[n] = r;
         |  }
         |}
       """.stripMargin)

    val consumeInput = ctx.freshName("topkConsumeInput")
    val consumeInputFn = ctx.addNewFunction(consumeInput,
      s"""
         |private void $consumeInput() throws java.io.IOException {
         |  ${child.asInstanceOf[CodegenSupport].produce(ctx, this)}
         |}
       """.stripMargin)

    val outputRow = ctx.freshName("topkOutputRow")
    s"""
       |if ($needToProcess) {
       |  $consumeInputFn();
       |  $drainFn();
       |  $needToProcess = false;
       |}
       |while ($outIdx < $sizeTerm) {
       |  $rowCls $outputRow = $rowsTerm[$outIdx];
       |  $outIdx++;
       |  ${consume(ctx, null, outputRow)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    val keyEv = input(keyOrdinal)
    val mk = ctx.freshName("topkMapped")
    val mapped = mapCode(mk, keyEv.value.toString)
    if (keyOnly) {
      // Hot path: read key, map, one compare against the admission threshold.
      // `>=` (not `>`): the first k keys and exact ties at the boundary must
      // be admitted; the initial threshold is Long.MIN_VALUE, which is itself
      // a legal mapped key, hence inclusive.
      s"""
         |${evaluateVariables(input)}
         |$mapped
         |if ($mk >= $thrTerm) {
         |  $bufTerm[$nTerm++] = $mk;
         |  if ($nTerm == $bufLen) $compactFn();
         |}
       """.stripMargin
    } else {
      // Building the UnsafeRow is `row.code` — which also DECLARES every
      // deferred input column: consume()'s prepareRowVar evaluates its own
      // COPIES of the input vars (same generated names), so a blanket
      // evaluateVariables(input) here redeclares the same locals and the
      // stage fails janino compilation ("Redefinition of local variable" —
      // the round-11 bench WARN on the substring shape, silently falling
      // back to interpreted execution). Three layouts, one invariant: no
      // variable is ever declared twice.
      val keyDeferred = keyEv.code.toString.trim.nonEmpty
      val rowDeferred = row.code.toString.trim.nonEmpty
      if (!rowDeferred) {
        // child handed us an already-materialized row (row.code empty):
        // the key var is a row read with its own deferred code — evaluate
        // just the key, compare, insert the row as-is
        s"""
           |${evaluateVariables(Seq(keyEv))}
           |$mapped
           |if ($sizeTerm < $limit || $mk > $keysTerm[0]) {
           |  $insertFn($mk, ($rowCls) ${row.value});
           |}
         """.stripMargin
      } else if (!keyDeferred) {
        // hot path: the key is a pass-through attribute already in scope;
        // the row is BUILT (row.code) only inside the beats branch — per
        // row: read key, map, one compare against the heap root
        s"""
           |$mapped
           |if ($sizeTerm < $limit || $mk > $keysTerm[0]) {
           |  ${row.code}
           |  $insertFn($mk, ($rowCls) ${row.value});
           |}
         """.stripMargin
      } else {
        // the key itself is computed by the child stage (ORDER BY a
        // derived column): row.code declares the key's variable (the
        // copies keep the generated names), so build the row first, then
        // compare — the row build is unconditional here, but that is what
        // the key computation costs anyway
        s"""
           |${row.code}
           |$mapped
           |if ($sizeTerm < $limit || $mk > $keysTerm[0]) {
           |  $insertFn($mk, ($rowCls) ${row.value});
           |}
         """.stripMargin
      }
    }
  }
}

/** Final stage of the primitive top-k: merges the ≤k pre-sorted rows each
  * partition of [[PrimitiveTopKPartialExec]] emitted — ≤ partitions·k rows
  * total, merged on the driver (the same driver-merge `TakeOrderedAndProject`
  * does, minus the per-row generic ordering on the way in). */
case class PrimitiveTopKExec(
    limit: Int,
    order: SortOrder,
    projectList: Option[Seq[NamedExpression]],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    projectList.map(_.map(_.toAttribute)).getOrElse(child.output)
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = Seq(order)
  override protected def withNewChildInternal(newChild: SparkPlan): PrimitiveTopKExec =
    copy(child = newChild)

  private def keyAttr = order.child.asInstanceOf[Attribute]

  override def executeCollect(): Array[InternalRow] = {
    val ordinal = child.output.indexWhere(_.exprId == keyAttr.exprId)
    val mapKey = PrimitiveTopK.keyReader(ordinal, keyAttr.dataType,
      order.direction == Descending)
    // executeCollect (not execute().collect()): whole-stage codegen reuses
    // the output row buffer, so a raw RDD collect would alias every row to
    // the last one emitted per partition.
    val merged = child.executeCollect()
      .sortBy(mapKey)(Ordering[Long].reverse).take(limit)
    projectList match {
      case None => merged
      case Some(plist) =>
        val proj = UnsafeProjection.create(plist, child.output)
        merged.map(r => proj(r).copy(): InternalRow)
    }
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)
  // toLocalIterator at the root (the wire servers): merge on the driver and
  // hand the ≤ limit rows over, without doExecute's re-parallelising job
  override def executeToIterator(): Iterator[InternalRow] = executeCollect().iterator

  protected override def doExecute(): RDD[InternalRow] = {
    // Non-root consumption (e.g. a write above the limit): the merged result
    // is ≤ `limit` rows on the driver — re-distribute as one partition.
    sparkContext.parallelize(executeCollect().toIndexedSeq, 1)
  }
}

private[plans] object PrimitiveTopK {

  /** IEEE-754 bits → signed-long-comparable (sign-magnitude unfolded). */
  @inline private def sortableDoubleBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }

  /** Reader of the MAPPED key: larger mapped value = earlier in the
    * requested order, so top-k is always "keep the k largest mapped". */
  def keyReader(ordinal: Int, dt: DataType, desc: Boolean): InternalRow => Long = {
    val raw: InternalRow => Long = dt match {
      case LongType | TimestampType | TimestampNTZType => r => r.getLong(ordinal)
      case IntegerType | DateType => r => r.getInt(ordinal).toLong
      case ShortType => r => r.getShort(ordinal).toLong
      case ByteType => r => r.getByte(ordinal).toLong
      case DoubleType => r => sortableDoubleBits(r.getDouble(ordinal))
      case FloatType => r => sortableDoubleBits(r.getFloat(ordinal).toDouble)
      case other => throw new IllegalStateException(s"unsupported top-k key type $other")
    }
    if (desc) raw else r => ~raw(r)
  }

  /** Iterator fallback (codegen disabled / unsupported child): bounded
    * min-heap on mapped keys; emits ≤k rows in requested order. Rows are
    * copied only on heap entry. */
  def partitionTopK(
      iter: Iterator[InternalRow], k: Int, ordinal: Int, dt: DataType,
      desc: Boolean): Iterator[InternalRow] = {
    val mapKey = keyReader(ordinal, dt, desc)
    val keys = new Array[Long](k)
    val rows = new Array[InternalRow](k)
    var size = 0

    def siftDown(n: Int): Unit = {
      var i = 0
      while (true) {
        val l = 2 * i + 1
        if (l >= n) return
        val r = l + 1
        val m = if (r < n && keys(r) < keys(l)) r else l
        if (keys(i) <= keys(m)) return
        val tk = keys(i); keys(i) = keys(m); keys(m) = tk
        val tr = rows(i); rows(i) = rows(m); rows(m) = tr
        i = m
      }
    }

    while (iter.hasNext) {
      val row = iter.next()
      val mk = mapKey(row)
      if (size < k) {
        keys(size) = mk; rows(size) = row.copy(); size += 1
        var i = size - 1
        var done = false
        while (i > 0 && !done) {
          val parent = (i - 1) >> 1
          if (keys(parent) <= keys(i)) done = true
          else {
            val tk = keys(i); keys(i) = keys(parent); keys(parent) = tk
            val tr = rows(i); rows(i) = rows(parent); rows(parent) = tr
            i = parent
          }
        }
      } else if (mk > keys(0)) {
        keys(0) = mk
        (rows(0), row) match {
          case (dst: UnsafeRow, src: UnsafeRow) => dst.copyFrom(src)
          case _ => rows(0) = row.copy()
        }
        siftDown(size)
      }
    }

    // Heap-sort drain: array reads back in requested order.
    var n = size
    while (n > 0) {
      val mk = keys(0); val r = rows(0)
      n -= 1
      keys(0) = keys(n); rows(0) = rows(n)
      siftDown(n)
      keys(n) = mk; rows(n) = r
    }
    rows.iterator.take(size)
  }
}

/** Planner strategy: `ORDER BY <single non-nullable primitive attribute>
  * LIMIT k` → [[PrimitiveTopKPartialExec]] (codegen'd per-partition heap)
  * + [[PrimitiveTopKExec]] (driver merge). Injected by [[graft.GraftExtensions]]
  * ahead of the built-in `SpecialLimits`, so it takes the plan only when the
  * narrow fast-path preconditions hold; everything else falls through to
  * `TakeOrderedAndProjectExec` untouched.
  *
  * Nullable keys are excluded on purpose: NULLS FIRST/LAST cannot be encoded
  * into the mapped key without colliding with Long.{Min,Max}Value, and a
  * wrong row at the k-boundary is a correctness bug, not a perf trade.
  */
object TopKStrategy extends SparkStrategy {

  private val MaxK = 1 << 17 // driver merge holds ≤ partitions·k rows

  private def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DateType |
         TimestampType | TimestampNTZType | FloatType | DoubleType => true
    case _ => false
  }

  private def eligible(k: Int, order: Seq[SortOrder], sortChild: LogicalPlan): Boolean =
    k > 0 && k <= MaxK && order.size == 1 && (order.head.child match {
      case a: Attribute =>
        !a.nullable && supported(a.dataType) && sortChild.outputSet.contains(a)
      case _ => false
    })

  private def topK(k: Int, order: SortOrder, plist: Option[Seq[NamedExpression]],
      child: LogicalPlan): SparkPlan =
    PrimitiveTopKExec(k, order, plist,
      PrimitiveTopKPartialExec(k, order, planLater(child)))

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(rootPlan) => apply(rootPlan)
    case Limit(IntegerLiteral(k), Sort(order, true, child, _)) if eligible(k, order, child) =>
      topK(k, order.head, None, child) :: Nil
    case Limit(IntegerLiteral(k), Project(plist, Sort(order, true, child, _)))
        if eligible(k, order, child) && plist.forall(_.deterministic) =>
      topK(k, order.head, Some(plist), child) :: Nil
    case _ => Nil
  }
}
