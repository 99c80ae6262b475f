package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Elementwise sum of `array<long>` rows — the vector-accumulation UDAF
  * behind centroid updates ([[graft.ext.Similarity.kmeansFit]]) and any
  * "mean embedding per group" rollup.
  *
  * Long addition is associative and commutative, so partial buffers merge in
  * any order and any partitioning — the result is partition-invariant (the
  * property double-sum vector means would NOT have; quantize first, then
  * aggregate). Buffer state is one long array (native `ExpressionEncoder`,
  * not kryo) of the vector's dimension, independent of group size — the
  * map-side partial for a billion-row group is still `dim` longs, so the
  * shuffle carries `groups × dim` longs regardless of data size.
  *
  * Null/empty rows are ignored; mixed dimensions are a hard error (silent
  * truncation would corrupt a centroid). An empty group yields an empty
  * array (callers decide the fallback — kmeans keeps the prior centroid).
  */
object VecSumAggregator extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {

  override def zero: Array[Long] = Array.emptyLongArray

  private def add(b: Array[Long], a: Seq[Long]): Array[Long] =
    if (a == null || a.isEmpty) b
    else if (b.length == 0) a.toArray
    else {
      require(b.length == a.length,
        s"vec_sum: mixed dimensions ${b.length} vs ${a.length}")
      var i = 0
      while (i < b.length) { b(i) = Math.addExact(b(i), a(i)); i += 1 }
      b
    }

  override def reduce(b: Array[Long], a: Seq[Long]): Array[Long] = add(b, a)

  override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
    add(x, y.toSeq)

  override def finish(r: Array[Long]): Seq[Long] = r.toSeq

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()

  /** `vec_sum(col)` as a DataFrame aggregation column. */
  def sum(c: Column): Column = udaf(this).apply(c)
}
