package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Custom-UDAF extension-point exemplar: the reference's `uniq` semantics
  * (exact distinct count via a hash-set state —
  * common/functions/src/aggregates/aggregate_combinator_distinct.rs:34-120)
  * re-expressed as a Spark `Aggregator[IN, BUF, OUT]`.
  *
  * This mirrors the reference's `AggregateFunction` trait shape
  * (aggregate_function.rs:18-56) point for point:
  *   - `zero`           ≈ `allocate_state`
  *   - `reduce`         ≈ `accumulate_row`
  *   - `merge`          ≈ `merge` (states shuffle between partial and final —
  *                        Spark serializes the buffer with the given encoder,
  *                        exactly like the reference's serialize/deserialize
  *                        of the HashSet state into a binary column)
  *   - `finish`         ≈ `merge_result`
  *
  * For production use prefer `count_distinct` (Spark plans exact distinct as
  * a two-phase expand+agg without materializing per-group sets) or
  * `approx_count_distinct` (HLL sketch, constant state) — this class exists
  * to prove and test the custom-UDAF surface, registered as SQL
  * `uniq_exact_state(x)`.
  */
object UniqExactAggregator extends Aggregator[Long, Set[Long], Long] {
  override def zero: Set[Long] = Set.empty[Long]
  override def reduce(b: Set[Long], a: Long): Set[Long] = b + a
  override def merge(b1: Set[Long], b2: Set[Long]): Set[Long] = b1 | b2
  override def finish(r: Set[Long]): Long = r.size.toLong
  override def bufferEncoder: Encoder[Set[Long]] = Encoders.kryo[Set[Long]]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong

  /** Typed-column form for Dataset aggregation. */
  def column: Column = udaf(this).apply(org.apache.spark.sql.functions.col("value"))
}
