package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mutable buffer for [[CollectCapped]] — at most cap+1 elements ever. */
final class CollectCappedState(
    val values: scala.collection.mutable.ArrayBuffer[Any])

/** `collect_list` with a hard buffer cap, for group-then-drop-floods
  * shapes: callers that collect a group's members ONLY to discard any
  * group larger than `cap` (LSH bucket pair generation, cross-side
  * candidate buckets) must not build the whole flooded group in one
  * aggregation buffer first — an unsplittable hot bucket (stop-gram key,
  * exact-duplicate texts that refinement cannot separate) would
  * materialize O(bucket) state per task where the query only ever needs
  * O(cap) (r17 ADVICE; guide §5 — per-task state bounds).
  *
  * Semantics: exactly `collect_list` (null inputs skipped, multiset
  * result, arbitrary order) for every group with ≤ cap non-null rows;
  * a larger group yields SOME cap+1 of its elements — size cap+1 is the
  * overflow signal, so the caller's `size(...) <= cap` filter drops
  * exactly the groups the uncapped plan dropped, having buffered only
  * cap+1 elements instead of the whole flood. Update and merge stop
  * copying the moment the buffer is full, so a degenerate bucket costs
  * O(cap) memory AND time per task, not O(bucket).
  */
case class CollectCapped(child: Expression, cap: Int,
    override val mutableAggBufferOffset: Int,
    override val inputAggBufferOffset: Int)
  extends TypedImperativeAggregate[CollectCappedState] with UnaryLike[Expression] {

  require(cap > 0, s"cap must be positive: $cap")
  // cap+1, not cap: the caller distinguishes "exactly cap" (kept) from
  // "more than cap" (dropped) by the result size
  private val limit = cap + 1

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_collect_capped"

  override def createAggregationBuffer(): CollectCappedState =
    new CollectCappedState(scala.collection.mutable.ArrayBuffer.empty[Any])

  override def update(buffer: CollectCappedState, input: InternalRow): CollectCappedState = {
    if (buffer.values.length < limit) {
      val v = child.eval(input)
      if (v != null) buffer.values += InternalRow.copyValue(v)
    }
    buffer
  }

  override def merge(b1: CollectCappedState, b2: CollectCappedState): CollectCappedState = {
    val it = b2.values.iterator
    while (b1.values.length < limit && it.hasNext) b1.values += it.next()
    b1
  }

  override def eval(buffer: CollectCappedState): Any =
    new GenericArrayData(buffer.values.toArray)

  // whole-buffer UnsafeRow framing — ONE projection of the buffer as an
  // array value, the scheme Spark's own Collect aggregates use. The
  // first version framed each element separately (stream + per-element
  // projection + length prefix); on singleton-heavy aggregations (most
  // grams unique — the realistic large-corpus posting distribution)
  // that per-buffer overhead measured ~25% of the whole postings stage
  // (OPTIMIZATION_r18.md §11, 4M singleton groups: 12.8 s vs collect_list's
  // 10.3 s; whole-buffer framing closes the gap).
  @transient private lazy val proj =
    UnsafeProjection.create(Array[DataType](dataType))
  @transient private lazy val row = new UnsafeRow(1)

  override def serialize(buffer: CollectCappedState): Array[Byte] =
    proj(InternalRow(new GenericArrayData(buffer.values.toArray))).getBytes

  override def deserialize(bytes: Array[Byte]): CollectCappedState = {
    row.pointTo(bytes, bytes.length)
    val arr = row.getArray(0)
    val n = arr.numElements()
    val buf = new scala.collection.mutable.ArrayBuffer[Any](n)
    var i = 0
    while (i < n) {
      // copy: the array view aliases `bytes`, and `row` is re-pointed on
      // the next deserialize call
      buf += InternalRow.copyValue(arr.get(i, child.dataType))
      i += 1
    }
    new CollectCappedState(buf)
  }

  override def withNewMutableAggBufferOffset(n: Int): CollectCapped =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CollectCapped =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): CollectCapped =
    copy(child = c)
}

object CollectCapped {
  /** collect_list(c) truncated at cap+1 elements — size > cap means the
    * group overflowed and carries SOME cap+1 of its members; groups with
    * ≤ cap non-null rows collect exactly. */
  def collect(c: Column, cap: Int): Column =
    GraftBridge.column(
      CollectCapped(GraftBridge.expression(c), cap, 0, 0).toAggregateExpression())
}
