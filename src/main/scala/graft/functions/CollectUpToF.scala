package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Growable buffer of Catalyst values that STOPS accepting at `limit`
  * elements — the bounded state of [[BoundedCollect]].
  */
final class UpTo(val limit: Int) {
  var data = new Array[Any](math.min(8, limit))
  var used = 0
  def full: Boolean = used >= limit
  def add(v: Any): Unit = if (!full) {
    if (used == data.length)
      data = Array.copyOf(data, math.min(limit.toLong, data.length * 2L).toInt)
    data(used) = v
    used += 1
  }
}

/** Cap-bounded collect over Catalyst values, generic over the element type
  * the way Spark's own `collect_list` (`aggregate.Collect`) is: elements are
  * copied out of the input row with `InternalRow.copyValue` and the buffer
  * serializes through an `UnsafeProjection` of the result type. A group with
  * MORE than `cap` non-null elements keeps exactly `cap + 1` (enough to
  * prove overflow) and no more, so per-key state is hard-bounded however hot
  * the key; a group that kept ≤ cap is COMPLETE by construction.
  *
  * Output order is partial-arrival order and deliberately NOT relied upon
  * by callers (postings are consumed as sets: exploded for counting,
  * pair-expanded with an a < b filter).
  */
abstract class BoundedCollect extends TypedImperativeAggregate[UpTo] {
  def cap: Int
  protected def elementType: DataType
  /** The (copied) element one input row contributes; null skips the row. */
  protected def element(input: InternalRow): Any

  override def dataType: DataType = ArrayType(elementType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): UpTo = new UpTo(cap + 1)

  override def update(b: UpTo, input: InternalRow): UpTo = {
    if (!b.full) {
      val e = element(input)
      if (e != null) b.add(e)
    }
    b
  }

  override def merge(b: UpTo, other: UpTo): UpTo = {
    var i = 0
    while (i < other.used && !b.full) { b.add(other.data(i)); i += 1 }
    b
  }

  override def eval(b: UpTo): Any = new GenericArrayData(Array.copyOf(b.data, b.used))

  @transient private lazy val projection = UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(b: UpTo): Array[Byte] =
    projection(InternalRow(eval(b))).getBytes

  override def deserialize(bytes: Array[Byte]): UpTo = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val b = createAggregationBuffer()
    row.getArray(0).foreach(elementType, (_, e) => b.add(e))
    b
  }
}

/** Bounded collect of one column: the group's non-null values, stopping at
  * `cap + 1`. This is what makes the single-pass inverted-index design in
  * [[graft.operators.Dedup.ngramJaccardPairs]] safe at corpus scale: a
  * boilerplate shingle with df = 10⁹ holds cap + 1 ids of state (then gets
  * dropped by the df cap), where `collect_list` would hold 10⁹. Accepts any
  * orderable element type (the ids callers pair with `a < b`).
  */
case class CollectUpToF(child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends BoundedCollect with UnaryLike[Expression] {
  require(cap >= 0 && cap < Int.MaxValue - 1, s"bad cap $cap")

  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrdering.isOrderable(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"collect_up_to requires an orderable type, got ${child.dataType}")

  override protected def elementType: DataType = child.dataType
  override protected def element(input: InternalRow): Any =
    InternalRow.copyValue(child.eval(input))

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectUpToF =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectUpToF =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CollectUpToF =
    copy(child = newChild)
  override def prettyName: String = "collect_up_to"
}
