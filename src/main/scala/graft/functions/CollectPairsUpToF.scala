package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RowOrdering}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Bounded PAIRED collect — the (key, value) sibling of [[CollectUpToF]]:
  * gathers the group's (left, right) pairs into an array<struct<k, v>>,
  * stopping at `cap + 1` entries, so per-key aggregation state is
  * hard-bounded however hot the key. A group that kept ≤ cap entries is
  * COMPLETE by construction — the property the TF-IDF postings design
  * relies on: a term whose document-frequency survives the df cap carries
  * its full (doc, tf) postings list; an overflowed list proves df > cap and
  * is dropped. `k` is any orderable type (a document id), `v` a bigint; a
  * row with either side null is skipped.
  */
case class CollectPairsUpToF(left: Expression, right: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends BoundedCollect with BinaryLike[Expression] {
  require(cap >= 0 && cap < (Int.MaxValue / 2) - 1, s"bad cap $cap")

  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrdering.isOrderable(left.dataType) && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"collect_pairs_up_to requires (orderable, bigint), got (${left.dataType}, ${right.dataType})")

  override protected def elementType: DataType = StructType(Seq(
    StructField("k", left.dataType, nullable = false),
    StructField("v", LongType, nullable = false)))

  override protected def element(input: InternalRow): Any = {
    val k = left.eval(input)
    if (k == null) null
    else {
      val v = right.eval(input)
      if (v == null) null
      else new GenericInternalRow(Array[Any](InternalRow.copyValue(k), v))
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectPairsUpToF =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectPairsUpToF =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CollectPairsUpToF =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "collect_pairs_up_to"
}
