package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructField, StructType}

/** Bounded top-k state for [[TopKByF]]: a binary MIN-heap of (score, id)
  * Catalyst values under the rank order — the root is the WORST kept entry,
  * so a better candidate replaces it in O(log k). Never holds more than k
  * entries regardless of group size.
  */
final class TopKHeap(val k: Int, idOrdering: Ordering[Any]) {
  val scores = new Array[Any](k) // boxed Double, or null
  val ids = new Array[Any](k)
  var size = 0

  /** True iff (s1, i1) ranks strictly before (s2, i2) under (score DESC
    * NULLS LAST, id ASC): Spark SQL double semantics for the score
    * (SQLOrderingUtil: -0.0 == 0.0, NaN == NaN, NaN greater than
    * everything), the id type's SQL ordering for the id.
    */
  def better(s1: Any, i1: Any, s2: Any, i2: Any): Boolean = {
    val c =
      if (s1 == null) { if (s2 == null) 0 else -1 }
      else if (s2 == null) 1
      else SQLOrderingUtil.compareDoubles(s1.asInstanceOf[Double], s2.asInstanceOf[Double])
    c > 0 || (c == 0 && idOrdering.lt(i1, i2))
  }

  private def swap(a: Int, b: Int): Unit = {
    val ts = scores(a); val ti = ids(a)
    scores(a) = scores(b); ids(a) = ids(b)
    scores(b) = ts; ids(b) = ti
  }

  private def siftDown(pos0: Int): Unit = {
    var pos = pos0
    while (true) {
      val l = 2 * pos + 1
      val r = l + 1
      var worst = pos
      // parent is WORSE (ranks after) than its children: a child worse
      // than the current slot swaps up
      if (l < size && better(scores(worst), ids(worst), scores(l), ids(l))) worst = l
      if (r < size && better(scores(worst), ids(worst), scores(r), ids(r))) worst = r
      if (worst == pos) return
      swap(pos, worst)
      pos = worst
    }
  }

  /** Offer one entry; the id is copied only if it is kept. */
  def add(score: Any, id: Any): Unit = {
    if (size < k) {
      var pos = size
      scores(pos) = score; ids(pos) = InternalRow.copyValue(id)
      size += 1
      while (pos > 0) { // sift up: parent must be worse-or-equal than child
        val parent = (pos - 1) / 2
        if (better(scores(parent), ids(parent), scores(pos), ids(pos))) {
          swap(pos, parent)
          pos = parent
        } else return
      }
    } else if (k > 0 && better(score, id, scores(0), ids(0))) {
      scores(0) = score; ids(0) = InternalRow.copyValue(id)
      siftDown(0)
    }
  }

  /** Heap slots in rank order — rank = index + 1. */
  def sortedSlots(): Array[Int] =
    Array.range(0, size).sortWith((a, b) => better(scores(a), ids(a), scores(b), ids(b)))
}

/** Bounded per-group top-k aggregate (r18, guide §2.3 "aggregate before
  * you shuffle"): keeps the k best (score, id) pairs and returns them
  * rank-ordered as array<struct<id, score>>, generic over the id type.
  *
  * Semantics — exactly the rows `row_number().over(partitionBy(group)
  * .orderBy(score DESC NULLS LAST, id ASC)) <= k` keeps, in that order,
  * whenever ids are unique within a group (the ANN pipelines' invariant,
  * which makes (score, id) a STRICT total order):
  *   - rows with a NULL id are skipped;
  *   - a NULL score ranks after every non-null score and is returned NULL;
  *   - doubles compare like Spark SQL: -0.0 ties with 0.0, NaN ranks first;
  *   - ties break on the id ascending under the id type's SQL ordering
  *     (`TypeUtils.getInterpretedOrdering` — UTF-8 byte order for strings).
  * The id may be any type `RowOrdering.isOrderable` accepts.
  *
  * Why not the window: even with Spark's WindowGroupLimit partial top-k it
  * LOCALLY SORTS every candidate row (O(n log n) over corpus×queries rows:
  * 34 executor-seconds of q_ann_pq's ADC stage at sf1 were this sort); the
  * aggregate keeps O(groups × k) state, does O(n log k) heap work with
  * map-side partials, and ships only k rows per group per task. Ids are
  * Catalyst values copied with `InternalRow.copyValue`, and the buffer
  * serializes through an `UnsafeProjection` of the result type, as Spark's
  * `aggregate.Collect` does.
  */
case class TopKByF(left: Expression, right: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKHeap] with BinaryLike[Expression] {
  require(k > 0 && k < 10000000, s"bad k $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && RowOrdering.isOrderable(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"top_k_by requires (double score, orderable id), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", right.dataType, nullable = false),
      StructField("score", DoubleType, nullable = true))),
    containsNull = false)
  override def nullable: Boolean = false

  @transient private lazy val idOrdering = TypeUtils.getInterpretedOrdering(right.dataType)
  @transient private lazy val projection = UnsafeProjection.create(Array[DataType](dataType))

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k, idOrdering)

  override def update(b: TopKHeap, input: InternalRow): TopKHeap = {
    val id = right.eval(input)
    if (id != null) b.add(left.eval(input), id)
    b
  }

  override def merge(b: TopKHeap, other: TopKHeap): TopKHeap = {
    var i = 0
    while (i < other.size) { b.add(other.scores(i), other.ids(i)); i += 1 }
    b
  }

  override def eval(b: TopKHeap): Any =
    new GenericArrayData(b.sortedSlots().map(i =>
      new GenericInternalRow(Array[Any](b.ids(i), b.scores(i)))))

  override def serialize(b: TopKHeap): Array[Byte] =
    projection(InternalRow(eval(b))).getBytes

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val h = createAggregationBuffer()
    val entries = row.getArray(0)
    var i = 0
    while (i < entries.numElements()) {
      val e = entries.getStruct(i, 2)
      h.add(if (e.isNullAt(1)) null else e.getDouble(1), e.get(0, right.dataType))
      i += 1
    }
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByF =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByF =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKByF =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "top_k_by"
}
