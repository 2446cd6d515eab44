package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{
  BaseOrdering, BoundReference, Expression, Literal, NullOrdering, RowOrdering,
  SortDirection, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StructType}

/** Generalized bounded per-group top-k: keeps the `k` FIRST rows of each
  * group under the given sort order — any orderable sort key, any payload
  * row — and returns them as an ordered `array<struct<…payload…>>`.
  *
  * It is the one top-k kernel: [[graft.operators.TopK]] and
  * [[graft.plans.WindowTopKRewrite]] (which replaces an arbitrary
  * `row_number() <= k` window with an aggregation) both run on it. The
  * payload carries the WHOLE input row, so the rewrite can reconstruct
  * every downstream column. It partial-aggregates under
  * ObjectHashAggregate, so each map task reduces its slice of a group to
  * ≤ k rows before the exchange, instead of shuffling and sorting every
  * row the way the window form does.
  *
  * `kExpr` must be a positive integer literal.
  *
  * `sortKey` and `payload` must be struct expressions; `dirs`/`nullOrds`
  * give the per-sort-column direction exactly as in the window's ORDER BY.
  * Rows are kept ASCENDING in that order (the window's first-k), ties
  * broken by arrival order — the same arbitrary-under-ties semantics as
  * `row_number` itself. Not SQL-registered: the rewrite and the Scala API
  * construct it programmatically.
  */
case class TopKRows(
    sortKey: Expression,
    payload: Expression,
    kExpr: Expression,
    dirs: Seq[SortDirection],
    nullOrds: Seq[NullOrdering],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKRowsBuffer]
  with TernaryLike[Expression] {

  private lazy val k: Int = kExpr match {
    case Literal(v: Int, IntegerType) if v > 0 => v
    case _ => throw new IllegalArgumentException(
      s"$prettyName requires a positive integer literal k, got $kExpr")
  }

  private def keyType: StructType = sortKey.dataType.asInstanceOf[StructType]
  private def payloadType: StructType = payload.dataType.asInstanceOf[StructType]

  override def first: Expression = sortKey
  override def second: Expression = payload
  override def third: Expression = kExpr

  override def checkInputDataTypes(): TypeCheckResult = sortKey.dataType match {
    case s: StructType if s.fields.map(_.dataType).forall(RowOrdering.isOrderable) =>
      if (!payload.dataType.isInstanceOf[StructType])
        TypeCheckResult.TypeCheckFailure(s"$prettyName needs a struct payload")
      else if (s.length != dirs.length || s.length != nullOrds.length)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: ${s.length} sort columns but ${dirs.length} directions")
      else if (kExpr.dataType != IntegerType)
        TypeCheckResult.TypeCheckFailure(s"$prettyName needs an integer k")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an orderable struct sort key, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(payloadType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_top_k_rows"

  // runtime helpers — built lazily on the BOUND instance (the physical
  // operator binds children before the first update call)
  @transient private lazy val pairProj =
    UnsafeProjection.create(Seq(sortKey, payload))
  @transient private lazy val ordering: BaseOrdering = {
    val bound = keyType.fields.zipWithIndex.map { case (f, i) =>
      SortOrder(BoundReference(i, f.dataType, f.nullable), dirs(i), nullOrds(i), Seq.empty)
    }
    RowOrdering.create(bound.toIndexedSeq, Nil)
  }

  override def createAggregationBuffer(): TopKRowsBuffer =
    new TopKRowsBuffer(k, keyType.length, payloadType.length, ordering)

  override def update(buffer: TopKRowsBuffer, input: InternalRow): TopKRowsBuffer = {
    buffer.add(pairProj(input))
    buffer
  }

  override def merge(buffer: TopKRowsBuffer, other: TopKRowsBuffer): TopKRowsBuffer = {
    buffer.addAll(other)
    buffer
  }

  override def eval(buffer: TopKRowsBuffer): Any =
    new GenericArrayData(buffer.sortedTop().map(_.getStruct(1, payloadType.length)))

  override def serialize(buffer: TopKRowsBuffer): Array[Byte] = {
    val top = buffer.sortedTop()
    val bytes = top.map(_.getBytes)
    val bb = ByteBuffer.allocate(4 + bytes.map(_.length + 4).sum)
    bb.putInt(top.length)
    bytes.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKRowsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var j = 0
    while (j < n) {
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      val row = new UnsafeRow(2)
      row.pointTo(arr, len)
      buf.addOwned(row)
      j += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRows =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRows =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): TopKRows =
    copy(sortKey = newFirst, payload = newSecond, kExpr = newThird)
}

/** Bounded store of (key, payload) UnsafeRows; compaction sorts by the
  * window order (ascending, stable — arrival order breaks ties like
  * `row_number`) and truncates to k. Entries are whole-row byte copies,
  * so held rows never alias a projection buffer.
  */
final class TopKRowsBuffer(
    k: Int, keyFields: Int, payloadFields: Int, ordering: BaseOrdering) {
  private val rows = new Array[UnsafeRow](math.max(math.min(4L * k, Int.MaxValue - 8L), 16L).toInt)
  private var n = 0
  private var floor: UnsafeRow = null // kth kept key, once k entries exist

  private def keyOf(row: UnsafeRow): InternalRow = row.getStruct(0, keyFields)

  /** Add a candidate from a REUSED projection buffer (copied on accept). */
  def add(candidate: UnsafeRow): Unit = {
    if (floor != null && ordering.compare(keyOf(candidate), keyOf(floor)) >= 0) return
    if (n == rows.length) compact()
    rows(n) = candidate.copy()
    n += 1
  }

  /** Add a row this buffer may keep without copying (deserialize path). */
  def addOwned(candidate: UnsafeRow): Unit = {
    if (floor != null && ordering.compare(keyOf(candidate), keyOf(floor)) >= 0) return
    if (n == rows.length) compact()
    rows(n) = candidate
    n += 1
  }

  def addAll(other: TopKRowsBuffer): Unit = {
    var j = 0
    while (j < other.n) { addOwned(other.rows(j)); j += 1 }
  }

  /** Sort and truncate to the first k; the array is longer than k, so
    * this always frees room.
    */
  private def compact(): Unit = {
    val top = sortedTop()
    java.util.Arrays.fill(rows.asInstanceOf[Array[AnyRef]], null)
    top.copyToArray(rows)
    n = top.length
    if (n == k) floor = rows(n - 1)
  }

  /** Final ascending-by-window-order first-k. */
  def sortedTop(): Array[UnsafeRow] = {
    val present = java.util.Arrays.copyOfRange(rows, 0, n)
    // TimSort on objects is stable: equal keys stay in arrival order
    java.util.Arrays.sort(present, new java.util.Comparator[UnsafeRow] {
      override def compare(a: UnsafeRow, b: UnsafeRow): Int =
        ordering.compare(keyOf(a), keyOf(b))
    })
    java.util.Arrays.copyOfRange(present, 0, math.min(n, k))
  }
}
