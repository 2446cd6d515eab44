package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, BoundReference, GenericInternalRow, RowOrdering, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Properties}

import graft.functions.TopKRowsBuffer

/** JVM-level property suite for the bounded-heap buffer behind
  * [[graft.functions.TopKRows]] — the
  * partial-aggregation path the SQL specs can't stress: arbitrary data
  * with heavy ties, arbitrary partition splits, arbitrary merge orders.
  * No Spark session needed (catalyst codegen is session-free), so
  * hundreds of cases run in seconds.
  */
object TopKProps extends Properties("TopKBuffers") {

  private val pairSchema = StructType(Seq(
    StructField("k", StructType(Seq(StructField("v", LongType, nullable = false))),
      nullable = false),
    StructField("p", StructType(Seq(StructField("id", LongType, nullable = false))),
      nullable = false)))
  private val proj = UnsafeProjection.create(pairSchema)
  private val ord = RowOrdering.create(
    Seq(SortOrder(BoundReference(0, LongType, nullable = false), Ascending)), Nil)

  private def pair(key: Long, id: Long): UnsafeRow =
    proj(new GenericInternalRow(Array[Any](
      new GenericInternalRow(Array[Any](key)),
      new GenericInternalRow(Array[Any](id))))).copy()

  private def keyOf(r: UnsafeRow): Long = r.getStruct(0, 1).getLong(0)
  private def idOf(r: UnsafeRow): Long = r.getStruct(1, 1).getLong(0)

  // (key, uniqueId) pairs with a tiny key domain → dense ties
  private val genData: Gen[List[(Long, Long)]] =
    Gen.listOf(Gen.choose(0L, 6L)).map(_.zipWithIndex.map { case (k, i) => (k, i.toLong) })
  private val genK: Gen[Int] = Gen.choose(1, 5)
  // split positions + merge order seed
  private val genCase: Gen[(List[(Long, Long)], Int, Long)] = for {
    xs <- genData; k <- genK; seed <- Gen.choose(Long.MinValue, Long.MaxValue)
  } yield (xs, k, seed)

  private def splitMergeTopK(
      xs: List[(Long, Long)], k: Int, seed: Long): TopKRowsBuffer = {
    val rnd = new scala.util.Random(seed)
    val parts = xs.grouped(math.max(1, if (xs.isEmpty) 1 else rnd.nextInt(xs.size) + 1))
      .toSeq.map { slice =>
        val b = new TopKRowsBuffer(k, 1, 1, ord)
        slice.foreach { case (key, id) => b.add(pair(key, id)) }
        b
      }
    val shuffled = rnd.shuffle(parts)
    val acc = new TopKRowsBuffer(k, 1, 1, ord)
    shuffled.foreach(acc.addAll)
    acc
  }

  property("row_number mode: any partition split + merge order gives the sorted first-k keys") =
    Prop.forAll(genCase) { case (xs, k, seed) =>
      val got = splitMergeTopK(xs, k, seed).sortedTop().toSeq.map(keyOf)
      got == xs.map(_._1).sorted.take(k)
    }

  property("row_number mode: emitted rows are genuine input pairs, no duplicates") =
    Prop.forAll(genCase) { case (xs, k, seed) =>
      val got = splitMergeTopK(xs, k, seed).sortedTop().toSeq.map(r => (keyOf(r), idOf(r)))
      got.distinct == got && got.forall(xs.contains)
    }
}
