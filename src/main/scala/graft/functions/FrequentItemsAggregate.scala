package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.ByteBuffer
import scala.collection.mutable

/** Misra-Gries heavy-hitters summary as a TypedImperativeAggregate: a
  * bounded map of at most `k` (item, counter) entries per aggregation
  * buffer, so a global frequency sketch over an arbitrarily large token
  * stream shuffles at most k entries per partition — never the vocabulary.
  *
  * Guarantee (Misra & Gries 1982; merge rule per Agarwal et al.,
  * "Mergeable Summaries", PODS 2012): after summarizing n items, every item
  * with true count > n/(k+1) is present in the summary, and each kept
  * counter underestimates the true count by at most n/(k+1). That makes the
  * summary a guaranteed SUPERSET of the true heavy hitters — the scale
  * recipe for top-N tokens over 100 TB is sketch → candidate set (≤ k,
  * broadcastable) → one exact recount restricted to candidates, which is
  * what q53_heavy_hitters does end to end.
  *
  * Counters are NOT exact in general (decrements lose mass), so eval()
  * returns the candidate items with their lower-bound estimates, ordered
  * estimate DESC then item ASC for determinism.
  */
case class FrequentItemsSketch(child: Expression, k: Int,
                               mutableAggBufferOffset: Int = 0,
                               inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]] {

  require(k >= 1, s"k out of range: $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("est_count", LongType))))

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty[UTF8String, Long]

  /** The classic Misra-Gries step: increment a tracked item, start
    * tracking under capacity, otherwise decrement everything (dropping
    * zeros) — each decrement discards k+1 distinct occurrences, which is
    * where the n/(k+1) error bound comes from. */
  override def update(m: mutable.HashMap[UTF8String, Long], input: InternalRow)
      : mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String]
      m.get(item) match {
        case Some(c) => m.update(item, c + 1)
        // clone: eval may return a buffer-backed UTF8String that the next
        // row overwrites; only a newly TRACKED key needs the copy
        case None if m.size < k => m.update(item.clone(), 1L)
        case None =>
          val dead = m.iterator.filter(_._2 == 1L).map(_._1).toList
          m.mapValuesInPlace((_, c) => c - 1)
          dead.foreach(m.remove)
      }
    }
    m
  }

  /** Mergeable-summaries rule: add counters pointwise, then if more than k
    * survive, subtract the (k+1)-th largest combined counter from all and
    * drop the non-positive — the result has ≤ k entries and keeps the
    * n/(k+1) bound over the COMBINED stream. */
  override def merge(a: mutable.HashMap[UTF8String, Long],
                     b: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    b.foreach { case (item, c) => a.update(item, a.getOrElse(item, 0L) + c) }
    if (a.size > k) {
      val cut = a.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      val dead = a.iterator.filter(_._2 <= cut).map(_._1).toArray
      a.mapValuesInPlace((_, c) => c - cut)
      dead.foreach(a.remove)
    }
    a
  }

  override def eval(m: mutable.HashMap[UTF8String, Long]): Any = {
    val sorted = m.toArray.sortWith { case ((ia, ca), (ib, cb)) =>
      ca > cb || (ca == cb && ia.compareTo(ib) < 0)
    }
    new GenericArrayData(sorted.map { case (i, c) => InternalRow(i.clone(), c) })
  }

  override def serialize(m: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val items = m.toArray
    val size = 4 + items.map { case (i, _) => 4 + i.numBytes + 8 }.sum
    val buf = ByteBuffer.allocate(size)
    buf.putInt(items.length)
    items.foreach { case (i, c) =>
      val bytes = i.getBytes
      buf.putInt(bytes.length); buf.put(bytes); buf.putLong(c)
    }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val m = createAggregationBuffer()
    (0 until n).foreach { _ =>
      val len = buf.getInt
      val b = new Array[Byte](len)
      buf.get(b)
      m.update(UTF8String.fromBytes(b), buf.getLong)
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FrequentItemsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FrequentItemsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FrequentItemsSketch =
    copy(child = newChildren(0))
}

object FrequentItemsSketch {
  /** `frequentItems(item, k)` → array<struct<item,est_count>>, estimate-desc. */
  def frequentItems(item: Column, k: Int): Column =
    ColumnBridge.column(
      FrequentItemsSketch(ColumnBridge.expression(item), k).toAggregateExpression())
}
