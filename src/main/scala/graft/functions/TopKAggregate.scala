package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import java.nio.ByteBuffer
import scala.collection.mutable

/** Bounded top-k aggregate over (score, id) pairs: a TypedImperativeAggregate
  * whose state is a size-k heap, so the map side of a groupBy keeps AT MOST k
  * candidates per group per partition and the shuffle moves k·|groups| rows —
  * not the full |queries|×|corpus| pair set a window row_number sorts.
  * This is the aggregation shape that makes brute-force similarity top-k
  * viable at 100 TB (SURVEY §2.8 J2 at scale).
  *
  * Ordering: score DESC, id ASC — identical to the window form
  * (`orderBy(sim.desc, neighbor_id)`), so results stay oracle-identical.
  * Output: array<struct<score double, id long>> sorted best-first.
  */
case class TopKByScore(scoreExpr: Expression, idExpr: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))))

  /** Total order via java.lang.Double.compare — NaN ranks ABOVE every other
    * score, matching how Spark's window sort and DuckDB order doubles, and
    * keeping the heap's strict-weak-ordering contract intact when NaN
    * scores (e.g. cosine of a zero vector) appear. */
  private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  /** Min-heap: the root is the WORST kept entry, so a better candidate
    * replaces it in O(log k). */
  private def ord: Ordering[(Double, Long)] =
    (x: (Double, Long), y: (Double, Long)) =>
      if (better(x, y)) -1 else if (better(y, x)) 1 else 0

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty[(Double, Long)](ord)

  private def add(heap: mutable.PriorityQueue[(Double, Long)], e: (Double, Long)): Unit = {
    if (heap.size < k) heap.enqueue(e)
    else if (better(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
  }

  override def update(heap: mutable.PriorityQueue[(Double, Long)], input: InternalRow)
      : mutable.PriorityQueue[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null) add(heap, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    heap
  }

  override def merge(a: mutable.PriorityQueue[(Double, Long)],
                     b: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    b.foreach(add(a, _)); a
  }

  override def eval(heap: mutable.PriorityQueue[(Double, Long)]): Any = {
    val sorted = heap.toArray.sortWith(better)
    new GenericArrayData(sorted.map { case (s, i) => InternalRow(s, i) })
  }

  override def serialize(heap: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + heap.size * 16)
    buf.putInt(heap.size)
    heap.foreach { case (s, i) => buf.putDouble(s); buf.putLong(i) }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val heap = createAggregationBuffer()
    (0 until n).foreach(_ => heap.enqueue((buf.getDouble, buf.getLong)))
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

object TopKByScore {
  /** `topK(score, id, k)` → array<struct<score,id>> best-first. */
  def topK(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKByScore(ColumnBridge.expression(score), ColumnBridge.expression(id), k)
        .toAggregateExpression())
}
