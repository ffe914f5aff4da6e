package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** ALL of a row's squared-L2 centroid distances in ONE kernel call, SORTED
  * by (dist, cid) — the [[IntSignBandKeysExpr]] economics applied to the
  * integer k-means family (q170/q171/q172/q195/q202/q222): element 1 is the
  * assignment (what `array_min` over the per-centroid struct stack
  * computed), the first `nProbe` elements are the probe list (what
  * `slice(array_sort(...), 1, nProbe)` computed), element 2 is the
  * second-nearest cell (q195's `b2`).
  *
  * dist = Σ qv² − 2·Σ qv·c + Σ c², the exact integer arithmetic of the
  * `LongDotExpr` stack it replaces (order-free adds — bit-equal), with
  * Σ c² precomputed per centroid at CONSTRUCTION (driver-side, the same
  * `cdims.map(c => c*c).sum` the literal form folded). Why a kernel: the
  * composable form inlined k 64-long centroid literals per REFERENCE (512
  * literal nodes each) that Catalyst re-analyzed per evaluation — driver
  * plan time, not executor work.
  *
  * Degenerate-input contract (matching the composable form): a NULL qv, a
  * length ≠ dims qv, or any NULL element made every per-centroid dot NULL,
  * so every struct's dist is NULL and the struct order is cid-ascending
  * (Spark struct ordering compares dist NULLS FIRST, then cid; centroid
  * ids are REQUIRED strictly increasing, so emitting construction order IS
  * that order). A mixed null/non-null dist row cannot exist — all dists
  * share the one input vector.
  */
case class IntCentroidDistsExpr(child: Expression, cents: Array[Long],
                                cids: Array[Long], dims: Int)
    extends UnaryExpression {

  require(dims >= 1, s"dims out of range: $dims")
  require(cids.nonEmpty && cents.length == cids.length * dims,
    s"centroid matrix length ${cents.length} != ${cids.length}*$dims")
  require(cids.toSeq == cids.toSeq.sorted && cids.distinct.length == cids.length,
    s"centroid ids must be strictly increasing, got ${cids.toSeq}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_int_centroid_dists requires ARRAY<BIGINT>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("dist", LongType, nullable = true),
    StructField("cid", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    IntCentroidDists.dists(if (v == null) null else v.asInstanceOf[ArrayData],
      cents, cids, dims)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("centroids", cents, "long[]")
    val cidsRef = ctx.addReferenceObj("centroidIds", cids, "long[]")
    val childGen = child.genCode(ctx)
    val resultCode =
      code"""
         |${childGen.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  graft.functions.IntCentroidDists.dists(
         |    ${childGen.isNull} ? null : ${childGen.value},
         |    $centsRef, $cidsRef, $dims);
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): IntCentroidDistsExpr =
    copy(child = newChild)
}

object IntCentroidDists {

  /** (dist, cid) structs for one vector, sorted (dist asc, cid asc);
    * null-dist cid-ascending structs for degenerate inputs (see the
    * expression scaladoc for the contract). */
  def dists(qv: ArrayData, cents: Array[Long], cids: Array[Long],
            dims: Int): ArrayData = {
    val k = cids.length
    val out = new Array[Any](k)
    val degenerate =
      qv == null || qv.numElements() != dims || ArrayChecks.hasNullElement(qv, dims)
    if (degenerate) {
      var c = 0
      while (c < k) {
        out(c) = new GenericInternalRow(Array[Any](null, cids(c)))
        c += 1
      }
    } else {
      var xx = 0L
      var j = 0
      while (j < dims) { val x = qv.getLong(j); xx += x * x; j += 1 }
      val ds = new Array[Long](k)
      var c = 0
      while (c < k) {
        val base = c * dims
        var dot = 0L
        var cc = 0L
        j = 0
        while (j < dims) {
          val cv = cents(base + j)
          dot += qv.getLong(j) * cv
          cc += cv * cv
          j += 1
        }
        ds(c) = xx - 2L * dot + cc
        c += 1
      }
      // sort centroid indices by (dist, cid); cids are strictly increasing,
      // so index order IS cid order for equal dists
      val idx = (0 until k).sortBy(ds(_))
      c = 0
      while (c < k) {
        val i = idx(c)
        out(c) = new GenericInternalRow(Array[Any](ds(i), cids(i)))
        c += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Sorted (dist, cid) array for `vec` against the centroid set. */
  def sortedDists(vec: Column, cents: Seq[(Long, Array[Long])], dims: Int): Column =
    ColumnBridge.column(IntCentroidDistsExpr(
      ColumnBridge.expression(vec),
      cents.flatMap(_._2).toArray, cents.map(_._1).toArray, dims))
}
