package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** ALL of a row's INTEGER-plane sign-LSH band keys in ONE kernel call — the
  * [[SignBandKeysExpr]] economics applied to the literal-integer-plane
  * audits (q166 / q202 / q207): bit `i` of band `b` is set iff
  * Σ_d qv[d] · plane[(b·bitsPerBand + i)·dims + d] ≥ 0, exactly the
  * arithmetic of the `when(LongDotExpr(qv, typedlit(plane)) >= 0, 1<<i)`
  * expression stack this replaces (integer adds are order-free, so the
  * fused loop is trivially bit-equal; the DuckDB mirrors keep their
  * generated per-plane literal SQL).
  *
  * Why a kernel: the composable form INLINED every plane as a 64-long
  * array literal — 128 planes × 64 longs ≈ 8k literal nodes for q207's two
  * captures — and Catalyst re-analyzes/re-optimizes that tree on every
  * evaluation (twice when the banding subtree feeds both sides of the
  * bucket self-join). Measured: q207 ran 4 Spark stages yet cost ~2.9 s —
  * nearly all DRIVER plan time. The kernel carries the plane matrix as ONE
  * plan reference object, so planning is O(1) in the probe count; the
  * executor-side arithmetic is unchanged.
  *
  * Degenerate-input contract (matching the composable form): a NULL qv, a
  * length ≠ dims qv, or any NULL element made every per-plane dot NULL,
  * which `when(NULL >= 0, bit)` scored as 0 — so such rows key to ALL-ZERO
  * keys in every band, never to NULL. NOTE the ≥ 0 sign convention (the
  * integer audits' published SQL), vs the float kernel's > 0.
  */
case class IntSignBandKeysExpr(child: Expression, planes: Array[Long], dims: Int,
                               numBands: Int, bitsPerBand: Int)
    extends UnaryExpression {

  require(dims >= 1, s"dims out of range: $dims")
  require(numBands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 56,
    s"bad banding: $numBands x $bitsPerBand")
  require(planes.length == numBands * bitsPerBand * dims,
    s"plane matrix length ${planes.length} != $numBands*$bitsPerBand*$dims")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_int_sign_band_keys requires ARRAY<BIGINT>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    IntSignBandKeys.keys(if (v == null) null else v.asInstanceOf[ArrayData],
      planes, dims, numBands, bitsPerBand)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("intSignPlanes", planes, "long[]")
    val childGen = child.genCode(ctx)
    val resultCode =
      code"""
         |${childGen.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  graft.functions.IntSignBandKeys.keys(
         |    ${childGen.isNull} ? null : ${childGen.value},
         |    $planesRef, $dims, $numBands, $bitsPerBand);
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): IntSignBandKeysExpr =
    copy(child = newChild)
}

object IntSignBandKeys {

  /** numBands packed sign keys for one quantized vector; all-zero keys for
    * degenerate inputs (see the expression scaladoc for the contract). */
  def keys(qv: ArrayData, planes: Array[Long], dims: Int,
           numBands: Int, bitsPerBand: Int): ArrayData = {
    val out = new Array[Long](numBands)
    if (qv != null && qv.numElements() == dims && !ArrayChecks.hasNullElement(qv, dims)) {
      var b = 0
      while (b < numBands) {
        var key = 0L
        var i = 0
        while (i < bitsPerBand) {
          val base = (b * bitsPerBand + i) * dims
          var dot = 0L
          var j = 0
          while (j < dims) {
            dot += qv.getLong(j) * planes(base + j)
            j += 1
          }
          if (dot >= 0) key |= 1L << i
          i += 1
        }
        out(b) = key
        b += 1
      }
    }
    new GenericArrayData(out)
  }

  def bandKeys(qv: Column, planes: Array[Long], dims: Int,
               numBands: Int, bitsPerBand: Int): Column =
    ColumnBridge.column(IntSignBandKeysExpr(
      ColumnBridge.expression(qv), planes, dims, numBands, bitsPerBand))
}
