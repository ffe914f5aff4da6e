package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** ALL of a row's sign-LSH band keys in ONE kernel call: bit `i` of band `b`
  * is set iff dot(embedding, plane[b·bitsPerBand + i]) > 0, exactly the
  * arithmetic of the per-plane composable form (sequential
  * double-accumulated dot, same cast points), so band keys are bit-identical
  * to the `when(dot > 0, …)` expression stack this replaces.
  *
  * Why an expression and not numBands × bitsPerBand DotProductExpr columns:
  * the plane matrix rides along as ONE plan reference object instead of
  * being INLINED per probe — at 28 bands × 4 bits the old form planted 112
  * separate 64-float literals in the plan, and because the banding subtree
  * appears four times per LSH config (self-join a/b sides × found/candidate
  * uses), Catalyst re-optimized and Janino re-compiled thousands of
  * generated constants per query: measured ~1.7 s of DRIVER time per config
  * on a 200-row input. The kernel form plans in milliseconds and the
  * executor-side flops are unchanged (one fused loop, primitive
  * accumulators, whole-stage codegen).
  *
  * Degenerate-input contract (matching the composable form it replaced):
  * a NULL embedding, a length ≠ dims embedding, or any NULL element made
  * every per-plane dot NULL, which `when(NULL > 0, bit)` scored as 0 — so
  * such rows key to ALL-ZERO keys in every band, never to NULL. The verify
  * step's zero-norm guard keeps them from pairing with anything
  * (Similarity.signLshNearDupPairs).
  */
case class SignBandKeysExpr(child: Expression, planes: Array[Float], dims: Int,
                            numBands: Int, bitsPerBand: Int)
    extends UnaryExpression {

  require(dims >= 1, s"dims out of range: $dims")
  require(numBands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 56,
    s"bad banding: $numBands x $bitsPerBand")
  require(planes.length == numBands * bitsPerBand * dims,
    s"plane matrix length ${planes.length} != $numBands*$bitsPerBand*$dims")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_sign_band_keys requires ARRAY<FLOAT>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    SignBandKeys.keys(if (v == null) null else v.asInstanceOf[ArrayData],
      planes, dims, numBands, bitsPerBand)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("signPlanes", planes, "float[]")
    val childGen = child.genCode(ctx)
    val resultCode =
      code"""
         |${childGen.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  graft.functions.SignBandKeys.keys(
         |    ${childGen.isNull} ? null : ${childGen.value},
         |    $planesRef, $dims, $numBands, $bitsPerBand);
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SignBandKeysExpr =
    copy(child = newChild)
}

object SignBandKeys {

  /** numBands packed sign keys for one embedding; all-zero keys for
    * degenerate inputs (see the expression scaladoc for the contract). */
  def keys(emb: ArrayData, planes: Array[Float], dims: Int,
           numBands: Int, bitsPerBand: Int): ArrayData = {
    val out = new Array[Long](numBands)
    if (emb != null && emb.numElements() == dims && !ArrayChecks.hasNullElement(emb, dims)) {
      var b = 0
      while (b < numBands) {
        var key = 0L
        var i = 0
        while (i < bitsPerBand) {
          val base = (b * bitsPerBand + i) * dims
          var dot = 0.0
          var j = 0
          while (j < dims) {
            dot += emb.getFloat(j).toDouble * planes(base + j).toDouble
            j += 1
          }
          if (dot > 0) key |= 1L << i
          i += 1
        }
        out(b) = key
        b += 1
      }
    }
    new GenericArrayData(out)
  }

  def bandKeys(emb: Column, planes: Array[Float], dims: Int,
               numBands: Int, bitsPerBand: Int): Column =
    ColumnBridge.column(SignBandKeysExpr(
      ColumnBridge.expression(emb), planes, dims, numBands, bitsPerBand))
}
