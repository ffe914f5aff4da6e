package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Random-Fourier-feature map z(x) = √(2/D)·cos(Wx + b) as ONE codegen'd
  * Catalyst expression (the [[graft.ml.RffSvc]] projection).
  *
  * The composable HOF form (a `transform` over D (wᵢ, bᵢ) pairs, each doing
  * a `zip_with` + `aggregate` dot product) walks D·d interpreted lambda
  * dispatches per ROW — at D = 256 components over d = 256 features that is
  * 65k boxed lambda calls per row, which took q50's five-model fit from
  * 4 s to 64 s at sf0.1. This kernel runs the same arithmetic as two
  * primitive loops inside whole-stage codegen (microseconds per row).
  *
  * W (flattened row-major, D·d) and b are drawn once by the owning
  * [[graft.ml.RffSvc.RffMap]] and passed in by reference through the second
  * parameter list: every copy Catalyst makes of the expression (analysis,
  * optimisation, `withNewChildren`) shares the same arrays, so the D×d
  * Gaussian draw happens once per map, not once per instance. Equality
  * and hashing read only the first list — the four defining scalars, which
  * determine W and b — and the generated code receives the arrays as
  * reference objects.
  * Float-op order matches the HOF form exactly: the dot accumulates
  * left-to-right, then cos(acc + bᵢ) is scaled — bit-identical outputs to
  * the r16 composable implementation.
  */
case class RffTransformExpr(child: Expression, inputDim: Int, numComponents: Int,
                            gamma: Double, seed: Long)(val w: Array[Double], val b: Array[Double])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override protected def otherCopyArgs: Seq[AnyRef] = Seq(w, b)

  @transient private lazy val scale = math.sqrt(2.0 / numComponents)

  override protected def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val d = xs.numElements()
    // width mismatch → null (the HOF zip_with form also degenerates there;
    // RffSvc.fit fails fast on ragged inputs before this can matter)
    if (d != inputDim) return null
    val x = new Array[Double](d)
    var j = 0
    while (j < d) {
      if (xs.isNullAt(j)) return null
      x(j) = xs.getDouble(j)
      j += 1
    }
    val out = new Array[Double](numComponents)
    var c = 0
    while (c < numComponents) {
      var acc = 0.0
      val off = c * d
      j = 0
      while (j < d) { acc += w(off + j) * x(j); j += 1 }
      out(c) = scale * math.cos(acc + b(c))
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("rffW", w, "double[]")
    val bRef = ctx.addReferenceObj("rffB", b, "double[]")
    val (dVar, jVar, cVar, accVar, xVar, outVar) = (ctx.freshName("d"),
      ctx.freshName("j"), ctx.freshName("c"), ctx.freshName("acc"),
      ctx.freshName("x"), ctx.freshName("out"))
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int $dVar = $a.numElements();
         |if ($dVar != $inputDim) { ${ev.isNull} = true; }
         |for (int $jVar = 0; $jVar < $dVar && !${ev.isNull}; $jVar++) {
         |  if ($a.isNullAt($jVar)) { ${ev.isNull} = true; }
         |}
         |if (!${ev.isNull}) {
         |  double[] $xVar = $a.toDoubleArray();
         |  double[] $outVar = new double[$numComponents];
         |  for (int $cVar = 0; $cVar < $numComponents; $cVar++) {
         |    double $accVar = 0.0;
         |    for (int $jVar = 0; $jVar < $dVar; $jVar++) {
         |      $accVar += $wRef[$cVar * $dVar + $jVar] * $xVar[$jVar];
         |    }
         |    $outVar[$cVar] = $scale * java.lang.Math.cos($accVar + $bRef[$cVar]);
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($outVar);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): RffTransformExpr =
    copy(child = newChild)(w, b)
}

object RffTransformExpr {
  def rff(x: Column, inputDim: Int, numComponents: Int, gamma: Double, seed: Long,
          w: Array[Double], b: Array[Double]): Column =
    ColumnBridge.column(
      RffTransformExpr(ColumnBridge.expression(x), inputDim, numComponents, gamma, seed)(w, b))
}
