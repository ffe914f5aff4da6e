package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column combinators over `array<float>` embeddings
  * (SURVEY.md §2.8 J1; north-star similarity search).
  *
  * All folds are sequential left-to-right over the array and cast each
  * element to double BEFORE multiplying — this makes the result bit-identical
  * to DuckDB's `list_reduce(list_prepend(0.0, list_transform(...)))` fold, so
  * cosine rankings hash-match across engines. Everything stays inside
  * whole-stage codegen (no UDFs): at 100 TB the dot product is the inner loop
  * of a scan, not a serialization boundary.
  */
object VectorFns {

  /** Σ aᵢ·bᵢ as an exact left fold in doubles. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Σ aᵢ² (same fold shape). */
  def normSq(a: Column): Column =
    aggregate(
      transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(normSq(a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Largest |aᵢ| as double — the symmetric-quantization scale. max is
    * exact and order-free, so it's engine-portable unlike a sum fold. */
  def maxAbs(a: Column): Column =
    array_max(transform(a, x => abs(x.cast("double"))))

  /** Per-vector symmetric int8 quantization: qᵢ = floor(aᵢ·127/scale) ∈
    * [-127, 127] — the memory-compression step an ANN index runs before
    * storing 10⁹ embeddings (4× smaller than float32). floor, NOT round:
    * half-way tie-breaking differs subtly across engines/modes, floor is
    * exact everywhere. Zero vectors quantize to zeros (an ANSI division by
    * the zero scale would error). */
  def quantizeInt8(a: Column, scale: Column): Column =
    when(scale === 0.0, transform(a, _ => lit(0L)))
      .otherwise(transform(a, x => floor(x.cast("double") * lit(127.0) / scale)))

  /** Worst per-element reconstruction error of the quantized vector. */
  def dequantMaxErr(a: Column, q: Column, scale: Column): Column =
    array_max(zip_with(a, q,
      (x, qi) => abs(x.cast("double") - qi.cast("double") * scale / lit(127.0))))

  /** DuckDB rendering of the same folds (for oracle SQL). */
  object Sql {
    private def fold(listExpr: String): String =
      s"list_reduce(list_prepend(0.0, $listExpr), (acc, v) -> acc + v)"

    def dot(a: String, b: String): String =
      fold(s"list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))")

    def normSq(a: String): String =
      fold(s"list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")

    def cosine(a: String, b: String): String =
      s"${dot(a, b)} / (sqrt(${normSq(a)}) * sqrt(${normSq(b)}))"

    def maxAbs(a: String): String =
      s"list_max(list_transform($a, x -> abs(CAST(x AS DOUBLE))))"

    def quantizeInt8(a: String, scale: String): String =
      s"""CASE WHEN $scale = 0.0 THEN list_transform($a, x -> CAST(0 AS BIGINT))
         | ELSE list_transform($a, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / $scale) AS BIGINT)) END""".stripMargin.replace("\n", "")

    def dequantMaxErr(a: String, q: String, scale: String): String =
      s"list_max(list_transform(list_zip($a, $q), p -> abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * $scale / 127.0)))"

    /** Exact BIGINT fold for integer (int8-quantized) lists: no float
      * rounding, so any summation order gives the Spark kernels' value. */
    private def intFold(listExpr: String): String =
      s"list_reduce(list_prepend(0, $listExpr), (acc, v) -> acc + v)"

    /** Integer inner product of two integer lists. */
    def intDot(a: String, b: String): String =
      intFold(s"list_transform(list_zip($a, $b), p -> p[1]*p[2])")

    /** Integer squared-L2 distance of two integer lists. */
    def intDist2(a: String, b: String): String =
      intFold(s"list_transform(list_zip($a, $b), p -> (p[1]-p[2])*(p[1]-p[2]))")
  }
}
