package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for per-token hot loops that the composable
  * higher-order-function forms evaluate through interpreted lambdas (no
  * codegen, no subexpression elimination inside lambda bodies — measured
  * milliseconds per document instead of microseconds; see ShinglesExpr).
  * Each kernel is value-identical to the expression form it replaces and
  * the DuckDB oracle mirrors are unchanged.
  */
private[functions] object TokenKernelChecks {
  def requireStringArray(name: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires ARRAY<STRING>, got ${other.catalogString}")
    }
}

/** `transform(ts, t -> hash60(t) % vocab)` ([[Exprs.hash60]]) as one
  * kernel call: the bounded token→id encoding (TextFns.tokenId) for every
  * token of a document in a single md5-per-token loop. */
case class TokenIdsExpr(child: Expression, vocabSize: Int) extends UnaryExpression {

  require(vocabSize >= 1, s"vocabSize out of range: $vocabSize")

  override def checkInputDataTypes(): TypeCheckResult =
    TokenKernelChecks.requireStringArray("graft_token_ids", child)

  // transform-lambda semantics: a null element maps to a null id, so null
  // presence in the output tracks the input array exactly.
  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    })

  override protected def nullSafeEval(input: Any): Any =
    TokenKernel.tokenIds(input.asInstanceOf[ArrayData], vocabSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenKernel.tokenIds($c, $vocabSize)")

  override protected def withNewChildInternal(newChild: Expression): TokenIdsExpr =
    copy(child = newChild)
}

/** `array_max(transform(array_distinct(ts), u -> size(filter(ts, _ = u))))`
  * — the most-frequent-token count (0 for empty input) — as one hash-count
  * pass instead of an interpreted O(distinct·n) double loop. */
case class TopTokenCountExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TokenKernelChecks.requireStringArray("graft_top_token_count", child)

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    TokenKernel.topTokenCount(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenKernel.topTokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): TopTokenCountExpr =
    copy(child = newChild)
}

/** `size(array_distinct(transform(sequence(1, n-k+1), i -> concat_ws(" ",
  * ts[i], …, ts[i+k-1]))))` — the distinct k-gram count (0 when the doc has
  * fewer than k tokens) — as one kernel call: no gram-string construction,
  * no interpreted transform lambda, no O(grams) array materialization. The
  * null-free fast path maps tokens to dense ids and counts distinct packed
  * id tuples (exact: tokens contain no separator, so join is bijective);
  * arrays carrying nulls (or pathologically long docs) fall back to
  * building the joined strings with concat_ws's skip-null semantics, so the
  * count is value-identical to the expression form in every case. */
case class DistinctGramCountExpr(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 2 && k <= 8, s"k out of range: $k")

  override def checkInputDataTypes(): TypeCheckResult =
    TokenKernelChecks.requireStringArray("graft_distinct_gram_count", child)

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    TokenKernel.distinctGramCount(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenKernel.distinctGramCount($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): DistinctGramCountExpr =
    copy(child = newChild)
}

object TokenKernel {

  /** Exact distinct k-gram count — see [[DistinctGramCountExpr]]. */
  def distinctGramCount(tokens: ArrayData, k: Int): Int = {
    val n = tokens.numElements()
    if (n < k) return 0
    val grams = n - k + 1
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = tokens.isNullAt(i); i += 1 }
    // id packing needs (n+1)^k < 2^63; token counts beyond 2^20 (k=3) use
    // the string path — unreachable for real documents, exact either way
    if (!hasNull && math.pow(n + 1.0, k.toDouble) < 9.2e18) {
      val dict = new java.util.HashMap[UTF8String, Integer](n * 2)
      val ids = new Array[Long](n)
      i = 0
      while (i < n) {
        val t = tokens.getUTF8String(i)
        var id = dict.get(t)
        if (id == null) { id = dict.size(); dict.put(t, id) }
        ids(i) = id.longValue()
        i += 1
      }
      val base = n + 1L
      val seen = new java.util.HashSet[java.lang.Long](grams * 2)
      var g = 0
      var cnt = 0
      while (g < grams) {
        var packed = 0L
        var j = 0
        while (j < k) { packed = packed * base + ids(g + j); j += 1 }
        if (seen.add(packed)) cnt += 1
        g += 1
      }
      cnt
    } else {
      // concat_ws semantics: null elements are SKIPPED, never rendered
      val seen = new java.util.HashSet[UTF8String](grams * 2)
      var g = 0
      var cnt = 0
      while (g < grams) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        var first = true
        while (j < k) {
          if (!tokens.isNullAt(g + j)) {
            if (!first) sb.append(' ')
            sb.append(tokens.getUTF8String(g + j).toString)
            first = false
          }
          j += 1
        }
        if (seen.add(UTF8String.fromString(sb.toString))) cnt += 1
        g += 1
      }
      cnt
    }
  }

  /** First 15 hex digits of md5(token) as a 60-bit long, mod vocab —
    * bit-identical to TextFns.tokenId / its DuckDB rendering. Null elements
    * map to null ids (the transform-lambda behavior this kernel replaces). */
  def tokenIds(tokens: ArrayData, vocabSize: Int): GenericArrayData = {
    val n = tokens.numElements()
    val out = new Array[Any](n)
    val d = TokenHashKernel.digest()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        d.reset()
        d.update(tokens.getUTF8String(i).getBytes)
        val h = d.digest()
        var v = 0L
        var j = 0
        while (j < 8) { v = (v << 8) | (h(j) & 0xffL); j += 1 }
        out(i) = (v >>> 4) % vocabSize
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Null elements are skipped, not counted: the composable
    * `size(filter(ts, _ = u))` form excluded them because `null = u` is
    * never true — an all-null array therefore counts 0. */
  def topTokenCount(tokens: ArrayData): Int = {
    val n = tokens.numElements()
    if (n == 0) return 0
    val counts = new java.util.HashMap[UTF8String, Integer](n * 2)
    var best = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        val c = counts.merge(t, 1, (a, b) => a + b)
        if (c > best) best = c
      }
      i += 1
    }
    best
  }
}

object TokenIdsExpr {
  def encode(tokens: Column, vocabSize: Int): Column =
    ColumnBridge.column(TokenIdsExpr(ColumnBridge.expression(tokens), vocabSize))
}

object TopTokenCountExpr {
  def topTokenCount(tokens: Column): Column =
    ColumnBridge.column(TopTokenCountExpr(ColumnBridge.expression(tokens)))
}

object DistinctGramCountExpr {
  def distinctGramCount(tokens: Column, k: Int): Column =
    ColumnBridge.column(DistinctGramCountExpr(ColumnBridge.expression(tokens), k))
}
