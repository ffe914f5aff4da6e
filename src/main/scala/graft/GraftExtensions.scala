package graft

import graft.functions.{CleanTokensExpr, CosineSimilarityExpr, IsStopwordExpr,
  MinHashSigExpr, PositionalGramsExpr, ShinglesExpr, SimHashExpr,
  StemExpression, StemTokensExpr, TokenIdsExpr, TopTokenCountExpr}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: exposes graft's custom Catalyst
  * expressions to SQL (`SELECT graft_stem(word) …`), so `spark.sql` users
  * get the same codegen'd operators as the DataFrame API.
  *
  * Enable with the static session conf
  * `spark.sql.extensions=graft.GraftExtensions`, set before the session is
  * built.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.FuseCosineRule)
    ext.injectOptimizerRule(_ => graft.plans.BoundLevenshteinRule)
    ext.injectFunction((
      FunctionIdentifier("graft_stem"),
      new ExpressionInfo(classOf[StemExpression].getName, "graft_stem"),
      (children: Seq[Expression]) => StemExpression(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_is_stopword"),
      new ExpressionInfo(classOf[IsStopwordExpr].getName, "graft_is_stopword"),
      (children: Seq[Expression]) => IsStopwordExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSimilarityExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_clean_tokens"),
      new ExpressionInfo(classOf[CleanTokensExpr].getName, "graft_clean_tokens"),
      (children: Seq[Expression]) => CleanTokensExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_stem_tokens"),
      new ExpressionInfo(classOf[StemTokensExpr].getName, "graft_stem_tokens"),
      (children: Seq[Expression]) => StemTokensExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
      (children: Seq[Expression]) => ShinglesExpr(children(0), litInt(children(1), "graft_shingles(text, n)"))))
    ext.injectFunction((
      FunctionIdentifier("graft_positional_grams"),
      new ExpressionInfo(classOf[PositionalGramsExpr].getName, "graft_positional_grams"),
      (children: Seq[Expression]) => PositionalGramsExpr(children(0),
        litInt(children(1), "graft_positional_grams(text, n)"))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHashExpr(children(0), litInt(children(1), "graft_simhash(text, bits)"))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "graft_minhash_sig"),
      (children: Seq[Expression]) => MinHashSigExpr(children(0),
        litInt(children(1), "graft_minhash_sig(text, n, numHashes)"),
        litInt(children(2), "graft_minhash_sig(text, n, numHashes)"))))
    ext.injectFunction((
      FunctionIdentifier("graft_token_ids"),
      new ExpressionInfo(classOf[TokenIdsExpr].getName, "graft_token_ids"),
      (children: Seq[Expression]) => TokenIdsExpr(children(0), litInt(children(1), "graft_token_ids(tokens, vocab)"))))
    ext.injectFunction((
      FunctionIdentifier("graft_top_token_count"),
      new ExpressionInfo(classOf[TopTokenCountExpr].getName, "graft_top_token_count"),
      (children: Seq[Expression]) => TopTokenCountExpr(children.head)))
  }

  /** Kernel parameters (n, bits, vocab) shape the expression itself, so
    * they must be integer literals at analysis time. */
  private def litInt(e: Expression, usage: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case _ => throw new IllegalArgumentException(s"$usage needs an integer literal, got $e")
  }
}
