package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Queries are assembled from per-module registries; each module covers one
  * band of the operator inventory (README "Query modules").
  */
object SparkEntry {

  /** Every verifiable operator surface. The order is insertion order, not
    * a survey order: it is pinned so bench lines and cross-round diffs stay
    * comparable, so a new query goes at the end of its module's `all`. */
  def specs: Seq[QuerySpec] =
    operators.Relational.all ++ operators.TextQueries.all ++
      operators.PipelineQueries.all ++ ml.MlQueries.all ++
      operators.EventQueries.all ++ multimodal.MultimodalQueries.all ++
      operators.Graph.all ++ operators.Bpe.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q01PricingSummary.build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (insertion-ordered
    * so bench runs are comparable across rounds). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(specs.map(s => s.name -> s.build): _*)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    specs.flatMap(s => s.oracle.map(s.name -> _)).toMap
}
