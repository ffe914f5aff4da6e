package graft

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** One verifiable operator surface: a Spark DataFrame builder plus, when the
  * semantics are ANSI-SQL-expressible, the equivalent DuckDB SQL for the
  * driver's differential oracle (see Verify.scala).
  *
  * Contract gotchas the specs must respect:
  *   - column names must match between the DataFrame and the SQL (the driver
  *     sorts columns by name before hashing values);
  *   - results must be deterministic: seeded/keyed ordering before any limit,
  *     exact (decimal) aggregation of doubles, UTC timestamps.
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object QuerySpec {
  def oracle(name: String, sql: String)(build: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, build, Some(sql))

  /** Rows-only check: no SQL-expressible oracle (hash-seeded ops, MLlib, …). */
  def rowsOnly(name: String)(build: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, build, None)

  /** One text for both engines: `text` is the oracle, and Spark's own parser
    * reads the same text into the build. A query belongs here when its
    * DataFrame form would only transliterate the SQL; a builder stays where
    * it is a second formulation the oracle certifies or plans better. */
  def sql(name: String, text: String): QuerySpec =
    QuerySpec(name, (spark, dir) => bind(spark, dir, text), Some(text))

  /** `text` parsed by the session's parser, each of the ten table names
    * bound to its [[Tables]] loader over `dir` — no session view, so two
    * builds over different dirs never see each other's tables. Each table is
    * loaded once per build however often the text reads it (self-joins
    * resolve by the analyzer's relation de-duplication); references inside
    * subquery expressions and CTE bodies (inner children, which a plain
    * transform skips) are bound too. */
  private def bind(spark: SparkSession, dir: String, text: String): DataFrame = {
    val loaded = scala.collection.mutable.Map.empty[String, LogicalPlan]
    def table(name: String): LogicalPlan = loaded.getOrElseUpdate(name,
      SubqueryAlias(name, Tables.loaders(name)(spark, dir).queryExecution.analyzed))
    def bindAll(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
      case UnresolvedRelation(Seq(name), _, false) if Tables.loaders.contains(name) => table(name)
      case w: UnresolvedWith => w.copy(cteRelations =
        w.cteRelations.map(r => r.copy(_2 = bindAll(r._2).asInstanceOf[SubqueryAlias])))
    }
    ColumnBridge.dataFrame(spark, bindAll(spark.sessionState.sqlParser.parsePlan(text)))
  }
}
