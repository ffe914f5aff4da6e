package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Expression helpers shared by the query surface.
  *
  * Cross-engine determinism: double SUM is association-order-dependent, and
  * Spark's partial aggregation order differs run-to-run and engine-to-engine.
  * `dsum` casts to decimal first (exact, order-independent) and only then back
  * to double — bit-identical regardless of partitioning, so the DuckDB oracle
  * can hash-match. Same trick in the oracle SQL:
  * `CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`.
  */
object Exprs {

  /** Order-independent exact sum of a double column, returned as double. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** Exact average: decimal sum divided by count, UNROUNDED — money sums
    * divided by counts land on decimal half-way points (….915) often, and
    * there Spark (binary-double HALF_UP) and DuckDB (decimal half-away)
    * round differently; the raw quotient is bit-identical in both. */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(lit(1))

  /** A money column as exact integer cents — the Spark side of the
    * oracle's `CAST(CAST(c AS DECIMAL(18,2)) * 100 AS BIGINT)`. */
  def cents(c: Column): Column =
    (c.cast(DecimalType(18, 2)) * 100).cast("long")

  /** The cross-engine 60-bit content hash: the first 15 hex digits of
    * `md5(c)` read as a non-negative long. Bit-identical to its DuckDB
    * mirror [[hash60Sql]]. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB mirror of [[hash60]] over the SQL string expression `x`. */
  def hash60Sql(x: String): String =
    s"('0x' || substring(md5($x), 1, 15))::BIGINT"

  /** DuckDB `row_number()`/`year()`/... return BIGINT where Spark returns INT;
    * align Spark output to long so the schema compare passes. */
  def asLong(c: Column): Column = c.cast(LongType)
}
