package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality gate: expectation checks rendered as a (rule, n_violations)
  * report — the validation pass a production pipeline runs before promoting
  * a snapshot (great-expectations-style, re-expressed as Spark aggregates).
  *
  * Scale shape: all predicate rules fuse into ONE scan as conditional
  * counts (a single map-side-combined aggregate, no matter how many rules);
  * key uniqueness adds one distinct aggregate on the key column only; a
  * referential check is one null-producing left join counted on the miss
  * side. Nothing collects; the report is as wide as the rule list.
  */
object Quality {

  /** One row per predicate rule: how many rows violate it. All rules ride
    * a single aggregate over one scan; the wide 1-row result unpivots to
    * (rule, n_violations) via Expand — no second pass. */
  def predicateReport(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "predicateReport needs at least one rule")
    val wide = df.agg(
      sum(when(rules.head._2, 1L).otherwise(0L)).as(rules.head._1),
      rules.tail.map { case (n, p) => sum(when(p, 1L).otherwise(0L)).as(n) }: _*)
    wide.unpivot(Array.empty[Column], rules.map(r => col(r._1)).toArray,
        "rule", "n_violations")
  }

  /** Key-uniqueness rule: surplus rows beyond one per NON-NULL key value.
    * `count(key)` (not `count(*)`) so NULL-keyed rows are excluded from
    * both sides — countDistinct skips NULLs, and counting them on the raw
    * side would report a lone NULL-keyed row as a "duplicate". NULL keys
    * are a different defect and are not counted here. */
  def duplicateKeyCount(df: DataFrame, keyCol: String, rule: String): DataFrame =
    df.agg((count(col(keyCol)) - countDistinct(col(keyCol))).as("n_violations"))
      .select(lit(rule).as("rule"), col("n_violations"))

  /** k-anonymity audit over a quasi-identifier tuple — the re-identification
    * gate a training-data release runs before shipping rows that carry
    * demographic-shaped columns: every QI combination observed, its row
    * count, and whether it meets the k threshold (a group smaller than k
    * means those rows are re-identifiable by their QI tuple alone). One
    * map-side-combined aggregate over one scan — the report is
    * |QI-combinations|-sized, never row-sized, and nothing collects. The
    * caller supplies GENERALIZED columns (bucketed continuous values,
    * truncated codes); auditing raw high-cardinality QIs is a degenerate
    * all-singletons report, not a useful gate. */
  def kAnonymityReport(df: DataFrame, qiCols: Seq[(String, Column)], k: Long): DataFrame = {
    require(qiCols.nonEmpty && k >= 2, "need at least one QI column and k >= 2")
    df.groupBy(qiCols.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("k_anon", col("n_rows") >= k)
  }

  /** Volume-anomaly report: per-period row counts fenced against a
    * TRAILING calendar window's robust trend — the rule that catches
    * "today's partition is 40% smaller than trend", which no row-level
    * predicate can see (every surviving row is individually valid; the
    * defect is in what's MISSING). Each period's count is compared to
    * the exact median of the preceding `trailingDays` periods, fenced at
    * `k` × 1.4826 × the trailing MAD (q114's robust-outlier machinery,
    * lifted from values to volumes; MAD × 1.4826 estimates σ, so k is in
    * sigmas). Trailing bounds are CALENDAR bounds (day − trailing ≤ t <
    * day), so missing periods shrink the window instead of silently
    * widening it. Periods with fewer than `minTrailing` trailing periods
    * report is_anomaly = false: spread estimated from one or two samples
    * is noise (a single trailing day gives MAD 0, fencing EVERY
    * deviation), so the fence arms only once real history exists.
    *
    * Scale shape: the per-period count is the only corpus-scale work (one
    * map-side-combined aggregate); everything after operates on the
    * period SERIES — tens-to-hundreds of rows — where the non-equi
    * trailing self-joins are broadcast nested loops over a bounded frame
    * (the q114 pattern: medians ride tiny frames, the fact table never
    * re-shuffles). */
  def volumeAnomalyReport(df: DataFrame, dayCol: Column,
                          trailingDays: Int = 7, k: Double = 3.0,
                          minTrailing: Int = 3): DataFrame = {
    val days = df.groupBy(dayCol.as("day")).agg(count(lit(1)).as("n_rows"))
    val t = days.select(col("day").as("t_day"), col("n_rows").as("t_n"))
    val pairs = days.join(t,
      col("t_day") >= date_sub(col("day"), trailingDays) && col("t_day") < col("day"))
    val med = pairs.groupBy("day").agg(
      expr("percentile(t_n, 0.5)").as("trail_med"),
      count(lit(1)).as("n_trail"))
    val dev = pairs.join(med, "day")
      .select(col("day"),
        abs(col("t_n").cast("double") - col("trail_med")).as("adev"))
    val mad = dev.groupBy("day").agg(expr("percentile(adev, 0.5)").as("trail_mad"))
    days.join(med, Seq("day"), "left").join(mad, Seq("day"), "left")
      .select(col("day"), col("n_rows"), col("trail_med"), col("trail_mad"),
        coalesce(
          abs(col("n_rows").cast("double") - col("trail_med")) >
            col("trail_mad") * lit(k) * lit(1.4826) &&
            col("n_trail") >= minTrailing,
          lit(false)).as("is_anomaly"))
  }

  /** Referential-integrity rule: child rows whose foreign key has no match
    * in the parent's primary key (orphans), counted via a left anti join —
    * the parent side is its key projection, broadcastable when the parent
    * key set fits an executor. */
  def orphanCount(child: DataFrame, parent: DataFrame,
                  fkCol: String, pkCol: String, rule: String): DataFrame = {
    // same-named keys would make col(fk) === col(pk) ambiguous after the
    // join; rename the parent's key to a reserved name unconditionally
    require(!child.columns.contains("__qk"),
      "orphanCount reserves column name __qk")
    child.join(parent.select(col(pkCol).as("__qk")),
        col(fkCol) === col("__qk"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit(rule).as("rule"), col("n_violations"))
  }
}
