package graft.operators

import graft.QuerySpec
import graft.functions.Exprs._
import graft.sources.{Staged, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core (SURVEY.md §2.1-2.3, §2.7-2.8): scans, projections,
  * filters, equi/semi/anti joins, rollup, pivot, windows, set ops, date/math
  * functions, deterministic balanced sampling.
  *
  * Scale notes (100 TB):
  *   - filters/projections are declared against the parquet scan so Catalyst
  *     pushes them down (verify: `PushedFilters` in `.explain("formatted")`);
  *   - dimension joins (region/nation/customer at TPC-H ratios) are broadcast
  *     — no shuffle of the fact table; fact-fact joins shuffle on the join key
  *     once and AQE handles skew;
  *   - the sampler is a single hash-partitioned window, no global sort.
  */
object Relational {

  private val SumPrice = "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"

  val q01PricingSummary: QuerySpec = QuerySpec.sql(
    "q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  val q02ScanProjectFilter: QuerySpec = QuerySpec.sql(
    "q02_scan_project_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
      |FROM lineitem
      |WHERE l_quantity > 45 AND l_discount >= 0.05
      |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  /** Star join: fact (orders) against broadcast dims (customer→nation→region).
    * No hint is needed: nation/region fall under Spark's broadcast size
    * threshold; customer is the judgement call — at TPC-H ratios it is
    * ~1/10 of orders, so AQE decides there rather than a forced broadcast. */
  val q03JoinBroadcast: QuerySpec = QuerySpec.sql(
    "q03_join_broadcast",
    s"""SELECT r_name, n_name, count(*) AS n_orders, $SumPrice AS total_price
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name
       |ORDER BY r_name, n_name""".stripMargin)

  /** Fact-fact equi join: lineitem ⋈ orders — both sides large, Catalyst
    * picks shuffle join; keys hash-partition so it scales linearly. */
  val q04JoinSortMerge: QuerySpec = QuerySpec.sql(
    "q04_join_sortmerge",
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin)

  val q05JoinSemiAnti: QuerySpec = QuerySpec.sql(
    "q05_join_semi_anti",
    """WITH with_o AS (
      |  SELECT c_nationkey, count(*) AS n_customers, 'with_orders' AS segment_kind
      |  FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  GROUP BY c_nationkey),
      |no_o AS (
      |  SELECT c_nationkey, count(*) AS n_customers, 'no_orders' AS segment_kind
      |  FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  GROUP BY c_nationkey)
      |SELECT * FROM (SELECT * FROM with_o UNION ALL SELECT * FROM no_o) u
      |ORDER BY segment_kind, c_nationkey""".stripMargin)

  val q06AggRollup: QuerySpec = QuerySpec.sql(
    "q06_agg_rollup",
    s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
       |  coalesce(o_orderpriority, 'ALL') AS priority,
       |  count(*) AS n_orders, $SumPrice AS total_price
       |FROM orders
       |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
       |ORDER BY status, priority""".stripMargin)

  /** Confusion-matrix-shaped pivot (reference A1, src/main.py:121-122, rebuilt
    * as a real pivot instead of sklearn.confusion_matrix). */
  val q07PivotConfusion: QuerySpec = QuerySpec.oracle(
    "q07_pivot_confusion",
    """SELECT event_type,
      |  count(*) FILTER (WHERE value >= 100) AS hi,
      |  count(*) FILTER (WHERE value < 100) AS lo
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin
  ) { (spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("bucket", when(col("value") >= 100, "hi").otherwise("lo"))
      .groupBy("event_type")
      .pivot("bucket", Seq("hi", "lo"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("hi", "lo"))
      .orderBy("event_type")
  }

  val q08WindowTopK: QuerySpec = QuerySpec.sql(
    "q08_window_topk",
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
      |  FROM orders) t
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin)

  /** Running/lag window over event time: the exact-decimal running sum keeps
    * the cumulative double bit-identical to DuckDB's. */
  val q09WindowRunning: QuerySpec = QuerySpec.sql(
    "q09_window_running",
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
      |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
      |FROM events
      |ORDER BY user_id, ts, event_id""".stripMargin)

  val q10SetOps: QuerySpec = QuerySpec.sql(
    "q10_setops",
    """SELECT 'both' AS tag, nkey FROM (
      |  SELECT c_nationkey AS nkey FROM customer INTERSECT SELECT s_nationkey FROM supplier) a
      |UNION ALL
      |SELECT 'cust_only' AS tag, nkey FROM (
      |  SELECT c_nationkey AS nkey FROM customer EXCEPT SELECT s_nationkey FROM supplier) b
      |ORDER BY tag, nkey""".stripMargin)

  val q11DatesMath: QuerySpec = QuerySpec.oracle(
    "q11_dates_math",
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
       |  count(*) AS n_orders,
       |  $SumPrice AS sum_price,
       |  $SumPrice / count(*) AS avg_price,
       |  CAST(date_diff('day', CAST(min(o_orderdate) AS DATE), CAST(max(o_orderdate) AS DATE)) AS BIGINT) AS span_days,
       |  round(CAST(sum(CAST(abs(o_totalprice - 1000.0) AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_abs_dev
       |FROM orders
       |GROUP BY 1, 2
       |ORDER BY o_year, o_month""".stripMargin
  ) { (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy(
        asLong(year(col("o_orderdate"))).as("o_year"),
        asLong(month(col("o_orderdate"))).as("o_month"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"),
        davg(col("o_totalprice")).as("avg_price"),
        asLong(datediff(max(col("o_orderdate")), min(col("o_orderdate")))).as("span_days"),
        round(dsum(abs(col("o_totalprice") - 1000.0)), 2).as("sum_abs_dev"))
      .orderBy("o_year", "o_month")
  }

  /** Deterministic balanced per-class sample (reference X1, src/main.py:67-69,
    * made reproducible): order each class by a content hash and take the first
    * n — one hash-partitioned window, no global sort, scales to any class
    * cardinality. md5 is used (not rand(seed)) so DuckDB derives the identical
    * sample. */
  val q12BalancedSample: QuerySpec = QuerySpec.oracle(
    "q12_balanced_sample",
    """SELECT o_orderstatus, o_orderkey, sample_rank FROM (
      |  SELECT o_orderstatus, o_orderkey,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS sample_rank
      |  FROM orders) t
      |WHERE sample_rank <= 100
      |ORDER BY o_orderstatus, sample_rank""".stripMargin
  ) { (spark, dir) =>
    Sampling.deterministicSample(
      Tables.orders(spark, dir), Seq("o_orderstatus"), col("o_orderkey").cast("string"), 100)
      .withColumn("sample_rank", asLong(col("sample_rank")))
      .select("o_orderstatus", "o_orderkey", "sample_rank")
      .orderBy("o_orderstatus", "sample_rank")
  }

  /** CUBE over two dimensions (A4's other half; rollup is q06). */
  val q13AggCube: QuerySpec = QuerySpec.sql(
    "q13_agg_cube",
    """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
      |  coalesce(l_linestatus, 'ALL') AS lstatus,
      |  count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY rflag, lstatus""".stripMargin)

  /** Exact distinct aggregation (A5's oracle-able half; the HLL++
    * approx_count_distinct bound is asserted in RelationalSpec). */
  val q14Distinct: QuerySpec = QuerySpec.sql(
    "q14_distinct",
    """SELECT o_orderpriority,
      |  count(DISTINCT o_custkey) AS n_customers,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin)

  /** Exact percentiles (linear interpolation — same definition in Spark's
    * `percentile` and DuckDB's `quantile_cont`). Quantile positions are
    * power-of-two fractions over an INTEGER column, so the interpolation
    * `a + (b-a)·f` is exact in double arithmetic — bit-identical however
    * either engine associates it; min/max prices are raw stored doubles. */
  val q15Percentiles: QuerySpec = QuerySpec.oracle(
    "q15_percentiles",
    """SELECT o_orderpriority,
      |  quantile_cont(o_orderkey, 0.25) AS p25_orderkey,
      |  quantile_cont(o_orderkey, 0.5) AS median_orderkey,
      |  quantile_cont(o_orderkey, 0.75) AS p75_orderkey,
      |  min(o_totalprice) AS min_price,
      |  max(o_totalprice) AS max_price
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin
  ) { (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        expr("percentile(o_orderkey, 0.25)").as("p25_orderkey"),
        expr("percentile(o_orderkey, 0.5)").as("median_orderkey"),
        expr("percentile(o_orderkey, 0.75)").as("p75_orderkey"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy("o_orderpriority")
  }

  /** Data profiling: one stats row per column (nulls, distincts, typed
    * min/max rendered as strings) — generated from the same column list on
    * both engines. */
  val q16Profile: QuerySpec = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    QuerySpec.oracle(
      "q16_profile",
      cols.map { c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_val,
           |  CAST(max($c) AS VARCHAR) AS max_val FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    ) { (spark, dir) =>
      // One pruned single-column aggregate per profiled column, unioned —
      // the shape of the oracle's UNION ALL. The tempting alternative (all
      // 20 stats in ONE agg) plans the 5 countDistincts as an Expand that
      // amplifies every row 6× through the partial-distinct shuffle; five
      // columnar scans each read one column and shuffle only distinct
      // values, which is both faster here (3.9 s → measured below) and the
      // plan that survives a 100× scale-up of the row count.
      val orders = Tables.orders(spark, dir)
      cols.map { c =>
        orders.select(col(c)).agg(
          count(lit(1)).minus(count(col(c))).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_val"),
          max(col(c)).cast("string").as("max_val"))
          .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"),
            col("min_val"), col("max_val"))
      }.reduce(_ unionByName _)
        .orderBy("col_name")
    }
  }

  /** Correlated-aggregate semantics (orders above 1.5× their customer's
    * average) — expressed as a join against the per-customer aggregate on
    * both engines (Catalyst decorrelates a correlated subquery to exactly
    * this shape). cust_avg stays UNROUNDED: the exact-decimal-sum / count
    * double is bit-identical across engines, while round() at a .xx5
    * boundary is not (Spark rounds the binary double, DuckDB the decimal
    * rendering). */
  val q17CorrelatedAgg: QuerySpec = QuerySpec.sql(
    "q17_correlated_agg",
    """WITH ca AS (
      |  SELECT o_custkey AS ck,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
      |  FROM orders GROUP BY o_custkey)
      |SELECT o_orderkey, o_custkey, o_totalprice, avg_price AS cust_avg
      |FROM orders JOIN ca ON o_custkey = ck
      |WHERE o_totalprice > 1.5 * avg_price
      |ORDER BY o_orderkey""".stripMargin)

  /** argmin/argmax aggregates (min_by/max_by ↔ arg_min/arg_max), keyed on
    * the unique order key so ties cannot arise. */
  val q18ArgMinMax: QuerySpec = QuerySpec.oracle(
    "q18_argminmax",
    """SELECT o_orderpriority,
      |  arg_max(o_custkey, o_orderkey) AS last_custkey,
      |  arg_min(o_custkey, o_orderkey) AS first_custkey,
      |  max(o_orderkey) AS last_orderkey,
      |  min(o_orderkey) AS first_orderkey
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin
  ) { (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        max_by(col("o_custkey"), col("o_orderkey")).as("last_custkey"),
        min_by(col("o_custkey"), col("o_orderkey")).as("first_custkey"),
        max(col("o_orderkey")).as("last_orderkey"),
        min(col("o_orderkey")).as("first_orderkey"))
      .orderBy("o_orderpriority")
  }

  /** Scalar string-function sweep (shared semantics verified: case, trim,
    * pad, substring, replace, reverse, repeat, split_part, position,
    * edit distance). */
  val q19StringFns: QuerySpec = QuerySpec.oracle(
    "q19_string_fns",
    """SELECT c_custkey,
      |  upper(c_name) AS uname, lower(c_mktsegment) AS lseg,
      |  trim(concat(' ', c_name, ' ')) AS trimmed,
      |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
      |  substring(c_name, 1, 8) AS prefix,
      |  replace(c_name, '#', '-') AS replaced,
      |  reverse(c_mktsegment) AS rseg,
      |  repeat('ab', 3) AS repeated,
      |  split_part(c_name, '#', 1) AS first_part,
      |  CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos,
      |  CAST(levenshtein(c_mktsegment, 'BUILDING') AS INTEGER) AS lev
      |FROM customer ORDER BY c_custkey""".stripMargin
  ) { (spark, dir) =>
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        upper(col("c_name")).as("uname"), lower(col("c_mktsegment")).as("lseg"),
        trim(concat(lit(" "), col("c_name"), lit(" "))).as("trimmed"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        substring(col("c_name"), 1, 8).as("prefix"),
        // literal replace (not regexp_replace): mirrors DuckDB's replace()
        // exactly — a regex metacharacter in the search string must not
        // change semantics
        expr("replace(c_name, '#', '-')").as("replaced"),
        reverse(col("c_mktsegment")).as("rseg"),
        repeat(lit("ab"), 3).as("repeated"),
        split_part(col("c_name"), lit("#"), lit(1)).as("first_part"),
        instr(col("c_name"), "#").as("hash_pos"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).as("lev"))
      .orderBy("c_custkey")
  }

  /** TPC-H Q5 analog (local-supplier revenue): the deepest join in the
    * suite — lineitem ⨝ orders ⨝ customer ⨝ supplier ⨝ nation ⨝ region with
    * the "customer and supplier share a nation" theta condition folded into
    * the supplier equi-join. Plan shape at scale: the date and region
    * filters push into the scans, nation/region broadcast (tiny dims), the
    * three fact joins shuffle once each on their keys and AQE re-plans any
    * post-filter side it measures as broadcastable. Revenue uses the q01
    * decimal-cast product-sum so the aggregate is order-independent and
    * engine-exact. */
  val q46RegionalRevenue: QuerySpec = QuerySpec.oracle(
    "q46_regional_revenue",
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin
  ) { (spark, dir) =>
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
    Tables.lineitem(spark, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** Co-located fact-fact join over BUCKETED tables — the source-layout
    * feature that converts the recurring orders⋈lineitem shuffle into a
    * one-time write (SURVEY §4 "bucketing for co-located joins"). Both
    * tables are bucketed 8-ways on the order key
    * ([[graft.sources.Bucketing.ensureOrdersLineitemBucketed]], idempotent
    * per session+dir), so the merge join AND the per-orderkey aggregate
    * consume the scan's own hash partitioning: the ENTIRE plan contains
    * ZERO exchanges, which the build asserts programmatically every time —
    * at 100 TB this is the difference between re-shuffling both fact tables
    * per query and never shuffling them at all. The merge hint pins the
    * join family (a broadcast join at test scale would elide the exchange
    * for the wrong reason and make the assert vacuous). The DuckDB mirror
    * runs the plain unbucketed join — same rows, different layout.
    *
    * The remaining Sort nodes are LOCAL (per-bucket, no exchange): the
    * layout writes one sorted file per bucket, and a session with
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` plans this
    * query with ZERO Sort nodes too (verified) — the scan then reports the
    * file order and the merge join pipelines straight off disk. The
    * declared builder leaves the session conf untouched (builders are
    * side-effect-free), so it keeps the local sorts. */
  val q76BucketedJoin: QuerySpec = QuerySpec.oracle(
    "q76_bucketed_join",
    """SELECT o_orderkey, o_orderstatus, count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY 1, 2""".stripMargin
  ) { (spark, dir) =>
    val (ot, lt) = graft.sources.Bucketing.ensureOrdersLineitemBucketed(spark, dir)
    val agg = spark.table(ot).hint("merge")
      .join(spark.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
    // the contract, checked on every build: bucketing must have elided every
    // exchange (join both sides AND the aggregate ride the bucket layout)
    val plan = agg.queryExecution.executedPlan.toString
    require(!plan.contains("Exchange"),
      s"bucketed join planned an exchange — layout not picked up:\n$plan")
    agg
  }

  /** Two-dimensional selective scan over a Z-ORDERED copy of lineitem
    * ([[graft.sources.Sinks.writeParquetZOrdered]]: rows tiled by the Morton
    * interleave of range-normalized (l_partkey, l_suppkey)) — the layout
    * under which BOTH filter columns carry tight per-file/row-group min/max
    * statistics, so this query's conjunctive predicate prunes most of the
    * corpus at the footer level where a single-column sort would prune on
    * its leading column only (SinksSpec measures the gap). The DuckDB
    * mirror runs the same filter+aggregate over the unordered source table
    * — same rows, different layout, which is the claim: z-ordering is pure
    * physical design. The layout is staged once per (session, dir)
    * ([[graft.sources.Staged]]); eager by design like q76/q79/q82. */
  val q83ZOrderScan: QuerySpec = QuerySpec.oracle(
    "q83_zorder_scan",
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem WHERE l_partkey <= 100 AND l_suppkey <= 5
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (spark, dir) =>
    val root = Staged(spark, dir, "zorder") { root =>
      graft.sources.Sinks.writeParquetZOrdered(
        Tables.lineitem(spark, dir), s"$root/lineitem", partitions = 8, "l_partkey", "l_suppkey")
    }
    spark.read.parquet(s"$root/lineitem")
      .filter(col("l_partkey") <= 100 && col("l_suppkey") <= 5)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Keyed upsert ([[Merge.upsert]]) as a declared oracle query — the
    * MERGE primitive of nightly table maintenance: a patched delta
    * (150 docs with source/n_chars rewritten, half overlapping the
    * target, half new keys) merged into a 300-doc target. Updates win,
    * unmatched target rows pass through, new keys append. The anti
    * join's build side is the delta's KEY PROJECTION — broadcastable at
    * any corpus scale whenever the nightly key set fits an executor, so
    * the corpus never shuffles. The DuckDB mirror derives the same merge
    * from first principles (delta UNION target-minus-delta-keys). */
  val q90MergeUpsert: QuerySpec = QuerySpec.oracle(
    "q90_merge_upsert",
    """WITH target AS (SELECT * FROM documents WHERE doc_id < 300),
      |u AS (SELECT doc_id, text, lang, 'patched' AS source,
      |        n_chars + 1000 AS n_chars
      |      FROM documents WHERE doc_id BETWEEN 200 AND 349)
      |SELECT doc_id, text, lang, source, n_chars FROM u
      |UNION ALL
      |SELECT t.doc_id, t.text, t.lang, t.source, t.n_chars FROM target t
      |WHERE t.doc_id NOT IN (SELECT doc_id FROM u)
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val target = docs.filter(col("doc_id") < 300)
    val updates = docs.filter(col("doc_id").between(200, 349))
      .withColumn("source", lit("patched"))
      .withColumn("n_chars", col("n_chars") + 1000)
    Merge.upsert(target, updates, "doc_id")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** SCD2 history maintenance ([[Merge.scd2Apply]]): both engines
    * synthesize the identical two-generation dimension history (every 7th
    * customer carries a closed 2018 'LEGACY' generation) and the identical
    * nightly delta (every 10th customer re-segmented effective 2024-06-01),
    * then apply — current rows for delta keys close at effective − 1 day,
    * the delta appends as the open generation, everything else passes
    * through. (c_custkey, valid_from) is unique, so the order-by is total. */
  val q131Scd2: QuerySpec = QuerySpec.oracle(
    "q131_scd2_history",
    """WITH hist AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |    DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
      |    true AS is_current
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, 'LEGACY',
      |    DATE '2018-01-01', DATE '2019-12-31', false
      |  FROM customer WHERE c_custkey % 7 = 0),
      |delta AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal,
      |    'PATCHED' AS c_mktsegment, DATE '2024-06-01' AS eff
      |  FROM customer WHERE c_custkey % 10 = 0),
      |untouched AS (
      |  SELECT h.* FROM hist h WHERE c_custkey NOT IN (SELECT c_custkey FROM delta)),
      |prior_closed AS (
      |  SELECT h.* FROM hist h
      |  WHERE NOT is_current AND c_custkey IN (SELECT c_custkey FROM delta)),
      |closed AS (
      |  SELECT h.c_custkey, h.c_name, h.c_nationkey, h.c_acctbal, h.c_mktsegment,
      |    h.valid_from, d.eff - 1 AS valid_to, false AS is_current
      |  FROM hist h JOIN delta d USING (c_custkey) WHERE h.is_current),
      |fresh AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |    eff AS valid_from, CAST(NULL AS DATE) AS valid_to, true AS is_current
      |  FROM delta)
      |SELECT * FROM untouched UNION ALL SELECT * FROM prior_closed
      |UNION ALL SELECT * FROM closed UNION ALL SELECT * FROM fresh
      |ORDER BY c_custkey, valid_from""".stripMargin
  ) { (spark, dir) =>
    val cust = Tables.customer(spark, dir)
    val hist = cust
      .withColumn("valid_from", lit(java.sql.Date.valueOf("2020-01-01")))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
      .unionByName(cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_mktsegment", lit("LEGACY"))
        .withColumn("valid_from", lit(java.sql.Date.valueOf("2018-01-01")))
        .withColumn("valid_to", lit(java.sql.Date.valueOf("2019-12-31")))
        .withColumn("is_current", lit(false)))
    val delta = cust.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100)
      .withColumn("c_mktsegment", lit("PATCHED"))
      .withColumn("eff", lit(java.sql.Date.valueOf("2024-06-01")))
    Merge.scd2Apply(hist, delta, "c_custkey", "eff")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
        "valid_from", "valid_to", "is_current")
      .orderBy("c_custkey", "valid_from")
  }

  /** Incremental materialized-view maintenance: the ORACLE recomputes the
    * weekly (priority) revenue rollup from scratch over ALL orders; the
    * Spark side REFRESHES it — yesterday's aggregate state (orders with
    * o_orderkey % 4 ≠ 0) merged with the new batch's partial aggregate
    * (% 4 = 0) by summing the mergeable states. A hash-match therefore
    * PROVES the maintenance identity refresh(base, Δ) ≡ recompute(all)
    * bit-exactly — which only holds because the states are decimal (an
    * order-sensitive double sum would diverge between the two plans).
    * This is the recompute-free rollup refresh a 100 TB nightly pipeline
    * lives on: cost scales with |Δ| + |view|, never the fact history. */
  val q132MvRefresh: QuerySpec = QuerySpec.oracle(
    "q132_mv_refresh",
    """SELECT CAST(date_trunc('week', CAST(o_orderdate AS TIMESTAMP)) AS DATE) AS week,
      |  o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
      |FROM orders GROUP BY 1, 2 ORDER BY week, o_orderpriority""".stripMargin
  ) { (spark, dir) =>
    val orders = Tables.orders(spark, dir)
    def partialState(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(to_date(date_trunc("week", col("o_orderdate"))).as("week"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)").as("rev"))
    val baseView = partialState(orders.filter(col("o_orderkey") % 4 =!= 0))
    val deltaState = partialState(orders.filter(col("o_orderkey") % 4 === 0))
    baseView.unionByName(deltaState)
      .groupBy("week", "o_orderpriority")
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("rev")).as("rev"))
      .select(col("week"), col("o_orderpriority"), col("n_orders"),
        col("rev").cast("double").as("revenue"),
        (col("rev").cast("double") / col("n_orders")).as("avg_price"))
      .orderBy("week", "o_orderpriority")
  }

  /** k-anonymity audit over the customer table's demographic-shaped quasi-identifiers — q133's governance
    * companion: before a release, every (segment, nation, balance-bucket)
    * combination is counted and groups below k = 5 are flagged as
    * re-identifiable. The balance QI is GENERALIZED to a 2000-wide bucket
    * (one exactly-rounded IEEE floor division, q95's binning idiom) — the
    * generalization IS the audit's input contract (auditing raw
    * high-cardinality QIs is a degenerate all-singletons report); the
    * audit itself is one map-side-combined aggregate, report sized by QI
    * combinations. */
  val q137KAnonymity: QuerySpec = QuerySpec.sql(
    "q137_k_anonymity",
    """SELECT c_mktsegment AS segment, c_nationkey AS nation,
      |  CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_bucket,
      |  count(*) AS n_rows, count(*) >= 5 AS k_anon
      |FROM customer GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin)

  /** Right-to-be-forgotten cascade audit: a deletion request list (every
    * 97th customer — the deterministic stand-in for a GDPR batch) cascades
    * through the foreign-key chain customer → orders → lineitem, and the
    * report says what a purge run WOULD delete per table before anything
    * is rewritten — the dry-run every deletion pipeline runs first.
    * Shape at scale: each cascade step is a semi-join against the previous
    * step's KEY projection (request batches are small → broadcast; the
    * fact tables never shuffle), counts are 1-row aggregates riding the
    * crossJoin(broadcast(…)) scalar idiom, and the actual purge pairs
    * these predicates with the partitioned-overwrite sink (q103) to
    * rewrite only affected partitions. */
  val q133ForgetCascade: QuerySpec = QuerySpec.oracle(
    "q133_forget_cascade",
    """WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
      |del_o AS (SELECT o_orderkey FROM orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM del)),
      |r AS (
      |  SELECT 'customer' AS tbl, (SELECT count(*) FROM customer) AS n_rows,
      |    (SELECT count(*) FROM del) AS n_deleted
      |  UNION ALL
      |  SELECT 'lineitem', (SELECT count(*) FROM lineitem),
      |    (SELECT count(*) FROM lineitem
      |     WHERE l_orderkey IN (SELECT o_orderkey FROM del_o))
      |  UNION ALL
      |  SELECT 'orders', (SELECT count(*) FROM orders),
      |    (SELECT count(*) FROM del_o))
      |SELECT tbl, n_rows, n_deleted, n_rows - n_deleted AS n_kept
      |FROM r ORDER BY tbl""".stripMargin
  ) { (spark, dir) =>
    val cust = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val del = cust.filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("o_custkey"))
    val delO = orders.join(broadcast(del), Seq("o_custkey"), "left_semi")
      .select(col("o_orderkey").as("l_orderkey"))
    val delL = lineitem.join(broadcast(delO), Seq("l_orderkey"), "left_semi")
    def audit(tbl: String, all: org.apache.spark.sql.DataFrame,
              deleted: org.apache.spark.sql.DataFrame) =
      all.agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(deleted.agg(count(lit(1)).as("n_deleted"))))
        .select(lit(tbl).as("tbl"), col("n_rows"), col("n_deleted"),
          (col("n_rows") - col("n_deleted")).as("n_kept"))
    audit("customer", cust, del)
      .unionByName(audit("orders", orders, delO))
      .unionByName(audit("lineitem", lineitem, delL))
      .orderBy("tbl")
  }

  /** Row-level CDC feed between two table generations — q97 tells you WHAT
    * drifted (fingerprint diff); this emits the CHANGE ROWS a downstream
    * consumer replays (the insert/update/delete feed a lakehouse table
    * format derives from its transaction log, computed here from plain
    * snapshots). Both engines synthesize the same two generations from
    * `documents`: the old snapshot is doc_id < 450, the new one is
    * doc_id ≥ 50 with every 5th doc re-sourced — so the feed contains all
    * three op kinds. One full-outer join on the key; the update test
    * compares a canonical md5 over the non-key columns (null-safe via a
    * sentinel separator). Shape at scale: one key-keyed shuffle per side —
    * the sort-merge diff shape; nothing collects. */
  val q134CdcFeed: QuerySpec = QuerySpec.oracle(
    "q134_cdc_feed",
    """WITH old AS (SELECT doc_id, text, lang, source, n_chars
      |  FROM documents WHERE doc_id < 450),
      |new AS (SELECT doc_id, text, lang,
      |    CASE WHEN doc_id % 5 = 0 THEN 'resourced' ELSE source END AS source,
      |    n_chars
      |  FROM documents WHERE doc_id >= 50),
      |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |    o.doc_id IS NULL AS ins, n.doc_id IS NULL AS del,
      |    md5(concat_ws(chr(31), o.text, o.lang, o.source, CAST(o.n_chars AS VARCHAR))) AS oh,
      |    md5(concat_ws(chr(31), n.text, n.lang, n.source, CAST(n.n_chars AS VARCHAR))) AS nh
      |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
      |SELECT doc_id,
      |  CASE WHEN ins THEN 'insert' WHEN del THEN 'delete' ELSE 'update' END AS op,
      |  nh AS new_hash
      |FROM j WHERE ins OR del OR oh <> nh
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val oldGen = docs.filter(col("doc_id") < 450)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val newGen = docs.filter(col("doc_id") >= 50)
      .select(col("doc_id"), col("text"), col("lang"),
        when(col("doc_id") % 5 === 0, lit("resourced")).otherwise(col("source")).as("source"),
        col("n_chars"))
    def rowHash(p: String) = md5(concat_ws("",
      col(s"$p.text"), col(s"$p.lang"), col(s"$p.source"),
      col(s"$p.n_chars").cast("string")))
    oldGen.as("o").join(newGen.as("n"),
        col("o.doc_id") === col("n.doc_id"), "full_outer")
      .select(coalesce(col("o.doc_id"), col("n.doc_id")).as("doc_id"),
        col("o.doc_id").isNull.as("ins"), col("n.doc_id").isNull.as("del"),
        rowHash("o").as("oh"), rowHash("n").as("nh"))
      .filter(col("ins") || col("del") || col("oh") =!= col("nh"))
      .select(col("doc_id"),
        when(col("ins"), lit("insert")).when(col("del"), lit("delete"))
          .otherwise(lit("update")).as("op"),
        col("nh").as("new_hash"))
      .orderBy("doc_id")
  }

  /** Unpivot (wide→long melt): per-returnflag sums of four lineitem
    * measures unpivoted to (flag, measure, value) rows — the inverse of
    * q07's pivot, closing the reshape pair. Spark's native `unpivot`
    * plans an Expand (pure per-row fan-out, no shuffle); the DuckDB
    * mirror is the definitional UNION ALL of one SELECT per measure. */
  val q91Unpivot: QuerySpec = QuerySpec.oracle(
    "q91_unpivot", {
      val measures = Seq(
        "sum_qty" -> "l_quantity", "sum_price" -> "l_extendedprice",
        "sum_disc" -> "l_discount", "sum_tax" -> "l_tax")
      val aggs = measures.map { case (a, c) =>
        s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS $a"
      }.mkString(",\n  ")
      val arms = measures.map { case (a, _) =>
        s"SELECT l_returnflag, '$a' AS measure, $a AS value FROM a"
      }.mkString("\nUNION ALL ")
      s"""WITH a AS (SELECT l_returnflag, $aggs FROM lineitem GROUP BY 1)
         |$arms
         |ORDER BY l_returnflag, measure""".stripMargin
    }
  ) { (spark, dir) =>
    val agg = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_discount")).as("sum_disc"),
        dsum(col("l_tax")).as("sum_tax"))
    agg.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc"), col("sum_tax")),
        "measure", "value")
      .orderBy("l_returnflag", "measure")
  }

  /** Dictionary-blocked fuzzy match (edit-distance similarity join): all
    * part-NAME pairs within Levenshtein distance 3, each carrying its
    * corpus frequency. The scale story is the whole point: the quadratic
    * runs over the DISTINCT-name dictionary (64 names at every sf — vocab-
    * bounded, it does not grow with the corpus), never over parts, so the
    * nested-loop side is a broadcast of a dictionary-sized aggregate and
    * the corpus contributes only the per-name count aggregation. This is
    * the same dedup-to-dictionary discipline q31/q35 apply to shingles:
    * make the O(n²) step O(|vocab|²) and attach rows back by equi-join /
    * pre-aggregation. The filter is the natural `levenshtein(a, b) <= 3`;
    * in a session with [[graft.GraftExtensions]],
    * [[graft.plans.BoundLevenshteinRule]] rewrites it to the
    * THRESHOLD-bounded banded DP, which visits O(k·min(|a|,|b|)) cells
    * and rejects a non-matching pair at the length gap instead of filling
    * the whole matrix (over a 64-name dictionary either form is cheap).
    * `dist` is cast to BIGINT, the type DuckDB's levenshtein returns. */
  val q93FuzzyNamePairs: QuerySpec = QuerySpec.sql(
    "q93_fuzzy_name_pairs",
    """WITH names AS (SELECT p_name, count(*) AS n_parts FROM part GROUP BY 1)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
      |  a.n_parts AS n_a, b.n_parts AS n_b
      |FROM names a JOIN names b ON a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |ORDER BY dist, name_a, name_b""".stripMargin)

  /** Jaro-Winkler fuzzy pairs ([[graft.functions.JaroWinklerExpression]])
    * over the part-name dictionary — q93's blocking discipline with the
    * record-linkage scorer Spark lacks natively. The FLOAT similarity is
    * part of the hash-verified result: the kernel's arithmetic (match
    * window, integer-halved transpositions, >0.7-gated Winkler boost) is
    * pinned to DuckDB's `jaro_winkler_similarity` bit-for-bit, so a
    * future kernel regression in any edge case fails the oracle, not
    * just a spec fixture. Same vocab-bounded broadcast quadratic as
    * q93/q140 — the corpus never enters the pair loop. */
  val q153JaroWinkler: QuerySpec = QuerySpec.oracle(
    "q153_jaro_winkler",
    """WITH names AS (SELECT DISTINCT p_name FROM part)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  jaro_winkler_similarity(a.p_name, b.p_name) AS jw
      |FROM names a JOIN names b ON a.p_name < b.p_name
      |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.75
      |ORDER BY name_a, name_b""".stripMargin
  ) { (spark, dir) =>
    import graft.functions.JaroWinklerExpression.jaroWinkler
    val names = Tables.part(spark, dir).select("p_name").distinct()
    val a = names.select(col("p_name").as("name_a"))
    val b = names.select(col("p_name").as("name_b"))
    a.join(broadcast(b), col("name_a") < col("name_b"))
      .withColumn("jw", jaroWinkler(col("name_a"), col("name_b")))
      .filter(col("jw") >= 0.75)
      .select("name_a", "name_b", "jw")
      .orderBy("name_a", "name_b")
  }

  /** Sorted-neighborhood fuzzy blocking — the THIRD blocking discipline
    * beside LSH banding (q32/q88) and pigeonhole hamming (q33/q148):
    * sort the dictionary once, compare each entry only to its next `w`
    * neighbors in sort order, verify with Levenshtein (q93's filter). Sorted
    * order puts shared-prefix variants adjacent, so candidate volume is
    * |dict|·w instead of |dict|² — the classic record-linkage sweep
    * (Hernández & Stolfo 1995), and the blocking of choice when edits
    * cluster at the SUFFIX (prefix-preserving typos), where minhash
    * shingles get diluted. The window rides the vocab-bounded dictionary
    * (q95's bounded-window argument; at corpus scale the sort stripes
    * like q36's). The miss it accepts by design: a FIRST-letter edit
    * sorts far away — exactly why q93's exhaustive quadratic stays the
    * reference within dictionary budgets. */
  val q158SortedNeighborhood: QuerySpec = QuerySpec.sql(
    "q158_sorted_neighborhood",
    """WITH names AS (SELECT DISTINCT p_name FROM part),
      |s AS (SELECT p_name,
      |  lead(p_name, 1) OVER (ORDER BY p_name) AS n1,
      |  lead(p_name, 2) OVER (ORDER BY p_name) AS n2,
      |  lead(p_name, 3) OVER (ORDER BY p_name) AS n3
      |  FROM names),
      |cand AS (
      |  SELECT p_name AS name_a, n1 AS name_b FROM s WHERE n1 IS NOT NULL
      |  UNION ALL SELECT p_name, n2 FROM s WHERE n2 IS NOT NULL
      |  UNION ALL SELECT p_name, n3 FROM s WHERE n3 IS NOT NULL)
      |SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
      |FROM cand
      |WHERE levenshtein(name_a, name_b) <= 3
      |ORDER BY name_a, name_b""".stripMargin)

  /** Fixed-width histogram + cumulative distribution of order totals —
    * the data-profiling primitive behind outlier thresholds and mixture
    * budgeting. Binning is pure per-row arithmetic (floor of one exactly-
    * rounded IEEE division — no percentile sort, no sampling), so the
    * heavy step is an ordinary map-side-combined count aggregate; the
    * running total then rides a GLOBAL ordered window, which is safe here
    * and only here because its input is the histogram itself — bounded by
    * the bucket count (~20 rows), not the corpus (the same bounded-window
    * argument as q55's cut-point table). cum_share is one integer-ratio
    * division, hash-identical across engines. */
  val q95PriceHistogram: QuerySpec = QuerySpec.oracle(
    "q95_price_histogram",
    """WITH h AS (
      |  SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
      |    count(*) AS n_orders
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total FROM h)
      |SELECT bucket, bucket * 25000.0 AS lo, (bucket + 1) * 25000.0 AS hi,
      |  n_orders,
      |  CAST(sum(n_orders) OVER (ORDER BY bucket
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_orders,
      |  CAST(CAST(sum(n_orders) OVER (ORDER BY bucket
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
      |    / CAST(n_total AS DOUBLE) AS cum_share
      |FROM h CROSS JOIN t
      |ORDER BY bucket""".stripMargin
  ) { (spark, dir) =>
    val h = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") / lit(25000.0)).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_orders"))
    val t = h.agg(sum(col("n_orders")).as("n_total"))
    // ACCEPTED WindowExec warning: the window rides the 25k-wide
    // price-BUCKET aggregate (bounded cardinality), not the order stream —
    // single-partition execution over a few thousand rows is the intended
    // plan at any corpus scale. (A literal partition key would document
    // this in-plan, but Spark 4's optimizer strips foldable partition
    // specs, so the warning is unavoidable; accepted per site instead.)
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.crossJoin(broadcast(t))
      .withColumn("cum_orders", sum(col("n_orders")).over(w))
      .select(col("bucket"),
        (col("bucket") * lit(25000.0)).as("lo"),
        ((col("bucket") + lit(1)) * lit(25000.0)).as("hi"),
        col("n_orders"), col("cum_orders"),
        (col("cum_orders").cast("double") / col("n_total").cast("double")).as("cum_share"))
      .orderBy("bucket")
  }

  /** GROUPING SETS with DISJOINT sets — the grouping shape rollup/cube
    * (q06/q13) cannot express: status-only marginals, priority-only
    * marginals, and the grand total, with NO (status, priority) cross
    * cells. Spark plans one scan + Expand (3× fan-out of the grouping
    * columns only, same machinery as rollup) + one aggregate — the
    * marginals never rescan the source. */
  val q96GroupingSets: QuerySpec = QuerySpec.sql(
    "q96_grouping_sets",
    s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
       |  coalesce(o_orderpriority, 'ALL') AS priority,
       |  count(*) AS n_orders, $SumPrice AS total_price
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
       |ORDER BY status, priority""".stripMargin)

  /** Table diff (the change-data-capture primitive behind snapshot
    * reconciliation): classify every key as added / removed / changed
    * between two versions of a table — here the q90-style fixture, an old
    * snapshot (doc_id < 300) against a new one (100–399, with the 200–299
    * band's source rewritten). The scale discipline is what matters: each
    * side is projected to (key, md5(payload)) AT THE SCAN, so the
    * co-partitioned full-outer join shuffles 16-byte fingerprints — the
    * document bodies never move, and 'changed' detection is one hash
    * comparison instead of a wide row compare. Each field is hashed
    * BEFORE concatenation (fixed-width hex), so field boundaries can
    * never be forged by delimiter characters inside a value — a raw
    * `concat_ws('|', text, lang)` would fingerprint ("a|b", "c") and
    * ("a", "b|c") identically and misclassify such an edit as unchanged.
    * md5 over identical UTF-8 is cross-engine (q32 proves the
    * primitive), so the classification hash-matches DuckDB's first-
    * principles mirror. Each field hash is wrapped in coalesce with a
    * field-distinct sentinel ('<' and '>' never appear in hex output, so
    * a sentinel can't be forged by real data): without it md5(NULL) is
    * NULL, concat propagates it, and the post-join `old_h <> new_h`
    * filter — NULL under three-valued logic — would silently drop every
    * edit touching a row with any NULL payload field. Unchanged keys
    * (100–199) are dropped by the post-join filter. */
  val q97TableDiff: QuerySpec = QuerySpec.oracle(
    "q97_table_diff",
    """WITH v_old AS (
      |  SELECT doc_id,
      |    md5(concat(coalesce(md5(text), '<null:text>'),
      |      coalesce(md5(lang), '<null:lang>'),
      |      coalesce(md5(source), '<null:source>'),
      |      coalesce(md5(CAST(n_chars AS VARCHAR)), '<null:n_chars>'))) AS h
      |  FROM documents WHERE doc_id < 300),
      |v_new AS (
      |  SELECT doc_id,
      |    md5(concat(coalesce(md5(text), '<null:text>'),
      |      coalesce(md5(lang), '<null:lang>'),
      |      coalesce(md5(CASE WHEN doc_id BETWEEN 200 AND 299 THEN 'patched' ELSE source END), '<null:source>'),
      |      coalesce(md5(CAST(n_chars AS VARCHAR)), '<null:n_chars>'))) AS h
      |  FROM documents WHERE doc_id BETWEEN 100 AND 399)
      |SELECT coalesce(v_old.doc_id, v_new.doc_id) AS doc_id,
      |  CASE WHEN v_old.doc_id IS NULL THEN 'added'
      |       WHEN v_new.doc_id IS NULL THEN 'removed'
      |       ELSE 'changed' END AS change
      |FROM v_old FULL JOIN v_new ON v_old.doc_id = v_new.doc_id
      |WHERE v_old.doc_id IS NULL OR v_new.doc_id IS NULL OR v_old.h <> v_new.h
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val fingerprint = md5(concat(
      coalesce(md5(col("text")), lit("<null:text>")),
      coalesce(md5(col("lang")), lit("<null:lang>")),
      coalesce(md5(col("source")), lit("<null:source>")),
      coalesce(md5(col("n_chars").cast("string")), lit("<null:n_chars>"))))
    val docs = Tables.documents(spark, dir)
    val oldV = docs.filter(col("doc_id") < 300)
      .select(col("doc_id").as("old_id"), fingerprint.as("old_h"))
    val newV = docs.filter(col("doc_id").between(100, 399))
      .withColumn("source",
        when(col("doc_id").between(200, 299), lit("patched")).otherwise(col("source")))
      .select(col("doc_id").as("new_id"), fingerprint.as("new_h"))
    oldV.join(newV, col("old_id") === col("new_id"), "full_outer")
      .filter(col("old_id").isNull || col("new_id").isNull ||
        col("old_h") =!= col("new_h"))
      .select(coalesce(col("old_id"), col("new_id")).as("doc_id"),
        when(col("old_id").isNull, lit("added"))
          .when(col("new_id").isNull, lit("removed"))
          .otherwise(lit("changed")).as("change"))
      .orderBy("doc_id")
  }

  /** Weekly revenue with week-over-week growth — the reporting time
    * series every pipeline ends in. The heavy step is the ordinary
    * per-week aggregate; lag/growth then ride a GLOBAL ordered window
    * whose input is the weekly series itself — bounded by the calendar
    * (≤ ~350 weeks for this corpus's 1995–2001 span), not the corpus,
    * the same bounded-window argument as q95's buckets. The growth ratio
    * is (rev − prev) / prev on decimal-exact revenues: two exactly-
    * rounded IEEE ops on identical inputs, so it hash-matches; the first
    * week's NULLs survive as genuine NULLs on both engines. */
  val q99WeeklyWow: QuerySpec = QuerySpec.sql(
    "q99_weekly_wow",
    """WITH w AS (
      |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
      |    count(*) AS n_orders,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM orders GROUP BY 1)
      |SELECT week, n_orders, revenue,
      |  lag(revenue) OVER (ORDER BY week) AS prev_revenue,
      |  (revenue - lag(revenue) OVER (ORDER BY week))
      |    / lag(revenue) OVER (ORDER BY week) AS wow
      |FROM w ORDER BY week""".stripMargin)

  /** Exact reproducible bivariate statistics — Pearson correlation and
    * sample covariance of (l_quantity, l_discount) per return flag,
    * derived from decimal-exact sums the way q66 derives variance.
    * Spark's native corr/covar_samp stream Welford-style updates whose
    * result depends on partition order — not reproducible run-to-run, let
    * alone engine-to-engine. Here the five sufficient statistics (Σx, Σy,
    * Σxy, Σx², Σy²) are order-independent decimal sums, and the closing
    * arithmetic (two sqrt, exactly-rounded IEEE) is bit-identical across
    * engines. The sqrt arguments are clamped at 0 on both sides: a
    * zero-variance group's numerator can cancel slightly negative in
    * doubles (q66's documented clamp), and a zero denominator pins NULL
    * (undefined correlation) on both engines. */
  val q101Correlation: QuerySpec = QuerySpec.sql(
    "q101_correlation",
    """WITH s AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(l_discount * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  CASE WHEN n < 2 THEN NULL ELSE
      |    (CAST(n AS DOUBLE) * sxy - sx * sy)
      |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) END AS cov_qty_disc,
      |  CASE WHEN n < 2
      |      OR sqrt(greatest(CAST(n AS DOUBLE) * sxx - sx * sx, 0)) = 0
      |      OR sqrt(greatest(CAST(n AS DOUBLE) * syy - sy * sy, 0)) = 0 THEN NULL
      |    ELSE (CAST(n AS DOUBLE) * sxy - sx * sy)
      |      / (sqrt(greatest(CAST(n AS DOUBLE) * sxx - sx * sx, 0))
      |         * sqrt(greatest(CAST(n AS DOUBLE) * syy - sy * sy, 0))) END AS corr_qty_disc
      |FROM s ORDER BY l_returnflag""".stripMargin)

  /** Bounded sliding-frame window (4-week rolling revenue) — the moving-
    * aggregate reporting primitive q09's UNBOUNDED-PRECEDING cumulative
    * form doesn't cover. The frame sum goes through DECIMAL inside the
    * window: sliding-window engines are free to re-associate frame
    * members (DuckDB's segment tree vs Spark's running accumulator), and
    * only an associative-exact type makes the two orders bit-identical —
    * q09's trick, now load-bearing for a genuinely reordered frame. The
    * window input is the weekly series (calendar-bounded, q99's
    * argument); the head-of-series average divides by the real frame
    * count, not a constant 4. */
  val q102RollingRevenue: QuerySpec = QuerySpec.sql(
    "q102_rolling_revenue",
    """WITH w AS (
      |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM orders GROUP BY 1)
      |SELECT week, revenue,
      |  CAST(sum(CAST(revenue AS DECIMAL(18,2))) OVER (ORDER BY week
      |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll4_revenue,
      |  count(*) OVER (ORDER BY week
      |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll4_weeks,
      |  CAST(sum(CAST(revenue AS DECIMAL(18,2))) OVER (ORDER BY week
      |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(count(*) OVER (ORDER BY week
      |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll4_avg
      |FROM w ORDER BY week""".stripMargin)

  /** Ratio-to-parent + rank-within-parent (the BI "share of region"
    * report): nation order revenue as a fraction of its region's total,
    * ranked inside the region. Both windows run over the AGGREGATED
    * 25-nation table (q92's discipline — never a window over the fact
    * stream), partitioned by region: bounded by dimension cardinality.
    * The share's denominator goes through DECIMAL inside the window
    * (q102's re-association argument) and the share itself is one exact
    * IEEE division of decimal-derived doubles. rank() needs the n_name
    * tiebreak only for bit-stable plans — revenue ties can't occur on
    * decimal-exact sums of distinct order sets, but determinism is not
    * left to luck. */
  val q108RevenueShare: QuerySpec = QuerySpec.sql(
    "q108_revenue_share",
    """WITH nr AS (
      |  SELECT r_name, n_name, count(*) AS n_orders,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM region
      |  JOIN nation ON n_regionkey = r_regionkey
      |  JOIN customer ON c_nationkey = n_nationkey
      |  JOIN orders ON o_custkey = c_custkey
      |  GROUP BY 1, 2)
      |SELECT r_name, n_name, n_orders, revenue,
      |  revenue / CAST(sum(CAST(revenue AS DECIMAL(18,2)))
      |    OVER (PARTITION BY r_name) AS DOUBLE) AS region_share,
      |  CAST(rank() OVER (PARTITION BY r_name
      |    ORDER BY revenue DESC, n_name) AS BIGINT) AS region_rank
      |FROM nr ORDER BY r_name, region_rank""".stripMargin)

  /** Time-series densification (gap detection): the calendar scaffold —
    * every (nation, week) cell the corpus COULD have filled, built from
    * `sequence` over the span bounds × the nation dimension — anti-joined
    * against the observed cells, emitting the 1,500+ empty cells a naive
    * per-key aggregate silently omits (a dashboard that never renders a
    * zero week hides every outage). Scaffold physics: the calendar comes
    * from a 1-row bounds aggregate (lazy scalar idiom) and the cross
    * product is dimension × calendar (25 × ~345) — bounded by design,
    * never corpus-sized; the only corpus-scale work is the distinct
    * (nation, week) projection the anti join probes. */
  val q109DensifyGaps: QuerySpec = QuerySpec.oracle(
    "q109_densify_gaps",
    """WITH b AS (
      |  SELECT min(CAST(date_trunc('week', o_orderdate) AS DATE)) AS lo,
      |         max(CAST(date_trunc('week', o_orderdate) AS DATE)) AS hi
      |  FROM orders),
      |cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL 7 DAY))::DATE AS week FROM b),
      |nw AS (SELECT n_name, CAST(date_trunc('week', o_orderdate) AS DATE) AS week
      |       FROM orders
      |       JOIN customer ON o_custkey = c_custkey
      |       JOIN nation ON c_nationkey = n_nationkey
      |       GROUP BY 1, 2),
      |scaffold AS (
      |  SELECT n_name, week FROM (SELECT DISTINCT n_name FROM nw) CROSS JOIN cal)
      |SELECT s.n_name AS n_name, s.week AS week
      |FROM scaffold s
      |LEFT JOIN nw ON nw.n_name = s.n_name AND nw.week = s.week
      |WHERE nw.n_name IS NULL
      |ORDER BY s.n_name, s.week""".stripMargin
  ) { (spark, dir) =>
    val weekCol = date_trunc("week", col("o_orderdate")).cast("date")
    val observed = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), weekCol.as("week")).distinct()
    val bounds = Tables.orders(spark, dir)
      .agg(min(weekCol).as("lo"), max(weekCol).as("hi"))
    val cal = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 7 days"))).as("week"))
    observed.select("n_name").distinct()
      .crossJoin(broadcast(cal))
      .join(observed, Seq("n_name", "week"), "left_anti")
      .orderBy("n_name", "week")
  }

  /** Gaps-and-islands in batch form (longest outage per nation): q109's
    * gap cells grouped into CONSECUTIVE runs by the difference-of-
    * sequences key — week minus 7·row_number is constant exactly within
    * an unbroken weekly run — then reduced to each nation's longest run.
    * This is the islands idiom q61's DuckDB mirror uses to verify
    * session_window, now as the declared Spark-side operator for
    * non-temporal-gap semantics session_window can't express (it merges
    * by event gaps, not by missing CALENDAR cells). Every window here
    * runs over the bounded gap/run tables (≤ dimension × calendar rows);
    * the longest-run pick is max_by over a (len, earliest-start) struct
    * — one aggregate, no second window pass. */
  val q110LongestGap: QuerySpec = QuerySpec.oracle(
    "q110_longest_gap",
    """WITH b AS (
      |  SELECT min(CAST(date_trunc('week', o_orderdate) AS DATE)) AS lo,
      |         max(CAST(date_trunc('week', o_orderdate) AS DATE)) AS hi
      |  FROM orders),
      |cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL 7 DAY))::DATE AS week FROM b),
      |nw AS (SELECT n_name, CAST(date_trunc('week', o_orderdate) AS DATE) AS week
      |       FROM orders
      |       JOIN customer ON o_custkey = c_custkey
      |       JOIN nation ON c_nationkey = n_nationkey
      |       GROUP BY 1, 2),
      |gaps AS (
      |  SELECT s.n_name AS n_name, s.week AS week
      |  FROM (SELECT n_name, week FROM (SELECT DISTINCT n_name FROM nw) CROSS JOIN cal) s
      |  LEFT JOIN nw ON nw.n_name = s.n_name AND nw.week = s.week
      |  WHERE nw.n_name IS NULL),
      |isl AS (SELECT n_name, week,
      |  week - CAST(7 * row_number() OVER (PARTITION BY n_name ORDER BY week) AS INTEGER) AS island
      |  FROM gaps),
      |runs AS (SELECT n_name, island, count(*) AS run_weeks, min(week) AS run_start
      |         FROM isl GROUP BY 1, 2)
      |SELECT n_name,
      |  count(*) AS n_runs,
      |  CAST(max(run_weeks) AS BIGINT) AS longest_run_weeks,
      |  min(run_start) FILTER (WHERE run_weeks = (
      |    SELECT max(r2.run_weeks) FROM runs r2 WHERE r2.n_name = runs.n_name))
      |    AS longest_run_start
      |FROM runs GROUP BY n_name
      |ORDER BY n_name""".stripMargin
  ) { (spark, dir) =>
    val weekCol = date_trunc("week", col("o_orderdate")).cast("date")
    val observed = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), weekCol.as("week")).distinct()
    val bounds = Tables.orders(spark, dir)
      .agg(min(weekCol).as("lo"), max(weekCol).as("hi"))
    val cal = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 7 days"))).as("week"))
    val gaps = observed.select("n_name").distinct()
      .crossJoin(broadcast(cal))
      .join(observed, Seq("n_name", "week"), "left_anti")
    val rn = Window.partitionBy("n_name").orderBy("week")
    val runs = gaps
      .withColumn("island", date_sub(col("week"), (lit(7) * row_number().over(rn)).cast("int")))
      .groupBy("n_name", "island")
      .agg(count(lit(1)).as("run_weeks"), min(col("week")).as("run_start"))
    runs.groupBy("n_name")
      .agg(count(lit(1)).as("n_runs"),
        max(col("run_weeks")).as("longest_run_weeks"),
        min_by(col("run_start"),
          struct((-col("run_weeks")).as("neg"), col("run_start").cast("timestamp").as("t")))
          .as("longest_run_start"))
      .orderBy("n_name")
  }

  /** Join fan-out profile — the distribution of lineitems per order,
    * i.e. the key-multiplicity histogram that DECIDES join strategy
    * (a heavy tail here is what sends q81 to salting and AQE to skew
    * splits; a bounded profile clears plain SMJ). count(l_orderkey)
    * (not count(*)) so an itemless order profiles as fan-out 0 instead
    * of 1 through the left join. The per-key count is the only
    * corpus-scale work; the histogram and its share window are bounded
    * by the max multiplicity (≤7 here). */
  val q118FanoutProfile: QuerySpec = QuerySpec.sql(
    "q118_fanout_profile",
    """WITH f AS (
      |  SELECT o_orderkey, count(l_orderkey) AS n_items
      |  FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
      |  GROUP BY 1),
      |h AS (SELECT n_items, count(*) AS n_orders FROM f GROUP BY 1)
      |SELECT n_items, n_orders,
      |  CAST(n_orders AS DOUBLE)
      |    / CAST(CAST(sum(n_orders) OVER () AS BIGINT) AS DOUBLE) AS order_share
      |FROM h ORDER BY n_items""".stripMargin)

  /** Equi-DEPTH histogram (deciles) — the complement of q95's fixed-width
    * form: bucket boundaries are the exact interpolated 10..90th
    * percentiles (q15's percentile ↔ quantile_cont equivalence), shipped
    * as ONE 9-element row via the lazy 1-row cross-join idiom, and each
    * row's bucket is how many cut points its price strictly exceeds — a
    * 9-element lambda, the allowed cheap-HOF kind. No ntile, no global
    * sort: this is q55's cut-point discipline declared as the histogram
    * artifact itself. Bucket populations come out near-equal by
    * construction (exactly equal up to ties at the cuts). */
  val q119EquidepthHistogram: QuerySpec = QuerySpec.oracle(
    "q119_equidepth_histogram",
    """WITH c AS (
      |  SELECT quantile_cont(o_totalprice,
      |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
      |  FROM orders)
      |SELECT len(list_filter(cuts, x -> o_totalprice > x)) + 1 AS bucket,
      |  count(*) AS n_orders,
      |  min(o_totalprice) AS lo_price, max(o_totalprice) AS hi_price
      |FROM orders CROSS JOIN c
      |GROUP BY 1 ORDER BY bucket""".stripMargin
  ) { (spark, dir) =>
    val cuts = Tables.orders(spark, dir).agg(
      expr("percentile(o_totalprice, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))")
        .as("cuts"))
    Tables.orders(spark, dir).crossJoin(broadcast(cuts))
      .select(
        (size(filter(col("cuts"), x => col("o_totalprice") > x)) + lit(1))
          .cast("long").as("bucket"),
        col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("lo_price"),
        max(col("o_totalprice")).as("hi_price"))
      .orderBy("bucket")
  }

  /** Rank-DISTRIBUTION window family — percent_rank, cume_dist, ntile:
    * the relative-standing trio (the one window family with no declared
    * consumer until now; rank/dense_rank/row_number ride q08/q108).
    * Two window specs over the SAME nation partitioning, so Catalyst
    * plans ONE n_name exchange with two sort orders. percent_rank and
    * cume_dist rank each order's PRIORITY within its nation — a COARSE
    * order with real peer groups (5 priority values × thousands of
    * orders), so the peer semantics the engines must share are actually
    * exercised: percent_rank = (rank-1)/(n-1) uses the peer group's
    * FIRST row number, cume_dist counts THROUGH the peer group — a
    * total order would degenerate both to row_number arithmetic and
    * verify nothing. ntile(8) runs on the (o_totalprice, o_orderkey)
    * total order instead: tile assignment over ties is
    * implementation-arbitrary, so the deterministic tiebreak IS the
    * correctness condition. The ratios divide small exact integers in
    * double — IEEE rounds them identically in both engines, so the
    * hash comparison is sound (q118's order_share argument). */
  val q121RankDistribution: QuerySpec = QuerySpec.sql(
    "q121_rank_distribution",
    """SELECT n_name, o_orderkey,
      |  percent_rank() OVER (PARTITION BY n_name ORDER BY o_orderpriority) AS pr_priority,
      |  cume_dist() OVER (PARTITION BY n_name ORDER BY o_orderpriority) AS cd_priority,
      |  CAST(ntile(8) OVER (PARTITION BY n_name
      |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS price_tile
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY n_name, o_orderkey""".stripMargin)

  /** l-diversity audit — q137's governance companion one rung up the
    * privacy ladder: k-anonymity says each quasi-identifier group is big
    * enough to hide in, l-diversity (Machanavajjhala et al. 2007) says the
    * SENSITIVE attribute inside the group is varied enough that group
    * membership doesn't leak it (a k=500 group whose every row shares one
    * segment still discloses the segment — the homogeneity attack). QI =
    * (nation, balance-bucket) with q137's 2000-wide generalization;
    * sensitive = market segment. Per group: size, l = distinct sensitive
    * values, the l ≥ 3 flag, and the dominant value's exact count (the
    * homogeneity share numerator — shares stay integer, no float). Shape:
    * two stacked map-side-combined aggregates — (QI, sensitive) counts,
    * then QI rollup — report sized by QI combinations, never the corpus. */
  val q178LDiversity: QuerySpec = QuerySpec.sql(
    "q178_l_diversity",
    """WITH g AS (
      |  SELECT c_nationkey AS nation,
      |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_bucket,
      |    c_mktsegment AS segment, count(*) AS n
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT nation, bal_bucket, CAST(sum(n) AS BIGINT) AS n_rows,
      |  count(*) AS l_distinct, count(*) >= 3 AS l_diverse,
      |  CAST(max(n) AS BIGINT) AS top_segment_rows
      |FROM g GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin)

  /** t-closeness audit — the third rung of the privacy ladder (k-anonymity
    * q137: groups big enough to hide in; l-diversity q178: sensitive
    * values varied enough; t-closeness, Li et al. 2007: the sensitive
    * DISTRIBUTION inside each group stays close to the global one — a
    * group can be large and varied yet still skew toward "all high
    * balances", the skewness attack). QI = (segment, nation); sensitive =
    * the ORDERED 2000-wide balance bucket, where closeness is the Earth
    * Mover's Distance — which for an ordered attribute is just the mean
    * absolute difference of cumulative counts: EMD = Σ_j |cumP_j − cumQ_j|
    * / (m−1). Every term is kept integer over the SHARED denominator
    * n_g·N: emd_num = Σ_j |cum_g·N − cum_glob·n_g|, t_micro =
    * emd_num·10⁶ div (n_g·N·(m−1)) — exact integers end-to-end, so the
    * distance itself (not a float approximation) hash-matches DuckDB.
    * Flag at t ≤ 0.2 (the paper's running example). Shape at scale: one
    * corpus-sized (QI, bucket) aggregate; the global bucket CDF and the
    * (N, m) totals are dictionary-/unit-sized broadcasts; the grid is
    * QI-groups × bucket-dictionary (bounded by design, the q109 scaffold
    * argument) with a group-partitioned cumulative window — the corpus
    * never shuffles twice. Magnitudes: cum·N ≤ n_g·N ≤ N², and ·10⁶ —
    * fits int64 through SF where N ≤ ~3·10⁶ rows per audit scope; larger
    * releases audit per partition or move the internal sums to decimal. */
  val q182TCloseness: QuerySpec = QuerySpec.oracle(
    "q182_t_closeness",
    """WITH b AS (
      |  SELECT c_mktsegment AS segment, c_nationkey AS nation,
      |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bucket
      |  FROM customer),
      |gb AS (SELECT bucket, count(*) AS nb FROM b GROUP BY bucket),
      |gcum AS (SELECT bucket, CAST(sum(nb) OVER (ORDER BY bucket) AS BIGINT) AS cum_g FROM gb),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |               CAST(count(DISTINCT bucket) AS BIGINT) AS m FROM b),
      |grp AS (SELECT segment, nation, count(*) AS ng FROM b GROUP BY 1, 2),
      |gbc AS (SELECT segment, nation, bucket, count(*) AS c FROM b GROUP BY 1, 2, 3),
      |grid AS (SELECT g.segment, g.nation, g.ng, gc.bucket, gc.cum_g
      |         FROM grp g CROSS JOIN gcum gc),
      |cum AS (
      |  SELECT gr.segment, gr.nation, gr.ng, gr.bucket, gr.cum_g,
      |    CAST(sum(coalesce(gbc.c, 0)) OVER (PARTITION BY gr.segment, gr.nation
      |      ORDER BY gr.bucket) AS BIGINT) AS cum_grp
      |  FROM grid gr LEFT JOIN gbc
      |    ON gbc.segment = gr.segment AND gbc.nation = gr.nation AND gbc.bucket = gr.bucket)
      |SELECT c.segment, c.nation, CAST(any_value(c.ng) AS BIGINT) AS n_rows,
      |  CAST(sum(abs(c.cum_grp * t.n - c.cum_g * c.ng)) AS BIGINT) AS emd_num,
      |  CAST(any_value(c.ng) * t.n * (t.m - 1) AS BIGINT) AS emd_den,
      |  CAST(sum(abs(c.cum_grp * t.n - c.cum_g * c.ng)) * 1000000
      |    // (any_value(c.ng) * t.n * (t.m - 1)) AS BIGINT) AS t_micro,
      |  sum(abs(c.cum_grp * t.n - c.cum_g * c.ng)) * 1000000
      |    // (any_value(c.ng) * t.n * (t.m - 1)) <= 200000 AS t_close
      |FROM cum c CROSS JOIN tot t
      |GROUP BY c.segment, c.nation, t.n, t.m
      |ORDER BY c.segment, c.nation""".stripMargin
  ) { (spark, dir) =>
    val b = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("segment"), col("c_nationkey").as("nation"),
        floor(col("c_acctbal") / lit(2000.0)).cast("long").as("bucket"))
    // bucket dictionary with its global CDF (dict-sized; the single-
    // partition window is over ~|buckets| rows, q109's calendar argument)
    val gcum = b.groupBy("bucket").agg(count(lit(1)).as("nb"))
      .withColumn("cum_g",
        sum(col("nb")).over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .select("bucket", "cum_g")
    val tot = b.agg(count(lit(1)).cast("long").as("n"),
      countDistinct(col("bucket")).cast("long").as("m"))
    val grp = b.groupBy("segment", "nation").agg(count(lit(1)).as("ng"))
    val gbc = b.groupBy("segment", "nation", "bucket").agg(count(lit(1)).as("c"))
    // QI-groups × bucket dictionary: bounded grid, never corpus-sized
    val grid = grp.crossJoin(broadcast(gcum))
    val cum = grid.join(gbc, Seq("segment", "nation", "bucket"), "left")
      .withColumn("cum_grp",
        sum(coalesce(col("c"), lit(0L)))
          .over(Window.partitionBy("segment", "nation").orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
    cum.crossJoin(broadcast(tot))
      .groupBy("segment", "nation", "n", "m")
      .agg(first(col("ng")).as("ng"),
        sum(abs(col("cum_grp") * col("n") - col("cum_g") * col("ng"))).cast("long").as("emd_num"))
      .select(col("segment"), col("nation"), col("ng").as("n_rows"), col("emd_num"),
        (col("ng") * col("n") * (col("m") - 1)).cast("long").as("emd_den"),
        expr("(emd_num * 1000000) div (ng * n * (m - 1))").cast("long").as("t_micro"),
        (expr("(emd_num * 1000000) div (ng * n * (m - 1))") <= 200000L).as("t_close"))
      .orderBy("segment", "nation")
  }

  val all: Seq[QuerySpec] = Seq(
    q01PricingSummary, q02ScanProjectFilter, q03JoinBroadcast, q04JoinSortMerge,
    q05JoinSemiAnti, q06AggRollup, q07PivotConfusion, q08WindowTopK,
    q09WindowRunning, q10SetOps, q11DatesMath, q12BalancedSample,
    q13AggCube, q14Distinct, q15Percentiles, q16Profile,
    q17CorrelatedAgg, q18ArgMinMax, q19StringFns, q46RegionalRevenue,
    q76BucketedJoin, q83ZOrderScan, q90MergeUpsert, q131Scd2, q132MvRefresh,
    q133ForgetCascade, q134CdcFeed, q137KAnonymity, q91Unpivot,
    q93FuzzyNamePairs, q153JaroWinkler, q158SortedNeighborhood, q95PriceHistogram, q96GroupingSets,
    q97TableDiff, q99WeeklyWow, q101Correlation, q102RollingRevenue,
    q108RevenueShare, q109DensifyGaps, q110LongestGap,
    q118FanoutProfile, q119EquidepthHistogram, q121RankDistribution,
    q178LDiversity, q182TCloseness)
}
