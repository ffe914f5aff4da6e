package graft.operators

import graft.QuerySpec
import graft.functions.Exprs._
import graft.sources.{Staged, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time operators in batch form (SURVEY.md §2.9): the same
  * window/session_window expressions the streaming module uses, run over the
  * events table so DuckDB can verify the semantics independently —
  * session_window (q107) against a gaps-and-islands formulation.
  */
object EventQueries {

  val q60TumblingWindow: QuerySpec = QuerySpec.sql(
    "q60_tumbling_window",
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin)

  /** Gaps-and-islands sessionization (10-minute gap): new session when the
    * gap to the previous event of the same user exceeds 10 minutes; session
    * end = last ts + gap. The gap comparison is strictly `>`, matching
    * Spark's session_window, which merges a session whose end TOUCHES the
    * next event's start — pinned empirically by EventQueriesSpec's
    * exact-boundary fixture. q107 runs session_window itself against this
    * formulation. */
  val q61SessionWindow: QuerySpec = QuerySpec.sql(
    "q61_session_window",
    """WITH d AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |m AS (SELECT user_id, ts,
      |  CASE WHEN prev IS NULL OR ts - prev > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM d),
      |s AS (SELECT user_id, ts,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 10 MINUTE AS session_end, count(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin)

  /** As-of join (clicks ⟕ most recent prior purchase per user) — the
    * union-window operator verified against DuckDB's native ASOF JOIN. */
  val q62AsOfJoin: QuerySpec = QuerySpec.oracle(
    "q62_asof_join",
    """WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.event_id, c.user_id, c.ts, p.ts AS asof_ts, p.value AS asof_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY c.event_id""".stripMargin
  ) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value")
    AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts", "ts", Seq("value"))
      .select("event_id", "user_id", "ts", "asof_ts", "asof_value")
      .orderBy("event_id")
  }

  /** Sliding windows (10 min length, 5 min slide): every event belongs to
    * exactly two windows; the DuckDB mirror derives the covering starts as
    * time_bucket(5min) and time_bucket(5min)−5min and unions them. */
  val q63SlidingWindow: QuerySpec = QuerySpec.oracle(
    "q63_sliding_window",
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
      |cov AS (
      |  SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, event_type, value FROM e
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE, event_type, value FROM e)
      |SELECT window_start, event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM cov
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin
  ) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  /** Semi-structured JSON column (events.props): extract a typed field and
    * aggregate on it — Spark get_json_object ↔ DuckDB json_extract. */
  val q64JsonExtract: QuerySpec = QuerySpec.oracle(
    "q64_json_extract",
    """SELECT event_type,
      |  CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, k_bucket""".stripMargin
  ) { (spark, dir) =>
    val k = get_json_object(col("props"), "$.k").cast("long")
    Tables.events(spark, dir)
      .groupBy(col("event_type"), (k % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n_events"), sum(k).as("sum_k"))
      .orderBy("event_type", "k_bucket")
  }

  /** Range (interval) join: every purchase within 30 minutes AFTER a click
    * by the same user — the binned-bucket operator verified against DuckDB's
    * native inequality join. */
  val q65RangeJoin: QuerySpec = QuerySpec.oracle(
    "q65_range_join",
    """WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.event_id, c.user_id, c.ts, p.ts AS r_ts, p.value AS r_value
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |ORDER BY c.event_id, r_ts, r_value""".stripMargin
  ) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value")
    RangeJoin.rangeJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
      lowerSec = 0L, upperSec = 1800L, rightValCols = Seq("value"))
      .select("event_id", "user_id", "ts", "r_ts", "r_value")
      .orderBy("event_id", "r_ts", "r_value")
  }

  /** OLS trend per event type over the daily series — q155's classical
    * counterpart (report both: where they disagree, outlier days are
    * moving the OLS line). q101's exact-sufficient-statistics recipe
    * lifted to regression: Σx, Σx², Σy, Σxy, Σy² accumulate EXACTLY
    * (bigint / decimal; x is the day offset from the global first day, a
    * small integer, so no decimal saturates), and slope / intercept / R²
    * are a handful of FIXED-ORDER double operations over those exact
    * components at the very end — the one-scan-plus-tiny-aggregate shape,
    * hash-identical across engines. The 1-row first-day aggregate rides
    * the broadcast scalar idiom. */
  val q159OlsTrend: QuerySpec = QuerySpec.oracle(
    "q159_ols_trend",
    """WITH d AS (
      |  SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT min(day) AS d0 FROM d),
      |x AS (SELECT event_type, CAST(date_diff('day', d0, day) AS BIGINT) AS x, y
      |      FROM d CROSS JOIN m),
      |s AS (SELECT event_type, count(*) AS n,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
      |        CAST(sum(y) AS DECIMAL(38,2)) AS sy,
      |        CAST(sum(CAST(x AS DECIMAL(18,0)) * y) AS DECIMAL(38,2)) AS sxy,
      |        CAST(sum(y * y) AS DECIMAL(38,4)) AS syy
      |      FROM x GROUP BY 1),
      |f AS (SELECT event_type, n, sx, sy,
      |        CAST(n * sxy - sx * sy AS DOUBLE) AS num,
      |        CAST(n * sxx - sx * sx AS DOUBLE) AS denx,
      |        CAST(n * syy - sy * sy AS DOUBLE) AS deny
      |      FROM s)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days,
      |  num / denx AS slope,
      |  (CAST(sy AS DOUBLE) - (num / denx) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
      |  (num * num) / (denx * deny) AS r2
      |FROM f ORDER BY event_type""".stripMargin
  ) { (spark, dir) =>
    val d = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("y"))
    val m = d.agg(min(col("day")).as("d0"))
    val x = d.crossJoin(broadcast(m))
      .select(col("event_type"),
        datediff(col("day"), col("d0")).cast("long").as("x"), col("y"))
    val s = x.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("long").as("sx"),
      sum(col("x") * col("x")).cast("long").as("sxx"),
      sum(col("y")).cast("decimal(38,2)").as("sy"),
      sum(col("x").cast("decimal(18,0)") * col("y")).cast("decimal(38,2)").as("sxy"),
      sum(col("y") * col("y")).cast("decimal(38,4)").as("syy"))
    val f = s.select(col("event_type"), col("n"), col("sx"), col("sy"),
      (col("n") * col("sxy") - col("sx") * col("sy")).cast("double").as("num"),
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double").as("denx"),
      (col("n") * col("syy") - col("sy") * col("sy")).cast("double").as("deny"))
    f.select(col("event_type"), col("n").cast("long").as("n_days"),
        (col("num") / col("denx")).as("slope"),
        ((col("sy").cast("double") - (col("num") / col("denx")) * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept"),
        ((col("num") * col("num")) / (col("denx") * col("deny"))).as("r2"))
      .orderBy("event_type")
  }

  /** Theil-Sen robust trend: per event type, the MEDIAN of all pairwise
    * daily-revenue slopes — the slope estimator that shrugs off the
    * outlier days an OLS fit chases (breakdown point 29%), the right
    * trend to alarm on before q122's volume fences. Day aggregation is
    * the only corpus-scale step; the pairwise slope set is
    * PERIOD-bounded (C(days, 2) per type — q122's calendar argument) and
    * joins on the type key with the day inequality as a post-join filter,
    * never a nested loop. Slopes divide exact decimal differences, and
    * the median is selected by integer rank over the striped ranking
    * (q154's machinery) — the even-count average is one fixed-order
    * float add + divide, so the estimate hash-matches cross-engine. */
  val q155TrendRobust: QuerySpec = QuerySpec.oracle(
    "q155_trend_robust",
    """WITH d AS (
      |  SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT a.event_type,
      |    CAST(b.v - a.v AS DOUBLE) / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
      |  FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day),
      |r AS (
      |  SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM p)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n_slopes,
      |  CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN slope ELSE 0 END)
      |     + sum(CASE WHEN n % 2 = 0 AND rn = n // 2 + 1 THEN slope ELSE 0 END) AS DOUBLE)
      |    / CAST(CASE WHEN max(n) % 2 = 0 THEN 2 ELSE 1 END AS DOUBLE) AS theil_sen_slope
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (spark, dir) =>
    val d = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("v"))
    val a = d.select(col("event_type"), col("day").as("day_a"), col("v").as("v_a"))
    val b = d.select(col("event_type"), col("day").as("day_b"), col("v").as("v_b"))
    val p = a.join(b, Seq("event_type")).filter(col("day_a") < col("day_b"))
      .select(col("event_type"),
        ((col("v_b") - col("v_a")).cast("double") /
          datediff(col("day_b"), col("day_a")).cast("double")).as("slope"))
    val ranked = StripedWindow.runningSum(
        StripedWindow.withRangeStripe(p, "slope", 16),
        Seq("event_type"), Seq(col("slope")), lit(1L), "rn", includeCurrent = true)
      .drop(StripedWindow.StripeCol)
    val counts = p.groupBy("event_type").agg(count(lit(1)).as("n"))
    ranked.join(broadcast(counts), "event_type")
      .groupBy("event_type")
      .agg(max(col("n")).cast("long").as("n_slopes"),
        ((sum(when(col("rn") === expr("(n + 1) div 2"), col("slope"))
          .otherwise(lit(0.0))) +
          sum(when(col("n") % 2 === 0 && col("rn") === expr("n div 2 + 1"), col("slope"))
            .otherwise(lit(0.0)))).cast("double") /
          when(max(col("n")) % 2 === 0, lit(2.0)).otherwise(lit(1.0)))
          .as("theil_sen_slope"))
      .orderBy("event_type")
  }

  /** Exact 10%-trimmed mean per event type — the robust aggregate that
    * tolerates tail corruption without q114's model assumptions (MAD
    * fences assume a symmetric spread; a trimmed mean just drops the
    * tails). EXACT: ranks are integers over the deterministic
    * (value, event_id) total order, the trim bounds are integral
    * divisions, and the kept mass sums in decimal — one float division
    * per group at the end. The per-type ranking runs STRIPED
    * ([[StripedWindow]], the q36 machinery): 16 value-range stripes per
    * type, so a 5-type corpus still ranks with 5 × 16 parallelism
    * instead of one task per type. */
  val q154TrimmedMean: QuerySpec = QuerySpec.oracle(
    "q154_trimmed_mean",
    """WITH t AS (SELECT event_type, event_id, value FROM events),
      |r AS (SELECT event_type, event_id, value,
      |  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |  count(*) OVER (PARTITION BY event_type) AS n FROM t),
      |k AS (SELECT * FROM r WHERE rn > n // 10 AND rn <= n - n // 10)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,
      |  count(*) AS n_kept,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS trimmed_mean
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (spark, dir) =>
    val t = Tables.events(spark, dir).select("event_type", "event_id", "value")
    val ranked = StripedWindow.runningSum(
        StripedWindow.withRangeStripe(t, "value", 16),
        Seq("event_type"), Seq(col("value"), col("event_id")),
        lit(1L), "rn", includeCurrent = true)
      .drop(StripedWindow.StripeCol)
    val counts = t.groupBy("event_type").agg(count(lit(1)).as("n"))
    ranked.join(broadcast(counts), "event_type")
      .filter(col("rn") > expr("n div 10") && col("rn") <= col("n") - expr("n div 10"))
      .groupBy("event_type")
      .agg(max(col("n")).cast("long").as("n_total"),
        count(lit(1)).as("n_kept"),
        (dsum(col("value")).cast("double") / count(lit(1))).as("trimmed_mean"))
      .orderBy("event_type")
  }

  /** Ordered event-sequence pattern matching (the MATCH_RECOGNIZE /
    * CEP shape): users whose stream contains click → error → purchase in
    * strict time order with the whole chain inside 7 days, under
    * GREEDY-FIRST semantics — the earliest click, then the earliest error
    * after it, then the earliest purchase after that (the deterministic
    * skip-to-first-match policy; CEP engines offer others, this is the
    * one that needs no backtracking). Computed in ONE pass: three CHAINED
    * window minimums over the same user partition — each step's
    * conditional min refers to the previous step's — so the plan has one
    * exchange on user_id and zero self-joins; a per-step join formulation
    * would rescan the stream three times. */
  val q152EventPattern: QuerySpec = QuerySpec.oracle(
    "q152_event_pattern",
    """WITH t AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |c AS (SELECT *, min(CASE WHEN event_type = 'click' THEN ts END)
      |        OVER (PARTITION BY user_id) AS c_ts FROM t),
      |e AS (SELECT *, min(CASE WHEN event_type = 'error' AND ts > c_ts THEN ts END)
      |        OVER (PARTITION BY user_id) AS e_ts FROM c),
      |p AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > e_ts THEN ts END)
      |        OVER (PARTITION BY user_id) AS p_ts FROM e)
      |SELECT DISTINCT user_id, c_ts, e_ts, p_ts,
      |  CAST(date_diff('second', c_ts, p_ts) AS BIGINT) AS span_seconds
      |FROM p
      |WHERE p_ts IS NOT NULL AND p_ts <= c_ts + INTERVAL 7 DAY
      |ORDER BY user_id""".stripMargin
  ) { (spark, dir) =>
    val w = Window.partitionBy("user_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("c_ts",
        min(when(col("event_type") === "click", col("ts"))).over(w))
      .withColumn("e_ts",
        min(when(col("event_type") === "error" && col("ts") > col("c_ts"), col("ts"))).over(w))
      .withColumn("p_ts",
        min(when(col("event_type") === "purchase" && col("ts") > col("e_ts"), col("ts"))).over(w))
      .filter(col("p_ts").isNotNull &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 7 DAY"))
      .select(col("user_id"), col("c_ts"), col("e_ts"), col("p_ts"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("span_seconds"))
      .distinct()
      .orderBy("user_id")
  }

  /** Feature-store point-in-time training-set assembly: a label spine
    * (purchases) enriched with the most recent PRIOR observation from two
    * independent feature streams (last click value, last error value) —
    * the PIT-correct join that keeps future information out of training
    * features, assembled by chaining [[AsOfJoin.asOf]] once per feature
    * table (outputs renamed between hops so the next hop's `asof_*`
    * names stay free). Each hop is one union + one keyed window — the
    * spine never re-sorts per feature table beyond its own key window,
    * and adding a feature table adds one hop, not a rescan of the spine
    * history. Verified against DuckDB's native chained ASOF LEFT JOINs. */
  val q151PitFeatures: QuerySpec = QuerySpec.oracle(
    "q151_pit_features",
    """WITH spine AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value AS target
      |               FROM events WHERE event_type = 'purchase'),
      |clicks AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |           FROM events WHERE event_type = 'click'),
      |errors AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |           FROM events WHERE event_type = 'error')
      |SELECT s.event_id, s.user_id, s.ts, s.target,
      |  c.ts AS click_ts, c.value AS click_value,
      |  e.ts AS error_ts, e.value AS error_value
      |FROM spine s
      |ASOF LEFT JOIN clicks c ON s.user_id = c.user_id AND s.ts >= c.ts
      |ASOF LEFT JOIN errors e ON s.user_id = e.user_id AND s.ts >= e.ts
      |ORDER BY s.event_id""".stripMargin
  ) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    def stream(kind: String) = ev.filter(col("event_type") === kind)
      .select("user_id", "ts", "value")
    val spine = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("target"))
    val withClicks = AsOfJoin.asOf(spine, stream("click"),
        Seq("user_id"), "ts", "ts", Seq("value"))
      .withColumnRenamed("asof_ts", "click_ts")
      .withColumnRenamed("asof_value", "click_value")
    AsOfJoin.asOf(withClicks, stream("error"),
        Seq("user_id"), "ts", "ts", Seq("value"))
      .withColumnRenamed("asof_ts", "error_ts")
      .withColumnRenamed("asof_value", "error_value")
      .select("event_id", "user_id", "ts", "target",
        "click_ts", "click_value", "error_ts", "error_value")
      .orderBy("event_id")
  }

  /** Linear multi-touch attribution: each purchase's value split equally
    * across the click/view touches in the 30 minutes before it, rolled up
    * per touch type — the marketing-analytics standard that q65's range
    * join exists to serve (the candidate pair set IS a range join, reused
    * verbatim). Credits are exact integers: cents × 10⁶ integrally divided
    * by the touch count (one `div` per pair — no float credit sums to
    * drift across engines; the truncation remainder stays with no one, by
    * published contract). Purchases with NO preceding touch report as the
    * '(none)' row — the unattributable revenue every attribution report
    * must disclose or silently overstate channel ROI.
    *
    * Shape at scale: the range join shuffles on (user, time-band) (q65's
    * contract), the per-purchase touch count rides a purchase-keyed
    * window, and the rollup is |touch types| + 1 rows. The purchase
    * relation is planned under both the pair branch and the '(none)'
    * anti-join branch (runtime ReuseExchange dedupes — q111's argument). */
  val q139Attribution: QuerySpec = QuerySpec.oracle(
    "q139_attribution",
    """WITH t AS (SELECT event_type AS touch_type, user_id, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events WHERE event_type IN ('click', 'view')),
      |p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |             CAST(round(value * 100) AS BIGINT) AS cents
      |      FROM events WHERE event_type = 'purchase'),
      |pairs AS (
      |  SELECT t.touch_type, p.purchase_id, p.cents
      |  FROM t JOIN p ON t.user_id = p.user_id
      |    AND p.ts >= t.ts AND p.ts <= t.ts + INTERVAL 30 MINUTE),
      |n AS (SELECT purchase_id, count(*) AS n_touches FROM pairs GROUP BY 1),
      |credits AS (
      |  SELECT pr.touch_type, pr.purchase_id,
      |    (pr.cents * 1000000) // n.n_touches AS credit_micros
      |  FROM pairs pr JOIN n USING (purchase_id)),
      |attributed AS (
      |  SELECT touch_type, count(*) AS n_events,
      |    count(DISTINCT purchase_id) AS n_purchases,
      |    CAST(sum(credit_micros) AS BIGINT) AS credit_micros
      |  FROM credits GROUP BY 1),
      |unattr AS (
      |  SELECT '(none)' AS touch_type, count(*) AS n_events, count(*) AS n_purchases,
      |    CAST(coalesce(sum(cents * 1000000), 0) AS BIGINT) AS credit_micros
      |  FROM p WHERE purchase_id NOT IN (SELECT purchase_id FROM n))
      |SELECT * FROM attributed UNION ALL SELECT * FROM unattr
      |ORDER BY touch_type""".stripMargin
  ) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("event_type").as("touch_type"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"),
        round(col("value") * lit(100)).cast("long").as("cents"))
    val pairs = RangeJoin.rangeJoin(touches, purchases, Seq("user_id"), "ts", "ts",
        lowerSec = 0L, upperSec = 1800L, rightValCols = Seq("purchase_id", "cents"))
      .select(col("touch_type"), col("r_purchase_id").as("purchase_id"),
        col("r_cents").as("cents"))
    val perPurchase = Window.partitionBy("purchase_id")
    val credits = pairs
      .withColumn("n_touches", count(lit(1)).over(perPurchase))
      .withColumn("credit_micros", expr("(cents * 1000000) div n_touches"))
    val attributed = credits.groupBy("touch_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("purchase_id")).as("n_purchases"),
        sum(col("credit_micros").cast("decimal(38,0)")).cast("long")
          .as("credit_micros"))
    val unattributed = purchases
      .join(pairs.select("purchase_id").distinct(), Seq("purchase_id"), "left_anti")
      .agg(count(lit(1)).as("n_events"), count(lit(1)).as("n_purchases"),
        coalesce(sum((col("cents") * lit(1000000L)).cast("decimal(38,0)")), lit(0L))
          .cast("long").as("credit_micros"))
      .select(lit("(none)").as("touch_type"), col("n_events"), col("n_purchases"),
        col("credit_micros"))
    attributed.unionByName(unattributed).orderBy("touch_type")
  }

  /** Second-moment statistics per event type. Spark's native var_samp /
    * stddev streams double moments in partition order — NOT reproducible
    * across engines or even runs; here variance is derived from exact
    * decimal sums (Σv, Σv²) so every figure is order-independent and
    * bit-identical in DuckDB: var = (n·Σv² − (Σv)²) / (n·(n−1)), identical
    * double expression order on both sides. n < 2 is an explicit NULL
    * (undefined sample variance): the zero denominator would give NULL
    * in Spark but inf in DuckDB. The numerator is clamped at 0: on an
    * all-equal group double cancellation can leave it slightly negative,
    * where Spark's sqrt returns NaN and DuckDB's raises. */
  val q66ValueMoments: QuerySpec = QuerySpec.sql(
    "q66_value_moments",
    """WITH s AS (
      |  SELECT event_type, count(*) AS n_events,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
      |    CAST(sum(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v2
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n_events,
      |  sum_v / n_events AS mean_value,
      |  CASE WHEN n_events < 2 THEN NULL ELSE
      |    greatest(CAST(n_events AS DOUBLE) * sum_v2 - sum_v * sum_v, 0)
      |      / (CAST(n_events AS DOUBLE) * (CAST(n_events AS DOUBLE) - 1)) END AS var_value,
      |  CASE WHEN n_events < 2 THEN NULL ELSE
      |    sqrt(greatest(CAST(n_events AS DOUBLE) * sum_v2 - sum_v * sum_v, 0)
      |      / (CAST(n_events AS DOUBLE) * (CAST(n_events AS DOUBLE) - 1))) END AS std_value
      |FROM s ORDER BY event_type""".stripMargin)

  /** Click→purchase conversion funnel: per clicker, purchases at-or-after
    * their first click; one-row summary with the unrounded conversion
    * ratio. Two hash aggregations + one key join — no windows needed. The
    * per-user purchase total goes through decimal at BOTH aggregation
    * levels so the global sum is order-independent. */
  val q67Funnel: QuerySpec = QuerySpec.sql(
    "q67_funnel",
    """WITH c AS (
      |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_click
      |  FROM events WHERE event_type = 'click' GROUP BY user_id),
      |p AS (
      |  SELECT e.user_id, count(*) AS n_purch,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purch_value
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= c.first_click
      |  GROUP BY e.user_id)
      |SELECT count(*) AS n_clickers,
      |  count(p.user_id) AS n_converted,
      |  CAST(count(p.user_id) AS DOUBLE) / count(*) AS conversion,
      |  CAST(sum(CAST(coalesce(p.purch_value, 0) AS DECIMAL(18,2))) AS DOUBLE) AS converted_value
      |FROM c LEFT JOIN p ON c.user_id = p.user_id""".stripMargin)

  /** Weekly retention cohorts: users bucketed by first-seen week, counted
    * per active-week offset — first-touch agg, distinct activity pairs, one
    * key join; every step is a keyed shuffle (no window, no driver work).
    * Week offsets divide exactly (both engines truncate weeks to Monday). */
  val q68Retention: QuerySpec = QuerySpec.oracle(
    "q68_retention",
    """WITH f AS (
      |  SELECT user_id, date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS cohort_week
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS active_week
      |  FROM events)
      |SELECT cohort_week, CAST(datediff('day', cohort_week, active_week) // 7 AS BIGINT) AS week_offset,
      |  count(*) AS n_users
      |FROM a JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val f = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val a = ev.select(col("user_id"), date_trunc("week", col("ts")).as("active_week")).distinct()
    a.join(f, Seq("user_id"))
      .withColumn("week_offset",
        (datediff(col("active_week"), col("cohort_week")) / 7).cast("long"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Distinct aggregation under event-time windows (q14 is global distinct;
    * this is the per-window form): exact distinct users per hour — planned
    * as one Expand pass, the same shape q16's profiling uses. */
  val q69WindowDistinct: QuerySpec = QuerySpec.sql(
    "q69_window_distinct",
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
      |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Per-group z-score outlier detection: per-event-type mean/std from the
    * same exact decimal moments as q66 (order-independent, engine-exact),
    * broadcast back onto the stream, events with |z| > 2 flagged. Shape at
    * scale: one keyed aggregation over event types (tiny) + a broadcast
    * join — the fact table never shuffles. */
  val q54GroupOutliers: QuerySpec = QuerySpec.oracle(
    "q54_group_outliers",
    """WITH s AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
      |    CAST(sum(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sv2
      |  FROM events GROUP BY event_type),
      |m AS (SELECT event_type, sv / n AS mean_v,
      |    sqrt(greatest(CAST(n AS DOUBLE) * sv2 - sv * sv, 0)
      |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) AS std_v
      |  FROM s WHERE n >= 2)
      |SELECT event_id, e.event_type, value, (value - mean_v) / std_v AS z
      |FROM events e JOIN m USING (event_type)
      |WHERE std_v > 0 AND abs((value - mean_v) / std_v) > 2
      |ORDER BY event_id""".stripMargin
  ) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val s = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      dsum(col("value")).as("sv"),
      dsum(col("value") * col("value"), 4).as("sv2"))
    val nD = col("n").cast("double")
    val std = sqrt(greatest(nD * col("sv2") - col("sv") * col("sv"), lit(0d))
      / (nD * (nD - lit(1))))
    // std_v > 0 keeps the ANSI divide total: a group whose n >= 2 values
    // are all equal has std_v = 0, where `(value - mean_v) / std_v` would
    // raise DIVIDE_BY_ZERO (same hazard class q66 guards with its n < 2
    // null). Zero-variance groups have no outliers by definition, and the
    // oracle applies the identical std_v > 0 predicate.
    val m = s.filter(col("n") >= 2)
      .select(col("event_type"), (col("sv") / col("n")).as("mean_v"), std.as("std_v"))
      .filter(col("std_v") > 0)
    val z = (col("value") - col("mean_v")) / col("std_v")
    ev.join(broadcast(m), Seq("event_type"))
      .filter(abs(z) > 2)
      .select(col("event_id"), col("event_type"), col("value"), z.as("z"))
      .orderBy("event_id")
  }

  /** Skew-salted aggregation ([[Salting.saltedSumCount]]) as a declared
    * oracle query: events aggregated by event_type — a 5-value key, the
    * skew shape salting exists for (one hot key would otherwise pull its
    * entire share of a 100 TB stream through one reducer). The two-phase
    * plan fans each key over 16 salt buckets first, then combines the
    * |keys| × 16 partials; results are bit-identical to the one-shot GROUP
    * BY because count/sum are decomposable and the per-phase sums are exact
    * decimals (events.value is exactly 2-dp). The DuckDB mirror is the
    * plain GROUP BY — same answer, which is the whole point. */
  val q74SaltedAgg: QuerySpec = QuerySpec.oracle(
    "q74_salted_agg",
    """SELECT event_type, count(*) AS n_rows,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (spark, dir) =>
    Salting.saltedSumCount(Tables.events(spark, dir), Seq("event_type"), "value")
      .orderBy("event_type")
  }

  /** Skew-salted JOIN ([[Salting.saltedJoin]]) as a declared oracle query:
    * events (fact) joined to a per-user dimension on user_id with the
    * dimension replicated 8 ways and fact rows spread over the replicas by
    * a deterministic event_id-derived salt — the manual pre-shuffle split
    * for a hot join key, for when the dimension is too large to broadcast
    * (the merge hint pins that production shape at test scale; a broadcast
    * join would bypass the salted shuffle and make the query vacuous).
    * Row-identical to the plain join, which is what the DuckDB mirror runs
    * — the plain join IS the oracle, same as q74's salted aggregate. */
  val q81SaltedJoin: QuerySpec = QuerySpec.oracle(
    "q81_salted_join",
    """WITH d AS (SELECT user_id, count(*) AS user_total FROM events GROUP BY user_id)
      |SELECT e.event_type, count(*) AS n_rows,
      |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  CAST(sum(d.user_total) AS BIGINT) AS sum_user_total
      |FROM events e JOIN d USING (user_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_total")).hint("merge")
    val joined = Salting.saltedJoin(ev, dim, "user_id", col("event_id"), buckets = 8)
    // the contract, checked on every build (same pattern as q76's zero-
    // Exchange require): the merge hint must survive saltedJoin's
    // withColumn+explode rewrite — if it didn't, the planner would
    // broadcast the dimension at test scale and the salted-SHUFFLE shape
    // this query exists to pin would be vacuous (results stay correct,
    // which is exactly why only a plan assert can catch it).
    val plan = joined.queryExecution.executedPlan.toString
    require(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"salted join planned as broadcast — merge hint lost in the rewrite:\n$plan")
    joined
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("value")).as("sum_value"),
        sum(col("user_total")).as("sum_user_total"))
      .orderBy("event_type")
  }

  /** The typed-cogroup surface ([[CoGroup.userConversions]]) as a declared
    * oracle query: per-user conversion facts that need BOTH event groups at
    * once (click count, purchase count, any-purchase-at-or-after-first-
    * click), computed in ONE co-partitioned pass per key instead of the
    * join-and-reaggregate the relational mirror runs. The mirror is q67's
    * funnel shape widened to per-user rows: clicks agg FULL JOIN purchases
    * agg LEFT JOIN the converted-user set — same rows, Catalyst-optimizable,
    * which is why cogroup is reserved for semantics joins can't express
    * without a per-key product. Scale: both inputs hash-shuffle once on
    * user_id; groups stream through the merge function as iterators. */
  val q77CogroupFunnel: QuerySpec = QuerySpec.oracle(
    "q77_cogroup_funnel",
    """WITH c AS (
      |  SELECT user_id, count(*) AS n_clicks, min(CAST(ts AS TIMESTAMP)) AS first_click
      |  FROM events WHERE event_type = 'click' GROUP BY user_id),
      |p AS (
      |  SELECT user_id, count(*) AS n_purchases
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |conv AS (
      |  SELECT DISTINCT e.user_id
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= c.first_click)
      |SELECT coalesce(c.user_id, p.user_id) AS user_id,
      |  coalesce(c.n_clicks, 0) AS n_clicks,
      |  coalesce(p.n_purchases, 0) AS n_purchases,
      |  conv.user_id IS NOT NULL AS purchased_after_click
      |FROM c FULL JOIN p ON c.user_id = p.user_id
      |LEFT JOIN conv ON coalesce(c.user_id, p.user_id) = conv.user_id
      |ORDER BY user_id""".stripMargin
  ) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    CoGroup.userConversions(
        ev.filter(col("event_type") === "click").select("user_id", "ts"),
        ev.filter(col("event_type") === "purchase").select("user_id", "ts"))
      .toDF()
      .orderBy("user_id")
  }

  /** Event-type transition matrix (first-order Markov structure of the
    * stream): for each consecutive (prev → next) pair within a user's
    * timeline, the transition count and conditional probability — the
    * sequence-level signal behind session modeling and bot detection (a
    * user whose transitions concentrate on one edge is a scripted client).
    * `lag` rides a window PARTITIONED BY user_id: at 100 TB the window
    * carries full parallelism (user cardinality ≫ cores) and per-task state
    * is one user's timeline, never a global sort. The transition table
    * itself is bounded by |event_type|² (25 rows here), so the per-source
    * totals come from a window OVER THE AGGREGATED TABLE — partitioned on
    * prev_type over ≤|event_type|² rows, never a rescan of the event
    * stream (the broadcast-join formulation would plan the corpus window +
    * pair aggregate under BOTH branches) — and the probability is an exact
    * single IEEE division of two integer counts — hash-identical across
    * engines, same bar as q57's p_cond. Ordering ties break on event_id
    * (unique), making the lag deterministic on both sides. */
  val q92EventTransitions: QuerySpec = QuerySpec.sql(
    "q92_event_transitions",
    """WITH d AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      |  FROM events),
      |p AS (SELECT prev_type, event_type, count(*) AS n_trans
      |      FROM d WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, event_type, n_trans,
      |  CAST(sum(n_trans) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from,
      |  CAST(n_trans AS DOUBLE)
      |    / CAST(CAST(sum(n_trans) OVER (PARTITION BY prev_type) AS BIGINT) AS DOUBLE) AS p_trans
      |FROM p
      |ORDER BY prev_type, event_type""".stripMargin)

  /** User journey paths (product-analytics "top paths" report): each
    * user's first three events rendered as a `a>b>c` path string, counted
    * across users. The ranking window is per-user (full parallelism, one
    * timeline per task, event_id tiebreak → deterministic); the path
    * assembly sorts each user's ≤3 collected (rank, type) structs inside
    * the row — a 3-element in-row sort, not a shuffle — and the final
    * aggregate is path-keyed, bounded by |event_type|³. The HOF lambda
    * here is the allowed kind (3-element arrays, trivial body); the
    * DuckDB mirror is the definitional ordered string_agg. */
  val q98EventPaths: QuerySpec = QuerySpec.oracle(
    "q98_event_paths",
    """WITH r AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |  FROM events),
      |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |      FROM r WHERE rn <= 3 GROUP BY user_id)
      |SELECT path, count(*) AS n_users FROM p
      |GROUP BY 1 ORDER BY n_users DESC, path""".stripMargin
  ) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .groupBy("user_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
  }

  /** Per-user session metrics — aggregation OVER session_window's sessions
    * (sessions as first-class rows feeding a second aggregate), the
    * engagement summary behind DAU/stickiness reporting: session count,
    * event volume, the largest session, total sessionized time, and
    * events-per-session as an exact integer ratio. Both aggregation
    * levels key on user_id, so the second one reuses the first's
    * partitioning — one shuffle total for the whole two-level rollup
    * (the session window already clustered by user). Durations subtract
    * whole-second epochs (session bounds are minute-grained), exact on
    * both engines; the mirror rebuilds sessions with q61's
    * gaps-and-islands CTE and aggregates the same columns. */
  val q107SessionMetrics: QuerySpec = QuerySpec.oracle(
    "q107_session_metrics",
    """WITH d AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |m AS (SELECT user_id, ts,
      |  CASE WHEN prev IS NULL OR ts - prev > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM d),
      |s AS (SELECT user_id, ts,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m),
      |sess AS (SELECT user_id, sid, count(*) AS n_events,
      |    date_diff('second', min(ts), max(ts) + INTERVAL 10 MINUTE) AS dur_secs
      |  FROM s GROUP BY user_id, sid)
      |SELECT user_id,
      |  count(*) AS n_sessions,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  CAST(max(n_events) AS BIGINT) AS max_session_events,
      |  CAST(sum(dur_secs) AS BIGINT) AS total_session_secs,
      |  CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS events_per_session
      |FROM sess GROUP BY user_id
      |ORDER BY user_id""".stripMargin
  ) { (spark, dir) =>
    val sessions = Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("sess_events"))
      .select(col("user_id"), col("sess_events"),
        (unix_timestamp(col("w.end")) - unix_timestamp(col("w.start"))).as("dur_secs"))
    sessions.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("sess_events")).as("n_events"),
        max(col("sess_events")).as("max_session_events"),
        sum(col("dur_secs")).as("total_session_secs"),
        (sum(col("sess_events")).cast("double")
          / count(lit(1)).cast("double")).as("events_per_session"))
      .orderBy("user_id")
  }

  /** Basket co-occurrence (single-level association mining): which event
    * types appear together in the SAME user's behavior, scored by support
    * (fraction of users with both) and lift — q94's log-free ratio
    * discipline applied to unordered baskets instead of adjacent bigrams.
    * Shape at scale: the basket is the distinct (user, item) projection;
    * the pair join is a SELF EQUI-JOIN on user_id — co-partitioned, one
    * shuffle, per-user fan-out bounded by |item vocabulary|² (25 here) —
    * never an all-pairs product; item marginals and the 1-row user count
    * broadcast back. Every score is exact integer-count arithmetic in
    * exactly-rounded IEEE ops. */
  val q111Cooccurrence: QuerySpec = QuerySpec.sql(
    "q111_cooccurrence",
    """WITH basket AS (SELECT DISTINCT user_id, event_type FROM events),
      |u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM basket),
      |item AS (SELECT event_type, count(*) AS n FROM basket GROUP BY 1),
      |pair AS (SELECT a.event_type AS item_a, b.event_type AS item_b,
      |    count(*) AS n_ab
      |  FROM basket a JOIN basket b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT item_a, item_b, n_ab, ia.n AS n_a, ib.n AS n_b,
      |  CAST(n_ab AS DOUBLE) / CAST(n_users AS DOUBLE) AS support,
      |  (CAST(n_ab AS DOUBLE) * CAST(n_users AS DOUBLE))
      |    / (CAST(ia.n AS DOUBLE) * CAST(ib.n AS DOUBLE)) AS lift
      |FROM pair
      |JOIN item ia ON ia.event_type = item_a
      |JOIN item ib ON ib.event_type = item_b
      |CROSS JOIN u
      |ORDER BY item_a, item_b""".stripMargin)

  /** User-growth (adoption) curve: new users per HOUR — first-seen
    * timestamp per user, the same anchor q68's retention cohorts use —
    * accumulated into a running total and an exact share of the final
    * user count. Hour grain because this stream's users all onboard
    * within the first two days (a daily curve would be 2 rows — the
    * degenerate shape the gates exist to catch). The corpus-scale work
    * is one user-keyed min aggregate; the cumulative window and the
    * 1-row denominator ride the time-bounded hourly series (q99's
    * bounded-window argument). No decimal trick needed — the running sum
    * is over integer counts, exact in any association order. */
  val q113GrowthCurve: QuerySpec = QuerySpec.sql(
    "q113_growth_curve",
    """WITH fs AS (
      |  SELECT user_id, date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS first_hour
      |  FROM events GROUP BY user_id),
      |hourly AS (SELECT first_hour, count(*) AS new_users FROM fs GROUP BY 1),
      |tot AS (SELECT CAST(sum(new_users) AS BIGINT) AS n_total FROM hourly)
      |SELECT first_hour, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY first_hour
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
      |  CAST(CAST(sum(new_users) OVER (ORDER BY first_hour
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
      |    / CAST(n_total AS DOUBLE) AS cum_share
      |FROM hourly CROSS JOIN tot
      |ORDER BY first_hour""".stripMargin)

  /** Robust per-group outlier detection via MAD (median absolute
    * deviation) — the resistant complement to q54's mean/std z-scores,
    * which a single extreme value can drag until it masks itself; the
    * median-based fence cannot be moved by the outliers it hunts. Two
    * exact-median passes (q15's percentile ↔ quantile_cont equivalence),
    * each broadcast back so the event stream shuffles ZERO times — both
    * joins are against |event_type|-sized aggregates. The 3σ-equivalent
    * fence is mad·3.0·1.4826 written with IDENTICAL association on both
    * engines (a pre-multiplied literal could differ in the last ulp from
    * the folded product). Exact-median state is bounded by distinct
    * values per group — the q15 trade; q53's sketch is the stated
    * alternative when that bound breaks. */
  val q114RobustOutliers: QuerySpec = QuerySpec.oracle(
    "q114_robust_outliers",
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |        FROM dev GROUP BY 1)
      |SELECT d.event_type, count(*) AS n_events,
      |  min(d.med) AS med, min(mm.mad) AS mad,
      |  count(*) FILTER (WHERE d.adev > mm.mad * 3.0 * 1.4826) AS n_outliers,
      |  CAST(count(*) FILTER (WHERE d.adev > mm.mad * 3.0 * 1.4826) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS outlier_rate
      |FROM dev d JOIN mad mm USING (event_type)
      |GROUP BY d.event_type
      |ORDER BY d.event_type""".stripMargin
  ) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("value") - col("med")).as("adev"), col("med"))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    val fenced = dev.join(broadcast(mad), "event_type")
    fenced.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min(col("med")).as("med"), min(col("mad")).as("mad"),
        sum(when(col("adev") > col("mad") * lit(3.0) * lit(1.4826), 1L)
          .otherwise(0L)).as("n_outliers"),
        (sum(when(col("adev") > col("mad") * lit(3.0) * lit(1.4826), 1L)
          .otherwise(0L)).cast("double")
          / count(lit(1)).cast("double")).as("outlier_rate"))
      .orderBy("event_type")
  }

  /** Sketch-accuracy report (q78's discipline applied to the aggregation
    * sketches): per event type, approximate distinct users and approximate
    * p50/p95 against their exact twins, each with its relative error — so
    * sketch quality is driver-visible every round.
    *
    * Rewritten r17 on CROSS-ENGINE-EXACT sketches so the whole report is
    * oracle-checked (it was rows-only): HLL++ → the q161 KMV bottom-k
    * sketch (integer estimate (k−1)·2⁶⁰ div h₍ₖ₎ over 60-bit md5-prefix
    * hashes, k = 64 — mergeable, bounded-heap state, and the ESTIMATE
    * itself mirrors in DuckDB), and Greenwald-Khanna → the exact
    * percentile of a DETERMINISTIC hash sample (the 1024 rows per group
    * with the smallest md5(event_id) — an order-free uniform sample both
    * engines select identically; exact-over-sample is itself a standard
    * mergeable quantile estimator). The exact sides are q14/q15-verified
    * machinery; the percentile pair rides q15's percentile ↔ quantile_cont
    * equivalence. Spark-side sketch state is [[graft.functions.BottomKRows]]
    * (bounded heap, map-side combined) for BOTH families — never a
    * per-group sort; the distinct pass shuffles only the narrow distinct
    * (event_type, user-hash) projection. */
  val q117SketchReport: QuerySpec = QuerySpec.oracle(
    "q117_sketch_report",
    s"""WITH ev AS (SELECT event_type, event_id, user_id, value FROM events),
      |du AS (SELECT DISTINCT event_type,
      |         ${hash60Sql("CAST(user_id AS VARCHAR)")} AS h
      |       FROM ev),
      |dr AS (SELECT event_type, h,
      |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM du),
      |dk AS (SELECT event_type, count(*) AS n_exact,
      |         max(h) FILTER (WHERE rn <= 64) AS kth FROM dr GROUP BY 1),
      |drow AS (SELECT 'distinct_users' AS metric, event_type,
      |    CAST(n_exact AS DOUBLE) AS exact,
      |    CAST(CASE WHEN n_exact <= 64 THEN n_exact
      |         ELSE CAST(63::HUGEINT * 1152921504606846976 // kth AS BIGINT) END AS DOUBLE) AS approx
      |  FROM dk),
      |sr AS (SELECT event_type, value,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY md5(CAST(event_id AS VARCHAR))) AS rn FROM ev),
      |samp AS (SELECT event_type, value FROM sr WHERE rn <= 1024),
      |pex AS (SELECT event_type, quantile_cont(value, 0.5) AS p50,
      |          quantile_cont(value, 0.95) AS p95 FROM ev GROUP BY 1),
      |pap AS (SELECT event_type, quantile_cont(value, 0.5) AS p50,
      |          quantile_cont(value, 0.95) AS p95 FROM samp GROUP BY 1),
      |prow AS (
      |  SELECT 'p50_value' AS metric, e.event_type, e.p50 AS exact, a.p50 AS approx
      |  FROM pex e JOIN pap a USING (event_type)
      |  UNION ALL
      |  SELECT 'p95_value', e.event_type, e.p95, a.p95
      |  FROM pex e JOIN pap a USING (event_type)),
      |u AS (SELECT * FROM drow UNION ALL SELECT * FROM prow)
      |SELECT metric, event_type, exact, approx,
      |  abs(approx - exact) / greatest(abs(exact), 1e-12) AS rel_err
      |FROM u ORDER BY metric, event_type""".stripMargin
  ) { (spark, dir) =>
    import graft.functions.BottomKRows
    val k = 64
    val sampleSize = 1024
    val ev = Tables.events(spark, dir)
    // KMV distinct: q161's sketch per event type over 60-bit user hashes;
    // binary order of the zero-padded hex key == numeric order of h
    val du = ev.select(col("event_type"),
        hash60(col("user_id").cast("string")).as("h"))
      .distinct()
    val dk = du.groupBy("event_type")
      .agg(count(lit(1)).as("n_exact"),
        BottomKRows.bottomK(lpad(hex(col("h")), 16, "0"), struct(col("h")), k).as("mins"))
      .withColumn("kth",
        element_at(col("mins"), least(lit(k), size(col("mins")))).getField("h"))
    val drow = dk.select(lit("distinct_users").as("metric"), col("event_type"),
      col("n_exact").cast("double").as("exact"),
      when(col("n_exact") <= k, col("n_exact"))
        .otherwise(expr(s"CAST(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976 div kth")
          .cast("long"))
        .cast("double").as("approx"))
    // deterministic hash sample: bounded-heap bottom-1024 by md5(event_id)
    // (unique ids → no rank ties), exact percentile over the sample
    val samp = ev.groupBy("event_type")
      .agg(BottomKRows.bottomK(md5(col("event_id").cast("string")),
        struct(col("value")), sampleSize).as("mins"))
      .select(col("event_type"), explode(col("mins")).as("m"))
      .select(col("event_type"), col("m.value").as("value"))
    val pap = samp.groupBy("event_type")
      .agg(expr("percentile(value, array(0.5, 0.95))").as("ap"))
    val pex = ev.groupBy("event_type")
      .agg(expr("percentile(value, array(0.5, 0.95))").as("ep"))
    val prow = pex.join(pap, "event_type")
      .select(col("event_type"), explode(array(
        struct(lit("p50_value").as("metric"),
          col("ep").getItem(0).as("exact"), col("ap").getItem(0).as("approx")),
        struct(lit("p95_value").as("metric"),
          col("ep").getItem(1).as("exact"), col("ap").getItem(1).as("approx")))).as("m"))
      .select(col("m.metric").as("metric"), col("event_type"),
        col("m.exact").as("exact"), col("m.approx").as("approx"))
    drow.unionByName(prow)
      .withColumn("rel_err",
        abs(col("approx") - col("exact")) / greatest(abs(col("exact")), lit(1e-12)))
      .orderBy("metric", "event_type")
  }

  /** Volume-anomaly gate ([[Quality.volumeAnomalyReport]]) as a declared
    * oracle query: per-day event counts fenced against the trailing
    * 7-day median ± 3σ (MAD × 1.4826) — the quality rule that catches a
    * partial ingest ("today's partition is 40% smaller than trend"),
    * which q105/q106's row-level predicates cannot see. The driver
    * stream's daily volume is pristine (~±10% natural spread), so both
    * engines derive the same CORRUPTED view — 2024-01-20 loses the 70%
    * of its rows with event_id % 10 < 7, a partial-ingest dip planted
    * mid-series with a full trailing window behind it (q105's
    * planted-violation pattern). The report shows the dip day fenced
    * while natural variation stays inside; the hash match pins the exact
    * trailing medians, MADs, and flags (the fence arms only after
    * `minTrailing = 3` periods of history — a one-sample MAD of 0 would
    * fence everything). Fence product keeps q114's association order on
    * both engines. */
  val q122VolumeAnomaly: QuerySpec = QuerySpec.oracle(
    "q122_volume_anomaly",
    """WITH c AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_id
      |  FROM events),
      |f AS (SELECT day FROM c
      |      WHERE NOT (day = DATE '2024-01-20' AND event_id % 10 < 7)),
      |d AS (SELECT day, count(*) AS n_events FROM f GROUP BY 1),
      |pairs AS (
      |  SELECT i.day, j.n_events AS t_n
      |  FROM d i JOIN d j ON j.day >= i.day - 7 AND j.day < i.day),
      |med AS (SELECT day, quantile_cont(t_n, 0.5) AS trail_med,
      |          count(*) AS n_trail
      |        FROM pairs GROUP BY 1),
      |dev AS (SELECT p.day, abs(CAST(p.t_n AS DOUBLE) - m.trail_med) AS adev
      |        FROM pairs p JOIN med m USING (day)),
      |mad AS (SELECT day, quantile_cont(adev, 0.5) AS trail_mad
      |        FROM dev GROUP BY 1)
      |SELECT d.day, d.n_events, m.trail_med, mm.trail_mad,
      |  coalesce(abs(CAST(d.n_events AS DOUBLE) - m.trail_med)
      |    > mm.trail_mad * 3.0 * 1.4826 AND m.n_trail >= 3, false) AS is_anomaly
      |FROM d LEFT JOIN med m USING (day) LEFT JOIN mad mm USING (day)
      |ORDER BY d.day""".stripMargin
  ) { (spark, dir) =>
    val corrupted = Tables.events(spark, dir)
      .filter(!(to_date(col("ts")) === lit("2024-01-20").cast("date")
        && col("event_id") % 10 < 7))
    Quality.volumeAnomalyReport(corrupted, to_date(col("ts")),
        trailingDays = 7, k = 3.0)
      .withColumnRenamed("n_rows", "n_events")
      .orderBy("day")
  }

  /** Pairwise Pearson correlation between event-type DAILY value series —
    * time-series similarity over a bounded dimension set (which metrics
    * move together; the cheap cross-stream sanity check before anomaly
    * attribution). q101's exact-sufficient-statistics recipe lifted from
    * row pairs to SERIES pairs: the daily aggregation is the only
    * corpus-sized shuffle; pair emission regroups the (type, day) table by
    * day and expands the ≤|types| list per day (q116's discipline — one
    * pass, fan-out bounded by |types|², never a self-join re-running the
    * scan). Series values stay DECIMAL through the cross-products so every
    * sum is order-independent; correlation over co-observed days.
    *
    * The decimal re-cast after the daily agg matters: Spark widens
    * sum(decimal(18,2)) to (28,2) and the cross-product of two (28,2)s
    * overflows precision 38 (silent rounding) — pinning back to (18,2)
    * keeps products at (37,4), exact in both engines. */
  val q130SeriesCorrelation: QuerySpec = QuerySpec.oracle(
    "q130_series_correlation",
    """WITH d AS (
      |  SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
      |  FROM events GROUP BY 1, 2),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    a.rev AS x, b.rev AS y
      |  FROM d a JOIN d b ON a.day = b.day AND a.event_type < b.event_type),
      |s AS (SELECT type_a, type_b, count(*) AS n,
      |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(x * y) AS DOUBLE) AS sxy,
      |    CAST(sum(x * x) AS DOUBLE) AS sxx,
      |    CAST(sum(y * y) AS DOUBLE) AS syy
      |  FROM p GROUP BY 1, 2)
      |SELECT type_a, type_b, n,
      |  CASE WHEN n < 2
      |      OR sqrt(greatest(CAST(n AS DOUBLE) * sxx - sx * sx, 0)) = 0
      |      OR sqrt(greatest(CAST(n AS DOUBLE) * syy - sy * sy, 0)) = 0 THEN NULL
      |    ELSE (CAST(n AS DOUBLE) * sxy - sx * sy)
      |      / (sqrt(greatest(CAST(n AS DOUBLE) * sxx - sx * sx, 0))
      |         * sqrt(greatest(CAST(n AS DOUBLE) * syy - sy * sy, 0))) END AS corr
      |FROM s ORDER BY type_a, type_b""".stripMargin
  ) { (spark, dir) =>
    val d = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("rev"))
    val pairsArr = flatten(transform(col("es"), (a, i) =>
      transform(slice(col("es"), i + lit(2), size(col("es"))), b =>
        struct(a.getField("event_type").as("type_a"),
          b.getField("event_type").as("type_b"),
          a.getField("rev").as("x"), b.getField("rev").as("y")))))
    val s = d.groupBy("day")
      .agg(sort_array(collect_list(struct(col("event_type"), col("rev")))).as("es"))
      .select(explode(pairsArr).as("p"))
      .select(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"),
        col("p.x").as("x"), col("p.y").as("y"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"), sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy") - col("sx") * col("sy")
    val dx = sqrt(greatest(nD * col("sxx") - col("sx") * col("sx"), lit(0d)))
    val dy = sqrt(greatest(nD * col("syy") - col("sy") * col("sy"), lit(0d)))
    s.select(col("type_a"), col("type_b"), col("n"),
        when(col("n") < 2 || dx === 0d || dy === 0d, lit(null).cast("double"))
          .otherwise(num / (dx * dy)).as("corr"))
      .orderBy("type_a", "type_b")
  }

  /** Streaming sketch maintenance made DRIVER-VISIBLE with a full oracle —
    * the claim behind [[graft.streaming.EventsStream.maintainSketches]]
    * (mergeable state folded per micro-batch by its defining algebra) is
    * exactly what makes this verifiable: the final CMS/KMV state is
    * SPLIT-INVARIANT, so DuckDB can recompute it from the events table
    * with no notion of batching and the maintained state must hash-match
    * cell for cell. First build per (session, dir) ([[Staged]]): copy
    * events into a 3-file source layout and drive the AvailableNow stream
    * through three foreachBatch merge steps; repeat builds read the
    * persisted state (the q168/q179 one-time-layout economics). Output:
    * the d=4 × w=64 CMS cell counts (part = hash row), the KMV bottom-64
    * key hashes (part = -1, slot = rank), and since r19 the q180-style
    * bottom-64 quantile sample — its rank hashes (part = -2) and value cents
    * (part = -3) in (h, v) pair order — one int64 schema for all three
    * sketch kinds.
    * Shape at 100 TB: per trigger one map-side-combined batch aggregate
    * + a constant d·w + k state read-back, the property the streaming
    * band exists to prove. */
  val q183StreamSketchState: QuerySpec = {
    val (d, w, k) = (4, 64, 64)
    val cellRows = (0 until d).map(j =>
      s"SELECT $j AS j, ${hash60Sql(s"'$j:' || t")} % $w AS bucket FROM keys")
      .mkString("\n       |  UNION ALL ")
    QuerySpec.oracle(
      "q183_stream_sketch_state",
      s"""WITH keys AS (
         |  SELECT event_type || ':' || CAST(user_id AS VARCHAR) AS t FROM events),
         |cells AS ($cellRows),
         |cms AS (SELECT j, bucket, count(*) AS c FROM cells GROUP BY 1, 2),
         |hs AS (SELECT DISTINCT ${hash60Sql("t")} AS h
         |       FROM keys),
         |kmv AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hs),
         |qv AS (SELECT DISTINCT
         |    ${hash60Sql("CAST(event_id AS VARCHAR)")} AS h,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM events),
         |qnt AS (SELECT h, v, row_number() OVER (ORDER BY h, v) AS rn FROM qv)
         |SELECT CAST(j AS BIGINT) AS part, CAST(bucket AS BIGINT) AS slot,
         |  CAST(c AS BIGINT) AS val FROM cms
         |UNION ALL SELECT -1, rn, h FROM kmv WHERE rn <= $k
         |UNION ALL SELECT -2, rn, h FROM qnt WHERE rn <= $k
         |UNION ALL SELECT -3, rn, v FROM qnt WHERE rn <= $k
         |ORDER BY part, slot""".stripMargin
    ) { (spark, dir) =>
      import graft.streaming.EventsStream
      val root = Staged(spark, dir, "stream_sketch") { root =>
        val ev = Tables.events(spark, dir)
          .select("event_id", "ts", "user_id", "event_type", "value")
        // ANY 3-way split works — the merge identity is the point — but
        // the modulo key keeps the layout deterministic across builds
        ev.repartition(3, pmod(col("event_id"), lit(3)))
          .write.mode("overwrite").parquet(s"$root/src")
        EventsStream.maintainSketches(
          spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$root/src"),
          s"$root/state", s"$root/ckpt", d, w, k)
      }
      val cms = EventsStream.latestView(spark, s"$root/state/cms").get
      val kmv = EventsStream.latestView(spark, s"$root/state/kmv").get
      val qnt = EventsStream.latestView(spark, s"$root/state/qnt").get
        .withColumn("slot", row_number().over(Window.orderBy("h", "v")).cast("long"))
      cms.select(col("j").cast("long").as("part"), col("bucket").as("slot"),
          col("c").as("val"))
        .unionByName(kmv
          .withColumn("slot", row_number().over(Window.orderBy("h")).cast("long"))
          .select(lit(-1L).as("part"), col("slot"), col("h").as("val")))
        .unionByName(qnt.select(lit(-2L).as("part"), col("slot"), col("h").as("val")))
        .unionByName(qnt.select(lit(-3L).as("part"), col("slot"), col("v").as("val")))
        .orderBy("part", "slot")
    }
  }

  val all: Seq[QuerySpec] = Seq(
    q60TumblingWindow, q61SessionWindow, q62AsOfJoin, q63SlidingWindow,
    q64JsonExtract, q65RangeJoin, q66ValueMoments, q67Funnel, q68Retention,
    q69WindowDistinct, q54GroupOutliers, q74SaltedAgg, q77CogroupFunnel,
    q92EventTransitions, q98EventPaths, q107SessionMetrics, q111Cooccurrence,
    q113GrowthCurve, q114RobustOutliers, q117SketchReport,
    q122VolumeAnomaly, q81SaltedJoin, q130SeriesCorrelation, q139Attribution,
    q151PitFeatures, q152EventPattern, q154TrimmedMean, q155TrendRobust,
    q159OlsTrend, q183StreamSketchState)
}
