package graft.operators

import graft.QuerySpec
import graft.functions.Exprs._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketch and sampling band of the LLM-data pipeline: Misra-Gries heavy
  * hitters, KMV and count-min sketches, quantile sketches, sketch-based
  * join-cardinality estimates, the shuffle-skew audit, and the PPS,
  * stratified and weighted-reservoir samplers.
  */
object SketchQueries {

  import DedupQueries.{LowToksSql, ShinglesSql, lowToksCol}

  /** Heavy hitters at scale: a Misra-Gries sketch pass (bounded k-entry
    * state per partition — the vocabulary never shuffles) produces a
    * candidate set that provably contains every token with count > n/(k+1);
    * an exact recount restricted to the broadcast candidates then yields
    * exact top-20 counts. Oracle-identical to a plain exact top-20 whenever
    * no true top-20 token falls below the n/(k+1) bound — here trivially:
    * the corpus vocabulary (31) is under k=64, so the sketch holds every
    * token with its exact count. The adversarial superset guarantee is
    * spec-covered (FrequentItemsSpec). */
  val q53HeavyHitters: QuerySpec = QuerySpec.oracle(
    "q53_heavy_hitters",
    s"""WITH toks AS (SELECT unnest($LowToksSql) AS token FROM documents)
       |SELECT token, count(*) AS n FROM toks GROUP BY token
       |ORDER BY n DESC, token LIMIT 20""".stripMargin
  ) { (spark, dir) =>
    import graft.functions.FrequentItemsSketch
    val toks = Tables.documents(spark, dir).select(explode(lowToksCol).as("token"))
    // 1-row candidate array → lazy scalar-subquery idiom (same as q27/q45)
    val cands = toks.agg(FrequentItemsSketch.frequentItems(col("token"), 64).as("cands"))
      .select(transform(col("cands"), s => s.getField("item")).as("cand_items"))
    toks.crossJoin(broadcast(cands))
      .filter(array_contains(col("cand_items"), col("token")))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)
  }

  /** KMV (k-minimum-values) distinct sketch — the MERGEABLE cardinality
    * estimator, hash-EXACT cross-engine where approx_count_distinct (q14,
    * HLL++) can only be band-checked: hash every distinct token to a
    * uniform 60-bit integer (the md5-prefix trick, q138's discipline),
    * keep each source's k=64 smallest hash values, and estimate
    * |distinct| = (k−1)·2⁶⁰ div h₍ₖ₎ (Bar-Yossef et al. 2002) — all
    * integer arithmetic, so the ESTIMATE ITSELF (not just its error band)
    * is oracle-verified. The sketched universe is the distinct token
    * TRIGRAMS per source (~1.3k/source, 16k corpus-wide at sf0.01 — the
    * unigram vocabulary is 31 words, which would never leave the exact
    * branch). The '(all)' row demonstrates the property that
    * makes sketches the 100 TB answer: the global sketch is the k-min of
    * the UNION of per-source sketches — per-partition state is k values,
    * merge is a bounded-heap fold, one corpus shuffle on the distinct
    * (source, hash) key. Exact counts ride along for the error column the
    * report exists to show. Spark state is [[graft.functions.BottomKRows]]
    * (bounded heap, map-side combined) — never a per-source sort. */
  val q161KmvSketch: QuerySpec = QuerySpec.oracle(
    "q161_kmv_sketch",
    s"""WITH toks AS (SELECT source, $LowToksSql AS ts FROM documents),
       |g AS (SELECT source, unnest($ShinglesSql) AS t FROM toks),
       |d AS (SELECT DISTINCT source, ${hash60Sql("t")} AS h
       |      FROM g),
       |r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |      FROM d),
       |s AS (SELECT source AS scope, count(*) AS n_exact,
       |        max(h) FILTER (WHERE rn <= 64) AS kth
       |      FROM r GROUP BY source),
       |da AS (SELECT DISTINCT h FROM d),
       |ra AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM da),
       |sa AS (SELECT '(all)' AS scope, count(*) AS n_exact,
       |        max(h) FILTER (WHERE rn <= 64) AS kth
       |      FROM ra),
       |u AS (SELECT * FROM s UNION ALL SELECT * FROM sa)
       |SELECT scope, CAST(n_exact AS BIGINT) AS n_exact,
       |  CASE WHEN n_exact <= 64 THEN CAST(n_exact AS BIGINT)
       |       ELSE CAST(63::HUGEINT * 1152921504606846976 // kth AS BIGINT) END AS est_distinct,
       |  CAST(kth AS BIGINT) AS kth_hash
       |FROM u ORDER BY scope""".stripMargin
  ) { (spark, dir) =>
    import graft.functions.BottomKRows
    val k = 64
    val m = 1152921504606846976L // 2^60, the hash space of a 15-hex md5 prefix
    val d = Tables.documents(spark, dir)
      .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("t"))
      .select(col("source"),
        hash60(col("t")).as("h"))
      .distinct()
    // per-source sketch: bounded-heap bottom-64 by the zero-padded hex key
    // (binary order == numeric order for non-negative h) + the exact count
    val perSource = d.groupBy("source")
      .agg(count(lit(1)).as("n_exact"),
        BottomKRows.bottomK(lpad(hex(col("h")), 16, "0"), struct(col("h")), k).as("mins"))
    // the '(all)' sketch MERGES the per-source sketches (k-min of the
    // union); its exact count needs one more distinct (h is source-free)
    val allExact = d.select("h").distinct().agg(count(lit(1)).as("n_exact"))
    val merged = perSource
      .select(explode(col("mins")).as("mi"))
      .select(col("mi.h").as("h")).distinct()
      .agg(BottomKRows.bottomK(lpad(hex(col("h")), 16, "0"), struct(col("h")), k).as("mins"))
      .crossJoin(broadcast(allExact))
      .select(lit("(all)").as("scope"), col("n_exact"), col("mins"))
    // (k-1)*2^60 exceeds int64, so the product runs in decimal INTERNALLY
    // and only the (corpus-sized, small) quotient is emitted as BIGINT
    val est = (n: Column) =>
      when(n <= k, n).otherwise(
        expr(s"CAST(${k - 1} AS DECIMAL(38,0)) * $m div kth").cast("long"))
    perSource.select(col("source").as("scope"), col("n_exact"), col("mins"))
      .unionByName(merged)
      .withColumn("kth", element_at(col("mins"), least(lit(k), size(col("mins"))))
        .getField("h"))
      .select(col("scope"), col("n_exact"),
        est(col("n_exact")).as("est_distinct"),
        col("kth").as("kth_hash"))
      .orderBy("scope")
  }

  /** PPS systematic sample ([[Sampling.ppsSystematic]]): 200 documents
    * drawn with probability proportional to n_chars — token-weighted
    * corpus thinning that preserves the token distribution where a
    * uniform row sample would skew short. Integer arithmetic end to end
    * (exclusive prefix sum + two integral divisions per row), so the
    * selected id set — not just its size — is deterministic and DuckDB
    * verifies it exactly; rows heavier than the step carry n_hits > 1
    * so downstream weighting stays unbiased. */
  val q143PpsSample: QuerySpec = QuerySpec.oracle(
    "q143_pps_sample",
    """WITH t AS (SELECT doc_id, lang, n_chars AS w FROM documents),
      |c AS (SELECT doc_id, lang, w,
      |  CAST(coalesce(sum(w) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      |  FROM t),
      |s AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM t)
      |SELECT doc_id, lang, w, cum_before,
      |  ((cum_before + w) // greatest(total // 200, 1))
      |    - (cum_before // greatest(total // 200, 1)) AS n_hits
      |FROM c CROSS JOIN s
      |WHERE ((cum_before + w) // greatest(total // 200, 1))
      |    - (cum_before // greatest(total // 200, 1)) >= 1
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    Sampling.ppsSystematic(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("n_chars").as("w")),
        "doc_id", "w", targetN = 200L)
      .select("doc_id", "lang", "w", "cum_before", "n_hits")
      .orderBy("doc_id")
  }

  /** Count-Min sketch frequency audit — the MERGEABLE frequency estimator
    * (Cormode & Muthukrishnan 2005) completing the sketch family next to
    * q161's KMV cardinality and q51's Bloom membership, and like them
    * hash-EXACT cross-engine: d=4 seeded md5-prefix hash rows (the
    * q138/q161 hex→int discipline) at three widths w ∈ {64, 512, 4096},
    * so every cell count, every estimate min_j cms[j][h_j(x)], and every
    * overestimate is an exact integer and the report is the CMS SIZING
    * CURVE — the ε=e/w error bound collapsing as the sketch widens
    * (measured at sf0.01: mean overestimate 315 → 14 → 0 on the top-20
    * keys), q164's recall-S-curve discipline applied to frequency
    * sketching. The stream is the token BIGRAMS (the ~1k-key universe
    * where the fixture actually exercises collisions; unigrams' 31-word
    * vocabulary saturates every width), audited against the exact top-20.
    * CMS's one-sided guarantee (est ≥ exact, always) is a
    * PipelineQueriesSpec invariant. Shape at 100 TB: each sketch build is
    * ONE map-side-combined aggregate on the (w, row, bucket) key whose
    * global state is Σ d·w cells regardless of corpus size —
    * per-partition sketches merge by cell-wise addition, exactly how a
    * 1000-executor cluster folds partial sketches — and the probe side
    * joins 20·d·|w| key-cells against the broadcast sketch. The exact
    * top-20 ground truth rides the same bigram-keyed aggregate as q57's
    * LM counts (slice+arrays_zip, never a per-token HOF). */
  val q173CmsSketch: QuerySpec = {
    val (d, widths, topN) = (4, Seq(64, 512, 4096), 20)
    def bSql(t: String, j: Int, w: Int): String =
      s"${hash60Sql(s"'$j:' || $t")} % $w"
    val cellRows = (for { w <- widths; j <- 0 until d }
      yield s"SELECT $w AS w, $j AS j, ${bSql("t", j, w)} AS bucket FROM occ")
      .mkString("\n       |  UNION ALL ")
    val keyRows = (for { w <- widths; j <- 0 until d }
      yield s"SELECT t, n_exact, $w AS w, $j AS j, ${bSql("t", j, w)} AS bucket FROM top")
      .mkString("\n       |  UNION ALL ")
    QuerySpec.oracle(
      "q173_cms_sketch",
      s"""WITH toks AS (SELECT doc_id, $LowToksSql AS ts FROM documents),
         |occ AS (SELECT unnest(CASE WHEN len(ts) >= 2
         |    THEN list_transform(generate_series(1, len(ts) - 1),
         |      i -> concat_ws(' ', ts[i], ts[i+1]))
         |    ELSE [] END) AS t FROM toks),
         |cells AS ($cellRows),
         |sk AS (SELECT w, j, bucket, count(*) AS c FROM cells GROUP BY 1, 2, 3),
         |ex AS (SELECT t, count(*) AS n_exact FROM occ GROUP BY t),
         |top AS (SELECT t, n_exact FROM ex ORDER BY n_exact DESC, t LIMIT $topN),
         |kb AS ($keyRows),
         |est AS (SELECT w, t, any_value(n_exact) AS n_exact, min(c) AS est
         |  FROM kb JOIN sk USING (w, j, bucket) GROUP BY w, t)
         |SELECT CAST(w AS BIGINT) AS width, t AS bigram,
         |  CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(est AS BIGINT) AS est_cms,
         |  CAST(est - n_exact AS BIGINT) AS overestimate
         |FROM est ORDER BY width, n_exact DESC, bigram""".stripMargin
    ) { (spark, dir) =>
      def bucket(j: Int, w: Int, t: Column): Column =
        pmod(hash60(concat(lit(s"$j:"), t)), lit(w.toLong))
      def cellsOf(t: Column): Column =
        explode(array((for { w <- widths; j <- 0 until d } yield
          struct(lit(w.toLong).as("w"), lit(j).as("j"), bucket(j, w, t).as("bucket"))): _*))
      // bigram stream via slice+arrays_zip — q57's native-codegen idiom
      val n1 = greatest(size(col("ts")) - 1, lit(0))
      val occ = Tables.documents(spark, dir)
        .select(lowToksCol.as("ts"))
        .select(explode(arrays_zip(
          slice(col("ts"), lit(1), n1).as("a"),
          slice(col("ts"), lit(2), n1).as("b"))).as("z"))
        .select(concat_ws(" ", col("z.a"), col("z.b")).as("t"))
      // hash the KEY DICTIONARY, not the stream (r21, guide §2.3
      // aggregate-before-you-hash): the bucket is a function of the
      // bigram alone, so the ~500k-occurrence stream aggregates to its
      // ~1k-bigram dictionary FIRST (one map-side-combined aggregate —
      // the same relation the exact side already needed) and the d md5s
      // run once per DISTINCT bigram instead of once per occurrence
      // (4k hashes vs 2M; cell counts are the identical Σ cnt(t) per
      // bucket). The two-stage explode (hash rows, then widths) stays:
      // the single-stage form recomputed the width-independent md5 per
      // width. Cut behind one lazy checkpoint: the sketch build AND the
      // exact top-N read it.
      val keyCnt = occ.groupBy("t").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(eager = false)
      val hashOf = (j: Int, t: Column) =>
        hash60(concat(lit(s"$j:"), t))
      val sketch = keyCnt.select(col("cnt"), explode(array((0 until d).map(j =>
          struct(lit(j).as("j"), hashOf(j, col("t")).as("h"))): _*)).as("jh"))
        .select(col("cnt"), col("jh.j").as("j"), col("jh.h").as("h"))
        .select(col("cnt"), col("j"), explode(array(widths.map(w =>
          struct(lit(w.toLong).as("w"), pmod(col("h"), lit(w.toLong)).as("bucket"))): _*)).as("wb"))
        .select(col("cnt"), col("wb.w").as("w"), col("j"), col("wb.bucket").as("bucket"))
        .groupBy("w", "j", "bucket").agg(sum(col("cnt")).as("c"))
      val top = keyCnt.select(col("t"), col("cnt").as("n_exact"))
        .orderBy(col("n_exact").desc, col("t")).limit(topN)
      top.select(col("t"), col("n_exact"), cellsOf(col("t")).as("cell"))
        .select(col("t"), col("n_exact"), col("cell.w").as("w"), col("cell.j").as("j"),
          col("cell.bucket").as("bucket"))
        .join(sketch.hint("broadcast"), Seq("w", "j", "bucket"))
        .groupBy("w", "t")
        .agg(first(col("n_exact")).as("n_exact"), min(col("c")).as("est"))
        .select(col("w").as("width"), col("t").as("bigram"), col("n_exact"),
          col("est").as("est_cms"), (col("est") - col("n_exact")).as("overestimate"))
        .orderBy(col("width"), col("n_exact").desc, col("bigram"))
    }
  }

  /** Mergeable QUANTILE sketch — the member the sketch family still lacked
    * (q161 KMV cardinality, q173 CMS frequency, q51 Bloom membership):
    * percentile features at 100 TB cannot run q15's exact sort, so each
    * scope keeps the k=256 rows with the smallest md5(row-key) rank — a
    * deterministic uniform sample whose sorted values answer any quantile
    * by integer rank arithmetic — and the global sketch is just the
    * bottom-k of the UNION of per-scope sketches (bottom-k-by-hash is a
    * semilattice merge, the same property q161's k-min exploits). Because
    * rank keys are md5 hex (identical bytes cross-engine) and values are
    * integer cents, the SAMPLE ITSELF and therefore every estimated
    * quantile is bit-identical in DuckDB — the estimate, not just its
    * error band, is oracle-verified (q12/q161's md5-order discipline).
    * Report: per l_returnflag scope and '(all)', exact n, sample size,
    * and estimated-vs-exact p50/p90/p99 of the price-cents distribution
    * (measured rel. error at sf0.01: ~6%/2%/0.6% — 1/√k behavior, the
    * error column is what the audit exists to show). Shape at scale: the
    * sketch is ONE map-side-combined bottom-k aggregate
    * ([[graft.functions.BottomKRows]], ≤k rows per scope per partition
    * cross the shuffle — never a per-scope sort); the EXACT side (audit
    * reference only, like q161's n_exact) is the one per-scope
    * window-ranked pass a production run would drop. PipelineQueriesSpec
    * pins the estimator's error bound against the exact percentiles. */
  val q180QuantileSketch: QuerySpec = {
    val k = 256
    val pcts = Seq(50, 90, 99)
    val estSel = pcts.map(p =>
      s"s.sv[CAST(($p*(len(s.sv)-1))//100 + 1 AS BIGINT)] AS p${p}_est").mkString(",\n       |    ")
    val exSel = pcts.map(p =>
      s"max(CASE WHEN r.vr = ($p*(c.n-1))//100 + 1 THEN r.v END) AS p${p}_exact")
      .mkString(",\n       |    ")
    val outSel = pcts.map(p =>
      s"CAST(e.p${p}_est AS BIGINT) AS p${p}_est, CAST(x.p${p}_exact AS BIGINT) AS p${p}_exact")
      .mkString(",\n       |  ")
    QuerySpec.oracle(
      "q180_quantile_sketch",
      s"""WITH base AS (
         |  SELECT l_returnflag AS scope,
         |    md5(CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)) AS rk,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM lineitem),
         |rows2 AS (
         |  SELECT scope, rk, v FROM base
         |  UNION ALL SELECT '(all)', rk, v FROM base),
         |cnt AS (SELECT scope, count(*) AS n FROM rows2 GROUP BY scope),
         |rnk AS (SELECT scope, rk, v,
         |    row_number() OVER (PARTITION BY scope ORDER BY rk) AS rn FROM rows2),
         |samp AS (SELECT scope, list(v ORDER BY v) AS sv FROM rnk WHERE rn <= $k GROUP BY scope),
         |vrank AS (SELECT scope, v,
         |    row_number() OVER (PARTITION BY scope ORDER BY v) AS vr FROM rows2),
         |est AS (
         |  SELECT c.scope, c.n, len(s.sv) AS sample_n,
         |    $estSel
         |  FROM cnt c JOIN samp s ON s.scope = c.scope),
         |ex AS (
         |  SELECT c.scope,
         |    $exSel
         |  FROM cnt c JOIN vrank r ON r.scope = c.scope
         |  GROUP BY c.scope)
         |SELECT e.scope, CAST(e.n AS BIGINT) AS n_exact,
         |  CAST(e.sample_n AS BIGINT) AS sample_n,
         |  $outSel
         |FROM est e JOIN ex x ON x.scope = e.scope
         |ORDER BY e.scope""".stripMargin
    ) { (spark, dir) =>
      import graft.functions.BottomKRows
      val base = Tables.lineitem(spark, dir).select(
        col("l_returnflag").as("scope"),
        md5((col("l_orderkey") * 8 + col("l_linenumber")).cast("string")).as("rk"),
        cents(col("l_extendedprice")).as("v"))
      // the production path: ONE bounded-heap aggregate — exact count +
      // the k-smallest-by-hash sample, map-side combined. rollup(scope)
      // supplies the '(all)' group via Expand BELOW which the md5 rank
      // key is computed ONCE per input row — a scope∪'(all)' union would
      // evaluate the hash subtree twice (2× scans, 2× md5s)
      val samp = base.rollup("scope")
        .agg(count(lit(1)).as("n_exact"),
          BottomKRows.bottomK(col("rk"), struct(col("v")), k).as("mins"))
        .select(coalesce(col("scope"), lit("(all)")).as("scope"), col("n_exact"),
          size(col("mins")).cast("long").as("sample_n"),
          array_sort(transform(col("mins"), m => m.getField("v"))).as("sv"))
      val estCols = pcts.map(p =>
        element_at(col("sv"),
          (expr(s"($p * (sample_n - 1)) div 100") + 1).cast("int")).as(s"p${p}_est"))
      val est = samp.select(Seq(col("scope"), col("n_exact"), col("sample_n")) ++ estCols: _*)
      // the audit reference: exact quantiles at the same integer ranks
      // (per-scope ranked pass — the cost the sketch exists to avoid).
      // Hash-free — ranked by the VALUE alone (the value at a given rank
      // is tie-order-invariant) — and STRIPED (q36's two-phase window):
      // the plain per-scope window put the whole '(all)' copy through one
      // task; 32 range stripes on v + broadcast stripe offsets restore
      // full parallelism (measured: the audit half 1.7 → ~0.6 s at sf0.1)
      val valsOnly = Tables.lineitem(spark, dir).select(
        col("l_returnflag").as("scope"),
        cents(col("l_extendedprice")).as("v"))
      val rows2 = valsOnly.unionByName(
        valsOnly.select(lit("(all)").as("scope"), col("v")))
      val vrank = StripedWindow.runningSum(
        StripedWindow.withRangeStripe(rows2, "v", 32),
        Seq("scope"), Seq(col("v")), lit(1L), "vr", includeCurrent = true)
      val cnts = valsOnly.rollup("scope").agg(count(lit(1)).as("n"))
        .select(coalesce(col("scope"), lit("(all)")).as("scope"), col("n"))
      val exCols = pcts.map(p =>
        max(when(col("vr") === expr(s"($p * (n - 1)) div 100") + 1, col("v")))
          .as(s"p${p}_exact"))
      val exact = vrank.join(broadcast(cnts), "scope")
        .groupBy("scope").agg(exCols.head, exCols.tail: _*)
      est.join(exact, "scope")
        .select(Seq(col("scope"), col("n_exact"), col("sample_n")) ++
          pcts.flatMap(p => Seq(col(s"p${p}_est"), col(s"p${p}_exact"))): _*)
        .orderBy("scope")
    }
  }

  /** Shuffle-skew audit with exact Gini concentration — the diagnosis
    * that decides WHEN q74/q81's salting mitigation is worth its cost:
    * for each join/aggregation key the engine shuffles on, the key-
    * frequency concentration (Gini over per-key counts) and the hottest
    * key's row share, flagged hot when one key owns more than 1/32 of
    * the relation (one reducer's fair share at 32-way parallelism — the
    * salting trigger). Exact at ANY key cardinality WITHOUT a global
    * rank sort: Gini's rank-weighted sum is computed from the
    * COUNT-OF-COUNTS histogram — all keys tied at count v occupy a
    * contiguous rank block, whose Σ(2i−K−1)·v collapses to the closed
    * form v·(2·(s·m + m(m+1)/2) − (K+1)·m) with s the cumulative
    * multiplicity below v — so the per-column plan is one map-side-
    * combined key-count aggregate, a TINY (distinct count values)
    * histogram, and one histogram-sized window. Products pass int64 at
    * corpus scale (N·K²) — decimal inside, int64 out (q187). */
  val q197SkewAudit: QuerySpec = {
    val audited = Seq(
      ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
      ("lineitem.l_partkey", "lineitem", "l_partkey"),
      ("orders.o_custkey", "orders", "o_custkey"),
      ("events.user_id", "events", "user_id"),
      ("documents.source", "documents", "source"))
    val hotMicro = 1000000L / 32
    val sqlAudits = audited.map { case (label, table, key) =>
      val from =
        if (table == "events") "(SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events)"
        else table
      s"""SELECT '$label' AS key_col, n_rows, n_keys, top1_share_micro, gini_micro,
         |  top1_share_micro > $hotMicro AS hot
         |FROM (
         |  WITH c AS (SELECT $key AS k, count(*) AS cnt FROM $from GROUP BY 1),
         |  h AS (SELECT cnt AS v, count(*) AS m FROM c GROUP BY 1),
         |  w AS (SELECT v, m,
         |      CAST(coalesce(sum(m) OVER (ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s,
         |      CAST(sum(v*m) OVER () AS BIGINT) AS n,
         |      CAST(sum(m) OVER () AS BIGINT) AS kk,
         |      CAST(max(v) OVER () AS BIGINT) AS mx
         |    FROM h)
         |  SELECT CAST(any_value(n) AS BIGINT) AS n_rows,
         |    CAST(any_value(kk) AS BIGINT) AS n_keys,
         |    CAST(any_value(mx) * 1000000 // any_value(n) AS BIGINT) AS top1_share_micro,
         |    CAST(CAST(sum(CAST(v AS HUGEINT) * (2*(s*m + m*(m+1)//2) - (kk+1)*m)) AS HUGEINT)
         |         * 1000000 // (CAST(any_value(kk) AS HUGEINT) * any_value(n)) AS BIGINT)
         |      AS gini_micro
         |  FROM w)""".stripMargin
    }
    QuerySpec.oracle(
      "q197_skew_audit",
      sqlAudits.mkString("", "\nUNION ALL\n", "\nORDER BY key_col")
    ) { (spark, dir) =>
      def one(df: DataFrame, key: String, label: String): DataFrame = {
        val c = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
        val h = c.groupBy(col("cnt").as("v")).agg(count(lit(1)).as("m"))
        // histogram-sized window: rows = DISTINCT count values, bounded
        // far below the key dictionary, let alone the corpus
        val byV = Window.orderBy("v")
        val all = Window.partitionBy()
        h.withColumn("s", coalesce(sum(col("m")).over(
            byV.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).cast("long"))
          .withColumn("n", sum(col("v") * col("m")).over(all).cast("long"))
          .withColumn("kk", sum(col("m")).over(all).cast("long"))
          .withColumn("mx", max(col("v")).over(all).cast("long"))
          // rank-block closed form exceeds int64 at corpus scale (N·K²)
          // — decimal inside, int64 quotient out (q187 discipline)
          .agg(first(col("n")).as("n_rows"), first(col("kk")).as("n_keys"),
            expr("first(mx) * 1000000 div first(n)").cast("long")
              .as("top1_share_micro"),
            expr("""(sum(CAST(v AS DECIMAL(38,0)) * (2*(s*m + m*(m+1) div 2) - (kk+1)*m))
                    * 1000000) div (CAST(first(kk) AS DECIMAL(38,0)) * first(n))""")
              .cast("long").as("gini_micro"))
          .select(lit(label).as("key_col"), col("n_rows"), col("n_keys"),
            col("top1_share_micro"), col("gini_micro"),
            (col("top1_share_micro") > hotMicro).as("hot"))
      }
      one(Tables.lineitem(spark, dir), "l_suppkey", "lineitem.l_suppkey")
        .unionByName(one(Tables.lineitem(spark, dir), "l_partkey", "lineitem.l_partkey"))
        .unionByName(one(Tables.orders(spark, dir), "o_custkey", "orders.o_custkey"))
        .unionByName(one(Tables.events(spark, dir), "user_id", "events.user_id"))
        .unionByName(one(Tables.documents(spark, dir), "source", "documents.source"))
        .orderBy("key_col")
    }
  }

  /** Join-cardinality estimation via CMS inner product vs exact — the
    * OPTIMIZER-statistics question underneath every join reorder: how
    * big is A ⋈ B before running it? The AMS/CMS answer is the sketch
    * inner product est = min_j Σ_w cmsA[j][w]·cmsB[j][w] (q173's cells,
    * same md5 rows), always an OVERestimate with collision noise bounded
    * by ~N_A·N_B/w — and the report carries that bound as a column, so
    * the three audited joins show the three regimes the estimator
    * lives in: a self-join explosion where signal ≫ noise (partkey,
    * est within 2× at w=2048), a medium case (user_id, within 3%), and
    * a 1:1 key where the true size sits BELOW the noise floor
    * (orderkey, the estimate is the bound — exactly when an optimizer
    * must not trust it). Exact sizes come from key-count dictionaries
    * (Σ c_A·c_B). All integers; products exceed int64 at corpus scale →
    * decimal inside (q187). Shape at 100 TB: per relation ONE
    * map-side-combined (j, bucket) cell aggregate (fixed Σd·w state);
    * inner products join sketch cells, never rows; exact runs on the
    * key dictionaries. */
  val q198JoinCardEst: QuerySpec = {
    val (d, widths) = (4, Seq(256, 2048))
    // ONE md5 per row, d rows derived by Kirsch-Mitzenmacher double
    // hashing (h1 + j·h2, h2 forced odd — the q206 bootstrap's trick,
    // published for exactly this Bloom/CMS use): the per-j md5 form cost
    // ~5M hashes per pass (VERDICT r18's trio audit) where this costs
    // ~1.25M plus integer arithmetic, identical estimator guarantees.
    def sketchSql(src: String, key: String, name: String): String = {
      val grid = (for { w <- widths; j <- 0 until d } yield s"($w, $j)").mkString(", ")
      s"""$name AS (
         |    SELECT w, j, (h1 + j * h2) % w AS bucket, count(*) AS c FROM (
         |      SELECT ('0x' || substring(md5(CAST($key AS VARCHAR)), 1, 15))::BIGINT AS h1,
         |        ('0x' || substring(md5(CAST($key AS VARCHAR)), 17, 15))::BIGINT | 1 AS h2
         |      FROM $src) CROSS JOIN (VALUES $grid) AS g(w, j)
         |    GROUP BY 1, 2, 3)""".stripMargin
    }
    def ipSql(sa: String, sb: String, ex: String, na: String, nb: String,
              label: String): String =
      s"""SELECT '$label' AS join_key, CAST(w AS BIGINT) AS width,
         |    (SELECT n FROM $na) AS n_left, (SELECT n FROM $nb) AS n_right,
         |    (SELECT x FROM $ex) AS exact, CAST(min(s) AS BIGINT) AS est_cms,
         |    CAST(min(s) - (SELECT x FROM $ex) AS BIGINT) AS overestimate,
         |    CAST(CAST((SELECT n FROM $na) AS HUGEINT) * (SELECT n FROM $nb) // w AS BIGINT)
         |      AS noise_bound
         |  FROM (SELECT w, j, sum(CAST(a.c AS HUGEINT) * b.c) AS s
         |        FROM $sa a JOIN $sb b USING (w, j, bucket) GROUP BY 1, 2)
         |  GROUP BY w""".stripMargin
    QuerySpec.oracle(
      "q198_join_card_est",
      s"""WITH events2 AS (SELECT user_id FROM events),
         |${sketchSql("lineitem", "l_partkey", "sp")},
         |${sketchSql("events2", "user_id", "se")},
         |${sketchSql("orders", "o_orderkey", "so")},
         |${sketchSql("lineitem", "l_orderkey", "sl")},
         |xp AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS x
         |       FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey)),
         |xe AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS x
         |       FROM (SELECT count(*) AS c FROM events2 GROUP BY user_id)),
         |xo AS (SELECT CAST(sum(CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS x
         |       FROM (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1) a
         |       JOIN (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1) b
         |       USING (k)),
         |nl AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events2),
         |no AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
         |${ipSql("sp", "sp", "xp", "nl", "nl", "lineitem.l_partkey x lineitem.l_partkey")}
         |UNION ALL ${ipSql("se", "se", "xe", "ne", "ne", "events.user_id x events.user_id")}
         |UNION ALL ${ipSql("sl", "so", "xo", "nl", "no", "lineitem.l_orderkey x orders.o_orderkey")}
         |ORDER BY join_key, width""".stripMargin
    ) { (spark, dir) =>
      def sketchOf(df: DataFrame, key: String): DataFrame = {
        // ONE md5 per row; the d hash rows and both widths fan out with
        // Kirsch-Mitzenmacher arithmetic only (h1 + j·h2 mod w, h2 odd).
        // Both substrings read the same md5 subtree — codegen CSE
        // evaluates it once. h1 + 3·h2 < 2^62: no overflow, stays nonneg.
        // NOTE (r21): deliberately hashes the STREAM, not the key
        // dictionary — the q173 dictionary trick measured SLOWER here
        // (1.94 → 2.1 s): this aggregate map-side-combines into fixed
        // Σd·w cell state (no real shuffle), while the dictionary detour
        // adds a genuine key shuffle to save md5s that aren't the
        // bottleneck.
        val md = md5(col(key).cast("string"))
        // all d·|widths| cells in ONE fused buffer aggregate (r21): the
        // explode form materialized 8 struct rows per input row through a
        // hash aggregate; CmsCellsAggregate does 8 array increments into
        // fixed Σd·w state — identical cells (same Kirsch-Mitzenmacher
        // arithmetic, per-bucket addition is order-free), measured ~1.9×
        // on the lineitem sketch stages
        df.select(
            conv(substring(md, 1, 15), 16, 10).cast("long").as("h1"),
            conv(substring(md, 17, 15), 16, 10).cast("long")
              .bitwiseOR(lit(1L)).as("h2"))
          .agg(graft.functions.CmsCells.cmsCells(col("h1"), col("h2"), widths, d)
            .as("cells"))
          .select(explode(col("cells")).as("wjbc"))
          .select(col("wjbc.w").as("w"), col("wjbc.j").as("j"),
            col("wjbc.bucket").as("bucket"), col("wjbc.c").as("c"))
      }
      def keyCounts(df: DataFrame, key: String): DataFrame =
        df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
      def audit(a: (DataFrame, String), b: (DataFrame, String), self: Boolean,
                label: String): DataFrame = {
        val skA = sketchOf(a._1, a._2)
        // a self-join audit needs ONE sketch build — reusing the plan
        // lets AQE serve both join sides from the same exchange instead
        // of hashing the relation twice (d md5s per row are the cost)
        val skB = if (self) skA else sketchOf(b._1, b._2)
        // sketch-cell products pass int64 at corpus scale (counts up to
        // N per cell) — decimal inside, int64 out (q187 discipline)
        val est = skA.join(skB.select(col("w").as("bw"), col("j").as("bj"),
              col("bucket").as("bb"), col("c").as("bc")),
            col("bw") === col("w") && col("bj") === col("j") && col("bb") === col("bucket"))
          .groupBy("w", "j")
          .agg(expr("sum(CAST(c AS DECIMAL(38,0)) * bc)").as("s"))
          .groupBy("w").agg(min(col("s")).as("est"))
        val exact =
          if (self) keyCounts(a._1, a._2)
            .agg(expr("CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT)").as("x"))
          else keyCounts(a._1, a._2).join(
              keyCounts(b._1, b._2).select(col("k"), col("c").as("c2")), "k")
            .agg(expr("CAST(sum(CAST(c AS DECIMAL(38,0)) * c2) AS BIGINT)").as("x"))
        val ns = a._1.agg(count(lit(1)).as("n_left"))
          .crossJoin(b._1.agg(count(lit(1)).as("n_right")))
        est.crossJoin(broadcast(exact)).crossJoin(broadcast(ns))
          .select(lit(label).as("join_key"), col("w").as("width"),
            col("n_left").cast("long").as("n_left"),
            col("n_right").cast("long").as("n_right"), col("x").as("exact"),
            col("est").cast("long").as("est_cms"),
            (col("est") - col("x")).cast("long").as("overestimate"),
            expr("(CAST(n_left AS DECIMAL(38,0)) * n_right) div width")
              .cast("long").as("noise_bound"))
      }
      val li = Tables.lineitem(spark, dir)
      val ev = Tables.events(spark, dir).select("user_id")
      val or = Tables.orders(spark, dir)
      audit((li, "l_partkey"), (li, "l_partkey"), self = true,
          "lineitem.l_partkey x lineitem.l_partkey")
        .unionByName(audit((ev, "user_id"), (ev, "user_id"), self = true,
          "events.user_id x events.user_id"))
        .unionByName(audit((li, "l_orderkey"), (or, "o_orderkey"), self = false,
          "lineitem.l_orderkey x orders.o_orderkey"))
        .orderBy("join_key", "width")
    }
  }

  /** Exact stratified sampler with largest-remainder apportionment —
    * the allocation step between q56's mixture rates and X1's exact-n
    * class sampler: given a total budget B = 200 over the
    * (lang, source) strata, quotas are base_h = B·N_h div N plus one
    * extra for the R = B − Σbase strata with the largest remainders
    * (Hamilton's method — the ONLY apportionment that is exactly
    * proportional to ±1 and sums to B by construction), then each
    * stratum's picks are its quota_h lowest content-hash ranks
    * (conv(md5) — reproducible across runs, partitionings, and engines,
    * q156's discipline). The whole allocation is integer arithmetic, so
    * the quota table AND the selected roster hash-match. Shape at
    * 100 TB: quotas live on the bounded strata dictionary (two
    * dictionary-sized global windows); selection is ONE stratum-keyed
    * rank window over the corpus with the quota dictionary broadcast —
    * no per-stratum passes, no collect. Requires B ≤ N (documented);
    * a stratum can never be allocated past its size since
    * base_h + 1 ≤ N_h whenever B < N. */
  val q194StratifiedSample: QuerySpec = QuerySpec.oracle(
    "q194_stratified_sample",
    s"""WITH d AS (SELECT lang, source, doc_id FROM documents),
      |h AS (SELECT lang, source, count(*) AS n_h FROM d GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n_h) AS BIGINT) AS n FROM h),
      |q AS (
      |  SELECT lang, source, n_h,
      |    CAST(200 * n_h // n AS BIGINT) AS base,
      |    CAST(200 * n_h % n AS BIGINT) AS rem
      |  FROM h CROSS JOIN tot),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY rem DESC, lang, source) AS rr,
      |    CAST(200 - sum(base) OVER () AS BIGINT) AS leftover
      |  FROM q),
      |quota AS (
      |  SELECT lang AS ql, source AS qs, n_h,
      |    base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS quota
      |  FROM r),
      |keyed AS (
      |  SELECT lang, source, doc_id,
      |    row_number() OVER (PARTITION BY lang, source
      |      ORDER BY ${hash60Sql("CAST(doc_id AS VARCHAR)")},
      |        doc_id) AS rk
      |  FROM d)
      |SELECT k.lang, k.source, CAST(n_h AS BIGINT) AS n_h,
      |  CAST(quota AS BIGINT) AS quota, k.doc_id, CAST(rk AS BIGINT) AS pick
      |FROM keyed k JOIN quota q ON q.ql = k.lang AND q.qs = k.source
      |WHERE rk <= quota ORDER BY k.lang, k.source, pick""".stripMargin
  ) { (spark, dir) =>
    val budget = 200L
    val d = Tables.documents(spark, dir).select("lang", "source", "doc_id")
    val h = d.groupBy("lang", "source").agg(count(lit(1)).as("n_h"))
    val tot = h.agg(sum(col("n_h")).cast("long").as("n"))
    val quota = h.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"$budget * n_h div n"))
      .withColumn("rem", expr(s"$budget * n_h % n"))
      // two dictionary-sized global windows: the remainder rank and the
      // base-total leftover — strata dictionaries, never corpus rows
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, col("lang"), col("source"))))
      .withColumn("leftover",
        lit(budget) - sum(col("base")).over(Window.partitionBy()))
      .select(col("lang").as("ql"), col("source").as("qs_src"), col("n_h"),
        (col("base") + when(col("rr") <= col("leftover"), 1L).otherwise(0L))
          .as("quota"))
    val keyed = d.withColumn("rk", row_number().over(
      Window.partitionBy("lang", "source").orderBy(
        hash60(col("doc_id").cast("string")),
        col("doc_id"))))
    keyed.join(broadcast(quota),
        col("ql") === col("lang") && col("qs_src") === col("source"))
      .filter(col("rk") <= col("quota"))
      .select(col("lang"), col("source"), col("n_h").cast("long").as("n_h"),
        col("quota").cast("long").as("quota"), col("doc_id"),
        col("rk").cast("long").as("pick"))
      .orderBy("lang", "source", "pick")
  }

  /** Single-pass weighted reservoir sample (Efraimidis-Spirakis A-ES; see
    * [[Sampling.weightedReservoir]]) — the sampling band's missing
    * single-pass weighted form (VERDICT r18): q12 samples exact-n uniform,
    * q143 walks PPS systematically (needs a global prefix sum), q194
    * apportions a stratified budget — this one draws k docs proportional
    * to length in ONE pass with O(k) state, the form streaming ingest
    * needs. Deterministic: exponential keys
    * E = ladder[md5(salt:id) mod L] div w over the shared integer quantile
    * ladder (q206's discipline), so the ROSTER hash-verifies — DuckDB
    * recomputes the identical keys and picks. Shape at 100 TB: one scan,
    * per-partition bounded heaps, a k-row merge (bottom-k-of-union is the
    * KMV semilattice); the oracle's global rank window is the AUDIT shape,
    * the Spark plan carries no window and no sort at all. */
  val q209WeightedReservoir: QuerySpec = {
    val (k, levels, salt) = (100, 1024, "r19")
    val ladderSql = Sampling.expLadderNano(levels).mkString("[", ", ", "]")
    QuerySpec.oracle(
      "q209_weighted_reservoir",
      s"""WITH d AS (SELECT doc_id, n_chars FROM documents WHERE n_chars > 0),
         |e AS (SELECT doc_id, n_chars,
         |    ($ladderSql)[CAST(${hash60Sql(s"'$salt:' || CAST(doc_id AS VARCHAR)")} % $levels AS BIGINT) + 1]
         |      // CAST(n_chars AS BIGINT) AS e_key
         |  FROM d),
         |r AS (SELECT *, row_number() OVER (ORDER BY e_key, doc_id) AS pick FROM e)
         |SELECT CAST(pick AS BIGINT) AS pick, doc_id, CAST(n_chars AS BIGINT) AS w,
         |  CAST(e_key AS BIGINT) AS e_key
         |FROM r WHERE pick <= $k ORDER BY pick""".stripMargin
    ) { (spark, dir) =>
      val d = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      Sampling.weightedReservoir(d, "doc_id", "n_chars", k, salt, levels)
        .select(col("sample_rank").cast("long").as("pick"), col("doc_id"),
          col("n_chars").cast("long").as("w"), col("e_key").cast("long").as("e_key"))
        .orderBy("pick")
    }
  }

  /** KMV set-OPERATION estimates — the sketch family's missing algebra:
    * q161 estimates ONE set's cardinality, but the questions a 100 TB
    * pipeline actually asks are pairwise ("how much do these feeds
    * overlap", "is this segment a subset of that one"). Theta-sketch
    * style over the order sets of the six (returnflag, linestatus)
    * segments: per segment the k=128 smallest md5 hashes of its order
    * keys; for each segment pair, Û = (k'−1)·2⁶⁰ div h_(k') from the
    * bottom-k' of the sketch UNION, and Ĵ = m div k' where m counts
    * union-sample members present in BOTH sketches — sound because any
    * union-bottom-k hash belonging to A is necessarily in bottom-k(A),
    * so sketch membership is exact for the sample. Intersection
    * estimate = Ĵ·Û. Everything is md5-prefix integer arithmetic, so
    * estimates AND their exact audits (the per-pair distinct joins the
    * sketch replaces at scale) hash-verify. Shape at 100 TB: one
    * (segment, key) distinct + one bounded-heap bottom-k per segment
    * (constant state, the KMV semilattice); ALL pair arithmetic lives on
    * the 6×128-row sketch dictionary; the exact side is the audit
    * reference, like q180's striped ranks. */
  val q211KmvSetOps: QuerySpec = {
    val k = 128
    val M = 1152921504606846976L // 2^60, the md5-prefix-15 hash space
    QuerySpec.oracle(
      "q211_kmv_set_ops",
      s"""WITH base AS (SELECT DISTINCT l_returnflag || l_linestatus AS t, l_orderkey AS p
         |  FROM lineitem),
         |u AS (SELECT DISTINCT t,
         |    ${hash60Sql("CAST(p AS VARCHAR)")} AS h FROM base),
         |sk AS (SELECT t, h FROM
         |    (SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn FROM u)
         |  WHERE rn <= $k),
         |tp AS (SELECT a.t AS ta, b.t AS tb
         |  FROM (SELECT DISTINCT t FROM base) a
         |  JOIN (SELECT DISTINCT t FROM base) b ON a.t < b.t),
         |us AS (SELECT ta, tb, h, row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
         |  FROM (SELECT DISTINCT p.ta, p.tb, s.h FROM tp p
         |        JOIN sk s ON s.t = p.ta OR s.t = p.tb)),
         |kth AS (SELECT ta, tb, max(h) AS hk, count(*) AS ks FROM us WHERE rn <= $k
         |        GROUP BY 1, 2),
         |mm AS (SELECT us.ta, us.tb, count(*) AS m
         |  FROM us
         |  JOIN sk a ON a.t = us.ta AND a.h = us.h
         |  JOIN sk b ON b.t = us.tb AND b.h = us.h
         |  WHERE us.rn <= $k GROUP BY 1, 2),
         |cnt AS (SELECT t, count(*) AS n FROM base GROUP BY 1),
         |ix AS (SELECT x.t AS ta, y.t AS tb, count(*) AS i
         |  FROM base x JOIN base y ON x.p = y.p AND x.t < y.t GROUP BY 1, 2)
         |SELECT kth.ta AS type_a, kth.tb AS type_b,
         |  CAST(ca.n AS BIGINT) AS n_a_exact, CAST(cb.n AS BIGINT) AS n_b_exact,
         |  CAST(CAST(ks - 1 AS HUGEINT) * $M // hk AS BIGINT) AS union_est,
         |  CAST(ca.n + cb.n - coalesce(ix.i, 0) AS BIGINT) AS union_exact,
         |  CAST(coalesce(mm.m, 0) * 1000000 // ks AS BIGINT) AS jaccard_micro,
         |  CAST(CAST(coalesce(mm.m, 0) AS HUGEINT)
         |    * (CAST(ks - 1 AS HUGEINT) * $M // hk) // ks AS BIGINT) AS inter_est,
         |  CAST(coalesce(ix.i, 0) AS BIGINT) AS inter_exact
         |FROM kth
         |LEFT JOIN mm ON mm.ta = kth.ta AND mm.tb = kth.tb
         |JOIN cnt ca ON ca.t = kth.ta
         |JOIN cnt cb ON cb.t = kth.tb
         |LEFT JOIN ix ON ix.ta = kth.ta AND ix.tb = kth.tb
         |ORDER BY type_a, type_b""".stripMargin
    ) { (spark, dir) =>
      import graft.functions.BottomKRows
      // the distinct (segment, order) relation feeds FIVE plan branches
      // (hashes, the type dictionary, exact counts, both sides of the
      // exact-intersection self-join) — cut it once (lazy checkpoint, the
      // q207 skinny-relation rule; r21: each branch re-ran the corpus
      // scan + distinct per evaluation)
      val base = Tables.lineitem(spark, dir)
        .select(concat(col("l_returnflag"), col("l_linestatus")).as("t"),
          col("l_orderkey").as("p"))
        .distinct()
        .localCheckpoint(eager = false)
      val u = base.select(col("t"),
          hash60(col("p").cast("string")).as("h"))
        .distinct()
      // per-segment bottom-k: ONE bounded-heap aggregate, no per-segment
      // window sort (hashes nonneg → zero-padded hex IS numeric order)
      val sk = u.groupBy("t")
        .agg(BottomKRows.bottomK(lpad(hex(col("h")), 16, "0"), struct(col("h")), k)
          .as("mins"))
        .select(col("t"), explode(col("mins")).as("m"))
        .select(col("t"), col("m.h").as("h"))
      val types = base.select("t").distinct()
      val tp = types.select(col("t").as("ta"))
        .join(types.select(col("t").as("tb")), col("ta") < col("tb"))
      val us = tp.join(broadcast(sk),
          col("t") === col("ta") || col("t") === col("tb"))
        .select("ta", "tb", "h").distinct()
        .withColumn("rn", row_number().over(
          Window.partitionBy("ta", "tb").orderBy("h")))
        .filter(col("rn") <= k)
      val kth = us.groupBy("ta", "tb").agg(max(col("h")).as("hk"), count(lit(1)).as("ks"))
      val mm = us.select(col("ta"), col("tb"), col("h").as("uh"))
        .join(broadcast(sk.select(col("t").as("at"), col("h").as("ah"))),
          col("at") === col("ta") && col("ah") === col("uh"))
        .join(broadcast(sk.select(col("t").as("bt"), col("h").as("bh"))),
          col("bt") === col("tb") && col("bh") === col("uh"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("m"))
      val cnt = base.groupBy("t").agg(count(lit(1)).as("n"))
      // exact per-pair intersection via ONE groupBy on the order key + an
      // in-row pair expansion (r22, VERDICT item 4): |A∩B| for (ta < tb) is
      // the number of orders carrying both segments, so grouping the
      // distinct (t, p) relation by p and emitting the sorted type-pairs
      // per order computes the identical count with ONE exchange on p —
      // the previous base⋈base self-join shuffled BOTH |base|-sized sides
      // on p and risked |distinct|² on a hot order key. Per-order state is
      // bounded by the segment dictionary (≤ |distinct t| entries), and
      // (t, p) is already distinct so collect_list is the type set.
      val ix = base.groupBy("p")
        .agg(sort_array(collect_list(col("t"))).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(explode(flatten(transform(col("ts"), (a, i) =>
          transform(slice(col("ts"), i + lit(2), size(col("ts"))),
            b => struct(a.as("ta"), b.as("tb")))))).as("pr"))
        .groupBy(col("pr.ta").as("ta"), col("pr.tb").as("tb"))
        .agg(count(lit(1)).as("i"))
      kth
        .join(mm, Seq("ta", "tb"), "left")
        .join(broadcast(cnt.select(col("t").as("ta"), col("n").as("na"))), "ta")
        .join(broadcast(cnt.select(col("t").as("tb"), col("n").as("nb"))), "tb")
        .join(ix, Seq("ta", "tb"), "left")
        // (k−1)·2⁶⁰ and m·Û exceed int64 — decimal inside, int64 out
        .withColumn("union_est",
          expr(s"(CAST(ks - 1 AS DECIMAL(38,0)) * $M) div hk"))
        .select(col("ta").as("type_a"), col("tb").as("type_b"),
          col("na").cast("long").as("n_a_exact"), col("nb").cast("long").as("n_b_exact"),
          col("union_est").cast("long").as("union_est"),
          (col("na") + col("nb") - coalesce(col("i"), lit(0L))).cast("long").as("union_exact"),
          expr("coalesce(m, 0) * 1000000 div ks").cast("long").as("jaccard_micro"),
          expr("(CAST(coalesce(m, 0) AS DECIMAL(38,0)) * union_est) div ks")
            .cast("long").as("inter_est"),
          coalesce(col("i"), lit(0L)).cast("long").as("inter_exact"))
        .orderBy("type_a", "type_b")
    }
  }
}
