package graft.operators

import graft.{QuerySpec, SessionMemo}
import graft.functions.Exprs._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus band of the LLM-data pipeline: sequence packing and chunking,
  * data mixtures and curricula, bigram LM and surprisal, collocations and
  * keywords, source-overlap and divergence audits, DSIR importance
  * weights, language ID and the Gopher repetition rules.
  */
object CorpusQueries {

  import DedupQueries.{LowToksSql, ShinglesSql, lowToksCol}

  /** Sequence packing: chunk each language's doc stream (doc_id order) into
    * fixed 512-token training-example budgets — the concatenate-then-chunk
    * preprocessing that assembles LM training sequences. pack_id =
    * floor(tokens-before-this-doc / budget). The prefix-sum runs STRIPED
    * ([[StripedWindow]]): 16 range stripes over doc_id (equal-width cuts
    * from one broadcast min/max aggregate), per-(lang, stripe) windows, broadcast
    * stripe offsets — value-identical to the plain per-lang window
    * (StripedWindowSpec pins it) but parallelism is |langs| × 16, so a
    * 33 TB language never serializes through one task. */
  val q36SequencePack: QuerySpec = QuerySpec.oracle(
    "q36_sequence_pack",
    raw"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(str_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n_tok,
       |    coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM t)
       |SELECT doc_id, lang, n_tok, CAST(floor(cum_before / 512.0) AS BIGINT) AS pack_id
       |FROM c ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val nTok = asLong(size(filter(split(col("text"), "\\s+"), x => x =!= "")))
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), nTok.as("n_tok"))
    StripedWindow.runningSum(
        StripedWindow.withRangeStripe(t, "doc_id", 16),
        Seq("lang"), Seq(col("doc_id")), col("n_tok"), "cum_before",
        includeCurrent = false)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        floor(col("cum_before") / 512.0).as("pack_id"))
      .orderBy("doc_id")
  }

  /** Each document's lowered token stream in overlapping windows (width
    * 128, stride 96): `(doc_id, chunk_idx, chunk)`, empty windows dropped.
    * q84 reports them; the serving band indexes them for RAG. */
  private[operators] def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val (width, stride) = (128, 96)
    Tables.documents(spark, dir)
      .select(col("doc_id"), lowToksCol.as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(1), greatest(size(col("ts")), lit(1)), lit(stride))).as("s"))
      .select(col("doc_id"),
        ((col("s") - 1).cast("long") / stride).cast("long").as("chunk_idx"),
        slice(col("ts"), col("s"), lit(width)).as("chunk"))
      .filter(size(col("chunk")) > 0)
  }

  /** Document chunking — the preprocessing step between cleaning and
    * sequence packing: each document's token stream split into overlapping
    * fixed-width windows (width 128, stride 96 → 32-token overlap, the
    * standard long-document treatment so no span is ever cut without
    * context). One row per (doc, chunk); empty docs yield no chunks.
    * Shape at scale: a pure per-row explode — the fan-out is bounded by
    * ceil(len/stride) per doc, no shuffle except the presentation sort;
    * embarrassingly parallel over the corpus. */
  val q84DocChunks: QuerySpec = QuerySpec.oracle(
    "q84_doc_chunks",
    s"""WITH toks AS (SELECT doc_id, $LowToksSql AS ts FROM documents),
       |starts AS (SELECT doc_id, ts,
       |    unnest(generate_series(1, greatest(len(ts), 1), 96)) AS s
       |  FROM toks),
       |c AS (SELECT doc_id, CAST((s - 1) // 96 AS BIGINT) AS chunk_idx,
       |    ts[s:s+127] AS chunk
       |  FROM starts)
       |SELECT doc_id, chunk_idx,
       |  array_to_string(chunk, ' ') AS chunk_text,
       |  CAST(len(chunk) AS BIGINT) AS n_tokens
       |FROM c WHERE len(chunk) > 0
       |ORDER BY doc_id, chunk_idx""".stripMargin
  ) { (spark, dir) =>
    docChunks(spark, dir)
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", col("chunk")).as("chunk_text"),
        size(col("chunk")).cast("long").as("n_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Training-data mixture construction: each source contributes documents
    * until a fixed per-source token budget is hit, in a DETERMINISTIC
    * pseudo-random order (md5 of doc_id — layout-independent, so the same
    * mixture comes out of any partitioning/cluster size) — the standard
    * mixture-weights pass (Pile-style source balancing). The prefix-sum is
    * STRIPED ([[StripedWindow]]): the order key is md5 hex, so its first
    * character is a free 16-way monotone range stripe (no statistics pass);
    * the window runs per (source, stripe) and broadcast stripe offsets
    * reconcile — value-identical to the plain per-source window
    * (StripedWindowSpec pins it), and a single giant source no longer
    * serializes its own window at 100 TB. */
  val q52DataMixture: QuerySpec = QuerySpec.oracle(
    "q52_data_mixture",
    s"""WITH t AS (SELECT doc_id, source,
       |  CAST(len($LowToksSql) AS BIGINT) AS n_toks FROM documents),
       |c AS (SELECT *, CAST(sum(n_toks) OVER (PARTITION BY source
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t)
       |SELECT doc_id, source, n_toks, cum_tokens FROM c
       |WHERE cum_tokens <= 600 ORDER BY source, cum_tokens""".stripMargin
  ) { (spark, dir) =>
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(lowToksCol).cast("long").as("n_toks"))
      .withColumn("__h", md5(col("doc_id").cast("string")))
      .withColumn(StripedWindow.StripeCol, StripedWindow.hexStripe(col("__h")))
    StripedWindow.runningSum(t, Seq("source"), Seq(col("__h"), col("doc_id")),
        col("n_toks"), "cum_tokens", includeCurrent = true)
      .filter(col("cum_tokens") <= 600)
      .select(col("doc_id"), col("source"), col("n_toks"), col("cum_tokens"))
      .orderBy("source", "cum_tokens")
  }

  /** Curriculum ordering: docs bucketed into difficulty quartiles by token
    * count (exact interpolated quartiles, broadcast as 1-row cut-points —
    * NOT ntile, whose single-partition global sort dies at scale), then
    * interleaved round-robin across buckets so every training window sees
    * the full difficulty mix. The rank-within-bucket is STRIPED
    * ([[StripedWindow]]): ONE broadcast percentile aggregate yields the
    * 16-iles of n_toks, whose elements 4/8/12 are exactly the quartile
    * bucket cuts and whose full set gives ~4 monotone range stripes inside
    * each bucket — rank = running count per (bucket, stripe) + broadcast
    * stripe offsets, value-identical to row_number() per bucket
    * (StripedWindowSpec pins it), so the 4-value bucket column never bounds
    * parallelism. */
  val q55Curriculum: QuerySpec = QuerySpec.oracle(
    "q55_curriculum",
    s"""WITH t AS (SELECT doc_id, CAST(len($LowToksSql) AS BIGINT) AS n_toks FROM documents),
       |q AS (SELECT quantile_cont(n_toks, 0.25) AS q1, quantile_cont(n_toks, 0.5) AS q2,
       |    quantile_cont(n_toks, 0.75) AS q3 FROM t),
       |b AS (SELECT doc_id, n_toks,
       |    CAST(1 + CAST(n_toks > q1 AS INT) + CAST(n_toks > q2 AS INT)
       |      + CAST(n_toks > q3 AS INT) AS BIGINT) AS bucket
       |  FROM t CROSS JOIN q),
       |r AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY n_toks, doc_id) AS rn FROM b)
       |SELECT doc_id, n_toks, bucket, rn, (rn - 1) * 4 + bucket AS pos
       |FROM r ORDER BY pos""".stripMargin
  ) { (spark, dir) =>
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), size(lowToksCol).cast("long").as("n_toks"))
    // 16-ile cut points: cuts(3)/(7)/(11) ARE percentile .25/.5/.75 — the
    // bucket values match the old scalar-percentile form exactly.
    // Exact percentile (not approx) is REQUIRED here: the quartile bucket is
    // part of the declared output and must match DuckDB's quantile_cont
    // bit-for-bit. Unlike a unique key, this stays 100 TB-safe: percentile's
    // in-memory value→count map is bounded by the DISTINCT cardinality of
    // n_toks — token counts, capped by max document length — not by corpus
    // row count. (Contrast StripedWindow.withRangeStripe, which stripes on
    // arbitrary — possibly unique — order keys and therefore uses
    // approx_percentile.)
    val fracs = (1 until 16).map(i => i.toDouble / 16)
    val cuts = t.agg(
      expr(s"percentile(n_toks, array(${fracs.mkString(", ")}))").as("__cuts"))
    val bucket = (lit(1) +
      (col("n_toks") > col("__cuts")(3)).cast("int") +
      (col("n_toks") > col("__cuts")(7)).cast("int") +
      (col("n_toks") > col("__cuts")(11)).cast("int")).cast("long")
    val stripe = (0 until 15)
      .map(i => (col("n_toks") > col("__cuts")(i)).cast("int"))
      .reduce(_ + _)
    val b = t.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_toks"), bucket.as("bucket"),
        stripe.as(StripedWindow.StripeCol))
    StripedWindow.runningSum(b, Seq("bucket"), Seq(col("n_toks"), col("doc_id")),
        lit(1L), "rn", includeCurrent = true)
      .select(col("doc_id"), col("n_toks"), col("bucket"), col("rn"),
        ((col("rn") - 1) * 4 + col("bucket")).as("pos"))
      .orderBy("pos")
  }

  /** Temperature-flattened mixture resampling (the XLM-R style p^α rule,
    * α = 1/2): each source keeps documents at rate
    * `min(1, 1/2 · sqrt(maxTokens / srcTokens))`, anchored at the largest
    * source — so over-represented sources are down-sampled hardest and a
    * source 4× smaller than the largest survives intact. The keep decision
    * is a DETERMINISTIC md5 coin per doc_id (layout-independent, same
    * sample from any partitioning), and every arithmetic step — max,
    * long→double casts, divide, sqrt, multiply, compare — is an exactly
    * rounded IEEE op, so Spark and DuckDB draw the IDENTICAL sample
    * (transcendental functions like pow/log would not survive that bar;
    * α = 1/2 is chosen because sqrt does). Shape at scale: per-source token
    * totals are a tiny aggregate (one shuffle of partial sums), rates ride
    * back on a broadcast join, the coin is a scan-side filter — the corpus
    * itself never shuffles. */
  val q56MixtureResample: QuerySpec = QuerySpec.oracle(
    "q56_mixture_resample",
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len($LowToksSql) AS BIGINT) AS n_toks FROM documents),
       |s AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS src_toks FROM t GROUP BY source),
       |mx AS (SELECT max(src_toks) AS max_toks FROM s),
       |r AS (SELECT source, src_toks,
       |    least(1.0, 0.5 * sqrt(CAST(max_toks AS DOUBLE) / CAST(src_toks AS DOUBLE))) AS keep_rate
       |  FROM s CROSS JOIN mx)
       |SELECT doc_id, t.source, n_toks, keep_rate
       |FROM t JOIN r ON t.source = r.source
       |WHERE CAST(${hash60Sql("CAST(doc_id AS VARCHAR)")}
       |    AS DOUBLE) / 1152921504606846976.0 < keep_rate
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(lowToksCol).cast("long").as("n_toks"))
    val s = t.groupBy("source").agg(sum(col("n_toks")).as("src_toks"))
    val mx = s.agg(max(col("src_toks")).as("max_toks"))
    val r = s.crossJoin(broadcast(mx))
      .select(col("source"), col("src_toks"),
        least(lit(1.0), lit(0.5) *
          sqrt(col("max_toks").cast("double") / col("src_toks").cast("double")))
          .as("keep_rate"))
    // 2^60 is exactly representable; the md5 coin is the same 60-bit hash
    // fraction both engines compute bit-for-bit (see TextFns.tokenId).
    val coin = hash60(col("doc_id").cast("string")).cast("double") /
      lit(1152921504606846976.0)
    t.join(broadcast(r.drop("src_toks")), Seq("source"))
      .filter(coin < col("keep_rate"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("keep_rate"))
      .orderBy("doc_id")
  }

  /** Corpus bigram counts as the CTEs `toks`, `bg` and `p(a, b, n_ab)`,
    * shared by q57 and q94. */
  private val BigramCountsSql: String =
    s"""toks AS (SELECT $LowToksSql AS ts FROM documents),
       |bg AS (SELECT unnest(CASE WHEN len(ts) >= 2
       |    THEN list_transform(generate_series(1, len(ts) - 1),
       |      i -> concat_ws(' ', ts[i], ts[i+1]))
       |    ELSE [] END) AS bg FROM toks),
       |p AS (SELECT str_split(bg, ' ')[1] AS a, str_split(bg, ' ')[2] AS b,
       |    count(*) AS n_ab FROM bg GROUP BY 1, 2)""".stripMargin

  /** Spark side of [[BigramCountsSql]]: `(a, b, n_ab)` from adjacent token
    * pairs built with slice+arrays_zip, NOT TextFns.bigrams+split: the
    * bigram lambda is an interpreted HOF and the string round-trip costs
    * two regex splits per exploded row — measured 9.5 s vs 0.6 s at sf0.1.
    * slice/arrays_zip/explode are all native codegen'd operators. The
    * (ts[i], ts[i+1]) pairs are value-identical to the oracle's
    * concat-then-split rendering (tokens are \W+-split, never contain
    * spaces). */
  private def bigramCounts(spark: SparkSession, dir: String): DataFrame = {
    val n1 = greatest(size(col("ts")) - 1, lit(0))
    Tables.documents(spark, dir)
      .select(lowToksCol.as("ts"))
      .select(explode(arrays_zip(
        slice(col("ts"), lit(1), n1).as("a"),
        slice(col("ts"), lit(2), n1).as("b"))).as("z"))
      .select(col("z.a"), col("z.b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
  }

  /** Bigram language-model table: adjacent-token pair counts with the
    * conditional probability P(b | a) = c(a,b) / Σ_b' c(a,b') — the
    * building block behind LM-perplexity quality filters and synthetic-text
    * detectors. Probabilities divide two exact integer counts (one exactly
    * rounded double divide — cross-engine identical). Shape at scale:
    * bigram counting is a map-side-combined aggregation keyed by the pair;
    * the prefix totals are vocabulary-sized and broadcast back, so the only
    * data-proportional shuffle carries (pair, partial count) rows. */
  val q57BigramLm: QuerySpec = QuerySpec.oracle(
    "q57_bigram_lm",
    s"""WITH $BigramCountsSql,
       |pre AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM p GROUP BY a)
       |SELECT p.a, p.b, n_ab, n_a,
       |  CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_cond
       |FROM p JOIN pre USING (a)
       |ORDER BY n_ab DESC, a, b LIMIT 30""".stripMargin
  ) { (spark, dir) =>
    val p = bigramCounts(spark, dir)
    val pre = p.groupBy("a").agg(sum(col("n_ab")).as("n_a"))
    p.join(broadcast(pre), Seq("a"))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("p_cond"))
      .orderBy(col("n_ab").desc, col("a"), col("b"))
      .limit(30)
  }

  /** Per-document bigram-LM surprisal (the perplexity-filter quality
    * signal): score each document by the average information content of its
    * bigrams under the corpus's own bigram model (q57's table). The
    * per-bigram surprisal −log2 P(b|a) is QUANTIZED to whole bits and
    * computed exactly on integers — floor(log2(n_a / n_ab)) is the binary
    * length of the integer quotient, so every step (integer divide, bin(),
    * length, sum, one final double divide) is cross-engine bit-identical,
    * where a libm log/ln could never hash-match (same bar as q45's idf and
    * q56's α=1/2). High average bits = improbable token transitions =
    * gibberish/outlier candidate. Shape at scale: the LM build is a
    * map-side-combined pair-keyed aggregation; scoring re-joins the
    * doc-bigram stream to the LM on the pair key — both shuffles carry
    * (pair, count)-shaped rows, the corpus text never moves twice, and the
    * vocabulary-sized prefix table rides in via broadcast. */
  val q58LmSurprisal: QuerySpec = QuerySpec.oracle(
    "q58_lm_surprisal",
    s"""WITH toks AS (SELECT doc_id, $LowToksSql AS ts FROM documents),
       |bg AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 2
       |    THEN list_transform(generate_series(1, len(ts) - 1),
       |      i -> concat_ws(' ', ts[i], ts[i+1]))
       |    ELSE [] END) AS bgs FROM toks),
       |pr AS (SELECT doc_id, str_split(bgs, ' ')[1] AS a,
       |    str_split(bgs, ' ')[2] AS b FROM bg),
       |lm AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY 1, 2),
       |pre AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM lm GROUP BY a),
       |sc AS (SELECT doc_id, length(bin(n_a // n_ab)) - 1 AS bits
       |  FROM pr JOIN lm USING (a, b) JOIN pre USING (a))
       |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(bits) AS BIGINT) AS sum_bits,
       |  CAST(sum(bits) AS DOUBLE) / count(*) AS avg_bits
       |FROM sc GROUP BY doc_id
       |ORDER BY avg_bits DESC, doc_id LIMIT 20""".stripMargin
  ) { (spark, dir) =>
    // bigram pairs via slice+arrays_zip — same native-codegen rationale as
    // q57 (the HOF/string-round-trip form measured 15× slower)
    val n1 = greatest(size(col("ts")) - 1, lit(0))
    val pr = Tables.documents(spark, dir)
      .select(col("doc_id"), lowToksCol.as("ts"))
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("ts"), lit(1), n1).as("a"),
        slice(col("ts"), lit(2), n1).as("b"))).as("z"))
      .select(col("doc_id"), col("z.a"), col("z.b"))
    val lm = pr.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    val pre = lm.groupBy("a").agg(sum(col("n_ab")).as("n_a"))
    pr.join(lm, Seq("a", "b"))
      .join(broadcast(pre), Seq("a"))
      .withColumn("bits", (length(bin(expr("n_a DIV n_ab"))) - 1).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_bigrams").cast("double")).as("avg_bits"))
      .orderBy(col("avg_bits").desc, col("doc_id"))
      .limit(20)
  }

  /** Collocation mining (the phrase-detection pass that runs before
    * tokenizer training — "hot dog" should become one token if its parts
    * co-occur far above chance): bigram lift = P(a,b) / (P(a·)·P(·b)),
    * computed entirely from the bigram table as n_ab·N / (n_a·*n_·b) so
    * every input is an exact integer count. The standard PMI is
    * log2(lift); the log is MONOTONE, so ranking by lift ranks by PMI
    * while keeping every arithmetic step exactly-rounded IEEE (two exact
    * integer-valued double products, then one division) — the same
    * no-libm bar as q45's idf and q58's quantized surprisal, which is
    * what lets the scores hash-match DuckDB's. Shape at scale: one
    * map-side-combined pair aggregation (the only corpus-sized shuffle);
    * prefix/suffix marginals and the 1-row grand total are vocabulary-
    * and unit-sized, riding back in via broadcast + the lazy 1-row
    * cross-join idiom (q27/q45). min-count 5 kills the long noise tail
    * before ranking. */
  val q94Collocations: QuerySpec = QuerySpec.oracle(
    "q94_collocations",
    s"""WITH $BigramCountsSql,
       |pre AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM p GROUP BY 1),
       |suf AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM p GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bg FROM p)
       |SELECT p.a, p.b, n_ab, n_a, n_b,
       |  (CAST(n_ab AS DOUBLE) * CAST(n_bg AS DOUBLE))
       |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS lift
       |FROM p JOIN pre USING (a) JOIN suf USING (b) CROSS JOIN tot
       |WHERE n_ab >= 5
       |ORDER BY lift DESC, a, b LIMIT 30""".stripMargin
  ) { (spark, dir) =>
    val p = bigramCounts(spark, dir)
    val pre = p.groupBy("a").agg(sum(col("n_ab")).as("n_a"))
    val suf = p.groupBy("b").agg(sum(col("n_ab")).as("n_b"))
    val tot = p.agg(sum(col("n_ab")).as("n_bg"))
    p.filter(col("n_ab") >= 5)
      .join(broadcast(pre), Seq("a"))
      .join(broadcast(suf), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast("double") * col("n_bg").cast("double"))
          / (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(30)
  }

  /** Per-document keyword extraction: each document's top-3 terms by
    * tf·idf, with q45's odds-ratio idf ((N−df+½)/(df+½) — monotone in the
    * textbook log-idf but every step exactly-rounded IEEE, so scores
    * hash-match). Shape at scale: tf is the (doc, token)-keyed count, df
    * the token-keyed count over distinct pairs; they meet in an ordinary
    * token-keyed equi join with NO broadcast hint — the vocabulary is
    * corpus-sized and must never be forced resident (q27's rule; AQE may
    * still choose broadcast at small scale, which is its call, not a plan
    * contract). The top-3 pick is a per-doc rank window (doc-cardinality
    * parallelism) assembled in-row exactly like q98's paths. */
  val q115KeywordExtract: QuerySpec = QuerySpec.oracle(
    "q115_keyword_extract",
    s"""WITH toks AS (SELECT doc_id, $LowToksSql AS ts FROM documents),
       |pair AS (SELECT doc_id, unnest(ts) AS token FROM toks),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM pair GROUP BY 1, 2),
       |df AS (SELECT token, count(*) AS df
       |       FROM (SELECT DISTINCT doc_id, token FROM pair) GROUP BY 1),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM toks),
       |sc AS (SELECT doc_id, token,
       |    CAST(tf AS DOUBLE) * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |      / (CAST(df AS DOUBLE) + 0.5)) AS score
       |  FROM tf JOIN df USING (token) CROSS JOIN nd),
       |rk AS (SELECT doc_id, token, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
       |  FROM sc)
       |SELECT doc_id, string_agg(token, ',' ORDER BY rn) AS keywords,
       |  max(score) AS top_score
       |FROM rk WHERE rn <= 3 GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val pair = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(lowToksCol).as("token"))
    val tf = pair.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = pair.distinct().groupBy("token").agg(count(lit(1)).as("df"))
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val sc = tf.join(df, Seq("token")).crossJoin(broadcast(nd))
      .select(col("doc_id"), col("token"),
        (col("tf").cast("double") *
          ((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5)))).as("score"))
    val rn = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    sc.withColumn("rn", row_number().over(rn))
      .filter(col("rn") <= 3)
      .groupBy("doc_id")
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("rn"), col("token")))),
            x => x.getField("token")), ",").as("keywords"),
        max(col("score")).as("top_score"))
      .orderBy("doc_id")
  }

  /** Source-overlap matrix — pairwise shingle Jaccard between SOURCES
    * (not documents): the corpus-composition audit run before fixing a
    * data mixture, where two crawls of the same site masquerading as
    * independent sources would double-weight their content. Set sizes
    * and intersections are exact integer counts over distinct
    * (source, shingle) pairs, all derived from ONE corpus pass: a single
    * groupBy on the shingle key (collect_set is the distinct) emits each
    * shingle's source pairs AND memberships, with per-shingle fan-out
    * bounded by |sources|² — q31's shingle-keyed discipline lifted from
    * doc pairs to source pairs, never an all-pairs product over content
    * and never a second scan. The |sources|²-bounded aggregate packs into
    * one map+array row so the totals lookup is an element_at, not a join
    * branch re-running corpus lineage (the source dimension is tiny by
    * definition). */
  val q116SourceOverlap: QuerySpec = QuerySpec.oracle(
    "q116_source_overlap",
    s"""WITH toks AS (SELECT doc_id, source, $LowToksSql AS ts FROM documents),
       |shl AS (SELECT source, $ShinglesSql AS shs FROM toks),
       |sh AS (SELECT DISTINCT source, unnest(shs) AS sh FROM shl),
       |tot AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
       |pair AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_ab
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, n_ab, ta.n AS n_a, tb.n AS n_b,
       |  CAST(n_ab AS DOUBLE) / CAST(ta.n + tb.n - n_ab AS DOUBLE) AS jaccard
       |FROM pair
       |JOIN tot ta ON ta.source = src_a
       |JOIN tot tb ON tb.source = src_b
       |ORDER BY src_a, src_b""".stripMargin
  ) { (spark, dir) =>
    // ONE corpus pass, one linear chain: the earlier self-join formulation
    // referenced the scan→shingle→distinct subtree FOUR times (the pair
    // join's two sides + the totals under each broadcast branch) and Spark
    // re-executed all four — four corpus scans at 100 TB. Instead, group
    // once on the shingle key (collect_set is the distinct) and emit each
    // shingle's ordered source PAIRS and per-source MEMBERSHIPS from that
    // one pass, aggregated together keyed (src_a, src_b) with src_b NULL
    // marking a membership row. That aggregate is |sources|(²)-bounded —
    // tiny — so rather than splitting it into totals/pairs branches (every
    // re-reference re-runs the corpus lineage; a checkpoint would run jobs
    // at construction), ONE single-row aggregate packs the totals into a
    // map and the pairs into an array, and the final projection explodes
    // the pairs and looks totals up via element_at. Nothing downstream of
    // the shingle groupBy ever touches the corpus again.
    val srcs = array_sort(collect_set(col("source")))
    val grp = Tables.documents(spark, dir)
      .filter(col("source").isNotNull)
      .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("sh"))
      .groupBy("sh").agg(srcs.as("srcs"))
    val pairsArr = flatten(transform(col("srcs"), (a, i) =>
      transform(slice(col("srcs"), i + lit(2), size(col("srcs"))), b =>
        struct(a.as("src_a"), b.as("src_b")))))
    val singlesArr = transform(col("srcs"), a =>
      struct(a.as("src_a"), lit(null).cast("string").as("src_b")))
    val counts = grp
      .select(explode(concat(singlesArr, pairsArr)).as("e"))
      .groupBy(col("e.src_a").as("src_a"), col("e.src_b").as("src_b"))
      .agg(count(lit(1)).as("n"))
    val packed = counts.agg(
      map_from_entries(collect_list(
        when(col("src_b").isNull, struct(col("src_a"), col("n"))))).as("tot"),
      collect_list(when(col("src_b").isNotNull,
        struct(col("src_a"), col("src_b"), col("n")))).as("pairs"))
    packed
      .select(col("tot"), explode(col("pairs")).as("p"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"),
        col("p.n").as("n_ab"),
        element_at(col("tot"), col("p.src_a")).as("n_a"),
        element_at(col("tot"), col("p.src_b")).as("n_b"))
      .withColumn("jaccard", col("n_ab").cast("double")
        / (col("n_a") + col("n_b") - col("n_ab")).cast("double"))
      .orderBy("src_a", "src_b")
  }

  /** Per-source token-distribution divergence from the corpus-wide
    * distribution — the composition-drift audit run before mixture fixing
    * (a source whose unigram distribution walked away from the corpus is
    * the first sign of a crawler change or contamination). Distance is
    * total variation, ½ Σ_t |P_src(t) − P_corpus(t)|, chosen over KL
    * because every step stays in EXACT integer arithmetic: the numerator
    * is Σ|c_s·T_c − c_c·T_s| plus the absent-token mass T_s·(T_c − Σ_present
    * c_c), all decimal sums of integer products (order-independent,
    * hash-matchable; KL's log is libm-dependent). One division at the end.
    *
    * Shape at scale: the (source, token) counts aggregate once, regroup by
    * token carrying the per-source list (fan-out bounded by |sources| —
    * q116's discipline), and the per-source totals ride in as a broadcast
    * 1-row-per-source table computed WITHOUT the token explode (sum of
    * per-doc token counts — a plain column scan). The vocabulary shuffles
    * once and never collects anywhere. */
  val q129SourceDivergence: QuerySpec = QuerySpec.oracle(
    "q129_source_divergence",
    s"""WITH toks AS (SELECT source, $LowToksSql AS ts FROM documents),
       |tot AS (SELECT source, CAST(sum(len(ts)) AS BIGINT) AS t_s FROM toks GROUP BY 1),
       |g AS (SELECT CAST(sum(t_s) AS BIGINT) AS t_c FROM tot),
       |st AS (SELECT source, unnest(ts) AS t FROM toks),
       |sc AS (SELECT source, t, count(*) AS c_s FROM st GROUP BY 1, 2),
       |ct AS (SELECT t, CAST(sum(c_s) AS BIGINT) AS c_c FROM sc GROUP BY 1),
       |e AS (SELECT sc.source, sc.c_s, ct.c_c FROM sc JOIN ct USING (t)),
       |agg AS (SELECT e.source,
       |    sum(abs(CAST(e.c_s AS DECIMAL(38,0)) * g.t_c
       |          - CAST(e.c_c AS DECIMAL(38,0)) * tot.t_s)) AS sum_abs,
       |    CAST(sum(e.c_c) AS DECIMAL(38,0)) AS present_cc,
       |    any_value(tot.t_s) AS t_s, any_value(g.t_c) AS t_c
       |  FROM e JOIN tot ON tot.source = e.source CROSS JOIN g
       |  GROUP BY e.source)
       |SELECT source, t_s AS n_tokens,
       |  0.5 * CAST(sum_abs + CAST(t_s AS DECIMAL(38,0)) * (t_c - present_cc) AS DOUBLE)
       |      / CAST(CAST(t_s AS DECIMAL(38,0)) * t_c AS DOUBLE) AS tv_distance
       |FROM agg ORDER BY source""".stripMargin
  ) { (spark, dir) =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val docs = Tables.documents(spark, dir)
    // totals WITHOUT the token explode: one narrow column scan
    val tot = docs.groupBy("source")
      .agg(sum(size(lowToksCol)).cast("long").as("t_s"))
    val g = tot.agg(sum(col("t_s")).cast("long").as("t_c"))
    val sc = docs.select(col("source"), explode(lowToksCol).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c_s"))
    val e = sc.groupBy("t")
      .agg(sum(col("c_s")).cast("long").as("c_c"),
        collect_list(struct(col("source"), col("c_s"))).as("ss"))
      .select(col("c_c"), explode(col("ss")).as("x"))
      .select(col("x.source").as("source"), col("x.c_s").as("c_s"), col("c_c"))
    e.join(broadcast(tot), "source").crossJoin(broadcast(g))
      .groupBy("source")
      .agg(sum(abs(dec(col("c_s")) * col("t_c") - dec(col("c_c")) * col("t_s"))).as("sum_abs"),
        dec(sum(col("c_c"))).as("present_cc"),
        first(col("t_s")).as("t_s"), first(col("t_c")).as("t_c"))
      .select(col("source"), col("t_s").as("n_tokens"),
        (lit(0.5) * (col("sum_abs") + dec(col("t_s")) * (col("t_c") - col("present_cc")))
          .cast("double")
          / (dec(col("t_s")) * col("t_c")).cast("double")).as("tv_distance"))
      .orderBy("source")
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * via Importance Resampling"): score every raw document by its
    * log-likelihood ratio under a TARGET-domain n-gram LM vs the RAW-pool
    * LM, then keep the top-scoring subset — the data-selection pass that
    * upgrades a random crawl sample toward a quality domain. Target =
    * src0 (q163's held-out convention), LMs = add-one-smoothed bigram
    * models, and the per-bigram log ratio is QUANTIZED TO WHOLE BITS the
    * q58 way: log2(p_t/p_b) ≈ bits(num div den) − bits(den div num) with
    * num = (n_t+1)·(D_r+V), den = (n_r+1)·(D_t+V) — exactly one side
    * nonzero (both zero when the ratio is 1), every step integer, so doc
    * scores AND the selected top-100 hash-match where a libm log never
    * could. Products stay under int64 while n·D < 2⁶³ (fine at every
    * driver SF; a 100 TB corpus would shard the LM key space or hash
    * counts down first — same bound q58 documents). Shape at scale: two
    * pushed-down corpus passes build the token-pair-keyed LMs
    * (map-side-combined), the raw bigram stream re-joins the merged LM on
    * the pair key, the three totals ride ONE broadcast 1-row aggregate
    * (q27's scalar idiom), and selection is a rank-orderBy-limit, never a
    * global window. */
  val q176DsirWeights: QuerySpec = {
    def bitsSql(x: String): String = s"(length(bin($x)) - 1)"
    val numSql = "((lm.n_t + 1) * (st.d_r + st.v))"
    val denSql = "((lm.n_r + 1) * (st.d_t + st.v))"
    QuerySpec.oracle(
      "q176_dsir_weights",
      s"""WITH toks AS (SELECT doc_id, source, $LowToksSql AS ts FROM documents),
         |bg AS (SELECT doc_id, source, unnest(CASE WHEN len(ts) >= 2
         |    THEN list_transform(generate_series(1, len(ts) - 1),
         |      i -> concat_ws(' ', ts[i], ts[i+1]))
         |    ELSE [] END) AS t FROM toks),
         |lmt AS (SELECT t, count(*) AS n_t FROM bg WHERE source = 'src0' GROUP BY t),
         |lmr AS (SELECT t, count(*) AS n_r FROM bg WHERE source <> 'src0' GROUP BY t),
         |lm AS (SELECT coalesce(lmt.t, lmr.t) AS t, coalesce(n_t, 0) AS n_t,
         |    coalesce(n_r, 0) AS n_r
         |  FROM lmt FULL OUTER JOIN lmr ON lmt.t = lmr.t),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS v,
         |    CAST(sum(n_t) AS BIGINT) AS d_t, CAST(sum(n_r) AS BIGINT) AS d_r FROM lm),
         |sc AS (SELECT b.doc_id,
         |    ${bitsSql(s"$numSql // $denSql")} - ${bitsSql(s"$denSql // $numSql")} AS w
         |  FROM bg b JOIN lm ON lm.t = b.t CROSS JOIN st
         |  WHERE b.source <> 'src0')
         |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(w) AS BIGINT) AS sum_bits,
         |  CAST(sum(w) AS DOUBLE) / count(*) AS avg_bits
         |FROM sc GROUP BY doc_id
         |ORDER BY avg_bits DESC, doc_id LIMIT 100""".stripMargin
    ) { (spark, dir) =>
      // bigram stream via slice+arrays_zip — q57's native-codegen idiom
      def bigrams(df: DataFrame) = {
        val n1 = greatest(size(col("ts")) - 1, lit(0))
        df.select(col("doc_id"), lowToksCol.as("ts"))
          .select(col("doc_id"), explode(arrays_zip(
            slice(col("ts"), lit(1), n1).as("a"),
            slice(col("ts"), lit(2), n1).as("b"))).as("z"))
          .select(col("doc_id"), concat_ws(" ", col("z.a"), col("z.b")).as("t"))
      }
      val docs = Tables.documents(spark, dir)
      val tgt = bigrams(docs.filter(col("source") === "src0"))
      val raw = bigrams(docs.filter(col("source") =!= "src0"))
      val lmt = tgt.groupBy("t").agg(count(lit(1)).as("n_t"))
      val lmr = raw.groupBy("t").agg(count(lit(1)).as("n_r"))
      val lm = lmt.join(lmr, Seq("t"), "full_outer")
        .select(col("t"), coalesce(col("n_t"), lit(0L)).as("n_t"),
          coalesce(col("n_r"), lit(0L)).as("n_r"))
      val st = lm.agg(count(lit(1)).as("v"),
        sum(col("n_t")).as("d_t"), sum(col("n_r")).as("d_r"))
      def bits(c: Column): Column = (length(bin(c)) - 1).cast("long")
      raw.join(lm, "t").crossJoin(broadcast(st))
        .withColumn("num", (col("n_t") + 1) * (col("d_r") + col("v")))
        .withColumn("den", (col("n_r") + 1) * (col("d_t") + col("v")))
        .select(col("doc_id"),
          (bits(expr("num DIV den")) - bits(expr("den DIV num"))).as("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("w")).as("sum_bits"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
          (col("sum_bits").cast("double") / col("n_bigrams").cast("double"))
            .as("avg_bits"))
        .orderBy(col("avg_bits").desc, col("doc_id"))
        .limit(100)
    }
  }

  /** Character trigrams of a text column, 1-based sliding window — the
    * language-ID feature (Cavnar & Trenkle 1994). Guarded for length < 3
    * (sequence(1, 0) is DESCENDING in Spark — the q141 pitfall). */
  private def charTrigrams(text: Column): Column =
    when(length(text) >= 3,
      transform(sequence(lit(1), length(text) - 2), i => text.substr(i, lit(3))))
      .otherwise(typedlit(Seq.empty[String]))

  /** Per-language rank profiles (Cavnar-Trenkle): the top-`k` character
    * trigrams of each language's training text by frequency (ties broken
    * by gram — deterministic both engines over ASCII), weighted
    * w = k + 1 − rank. Returns (p_lang, g, w). The profile relation is
    * LANGUAGE-DICTIONARY sized (|langs| × k rows) no matter the corpus —
    * the property that lets scoring broadcast it. */
  private[graft] def langIdProfiles(train: DataFrame, k: Int): DataFrame =
    train.select(col("lang"), explode(charTrigrams(col("text"))).as("g"))
      .groupBy("lang", "g").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("g"))))
      .filter(col("rk") <= k)
      .select(col("lang").as("p_lang"), col("g"),
        (lit(k + 1) - col("rk")).cast("long").as("w"))

  /** Score documents against [[langIdProfiles]] and pick the argmax
    * language (score desc, lang asc — the oracle's row_number order).
    * Per-doc score = Σ gram_count · profile_weight, exact integers
    * (count ≤ doc length, w ≤ k — the product can't overflow before the
    * heat death of a 2⁶³-char document). Returns
    * (doc_id, lang_true, lang_pred). Docs sharing no gram with any
    * profile drop out (inner join) — identically in both engines. */
  private[graft] def langIdPredict(docs: DataFrame, profiles: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang").as("lang_true"),
        explode(charTrigrams(col("text"))).as("g"))
      .groupBy("doc_id", "lang_true", "g").agg(count(lit(1)).as("c"))
      .join(broadcast(profiles), "g")
      .groupBy("doc_id", "lang_true", "p_lang")
      .agg(sum(expr("c * w")).as("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("s").desc, col("p_lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang_true"), col("p_lang").as("lang_pred"))

  /** Language identification — the ingest operator the corpus queries all
    * CONSUME a `lang` column from but nothing previously produced (VERDICT
    * r18): the classic Cavnar-Trenkle character-trigram rank-profile
    * classifier, trained on the corpus's labeled docs (deterministic 80%
    * split, doc_id mod 5 ≠ 0), scoring the held-out 20%, reporting the
    * confusion matrix plus overall accuracy. Everything is exact integer
    * arithmetic — trigram counts, rank weights w = 65 − rank, dot-product
    * scores, micro-unit accuracy — so the whole report hash-verifies
    * against DuckDB running the identical pipeline. On THIS corpus the
    * labels are generator-assigned noise (every lang draws from the same
    * 29-word list), so accuracy honestly reads ≈ chance — the operator's
    * separating power on signal-bearing text is pinned instead by
    * PipelineQueriesSpec's fixture, where distinct character distributions
    * must classify 100%. Shape at 100 TB: profile training is ONE
    * map-side-combined (lang, gram) aggregate (gram space is charset³-
    * bounded); the profile table is |langs|·k rows and broadcasts;
    * scoring is one linear gram scan + a doc-keyed argmax window — no
    * corpus-sized shuffle beyond the per-doc gram aggregate. */
  private val langProfMemo = SessionMemo[DataFrame]("langProf")

  val q208LangId: QuerySpec = {
    val k = 64
    QuerySpec.oracle(
      "q208_langid_confusion",
      s"""WITH docs AS (SELECT doc_id, lang, text FROM documents WHERE len(text) >= 3),
         |tg AS (SELECT lang,
         |    unnest(list_transform(generate_series(1, len(text) - 2), i -> substring(text, i, 3))) AS g
         |  FROM docs WHERE doc_id % 5 <> 0),
         |cnt AS (SELECT lang, g, count(*) AS c FROM tg GROUP BY 1, 2),
         |prof AS (SELECT lang AS p_lang, g, CAST(${k + 1} - rk AS BIGINT) AS w FROM (
         |    SELECT lang, g, c, row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS rk
         |    FROM cnt)
         |  WHERE rk <= $k),
         |hg AS (SELECT doc_id, lang AS lang_true,
         |    unnest(list_transform(generate_series(1, len(text) - 2), i -> substring(text, i, 3))) AS g
         |  FROM docs WHERE doc_id % 5 = 0),
         |hc AS (SELECT doc_id, lang_true, g, count(*) AS c FROM hg GROUP BY 1, 2, 3),
         |sc AS (SELECT doc_id, lang_true, p_lang, sum(c * w) AS s
         |  FROM hc JOIN prof USING (g) GROUP BY 1, 2, 3),
         |pred AS (SELECT doc_id, lang_true, p_lang AS lang_pred,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, p_lang) AS rk FROM sc),
         |conf AS (SELECT lang_true, lang_pred, count(*) AS n_docs FROM pred WHERE rk = 1 GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n,
         |    CAST(coalesce(sum(n_docs) FILTER (WHERE lang_true = lang_pred), 0) AS BIGINT) AS nc
         |  FROM conf)
         |SELECT lang_true, lang_pred, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(nc * 1000000 // n AS BIGINT) AS acc_micro
         |FROM conf CROSS JOIN tot ORDER BY lang_true, lang_pred""".stripMargin
    ) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .filter(length(col("text")) >= 3)
      // the trained rank-profile table is the FIT — |langs|·k rows behind
      // a corpus-sized training scan; memoized per (session, dir) like
      // every other fit-once/serve-many model state (r21)
      val prof = langProfMemo(spark, dir)(
        langIdProfiles(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), k)
          .localCheckpoint(eager = false))
      val pred = langIdPredict(docs.filter(pmod(col("doc_id"), lit(5)) === 0), prof)
      val conf = pred.groupBy("lang_true", "lang_pred").agg(count(lit(1)).as("n_docs"))
      val tot = conf.agg(sum(col("n_docs")).cast("long").as("n"),
        coalesce(sum(when(col("lang_true") === col("lang_pred"), col("n_docs"))), lit(0L))
          .cast("long").as("nc"))
      conf.crossJoin(broadcast(tot))
        .select(col("lang_true"), col("lang_pred"),
          col("n_docs").cast("long").as("n_docs"),
          expr("nc * 1000000 div n").cast("long").as("acc_micro"))
        .orderBy("lang_true", "lang_pred")
    }
  }

  /** Repetition quality rules (Rae et al. 2021's Gopher filters, the
    * occurrence-fraction form) — the ingest gate q21's char/token ratios
    * and q146's compression signal bracket but never state directly: per
    * doc the fraction of duplicate 2-gram and 3-gram OCCURRENCES
    * ((total − distinct)·10⁶ div total) and the most-common-token share,
    * with repetitive/top-heavy flags at documented thresholds (the
    * published rules threshold character fractions; occurrence fractions
    * are the exact-integer variant — same signal, no length weighting).
    * The top-token share folds IN-ROW over the sorted token array (max
    * run length, a two-slot integer state — q184's homogeneous-list
    * fold), so the whole report is one embarrassingly parallel scan: no
    * shuffle except the presentation sort, the q21 shape. */
  val q213RepetitionRules: QuerySpec = QuerySpec.oracle(
    "q213_repetition_rules",
    s"""WITH toks AS (SELECT doc_id, $LowToksSql AS ts FROM documents),
       |g AS (SELECT doc_id, ts, list_sort(ts) AS tss, len(ts) AS n,
       |    CASE WHEN len(ts) >= 2 THEN list_transform(generate_series(1, len(ts) - 1),
       |      i -> concat_ws(' ', ts[i], ts[i+1])) ELSE [] END AS g2,
       |    CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2),
       |      i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2])) ELSE [] END AS g3
       |  FROM toks),
       |m AS (SELECT doc_id, n,
       |    len(g2) AS t2, len(list_distinct(g2)) AS d2,
       |    len(g3) AS t3, len(list_distinct(g3)) AS d3,
       |    CASE WHEN n = 0 THEN 0 ELSE
       |      list_reduce(list_prepend([1, 1], list_transform(generate_series(2, n),
       |        i -> [i, 0])),
       |        (acc, e) -> CASE WHEN tss[e[1]] = tss[e[1] - 1]
       |          THEN [acc[1] + 1, greatest(acc[2], acc[1] + 1)]
       |          ELSE [1, acc[2]] END)[2] END AS topc
       |  FROM g)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  CAST(CASE WHEN t2 = 0 THEN 0 ELSE (t2 - d2) * 1000000 // t2 END AS BIGINT)
       |    AS dup2_micro,
       |  CAST(CASE WHEN t3 = 0 THEN 0 ELSE (t3 - d3) * 1000000 // t3 END AS BIGINT)
       |    AS dup3_micro,
       |  CAST(CASE WHEN n = 0 THEN 0 ELSE topc * 1000000 // n END AS BIGINT)
       |    AS top_token_micro,
       |  CASE WHEN t3 = 0 THEN false ELSE (t3 - d3) * 1000000 // t3 > 180000 END
       |    AS repetitive,
       |  CASE WHEN n = 0 THEN false ELSE topc * 1000000 // n > 200000 END
       |    AS top_heavy
       |FROM m ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    // r21: the gram construction + array_distinct + sorted-run fold now run
    // as native kernels — DistinctGramCountExpr counts distinct k-grams
    // without materializing gram strings, and the max sorted-run length IS
    // the max token multiplicity (TopTokenCountExpr's hash count), so the
    // sort disappears. Values bit-identical; oracle SQL unchanged.
    // doc_id sort BEFORE the kernel projection (the q23 pattern): the
    // global orderBy's range-bound sampling re-executes its child, and
    // above the sort the kernels run once.
    Tables.documents(spark, dir)
      .orderBy("doc_id")
      .withColumn("ts", lowToksCol)
      // long BEFORE the micro arithmetic: size() is 32-bit, and
      // (t2 - d2) * 1000000 wraps silently past ~2147 duplicate gram
      // occurrences while the DuckDB len() side computes in BIGINT —
      // the q187 decimal-inside discipline applied to int32.
      .withColumn("n", size(col("ts")).cast("long"))
      .withColumn("t2", greatest(col("n") - 1, lit(0L)))
      .withColumn("d2", graft.functions.DistinctGramCountExpr
        .distinctGramCount(col("ts"), 2).cast("long"))
      .withColumn("t3", greatest(col("n") - 2, lit(0L)))
      .withColumn("d3", graft.functions.DistinctGramCountExpr
        .distinctGramCount(col("ts"), 3).cast("long"))
      .withColumn("topc", graft.functions.TopTokenCountExpr
        .topTokenCount(col("ts")).cast("long"))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        when(col("t2") === 0, 0L)
          .otherwise(expr("(t2 - d2) * 1000000 div t2")).cast("long").as("dup2_micro"),
        when(col("t3") === 0, 0L)
          .otherwise(expr("(t3 - d3) * 1000000 div t3")).cast("long").as("dup3_micro"),
        when(col("n") === 0, 0L)
          .otherwise(expr("topc * 1000000 div n")).cast("long").as("top_token_micro"),
        when(col("t3") === 0, lit(false))
          .otherwise(expr("(t3 - d3) * 1000000 div t3 > 180000")).as("repetitive"),
        when(col("n") === 0, lit(false))
          .otherwise(expr("topc * 1000000 div n > 200000")).as("top_heavy"))
  }
}
