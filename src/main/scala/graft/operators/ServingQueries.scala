package graft.operators

import graft.{QuerySpec, SessionMemo}
import graft.functions.{Exprs, VectorFns}
import graft.functions.Exprs._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-serving band of the LLM-data pipeline: keyword and BM25
  * ranking over the inverted index, retrieval evaluation (nDCG, MRR),
  * hybrid reciprocal-rank fusion and the chunked RAG serve path.
  */
object ServingQueries {

  import DedupQueries.{LowToksSql, ShinglesSql, lowToksCol}
  import VectorFns.Sql.intDot
  import VectorQueries.quantizedVecsCk

  /** Keyword-search document ranking: a BM25-shaped score with the log-idf
    * replaced by the raw odds ratio (N − df + ½)/(df + ½) — a monotone
    * per-term transform that keeps EVERY arithmetic step inside exactly-
    * rounded IEEE +,×,/ so Spark and DuckDB produce bit-identical scores
    * (ln() is libm-dependent and cannot be hash-matched across engines).
    * tf saturation and length normalization are standard BM25 (k1=1.2,
    * b=0.75). Shape at scale: one scan computes per-doc tf/dl, one 1-row
    * global aggregate rides in via broadcast — no per-term join, no
    * vocabulary shuffle; the only data movement is the top-k sort. */
  val q45KeywordRank: QuerySpec = {
    val terms = Seq("spark", "shuffle", "partition")
    QuerySpec.oracle(
      "q45_keyword_rank", {
        val dfCols = terms.map(t =>
          s"count(*) FILTER (WHERE list_contains(ts, '$t')) AS df_$t").mkString(",\n       |        ")
        val tfCols = terms.map(t =>
          s"CAST(len(list_filter(ts, x -> x = '$t')) AS DOUBLE) AS tf_$t").mkString(",\n       |        ")
        val scoreTerms = terms.map(t =>
          s"(n_docs - df_$t + 0.5)/(df_$t + 0.5) * (tf_$t * 2.2 / (tf_$t + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))")
          .mkString("\n       |   + ")
        s"""WITH toks AS (SELECT doc_id, $LowToksSql AS ts FROM documents),
           |d AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS dl FROM toks),
           |g AS (SELECT count(*) AS n_docs,
           |        CAST(sum(CAST(dl AS DECIMAL(18,2))) AS DOUBLE) AS sum_dl,
           |        $dfCols
           |      FROM d),
           |s AS (SELECT doc_id, dl,
           |        $tfCols,
           |        n_docs, sum_dl, ${terms.map(t => s"df_$t").mkString(", ")}
           |      FROM d, g),
           |sc AS (SELECT doc_id, dl AS n_tokens,
           |   $scoreTerms AS score
           | FROM s)
           |SELECT doc_id, n_tokens, score FROM sc
           |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
      }
    ) { (spark, dir) =>
      val ts = filter(split(lower(col("text")), "\\W+"), t => t =!= "")
      val d = Tables.documents(spark, dir)
        .select(col("doc_id"), ts.as("ts"))
        .withColumn("dl", asLong(size(col("ts"))))
      val aggCols = count(lit(1)).as("n_docs") +:
        Exprs.dsum(col("dl")).as("sum_dl") +:
        terms.map(t => sum(when(array_contains(col("ts"), t), 1L).otherwise(0L)).as(s"df_$t"))
      val g = d.agg(aggCols.head, aggCols.tail: _*)
      def score(t: String): Column =
        (col("n_docs") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5)) *
          (col(s"tf_$t") * lit(2.2) / (col(s"tf_$t") +
            lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / (col("sum_dl") / col("n_docs"))))))
      d.crossJoin(broadcast(g))
        .select((Seq(col("doc_id"), col("dl"), col("n_docs"), col("sum_dl")) ++
          terms.map(t => col(s"df_$t")) ++
          terms.map(t => size(filter(col("ts"), x => x === t)).cast("double").as(s"tf_$t"))): _*)
        .select(col("doc_id"), col("dl").as("n_tokens"),
          terms.map(score).reduce(_ + _).as("score"))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }
  }

  /** Inverted-index construction (the retrieval-side artifact q45 ranks
    * against): per token, document frequency plus the first 20 postings in
    * doc order. The posting-list truncation is where the 100 TB design
    * lives: a collect-then-slice materializes a stopword's corpus-sized
    * posting array in one aggregation buffer before slicing — the exact
    * failure mode [[graft.functions.BottomKRows]] exists to avoid. The
    * bounded heap keeps ≤20 (key, row) candidates per token per input
    * partition, map-side combines, and ships fixed-size buffers, so
    * per-token state is O(k) no matter how skewed the token — the same
    * machinery as q12's exact-n sampler, re-targeted at postings. The
    * order key is the zero-padded decimal doc_id (byte order = numeric
    * order for non-negative ids, per the BottomKRows contract). df ≥ 10
    * keeps the declared report off the hapax tail; df itself is exact and
    * uncapped. */
  val q100InvertedIndex: QuerySpec = QuerySpec.oracle(
    "q100_inverted_index",
    s"""WITH toks AS (SELECT doc_id, $LowToksSql AS ts FROM documents),
       |tok AS (SELECT DISTINCT doc_id, unnest(ts) AS token FROM toks)
       |SELECT token, count(*) AS df,
       |  array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',') AS postings_csv
       |FROM tok GROUP BY token
       |HAVING count(*) >= 10
       |ORDER BY token""".stripMargin
  ) { (spark, dir) =>
    val pairs = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(lowToksCol).as("token"))
      .distinct()
    pairs.groupBy("token")
      .agg(count(lit(1)).as("df"),
        graft.functions.BottomKRows.bottomK(
          lpad(col("doc_id").cast("string"), 10, "0"),
          struct(col("doc_id")), 20).as("__post"))
      .filter(col("df") >= 10)
      .select(col("token"), col("df"),
        array_join(
          transform(col("__post"), x => x.getField("doc_id").cast("string")),
          ",").as("postings_csv"))
      .orderBy("token")
  }

  /** log2-discount weights for NDCG@5, their cumulative sums (the ideal
    * DCG for n relevant), and 1/rank for MRR — computed ONCE in Scala and
    * embedded as literals in BOTH the Spark plan and the DuckDB oracle
    * (Double.toString round-trips exactly), so every float in q149 is
    * either a shared literal or a fixed-order expression over them:
    * that is what makes ranking-quality metrics hash-verifiable. */
  private val NdcgW: Seq[Double] = (1 to 5).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  private val NdcgCum: Seq[Double] = NdcgW.scanLeft(0.0)(_ + _).tail

  private val InvRank: Seq[Double] = (1 to 5).map(i => 1.0 / i)

  /** A double constant as DuckDB `'<v>'::DOUBLE`, never a bare decimal
    * literal: DuckDB parses bare decimals as DECIMAL(17,16) and the
    * decimal→double cast loses the last bit on 7 of the 31 rel patterns
    * (1-ulp ndcg drift, seen at sf0.1); the string→double parse is
    * correctly rounded, so the shared Scala constants land bit-identical
    * in both engines. */
  private def doubleSql(v: Double): String = s"'$v'::DOUBLE"

  /** Retrieval-quality evaluation (per-query MRR / NDCG@5 / P@5): every
    * 25th vector queries the held-out corpus, top-5 exact cosine
    * neighbors, a neighbor is relevant iff it shares the query's label —
    * the eval harness every retrieval/embedding pipeline runs before
    * swapping an index or an embedding model. Metrics are emitted PER
    * QUERY (the corpus-mean is one trivial aggregation away) so every
    * float operation has a fixed evaluation order — see [[NdcgW]] — and
    * the DuckDB oracle matches bit-for-bit, ranks, discounts and all.
    * Shape: q40's broadcast-query top-k (the corpus never shuffles) + a
    * rank pivot that is one map-side-combined aggregate. */
  val q149RetrievalEval: QuerySpec = QuerySpec.oracle(
    "q149_retrieval_eval", {
      val rels = (1 to 5).map(i => s"max(CASE WHEN rk = $i THEN rel END) AS rel$i").mkString(",\n      |        ")
      val nRel = (1 to 5).map(i => s"rel$i").mkString(" + ")
      val dcg = (1 to 5).map(i => s"rel$i * ${doubleSql(NdcgW(i - 1))}").mkString(" + ")
      val mrr = (1 to 5).map(i => s"WHEN rel$i = 1 THEN ${doubleSql(InvRank(i - 1))}").mkString(" ")
      val idcg = (1 to 5).map(i => s"WHEN $i THEN ${doubleSql(NdcgCum(i - 1))}").mkString(" ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
         |           FROM embeddings WHERE vec_id % 25 = 0),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS clabel
         |      FROM embeddings WHERE vec_id % 25 <> 0),
         |s AS (SELECT query_id, qlabel, neighbor_id,
         |        CASE WHEN clabel = qlabel THEN 1 ELSE 0 END AS rel,
         |        ${VectorFns.Sql.cosine("qe", "ce")} AS sim
         |      FROM q, c),
         |r AS (SELECT query_id, qlabel, rel,
         |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
         |      FROM s),
         |p AS (SELECT query_id, qlabel,
         |        $rels
         |      FROM r WHERE rk <= 5 GROUP BY 1, 2)
         |SELECT query_id, qlabel AS label,
         |  CAST($nRel AS BIGINT) AS n_rel,
         |  CAST($nRel AS DOUBLE) / 5 AS p_at_5,
         |  CASE $mrr ELSE 0.0 END AS mrr,
         |  CASE WHEN $nRel = 0 THEN 0.0
         |       ELSE ($dcg) / (CASE ($nRel) $idcg END) END AS ndcg
         |FROM p ORDER BY query_id""".stripMargin
    }
  ) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val corpus = emb.filter(col("vec_id") % 25 =!= 0)
    val top = Similarity.bruteForceTopK(queries, corpus, 5)
      .join(broadcast(queries.select(col("vec_id").as("query_id"), col("label").as("qlabel"))),
        "query_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("label").as("clabel")),
        "neighbor_id")
      .withColumn("rel", when(col("clabel") === col("qlabel"), 1).otherwise(0))
    val pivoted = top.groupBy("query_id", "qlabel")
      .agg(
        max(when(col("rank") === 1, col("rel"))).as("rel1"),
        (2 to 5).map(i => max(when(col("rank") === i, col("rel"))).as(s"rel$i")): _*)
    val nRel = (1 to 5).map(i => col(s"rel$i")).reduce(_ + _)
    val dcg = (1 to 5).map(i => col(s"rel$i") * lit(NdcgW(i - 1))).reduce(_ + _)
    val mrrOrdered = when(col("rel1") === 1, InvRank(0))
      .when(col("rel2") === 1, InvRank(1))
      .when(col("rel3") === 1, InvRank(2))
      .when(col("rel4") === 1, InvRank(3))
      .when(col("rel5") === 1, InvRank(4))
      .otherwise(0.0)
    val idcgCase = (1 to 5).foldLeft(null: Column) { (acc, i) =>
      if (acc == null) when(nRel === i, NdcgCum(i - 1))
      else acc.when(nRel === i, NdcgCum(i - 1))
    }
    pivoted.select(col("query_id"), col("qlabel").as("label"),
        nRel.cast("long").as("n_rel"),
        (nRel.cast("double") / lit(5)).as("p_at_5"),
        mrrOrdered.as("mrr"),
        when(nRel === 0, 0.0).otherwise(dcg / idcgCase).as("ndcg"))
      .orderBy("query_id")
  }

  /** Memoized doc-level BM25 index per (session, dir): the prejoined
    * posting list (doc_id, token, tf, df, dl) — one row per distinct
    * (doc, token), exactly the multiset the per-evaluation
    * tfc ⋈ dft ⋈ dl chain produced — plus the 1-row corpus stats
    * (n_docs, sum_dl). The serving-side retrieval index q174 reads; the
    * chunk-level twin is [[chunkIndexCached]]. */
  private[operators] final case class Bm25Index(postings: DataFrame, stats: DataFrame)

  private val bm25IndexMemo = SessionMemo[Bm25Index]("bm25Index")

  private def bm25IndexCached(spark: SparkSession, dir: String): Bm25Index =
    bm25IndexMemo(spark, dir) {
      val toks = Tables.documents(spark, dir).select(col("doc_id"), lowToksCol.as("ts"))
      val dl = toks.select(col("doc_id"), size(col("ts")).cast("long").as("dl"))
      val st = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val pair = toks.select(col("doc_id"), explode(col("ts")).as("token"))
      val tfc = pair.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dft = pair.distinct().groupBy("token").agg(count(lit(1)).as("df"))
      Bm25Index(
        tfc.join(dft, "token").join(dl, "doc_id").localCheckpoint(eager = false),
        st.localCheckpoint(eager = false))
    }

  /** BM25 top-k retrieval (Robertson-Spärck Jones, k1=1.2 b=0.75) — the
    * lexical ranking function every RAG/retrieval pipeline runs next to
    * the vector path (q40/q149), hash-verified end to end: the idf term
    * uses q115's odds-ratio surrogate ((N−df+0.5)/(df+0.5), monotone in
    * the textbook log-idf, every step exactly-rounded IEEE — the no-libm
    * bar), the tf saturation (tf·(k1+1))/(tf + k1·(0.25 + 0.75·dl/avgdl))
    * is a fixed-order expression over shared literals, and the per-doc
    * score sums its ≤4 term scores in SORTED-TERM pivot order (q149's
    * rank-pivot discipline) so float addition order is identical in both
    * engines. Queries: every 50th document's 4 alphabetically-first
    * distinct tokens. Shape at 100 TB: term-at-a-time — the broadcast
    * query-term dictionary semi-prunes the corpus-sized (doc,token) tf
    * relation on the token key, df joins token-keyed with NO broadcast
    * hint (the vocabulary must never be forced resident, q27's rule),
    * doc length joins doc-keyed, and the only windows partition on
    * query_id. tf/df/dl are independent pushed-down scans of the same
    * parquet (each a one-pass map-side-combined aggregate); nothing ever
    * crosses a doc×query product. */
  val q174Bm25TopK: QuerySpec = {
    val nQTerms = 4
    val sSql =
      """((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        | * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE)
        |      + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
        |               / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"""
        .stripMargin.replace("\n", "")
    val pivSql = (1 to nQTerms)
      .map(i => s"max(CASE WHEN ti = $i THEN s END) AS s$i").mkString(",\n       |    ")
    val totSql = (1 to nQTerms).map(i => s"coalesce(s$i, 0.0)").mkString(" + ")
    QuerySpec.oracle(
      "q174_bm25_topk",
      s"""WITH toks AS (SELECT doc_id, $LowToksSql AS ts FROM documents),
         |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         |pair AS (SELECT doc_id, unnest(ts) AS token FROM toks),
         |tfc AS (SELECT doc_id, token, count(*) AS tf FROM pair GROUP BY 1, 2),
         |dft AS (SELECT token, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, token FROM pair) GROUP BY 1),
         |qt AS (SELECT doc_id AS query_id,
         |    unnest(list_sort(list_distinct(ts))[1:$nQTerms]) AS token
         |  FROM toks WHERE doc_id % 50 = 0),
         |qti AS (SELECT query_id, token,
         |    row_number() OVER (PARTITION BY query_id ORDER BY token) AS ti FROM qt),
         |sc AS (SELECT q.query_id, t.doc_id, q.ti, $sSql AS s
         |  FROM qti q
         |  JOIN tfc t ON t.token = q.token
         |  JOIN dft ON dft.token = q.token
         |  JOIN dl ON dl.doc_id = t.doc_id
         |  CROSS JOIN st),
         |piv AS (SELECT query_id, doc_id,
         |    $pivSql
         |  FROM sc GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, $totSql AS score,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY $totSql DESC, doc_id) AS rank
         |  FROM piv)
         |SELECT query_id, rank, doc_id, score
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    ) { (spark, dir) =>
      val toks = Tables.documents(spark, dir).select(col("doc_id"), lowToksCol.as("ts"))
      // the memoized doc-level BM25 postings (tf ⋈ df ⋈ dl) + corpus stats
      // — the retrieval index a deployed system materializes once per
      // corpus version (the chunkIndexCached contract, r21): each
      // evaluation previously re-ran the token explode + three aggregates
      val Bm25Index(postings, st) = bm25IndexCached(spark, dir)
      val qt = toks.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          explode(slice(array_sort(array_distinct(col("ts"))), 1, nQTerms)).as("token"))
        .withColumn("ti",
          row_number().over(Window.partitionBy("query_id").orderBy("token")))
      val idf = (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
      val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
      val tfn = (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))
      val sc = broadcast(qt).join(postings, "token")
        .crossJoin(broadcast(st))
        .select(col("query_id"), col("doc_id"), col("ti"), (idf * tfn).as("s"))
      val piv = sc.groupBy("query_id", "doc_id")
        .agg(max(when(col("ti") === 1, col("s"))).as("s1"),
          (2 to nQTerms).map(i => max(when(col("ti") === i, col("s"))).as(s"s$i")): _*)
      val total = (1 to nQTerms).map(i => coalesce(col(s"s$i"), lit(0.0))).reduce(_ + _)
      piv.select(col("query_id"), col("doc_id"), total.as("score"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rank") <= 5)
        // DuckDB row_number returns BIGINT — match it
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("score"))
        .orderBy("query_id", "rank")
    }
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the HYBRID-RETRIEVAL
    * combiner every RAG stack runs above its retrievers (BM25 list +
    * dense-ANN list + heuristic list → one ranking): each of three
    * rankers over the same query set — distinct-bigram overlap, trigram
    * Jaccard (q31's shingle machinery), and length proximity — emits its
    * top-10, and candidates score Σ_lists 10⁶ div (60 + rank). RRF is
    * RANK-based, so unlike score fusion it needs no calibration across
    * heterogeneous retrievers — and it is exactly why the whole fusion is
    * integer arithmetic end-to-end (ranks, the div-quantized reciprocals,
    * the micro-unit sum) and hash-verifies cross-engine, float-free. The
    * fixture shows the operator's point: multi-list consensus candidates
    * (n_lists ≥ 2) jump the fused ranking above any single list's tail.
    * Shape at 100 TB: the pair scan is q40's bounded broadcast-query
    * contract (queries ≪ corpus), with per-pair overlap counted by the
    * codegen'd [[graft.functions.SortedInterExpr]] merge walk over
    * PRE-SORTED gram arrays — `array_intersect`'s per-row generic hash
    * set paid 19 s at sf0.1 for what the sorted merge does in ~2 (the
    * LongDotExpr kernel economics; union sizes come free by
    * inclusion-exclusion from the per-doc gram counts); the three rank
    * windows all partition on query_id (one exchange, reused); top-10
    * lists union into a (query, cand)-keyed sum — nothing ever crosses a
    * corpus×corpus product, and production swaps any ranker for
    * q174/q166's lists unchanged since RRF only consumes
    * (query, cand, rank). */
  private val rrfFeatMemo = SessionMemo[DataFrame]("rrfFeat")

  val q185HybridRrf: QuerySpec = {
    val (shortlist, kPick) = (10, 5)
    val BigramsSql =
      """CASE WHEN len(ts) >= 2
        | THEN list_distinct(list_transform(generate_series(1, len(ts) - 1),
        |   i -> concat_ws(' ', ts[i], ts[i+1])))
        | ELSE [] END""".stripMargin
    QuerySpec.oracle(
      "q185_hybrid_rrf",
      s"""WITH toks AS (SELECT doc_id, n_chars, $LowToksSql AS ts FROM documents),
         |feat0 AS (SELECT doc_id, n_chars, $BigramsSql AS bgs0, $ShinglesSql AS shs0 FROM toks),
         |feat AS (SELECT doc_id, n_chars,
         |    list_distinct(list_transform(bgs0, g -> ${hash60Sql("g")})) AS bgs,
         |    list_distinct(list_transform(shs0, g -> ${hash60Sql("g")})) AS shs
         |  FROM feat0),
         |qs AS (SELECT doc_id AS query_id, n_chars AS q_chars, bgs AS q_bgs, shs AS q_shs
         |       FROM feat WHERE doc_id % 50 = 0),
         |pairs AS (
         |  SELECT q.query_id, c.doc_id AS cand_id,
         |    len(list_intersect(q.q_bgs, c.bgs)) AS n_shared,
         |    CASE WHEN len(list_distinct(q.q_shs || c.shs)) = 0 THEN 0
         |      ELSE CAST(len(list_intersect(q.q_shs, c.shs)) AS BIGINT) * 1000000
         |           // len(list_distinct(q.q_shs || c.shs)) END AS jac_micro,
         |    abs(q.q_chars - c.n_chars) AS len_gap
         |  FROM qs q JOIN feat c ON c.doc_id <> q.query_id),
         |ra AS (SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY n_shared DESC, cand_id) AS rnk FROM pairs),
         |rb AS (SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY jac_micro DESC, cand_id) AS rnk FROM pairs),
         |rc AS (SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY len_gap ASC, cand_id) AS rnk FROM pairs),
         |tops AS (
         |  SELECT query_id, cand_id, rnk FROM ra WHERE rnk <= $shortlist
         |  UNION ALL SELECT query_id, cand_id, rnk FROM rb WHERE rnk <= $shortlist
         |  UNION ALL SELECT query_id, cand_id, rnk FROM rc WHERE rnk <= $shortlist),
         |fused AS (
         |  SELECT query_id, cand_id,
         |    CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf_micro,
         |    count(*) AS n_lists
         |  FROM tops GROUP BY 1, 2),
         |out AS (SELECT query_id, cand_id, rrf_micro, CAST(n_lists AS BIGINT) AS n_lists,
         |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_micro DESC, cand_id) AS pick
         |  FROM fused)
         |SELECT query_id, CAST(pick AS BIGINT) AS pick, cand_id, rrf_micro, n_lists
         |FROM out WHERE pick <= $kPick ORDER BY query_id, pick""".stripMargin
    ) { (spark, dir) =>
      val n1 = greatest(size(col("ts")) - 1, lit(0))
      val bigrams = array_distinct(transform(
        arrays_zip(slice(col("ts"), lit(1), n1).as("a"), slice(col("ts"), lit(2), n1).as("b")),
        z => concat_ws(" ", z.getField("a"), z.getField("b"))))
      import graft.functions.SortedInterExpr.interCount
      // grams hashed to md5-prefix int64 ONCE per doc, then sorted — the
      // merge-walk kernel's contract, in its long form: the 29-word vocab
      // makes gram STRINGS share deep prefixes, so even the sorted walk
      // was comparator-bound on UTF8 bytes (r19: 7.2 → ~4 s at sf0.1);
      // the hash is the oracle-shared md5 encoding, so collisions (none
      // at any tested scale) would merge identically in both engines
      def hashedGrams(c: Column): Column = array_sort(array_distinct(
        transform(c, g => hash60(g))))
      // the per-doc hashed gram features are the ranker's FEATURE INDEX —
      // ~2M md5 hashes per build, referenced twice per evaluation (corpus
      // side + the %50 query side re-ran the whole subtree); memoized per
      // (session, dir) like the other serving-side indexes (r21)
      val feat = rrfFeatMemo(spark, dir)(
        Tables.documents(spark, dir)
          .withColumn("ts", lowToksCol)
          .select(col("doc_id"), col("n_chars"), hashedGrams(bigrams).as("bgs"),
            hashedGrams(Dedup.shingles(col("text"), 3)).as("shs"))
          .localCheckpoint(eager = false))
      val qs = feat.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"), col("n_chars").as("q_chars"),
          col("bgs").as("q_bgs"), col("shs").as("q_shs"))
      val pairs = feat.join(broadcast(qs), col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id").as("cand_id"),
          interCount(col("q_bgs"), col("bgs")).as("n_shared"),
          interCount(col("q_shs"), col("shs")).as("inter"),
          // |A ∪ B| by inclusion-exclusion — grams are distinct per doc
          (size(col("q_shs")) + size(col("shs"))).cast("long").as("sz_sum"),
          abs(col("q_chars") - col("n_chars")).as("len_gap"))
        .withColumn("uni", col("sz_sum") - col("inter"))
        .withColumn("jac_micro",
          when(col("uni") === 0L, lit(0L)).otherwise(expr("inter * 1000000 div uni")))
      // three per-ranker top-10 windows; all partition on query_id so the
      // pairs exchange canonicalizes identically and AQE reuses it at
      // runtime (an in-row collect-sort-slice alternative measured 3×
      // SLOWER — 500k×3 structs through un-combined collect_list buffers)
      def ranked(order: Seq[Column]): DataFrame =
        pairs.withColumn("rnk", row_number().over(
            Window.partitionBy("query_id").orderBy(order: _*)))
          .filter(col("rnk") <= shortlist)
          .select("query_id", "cand_id", "rnk")
      val tops = ranked(Seq(col("n_shared").desc, col("cand_id")))
        .unionByName(ranked(Seq(col("jac_micro").desc, col("cand_id"))))
        .unionByName(ranked(Seq(col("len_gap").asc, col("cand_id"))))
      tops.groupBy("query_id", "cand_id")
        .agg(sum(expr("1000000 div (60 + rnk)")).cast("long").as("rrf_micro"),
          count(lit(1)).as("n_lists"))
        .withColumn("pick", row_number().over(
          Window.partitionBy("query_id").orderBy(col("rrf_micro").desc, col("cand_id"))).cast("long"))
        .filter(col("pick") <= kPick)
        .select("query_id", "pick", "cand_id", "rrf_micro", "n_lists")
        .orderBy("query_id", "pick")
    }
  }

  /** Memoized chunk index per (session, dir): q84's 128/96 overlapping
    * windows with the chunk token count — the serving-side retrieval
    * index q216's BM25 arm reads four ways (corpus stats, tf, df, dl).
    * A deployed RAG system materializes exactly this relation once per
    * corpus version; the memo is that contract in session form. */
  private val chunkIndexMemo = SessionMemo[DataFrame]("chunkIndex")

  private def chunkIndexCached(spark: SparkSession, dir: String): DataFrame =
    chunkIndexMemo(spark, dir) {
      CorpusQueries.docChunks(spark, dir)
        .withColumn("dl", size(col("chunk")).cast("long"))
        .localCheckpoint(eager = false)
    }

  /** Memoized CHUNK-level BM25 postings + stats per (session, dir) — the
    * [[bm25IndexCached]] twin over [[chunkIndexCached]]'s windows: one row
    * per distinct (doc, chunk, token) with (tf, df, dl), exactly the
    * multiset q216's per-evaluation ctf ⋈ cdf ⋈ dl chain produced, plus
    * the 1-row (n_chunks, sum_dl). */
  private val chunkBm25IndexMemo = SessionMemo[Bm25Index]("chunkBm25Index")

  private def chunkBm25IndexCached(spark: SparkSession, dir: String): Bm25Index =
    chunkBm25IndexMemo(spark, dir) {
      val cdl = chunkIndexCached(spark, dir)
      val cst = cdl.agg(count(lit(1)).as("n_chunks"), sum(col("dl")).as("sum_dl"))
      val cpair = cdl.select(col("doc_id"), col("chunk_idx"), explode(col("chunk")).as("token"))
      val ctf = cpair.groupBy("doc_id", "chunk_idx", "token").agg(count(lit(1)).as("tf"))
      val cdf = cpair.distinct().groupBy("token").agg(count(lit(1)).as("df"))
      // token-keyed repartition before the cut (r22): AQE coalesced the
      // postings checkpoint to ONE partition, so q216's term-at-a-time
      // scoring join ran its whole postings scan serially (the 0.7 s
      // single-task job in the r22 JobProbe). token is the key every
      // serving join probes; the broadcast query side preserves this
      // partitioning, so scoring parallelizes over the postings layout.
      Bm25Index(
        graft.PlanDump.cut(
          ctf.join(cdf, "token")
            .join(cdl.select("doc_id", "chunk_idx", "dl"), Seq("doc_id", "chunk_idx"))
            .repartition(col("token")),
          "chunkBm25Postings"),
        cst.localCheckpoint(eager = false))
    }

  /** RAG SERVING capstone — the retrieval twin of q157's corpus-
    * construction chain (VERDICT r19 item 3): every stage existed in
    * isolation (q84 chunks, q174 BM25, q166 integer ANN, q185 RRF, q169
    * integer MMR, q149 eval) but nothing composed the serving side end
    * to end, the way a deployed RAG system actually runs a query.
    * Pipeline, one oracle-verified relation: (1) chunk the corpus with
    * q84's 128/96 overlapping windows; (2) SPARSE arm: q174's BM25 over
    * the CHUNK corpus (chunk-level tf/df/dl, sorted-term pivot order for
    * float exactness), doc score = max over its chunks (the standard
    * MaxP aggregation), top-10 docs; (3) DENSE arm: exact int8 inner-
    * product top-10 over the memoized quantized corpus (the q166 audit
    * contract — production swaps q43/q171's IVF candidates, the rule
    * only consumes (query, cand, rank)); (4) q185's RRF fuses the two
    * rank lists (Σ 10⁶ div (60+rank)), top-8 shortlist; (5) q169's
    * integer MMR (λ=70) re-ranks the shortlist for diversity, picking 5
    * — in-row via the codegen'd kernel, unrolled greedy CTEs in the
    * oracle (the one-definition discipline); (6) q149's per-query
    * MRR/NDCG@5 against the label ground truth, shared float literals.
    * Reference analog: the inference chain of the reference src/main.py:
    * 192-194 (fetch → transform → score), scaled to a retrieval stack.
    * Shape at 100 TB: term-at-a-time BM25 (no doc×query product), the
    * dense scan is the broadcast-query audit form, fusion/MMR/eval live
    * on |Q|×shortlist relations. */
  val q216RagServe: QuerySpec = {
    val (nQTerms, short, fuse, kPick, lam) = (4, 10, 8, 5, 70)
    val sSql =
      """((CAST(n_chunks AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        | * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE)
        |      + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
        |               / (CAST(sum_dl AS DOUBLE) / CAST(n_chunks AS DOUBLE)))))"""
        .stripMargin.replace("\n", "")
    val pivSql = (1 to nQTerms)
      .map(i => s"max(CASE WHEN ti = $i THEN s END) AS s$i").mkString(", ")
    val totSql = (1 to nQTerms).map(i => s"coalesce(s$i, 0.0)").mkString(" + ")
    val stepCtes = (2 to kPick).map { t =>
      s"""m$t AS (
         |  SELECT c.query_id, c.cand_id, c.rel, max(ps.s) AS maxsim
         |  FROM cands c
         |  LEFT JOIN pk${t - 1} x ON x.query_id = c.query_id AND x.cand_id = c.cand_id
         |  JOIN psim ps ON ps.query_id = c.query_id AND ps.id_a = c.cand_id
         |  JOIN pk${t - 1} p ON p.query_id = ps.query_id AND p.cand_id = ps.id_b
         |  WHERE x.cand_id IS NULL
         |  GROUP BY 1, 2, 3),
         |p$t AS MATERIALIZED (
         |  SELECT query_id, cand_id, rel, obj FROM (
         |    SELECT query_id, cand_id, rel, $lam * rel - ${100 - lam} * maxsim AS obj,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY $lam * rel - ${100 - lam} * maxsim DESC, cand_id) AS rn
         |    FROM m$t) WHERE rn = 1),
         |pk$t AS MATERIALIZED (SELECT * FROM pk${t - 1}
         |  UNION ALL SELECT query_id, cand_id FROM p$t)""".stripMargin
    }
    val unionAll = (1 to kPick)
      .map(t => s"SELECT query_id, $t AS pick_order, cand_id, rel, obj FROM p$t")
      .mkString(" UNION ALL ")
    val rels = (1 to 5)
      .map(i => s"max(CASE WHEN pick_order = $i THEN rel01 END) AS rel$i").mkString(", ")
    val nRel = (1 to 5).map(i => s"rel$i").mkString(" + ")
    val dcg = (1 to 5).map(i => s"rel$i * ${doubleSql(NdcgW(i - 1))}").mkString(" + ")
    val mrr = (1 to 5).map(i => s"WHEN rel$i = 1 THEN ${doubleSql(InvRank(i - 1))}").mkString(" ")
    val idcg = (1 to 5).map(i => s"WHEN $i THEN ${doubleSql(NdcgCum(i - 1))}").mkString(" ")
    val sql =
      s"""WITH toks AS (SELECT doc_id, $LowToksSql AS ts FROM documents),
         |starts AS (SELECT doc_id, ts,
         |    unnest(generate_series(1, greatest(len(ts), 1), 96)) AS s FROM toks),
         |cdl AS MATERIALIZED (SELECT doc_id, CAST((s - 1) // 96 AS BIGINT) AS chunk_idx,
         |    ts[s:s+127] AS chunk, CAST(len(ts[s:s+127]) AS BIGINT) AS dl
         |  FROM starts WHERE len(ts[s:s+127]) > 0),
         |cst AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks,
         |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM cdl),
         |cpair AS MATERIALIZED (SELECT doc_id, chunk_idx, unnest(chunk) AS token FROM cdl),
         |ctf AS (SELECT doc_id, chunk_idx, token, count(*) AS tf FROM cpair GROUP BY 1, 2, 3),
         |cdf AS (SELECT token, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, chunk_idx, token FROM cpair) GROUP BY 1),
         |qt AS (SELECT doc_id AS query_id,
         |    unnest(list_sort(list_distinct(ts))[1:$nQTerms]) AS token
         |  FROM toks WHERE doc_id % 50 = 0),
         |qti AS (SELECT query_id, token,
         |    row_number() OVER (PARTITION BY query_id ORDER BY token) AS ti FROM qt),
         |sc AS (SELECT q.query_id, t.doc_id, t.chunk_idx, q.ti, $sSql AS s
         |  FROM qti q
         |  JOIN ctf t ON t.token = q.token
         |  JOIN cdf ON cdf.token = q.token
         |  JOIN (SELECT doc_id, chunk_idx, dl FROM cdl) l
         |    ON l.doc_id = t.doc_id AND l.chunk_idx = t.chunk_idx
         |  CROSS JOIN cst
         |  WHERE t.doc_id <> q.query_id),
         |piv AS (SELECT query_id, doc_id, chunk_idx, $pivSql FROM sc GROUP BY 1, 2, 3),
         |cscore AS (SELECT query_id, doc_id, max($totSql) AS score FROM piv GROUP BY 1, 2),
         |ra AS (SELECT query_id, doc_id AS cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, doc_id) AS rnk FROM cscore),
         |v AS (SELECT vec_id, embedding FROM embeddings),
         |sv AS (SELECT vec_id, embedding, ${VectorFns.Sql.maxAbs("embedding")} AS scale FROM v),
         |qz AS MATERIALIZED (SELECT vec_id,
         |    ${VectorFns.Sql.quantizeInt8("embedding", "scale")} AS qv FROM sv),
         |qh AS MATERIALIZED (SELECT vec_id AS query_id, qv AS qv_q FROM qz WHERE vec_id % 50 = 0),
         |dsim AS (SELECT qh.query_id, c.vec_id AS cand_id, ${intDot("qh.qv_q", "c.qv")} AS rel
         |  FROM qh JOIN qz c ON c.vec_id <> qh.query_id),
         |rb AS (SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, cand_id) AS rnk FROM dsim),
         |tops AS (
         |  SELECT query_id, cand_id, rnk FROM ra WHERE rnk <= $short
         |  UNION ALL SELECT query_id, cand_id, rnk FROM rb WHERE rnk <= $short),
         |fused AS (SELECT query_id, cand_id,
         |    CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf_micro,
         |    CAST(count(*) AS BIGINT) AS n_arms
         |  FROM tops GROUP BY 1, 2),
         |fsh AS MATERIALIZED (SELECT query_id, cand_id, rrf_micro, n_arms FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_micro DESC, cand_id) AS rn FROM fused) WHERE rn <= $fuse),
         |cands AS MATERIALIZED (SELECT f.query_id, f.cand_id, z.qv,
         |    ${intDot("q.qv_q", "z.qv")} AS rel
         |  FROM fsh f JOIN qz z ON z.vec_id = f.cand_id
         |  JOIN qh q ON q.query_id = f.query_id),
         |psim AS MATERIALIZED (SELECT a.query_id, a.cand_id AS id_a, b.cand_id AS id_b,
         |    ${intDot("a.qv", "b.qv")} AS s
         |  FROM cands a JOIN cands b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
         |p1 AS MATERIALIZED (SELECT query_id, cand_id, rel, rel AS obj FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, cand_id) AS rn FROM cands) WHERE rn = 1),
         |pk1 AS MATERIALIZED (SELECT query_id, cand_id FROM p1),
         |${stepCtes.mkString(",\n")},
         |picks AS ($unionAll),
         |lab AS MATERIALIZED (SELECT vec_id, label FROM embeddings),
         |pkr AS MATERIALIZED (SELECT p.query_id, p.pick_order, p.cand_id, p.rel, p.obj,
         |    f.rrf_micro, f.n_arms,
         |    CASE WHEN cl2.label = ql.label THEN 1 ELSE 0 END AS rel01
         |  FROM picks p
         |  JOIN fsh f ON f.query_id = p.query_id AND f.cand_id = p.cand_id
         |  JOIN lab ql ON ql.vec_id = p.query_id
         |  JOIN lab cl2 ON cl2.vec_id = p.cand_id),
         |met AS (SELECT query_id, $rels FROM pkr GROUP BY 1),
         |mq AS (SELECT query_id,
         |    CAST($nRel AS BIGINT) AS n_rel,
         |    CASE $mrr ELSE 0.0 END AS mrr,
         |    CASE WHEN $nRel = 0 THEN 0.0
         |         ELSE ($dcg) / (CASE ($nRel) $idcg END) END AS ndcg
         |  FROM met)
         |SELECT p.query_id, CAST(p.pick_order AS BIGINT) AS pick_order, p.cand_id,
         |  CAST(p.rel AS BIGINT) AS rel, p.rrf_micro, p.n_arms,
         |  CAST(p.obj AS BIGINT) AS obj, p.rel01 = 1 AS relevant,
         |  m.n_rel, m.mrr, m.ndcg
         |FROM pkr p JOIN mq m ON m.query_id = p.query_id
         |ORDER BY p.query_id, p.pick_order""".stripMargin
    QuerySpec.oracle("q216_rag_serve", sql) { (spark, dir) =>
      // (1) the memoized chunk index — q84's windows, materialized once
      // per session; the chunk POSTINGS (tf ⋈ df ⋈ dl) + corpus stats are
      // memoized one level up too (r21, the bm25IndexCached economics:
      // each evaluation re-ran the chunk-token explode + three aggregates)
      val toks = Tables.documents(spark, dir).select(col("doc_id"), lowToksCol.as("ts"))
      val Bm25Index(cpost, cst) = chunkBm25IndexCached(spark, dir)
      // (2) sparse arm: q174's BM25, chunk-level, MaxP to doc rank
      val qt = toks.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          explode(slice(array_sort(array_distinct(col("ts"))), 1, nQTerms)).as("token"))
        .withColumn("ti",
          row_number().over(Window.partitionBy("query_id").orderBy("token")))
      val idf = (col("n_chunks").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
      val avgdl = col("sum_dl").cast("double") / col("n_chunks").cast("double")
      val tfn = (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))
      val sc = broadcast(qt).join(cpost, "token")
        .crossJoin(broadcast(cst))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"), col("chunk_idx"), col("ti"),
          (idf * tfn).as("s"))
      val piv = sc.groupBy("query_id", "doc_id", "chunk_idx")
        .agg(max(when(col("ti") === 1, col("s"))).as("s1"),
          (2 to nQTerms).map(i => max(when(col("ti") === i, col("s"))).as(s"s$i")): _*)
      val total = (1 to nQTerms).map(i => coalesce(col(s"s$i"), lit(0.0))).reduce(_ + _)
      // per-query top-`short` via the bounded-heap aggregate, not a window
      // (r22): row_number forced a full sort-shuffle of every scored
      // (query, doc) row; TopKByScore's map-side heaps move ≤ short rows
      // per query per partition and the posexplode position IS the rank —
      // identical ordering contract (score DESC, id ASC)
      val cscore = piv.select(col("query_id"), col("doc_id"), total.as("st"))
        .groupBy("query_id", "doc_id").agg(max(col("st")).as("score"))
      val ra = cscore.groupBy("query_id")
        .agg(graft.functions.TopKByScore.topK(col("score"), col("doc_id"), short).as("topk"))
        .select(col("query_id"), posexplode(col("topk")))
        .select(col("query_id"), col("col.id").as("cand_id"),
          (col("pos") + 1).as("rnk"))
      // (3) dense arm: exact int8 dots over the memoized quantized corpus.
      // rel is an int8-dot long (|rel| ≤ 127²·64 ≪ 2⁵³), so the double
      // cast for the heap's score slot is exact and ties break on cand_id
      // exactly as the window form did
      val quant = quantizedVecsCk(spark, dir)
      val qh = quant.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("qv").as("qv_q"))
      val rb = quant.join(broadcast(qh), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          graft.functions.LongDotExpr.dot(col("qv_q"), col("qv")).as("rel"))
        .groupBy("query_id")
        .agg(graft.functions.TopKByScore.topK(col("rel").cast("double"),
          col("cand_id"), short).as("topk"))
        .select(col("query_id"), posexplode(col("topk")))
        .select(col("query_id"), col("col.id").as("cand_id"),
          (col("pos") + 1).as("rnk"))
      // (4) RRF fuse, top-8 shortlist
      // |Q|×8 rows, referenced twice (MMR input + pick provenance join):
      // without the cut both retrieval arms re-execute per reference
      val fsh = ra.unionByName(rb)
        .groupBy("query_id", "cand_id")
        .agg(sum(expr("1000000 div (60 + rnk)")).cast("long").as("rrf_micro"),
          count(lit(1)).cast("long").as("n_arms"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("rrf_micro").desc, col("cand_id"))))
        .filter(col("rn") <= fuse).drop("rn")
      val fshCk = graft.PlanDump.cut(fsh, "q216_rrfShortlist")
      // (5) integer MMR over the fused shortlist — q169's in-row kernel
      val picks = fshCk
        .join(quant.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(broadcast(qh), "query_id")
        .select(col("query_id"), col("cand_id"), col("qv"),
          graft.functions.LongDotExpr.dot(col("qv_q"), col("qv")).as("rel"))
        .groupBy("query_id")
        .agg(collect_list(struct(col("cand_id").as("id"), col("rel"), col("qv"))).as("cs"))
        .select(col("query_id"), posexplode(
          graft.functions.IntMmrExpression.intMmr(col("cs"), kPick, lam)))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("pick_order"),
          col("col.id").as("cand_id"), col("col.rel").as("rel"), col("col.obj").as("obj"))
        .join(fshCk, Seq("query_id", "cand_id"))
      // (6) q149's per-query MRR/NDCG@5 against the label ground truth
      val lab = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
      // |Q|×5 rows, referenced twice (metric pivot + final join) with the
      // whole MMR chain upstream — same cut rationale as fsh
      val pkr = picks
        .join(broadcast(lab.select(col("vec_id").as("query_id"), col("label").as("qlabel"))),
          "query_id")
        .join(lab.select(col("vec_id").as("cand_id"), col("label").as("clabel")), "cand_id")
        .withColumn("rel01", when(col("clabel") === col("qlabel"), 1).otherwise(0))
        .localCheckpoint(eager = false)
      val met = pkr.groupBy("query_id")
        .agg(max(when(col("pick_order") === 1, col("rel01"))).as("rel1"),
          (2 to 5).map(i => max(when(col("pick_order") === i, col("rel01"))).as(s"rel$i")): _*)
      val nRelC = (1 to 5).map(i => col(s"rel$i")).reduce(_ + _)
      val dcgC = (1 to 5).map(i => col(s"rel$i") * lit(NdcgW(i - 1))).reduce(_ + _)
      val mrrC = (1 to 5).foldLeft(null: Column) { (acc, i) =>
        if (acc == null) when(col(s"rel$i") === 1, InvRank(i - 1))
        else acc.when(col(s"rel$i") === 1, InvRank(i - 1))
      }.otherwise(0.0)
      val idcgC = (1 to 5).foldLeft(null: Column) { (acc, i) =>
        if (acc == null) when(nRelC === i, NdcgCum(i - 1))
        else acc.when(nRelC === i, NdcgCum(i - 1))
      }
      val mq = met.select(col("query_id"), nRelC.cast("long").as("n_rel"),
        mrrC.as("mrr"),
        when(nRelC === 0, 0.0).otherwise(dcgC / idcgC).as("ndcg"))
      pkr.join(mq, "query_id")
        .select(col("query_id"), col("pick_order"), col("cand_id"),
          col("rel").cast("long").as("rel"), col("rrf_micro"), col("n_arms"),
          col("obj").cast("long").as("obj"), (col("rel01") === 1).as("relevant"),
          col("n_rel"), col("mrr"), col("ndcg"))
        .orderBy("query_id", "pick_order")
    }
  }
}
