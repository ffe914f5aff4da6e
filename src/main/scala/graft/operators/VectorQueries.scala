package graft.operators

import graft.{QuerySpec, SessionMemo}
import graft.functions.VectorFns
import graft.functions.Exprs._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector band of the LLM-data pipeline: exact and approximate nearest
  * neighbours (LSH, IVF, PQ), int8 quantisation, k-means and its audits,
  * MMR re-ranking, Matryoshka truncation and embedding drift. The ANN
  * operators live in [[Similarity]] / [[Knn]]; the exact-integer audits
  * share one int8-quantised corpus ([[quantizedVecsCk]]) and its Lloyd
  * centroids.
  */
object VectorQueries {

  import VectorFns.Sql.{intDist2, intDot}

  val q34CosinePairs: QuerySpec = QuerySpec.oracle(
    "q34_embedding_pairs",
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  ${VectorFns.Sql.cosine("a.embedding", "b.embedding")} AS sim
       |FROM v a JOIN v b ON a.vec_id < b.vec_id
       |ORDER BY sim DESC, id_a, id_b LIMIT 20""".stripMargin
  ) { (spark, dir) =>
    Similarity.cosinePairs(
      Tables.embeddings(spark, dir).filter(col("vec_id") < 200), minCosine = -1.0)
      .orderBy(col("sim").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  val q40KnnTopK: QuerySpec = QuerySpec.oracle(
    "q40_knn_bruteforce",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 25 = 0),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
       |s AS (SELECT query_id, neighbor_id, ${VectorFns.Sql.cosine("qe", "ce")} AS sim
       |      FROM q, c WHERE query_id <> neighbor_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM s)
       |SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, sim
       |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  ) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(
      emb.filter(col("vec_id") % 25 === 0), emb, k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rk"), col("sim"))
      .orderBy("query_id", "rk")
  }

  val q41AnnLsh: QuerySpec = QuerySpec.rowsOnly("q41_ann_lsh") { (spark, dir) =>
    // deterministic banded sign-LSH (seeded planes): candidates only within
    // matching (band, bucket); threshold low enough that the random corpus's
    // similarity tail yields a non-empty, reproducible pair set. Parameters
    // pinned (not the size-derived defaults) so the declared query stays
    // lazy and its output is identical across scale factors.
    Similarity.signLshNearDupPairs(Tables.embeddings(spark, dir), minCosine = 0.2,
        numBands = 4, bitsPerBand = 8)
      .orderBy("id_a", "id_b")
  }

  val q42KnnClassify: QuerySpec = QuerySpec.oracle(
    "q42_knn_classify",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS true_label
       |           FROM embeddings WHERE vec_id % 25 = 0),
       |t AS (SELECT vec_id AS neighbor_id, embedding AS ce, label FROM embeddings WHERE vec_id % 25 <> 0),
       |s AS (SELECT query_id, neighbor_id, label, ${VectorFns.Sql.cosine("qe", "ce")} AS sim FROM q, t),
       |r AS (SELECT query_id, label,
       |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM s),
       |v AS (SELECT query_id, label, count(*) AS n_votes FROM r WHERE rk <= 5 GROUP BY 1, 2),
       |p AS (SELECT query_id, label, n_votes,
       |      row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, label) AS vr FROM v)
       |SELECT p.query_id, q.true_label, p.label AS pred_label, p.n_votes
       |FROM p JOIN q ON p.query_id = q.query_id
       |WHERE vr = 1 ORDER BY p.query_id""".stripMargin
  ) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val train = emb.filter(col("vec_id") % 25 =!= 0)
    Knn.classify(queries, train, k = 5)
      .join(queries.select(col("vec_id").as("query_id"), col("label").as("true_label")), "query_id")
      .select("query_id", "true_label", "pred_label", "n_votes")
      .orderBy("query_id")
  }

  /** Symmetric int8 quantization of the embedding column — the 4×
    * memory-compression pass an ANN index runs before storing 10⁹ vectors.
    * Exact floor arithmetic (no rounding ties), engine-verified including
    * the worst-element reconstruction error. */
  val q44QuantizeInt8: QuerySpec = QuerySpec.oracle(
    "q44_embedding_quantize",
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
       |s AS (SELECT vec_id, embedding, ${VectorFns.Sql.maxAbs("embedding")} AS scale FROM v),
       |q AS (SELECT vec_id, embedding, scale,
       |      ${VectorFns.Sql.quantizeInt8("embedding", "scale")} AS qv FROM s)
       |SELECT vec_id, CAST(len(qv) AS BIGINT) AS n_dims, scale,
       |  array_to_string(qv, ',') AS q_csv,
       |  ${VectorFns.Sql.dequantMaxErr("embedding", "qv", "scale")} AS max_err
       |FROM q ORDER BY vec_id""".stripMargin
  ) { (spark, dir) =>
    Tables.embeddings(spark, dir).filter(col("vec_id") < 500)
      .withColumn("scale", VectorFns.maxAbs(col("embedding")))
      .withColumn("qv", VectorFns.quantizeInt8(col("embedding"), col("scale")))
      .select(col("vec_id"), asLong(size(col("qv"))).as("n_dims"), col("scale"),
        concat_ws(",", transform(col("qv"), x => x.cast("string"))).as("q_csv"),
        VectorFns.dequantMaxErr(col("embedding"), col("qv"), col("scale")).as("max_err"))
      .orderBy("vec_id")
  }

  /** IVF coarse-quantizer ANN (k-means cells, probe nearest 4 of 16) —
    * seed-deterministic but k-means isn't SQL-expressible → rows-only;
    * recall vs brute force is asserted in SimilaritySpec. */
  val q43AnnIvf: QuerySpec = QuerySpec.rowsOnly("q43_ann_ivf") { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfTopK(emb.filter(col("vec_id") % 25 === 0), emb, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Product-quantization/ADC ANN with exact re-rank (Jégou et al. 2011's
    * ADC+R) — the memory-compression scale path alongside IVF's read
    * reduction: the corpus is SCANNED as 8 6-bit PQ codes per vector via
    * per-query lookup tables (~42× narrower than the float column), and
    * raw floats are read only for each query's 50-candidate shortlist.
    * k-means codebooks → rows-only; recall vs brute force is asserted in
    * SimilaritySpec and reported by q78's `pq_8x64_r50` row. */
  val q127AnnPq: QuerySpec = QuerySpec.rowsOnly("q127_ann_pq") { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    Similarity.pqTopK(emb.filter(col("vec_id") % 25 === 0), emb, k = 5,
        m = 8, ksub = 64, refine = 50)
      .orderBy("query_id", "rank")
  }

  /** The composed production ANN (FAISS's IVFADC shape): q43's coarse
    * cells prune READS to ~nProbe/nLists of the corpus, q127's PQ codes
    * compress what the probed cells scan, and the exact re-rank bounds
    * quantization loss to shortlist membership. Reuses BOTH cached
    * indexes — the composition adds serving plan, not index state. */
  val q128AnnIvfPq: QuerySpec = QuerySpec.rowsOnly("q128_ann_ivfpq") { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfPqTopK(emb.filter(col("vec_id") % 25 === 0), emb, k = 5,
        nLists = 16, nProbe = 4, m = 8, ksub = 64, refine = 50)
      .orderBy("query_id", "rank")
  }

  /** ANN approximation quality as a first-class declared output: one row per
    * approximate method with its recall against the exact baseline and the
    * fraction of the search space it actually scored — the two numbers that
    * decide whether an ANN configuration is shippable at 100 TB. Before
    * this, q41/q43's recall lived only in specs; this makes it
    * driver-visible every round.
    *
    *   - `lsh_<bands>x<bits>`: banded sign-LSH against the exact cosine
    *     pair set at q41's threshold (0.2), on q34's bounded subset (the
    *     exact baseline is the documented bounded quadratic — at production
    *     scale one measures recall on exactly this kind of sampled slice,
    *     never the full corpus). Found pairs are verified, hence a subset
    *     of the exact set: recall = |found| / |exact|. Candidate fraction =
    *     distinct bucket-colliding pairs / C(n,2). THREE configurations
    *     trace the recall/cost frontier, and the frontier is the finding:
    *     the test corpus has no near-dup tail (max pair cosine ≈ 0.45), so
    *     at 0.2 — far below the cos ≳ 0.9 regime banding solves for
    *     (autoNumBands' documented clamp) — high recall is only reachable
    *     by degenerating toward a full scan (28×4 buys ~0.9 recall at ~0.8
    *     candidate mass; q41's 4×8 pays ~2% of pairs and finds ~5%).
    *   - `ivf_top5`: q43's IVF (k-means fitted ONCE via ivfAssignments and
    *     reused for both the top-k and the candidate mass) against q40's
    *     brute-force top-5. Candidate fraction = probed (query, corpus-in-
    *     probed-cell) pairs / |Q|·(|C|−1) — the ~nProbe/nLists read savings
    *     IVF exists for.
    *
    * Rows-only by necessity (k-means/seeded-plane semantics are not
    * SQL-expressible) but fully deterministic: seeded planes, seeded
    * k-means, ratios of exact counts — the hash is stable across runs. */
  val q78AnnRecall: QuerySpec = QuerySpec.rowsOnly("q78_ann_recall") { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)

    // banded sign-LSH vs the exact pair set (q41's threshold, q34's bound)
    val sub = emb.filter(col("vec_id") < 200)
    val minCos = 0.2
    val lshTruth = Similarity.cosinePairs(sub, minCos)
    def lshRow(numBands: Int, bitsPerBand: Int) = {
      // partitions = 1: the audit slice is id-bounded (≤200 rows at ANY
      // scale factor, by the vec_id < 200 predicate), so the exploding-join
      // parallelism the operator's explicit-N repartition exists for (q218's
      // full corpus) buys nothing here — three configs each paid a 32-way
      // shuffle of a few-KB relation (q78's r21 regression, VERDICT item 3)
      val found = Similarity.signLshNearDupPairs(sub, minCos,
        numBands = numBands, bitsPerBand = bitsPerBand, partitions = 1)
      val ba = Similarity.bandAssignments(sub, dims = 64, numBands = numBands,
        bitsPerBand = bitsPerBand, seed = 42)
      val cand = ba.select(col("band"), col("key"), col("vec_id").as("id_a"))
        .join(ba.select(col("band"), col("key"), col("vec_id").as("id_b")), Seq("band", "key"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      // numerator and denominator from ONE pass over the truth subtree
      // (found ⊆ truth, so a left join marks exactly the found pairs)
      val hits = lshTruth.join(
          broadcast(found.select(col("id_a"), col("id_b"), lit(1).as("__f"))),
          Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_truth"), count(col("__f")).as("n_found"))
      hits
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .crossJoin(broadcast(sub.agg(count(lit(1)).as("n_vecs"))))
        .select(lit(s"lsh_${numBands}x$bitsPerBand").as("method"),
          (col("n_found").cast("double") / col("n_truth")).as("recall"),
          (col("n_cand").cast("double") / (col("n_vecs") * (col("n_vecs") - 1) / 2))
            .as("candidate_fraction"))
    }
    // q41's declared config, a mid frontier point, and the recall-solved
    // end (bands ≈ ln .05 / ln(1−p^bits) at cos 0.2) — cheap buckets first
    val lshRows = Seq(lshRow(4, 8), lshRow(16, 6), lshRow(28, 4))
      .reduce(_.unionByName(_))

    // IVF top-5 vs brute force (q40/q43's queries, corpus, and k). The
    // 1-in-25 slice grows with the corpus, and the brute-force truth is
    // O(|Q|·|corpus|) — so |Q| is additionally CAPPED to a seeded
    // deterministic sample (hash-ordered, id tie-broken), keeping the
    // report O(cap × corpus) at any scale. Both test SFs sit under the
    // cap (20 and 80 queries), so values there are unchanged.
    val recallQueryCap = 100
    val queries = emb.filter(col("vec_id") % 25 === 0)
      .orderBy(hash(col("vec_id"), lit(42)), col("vec_id"))
      .limit(recallQueryCap)
    val truth = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id")
    val (cc, qc) = Similarity.ivfAssignments(queries, emb, nLists = 16, nProbe = 4, seed = 42)
    val found = Similarity.ivfTopKFrom(cc, qc, k = 5).select("query_id", "neighbor_id")
    val cand = cc.join(broadcast(qc.select("query_id", "cell")), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
    // the brute-force truth subtree is the expensive half (|Q| × |corpus|
    // fused-cosine pairs) — count total and matched in ONE pass over it via
    // a broadcast left join against the k·|Q|-row IVF result
    // PQ/ADC+refine top-5 vs the same brute-force truth (q127's config).
    // PQ's candidate_fraction counts RAW-FLOAT reads — the analog of IVF's
    // read fraction: the code scan touches every row but at code width;
    // full-width embeddings are read only for the refine-50 shortlist, so
    // the fraction is refine/(|C|−1) per query.
    val pqRefine = 50
    val pqFound = Similarity.pqTopK(queries, emb, k = 5,
        m = 8, ksub = 64, refine = pqRefine)
      .select("query_id", "neighbor_id")
    // BOTH methods' hit counts from ONE pass over the truth subtree — the
    // brute-force baseline is the expensive half (|Q| × |corpus| fused-
    // cosine pairs), and a per-method hits join would re-evaluate it per
    // method (measured: the 2nd reference doubled q78's bench time). Two
    // broadcast left joins against the tiny found sets, one aggregate.
    val hits = truth
      .join(broadcast(found.withColumn("__ivf", lit(1))),
        Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(pqFound.withColumn("__pq", lit(1))),
        Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_truth"),
        count(col("__ivf")).as("n_ivf"), count(col("__pq")).as("n_pq"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
      .crossJoin(broadcast(queries.agg(count(lit(1)).as("n_q"))))
      .crossJoin(broadcast(emb.agg(count(lit(1)).as("n_c"))))
    // both rows EXPLODE out of the one aggregate row — a per-method select
    // + union would put two copies of the truth subtree in the plan, and
    // custom-expression subtrees defeat exchange reuse (q116's lesson)
    val bothRows = hits.select(explode(array(
        struct(lit("ivf_top5").as("method"),
          (col("n_ivf").cast("double") / col("n_truth")).as("recall"),
          (col("n_cand").cast("double") / (col("n_q") * (col("n_c") - 1)))
            .as("candidate_fraction")),
        struct(lit("pq_8x64_r50").as("method"),
          (col("n_pq").cast("double") / col("n_truth")).as("recall"),
          (lit(pqRefine).cast("double") / (col("n_c") - 1))
            .as("candidate_fraction")))).as("r"))
      .select(col("r.method").as("method"), col("r.recall").as("recall"),
        col("r.candidate_fraction").as("candidate_fraction"))

    lshRows.unionByName(bothRows).orderBy("method")
  }

  /** Per-label embedding centroids, the building block behind IVF cell
    * refresh / class prototypes / drift monitoring. Components are floor-
    * quantized to millionths FIRST, so the per-dimension aggregation is an
    * exact integer sum — order-independent, hash-matchable, and immune to
    * double summation order (documented: the centroid is of the quantized
    * vectors, error ≤ 1e-6 per component). Shape at scale: posexplode to
    * (label, dim) rides map-side partial aggregation, so the shuffle is
    * bounded by partitions × labels × dims, never rows × dims. */
  val q49LabelCentroids: QuerySpec = QuerySpec.oracle(
    "q49_label_centroids",
    """WITH x AS (
      |  SELECT label, unnest(list_transform(generate_series(1, len(embedding)),
      |      i -> {'dim': i - 1, 'q': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)})) AS u
      |  FROM embeddings)
      |SELECT label, CAST(u.dim AS BIGINT) AS dim, count(*) AS n_vecs,
      |  CAST(sum(u.q) AS BIGINT) AS sum_q,
      |  CAST(CAST(sum(u.q) AS BIGINT) AS DOUBLE) / count(*) / 1000000.0 AS centroid
      |FROM x GROUP BY label, u.dim ORDER BY label, dim""".stripMargin
  ) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), asLong(col("dim")).as("dim"),
        floor(col("x").cast("double") * 1000000).cast("long").as("q"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sum_q"))
      .select(col("label"), col("dim"), col("n_vecs"), col("sum_q"),
        (col("sum_q").cast("double") / col("n_vecs") / lit(1000000.0)).as("centroid"))
      .orderBy("label", "dim")
  }

  /** Integer hyperplanes for [[q166AnnRecallExact]], a pure function of the
    * seed — generated once and embedded as LITERALS in both the Spark plan
    * and the DuckDB mirror, the q136 generated-oracle discipline applied
    * to LSH planes (sign-LSH semantics stop being "not SQL-expressible"
    * the moment the planes are literals and the arithmetic is integer). */
  private[operators] def intPlanes(numBands: Int, bitsPerBand: Int, dims: Int,
                        seed: Long): Array[Array[Array[Long]]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(numBands, bitsPerBand, dims)((rnd.nextInt(2001) - 1000).toLong)
  }

  /** DuckDB mirror of the integer sign-LSH band keys over [[intPlanes]]:
    * per band one `SELECT vec_id, band, key FROM q`, bit j of the key set
    * when the vector's integer dot with plane j is ≥ 0; UNION ALL'd. */
  private[operators] def intBandKeysSql(planes: Array[Array[Array[Long]]]): String =
    planes.zipWithIndex.map { case (band, b) =>
      val key = band.zipWithIndex.map { case (p, j) =>
        s"(CASE WHEN ${intDot("qv", p.mkString("[", ",", "]"))} >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, $key AS key FROM q"
    }.mkString("\n  UNION ALL ")

  /** ANN recall, fully ORACLE-CHECKED (VERDICT r16 item 3 — the q164 way,
    * for the VECTOR band): q78's float recall report stays rows-only
    * because float cosine doesn't mirror, so this query re-grounds the
    * claim in INTEGER arithmetic end to end. Ground truth is the exact
    * top-5 by integer dot product of the q44 int8-quantized embeddings
    * (floor quantization is engine-exact; int dot is order-free);
    * candidates are banded sign-LSH collisions where the hyperplanes are
    * seeded INTEGER literals shared by both engines, so every bucket key,
    * candidate pair, and catch count is bit-identical. Two configurations
    * trace the recall/cost frontier per query (n_caught of the exact
    * top-5 found in the candidate set, plus the candidate count the
    * banding paid). The corpus never pairs with itself — candidates come
    * from bucket joins, the exact side from the bounded broadcast-query
    * scan (q40's shape, |Q| = the 1-in-25 slice). */
  val q166AnnRecallExact: QuerySpec = {
    val dims = 64
    val configs = Seq(("lsh_4x4", 4, 4, 42L), ("lsh_8x8", 8, 8, 43L))
      .map { case (name, b, r, seed) => (name, intPlanes(b, r, dims, seed)) }
    val bandCtes = configs.map { case (name, planes) =>
      s"b_$name AS (${intBandKeysSql(planes)})"
    }
    val perConfig = configs.map { case (name, _) =>
      s"""c_$name AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
         |  FROM b_$name qb JOIN b_$name cb
         |    ON qb.band = cb.band AND qb.key = cb.key AND cb.vec_id <> qb.vec_id
         |  WHERE qb.vec_id % 25 = 0),
         |n_$name AS (SELECT query_id, count(*) AS n_candidates FROM c_$name GROUP BY 1),
         |r_$name AS (
         |  SELECT '$name' AS config, t.query_id, count(*) AS n_exact,
         |    count(c.query_id) AS n_caught
         |  FROM top5 t LEFT JOIN c_$name c
         |    ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
         |  GROUP BY t.query_id),
         |o_$name AS (SELECT r.config, r.query_id, r.n_exact, r.n_caught,
         |    coalesce(n.n_candidates, 0) AS n_candidates
         |  FROM r_$name r LEFT JOIN n_$name n USING (query_id))""".stripMargin
    }
    val sql =
      s"""WITH ${quantizedCte()},
         |sim AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${intDot("qs.qv", "c.qv")} AS sim
         |  FROM q qs JOIN q c ON c.vec_id <> qs.vec_id
         |  WHERE qs.vec_id % 25 = 0),
         |$top5Cte,
         |${bandCtes.mkString(",\n")},
         |${perConfig.mkString(",\n")}
         |SELECT config, query_id, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_caught AS BIGINT) AS n_caught,
         |  CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_caught AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
         |FROM (${configs.map(c => s"SELECT * FROM o_${c._1}").mkString(" UNION ALL ")})
         |ORDER BY config, query_id""".stripMargin
    QuerySpec.oracle("q166_ann_recall_exact", sql) { (spark, dir) =>
      // codegen'd kernel, not aggregate(zip_with(...)): the sim scan and
      // the plane signs together are ~20M element-ops per pass at sf0.1,
      // interpreted-lambda cost territory (integer adds are order-free, so
      // the kernel is bit-equal to the HOF form and the DuckDB fold)
      val quant = quantizedVecsCk(spark, dir)
      // exact top-5 by integer dot: the memoized ground truth (shared
      // with q171/q202 — one evaluation per session)
      val top5 = exactTop5Cached(spark, dir)
      // banded candidates, ALL configs in one relation: every (config,
      // band, key) triple computes from one projection of the quantized
      // corpus and ONE bucket join serves every config, keyed on the
      // config tag — half the stages of the per-config branches. All of a
      // config's band keys come from ONE IntSignBandKeys kernel call (r21):
      // the per-plane `when(dot >= 0, …)` stack inlined 80 64-long array
      // literals that Catalyst re-analyzed on both sides of the bucket
      // self-join every evaluation — driver plan time, not executor work;
      // the kernel carries the planes as one plan reference object and its
      // fused integer loop is bit-equal (order-free adds, same ≥ 0 sign).
      val bandArrays = configs.map { case (name, planes) =>
        transform(
          graft.functions.IntSignBandKeys.bandKeys(col("qv"),
            planes.flatten.flatten, dims, planes.length, planes.head.length),
          (k, i) => struct(lit(name).as("config"), i.as("band"), k.as("key")))
      }
      val bands = quant
        .select(col("vec_id"), explode(concat(bandArrays: _*)).as("bk"))
        .select(col("vec_id"), col("bk.config").as("config"),
          col("bk.band").as("band"), col("bk.key").as("key"))
      val candAll = bands.filter(col("vec_id") % 25 === 0)
        .withColumnRenamed("vec_id", "query_id")
        .join(bands.withColumnRenamed("vec_id", "neighbor_id"),
          Seq("config", "band", "key"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select("config", "query_id", "neighbor_id")
        .distinct()
      val nc = candAll.groupBy("config", "query_id").agg(count(lit(1)).as("n_candidates"))
      // ONE evaluation of the expensive exact-top5 subtree, fanned across
      // the config dimension by a broadcast 2-row cross join (the lazy
      // alternative duplicated the |Q|·|C| scan + window per config)
      val cfgDim = spark.range(1)
        .select(explode(typedlit(configs.map(_._1))).as("config"))
      top5.crossJoin(broadcast(cfgDim))
        .join(candAll.withColumn("hit", lit(1)),
          Seq("config", "query_id", "neighbor_id"), "left")
        .groupBy("config", "query_id")
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_caught"))
        .join(nc, Seq("config", "query_id"), "left")
        .select(col("config"), col("query_id"), col("n_exact"), col("n_caught"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .withColumn("recall",
          col("n_caught").cast("double") / col("n_exact").cast("double"))
        .orderBy("config", "query_id")
    }
  }

  /** Exact-integer MMR re-rank, fully ORACLE-CHECKED — the diversity
    * band's q166: the float greedy (q147's `MmrExpression`) has no SQL
    * mirror, so this twin re-grounds the SAME greedy recurrence in
    * integers (relevance and the redundancy penalty are both quantized-int
    * dot products; objective = λ·rel − (100−λ)·maxSimToPicked with λ as a
    * percent) and UNROLLS the five greedy picks as generated steps — the
    * q136 one-definition-shared-by-both-engines discipline applied to a
    * greedy selection loop. Every pick, tie-break (objective desc, id
    * asc; pick 1 by raw relevance like the kernel's round 0), and
    * objective value is bit-identical cross-engine. Shortlist = top-10 by
    * integer dot per query (the bounded broadcast-query scan); all step
    * relations are |Q|·k′-sized, cut once behind checkpoints for the ~8
    * plan references the unrolled steps make. */
  val q169MmrExact: QuerySpec = {
    val (lam, kPick, short) = (70, 5, 10)
    val stepCtes = (2 to kPick).map { t =>
      s"""m$t AS (
         |  SELECT c.query_id, c.cand_id, c.rel, max(ps.s) AS maxsim
         |  FROM cands c
         |  LEFT JOIN pk${t - 1} x ON x.query_id = c.query_id AND x.cand_id = c.cand_id
         |  JOIN psim ps ON ps.query_id = c.query_id AND ps.id_a = c.cand_id
         |  JOIN pk${t - 1} p ON p.query_id = ps.query_id AND p.cand_id = ps.id_b
         |  WHERE x.cand_id IS NULL
         |  GROUP BY 1, 2, 3),
         |p$t AS (
         |  SELECT query_id, cand_id, rel, obj FROM (
         |    SELECT query_id, cand_id, rel, $lam * rel - ${100 - lam} * maxsim AS obj,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY $lam * rel - ${100 - lam} * maxsim DESC, cand_id) AS rn
         |    FROM m$t) WHERE rn = 1),
         |pk$t AS (SELECT * FROM pk${t - 1} UNION ALL SELECT query_id, cand_id FROM p$t)""".stripMargin
    }
    val unionAll = (1 to kPick)
      .map(t => s"SELECT query_id, $t AS pick_order, cand_id, rel, obj FROM p$t")
      .mkString(" UNION ALL ")
    val sql =
      s"""WITH ${quantizedCte()},
         |sim AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS cand_id, c.qv,
         |    ${intDot("qs.qv", "c.qv")} AS rel
         |  FROM q qs JOIN q c ON c.vec_id <> qs.vec_id
         |  WHERE qs.vec_id % 25 = 0),
         |cands AS (SELECT query_id, cand_id, qv, rel FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY rel DESC, cand_id) AS rn FROM sim)
         |  WHERE rn <= $short),
         |psim AS (
         |  SELECT a.query_id, a.cand_id AS id_a, b.cand_id AS id_b,
         |    ${intDot("a.qv", "b.qv")} AS s
         |  FROM cands a JOIN cands b
         |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
         |p1 AS (SELECT query_id, cand_id, rel, rel AS obj FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY rel DESC, cand_id) AS rn FROM cands)
         |  WHERE rn = 1),
         |pk1 AS (SELECT query_id, cand_id FROM p1),
         |${stepCtes.mkString(",\n")}
         |SELECT query_id, pick_order, cand_id, CAST(rel AS BIGINT) AS rel,
         |  CAST(obj AS BIGINT) AS obj
         |FROM ($unionAll)
         |ORDER BY query_id, pick_order""".stripMargin
    QuerySpec.oracle("q169_mmr_exact", sql) { (spark, dir) =>
      // Spark side runs the greedy IN-ROW via the codegen'd
      // [[graft.functions.IntMmrExpression]] kernel over the collected
      // shortlist — q147's production serving shape (zero extra shuffles
      // past the shortlist build), while the oracle proves the SAME
      // recurrence through its unrolled relational steps. A first
      // implementation unrolled the steps relationally in Spark too:
      // correct, but 5 step-jobs of pure orchestration (~3.6 s at sf0.1)
      // for what is per-row arithmetic over k′ = 10 candidates.
      val quant = Tables.embeddings(spark, dir)
        .withColumn("scale", VectorFns.maxAbs(col("embedding")))
        .select(col("vec_id"),
          VectorFns.quantizeInt8(col("embedding"), col("scale")).as("qv"))
      val qs = quant.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("qv").as("qv_q"))
      val wRel = Window.partitionBy("query_id").orderBy(col("rel").desc, col("cand_id"))
      val shortlist = quant.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"), col("qv"),
          graft.functions.LongDotExpr.dot(col("qv_q"), col("qv")).as("rel"))
        .withColumn("rn", row_number().over(wRel)).filter(col("rn") <= short)
      shortlist.groupBy("query_id")
        .agg(collect_list(struct(col("cand_id").as("id"), col("rel"), col("qv"))).as("cs"))
        .select(col("query_id"), posexplode(
          graft.functions.IntMmrExpression.intMmr(col("cs"), kPick, lam)))
        .select(col("query_id"), (col("pos") + 1).cast("int").as("pick_order"),
          col("col.id").as("cand_id"), col("col.rel").as("rel"), col("col.obj").as("obj"))
        .orderBy("query_id", "pick_order")
    }
  }

  /** DuckDB mirror of [[quantizedVecs]]: the CTEs `v`, `s` (per-vector
    * max-abs scale) and `q(vec_id, qv)`, the int8-quantized corpus.
    * `materialized` makes `q` one DuckDB materialization for oracles that
    * read it many times. */
  private[operators] def quantizedCte(materialized: Boolean = false): String = {
    val mat = if (materialized) "MATERIALIZED " else ""
    s"""v AS (SELECT vec_id, embedding FROM embeddings),
       |s AS (SELECT vec_id, embedding, ${VectorFns.Sql.maxAbs("embedding")} AS scale FROM v),
       |q AS $mat(SELECT vec_id, ${VectorFns.Sql.quantizeInt8("embedding", "scale")} AS qv FROM s)""".stripMargin
  }

  /** The int8-quantized corpus (vec_id, qv) — shared input of the integer
    * ANN/MMR/k-means audits. */
  private def quantizedVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("scale", VectorFns.maxAbs(col("embedding")))
      .select(col("vec_id"),
        VectorFns.quantizeInt8(col("embedding"), col("scale")).as("qv"))

  /** One checkpointed quantized-corpus relation per (session, dir), shared
    * by the q170/q171/q172 builds (VERDICT r17 item 5): the three audits
    * are pure functions of (spark, dir), so each session materializes the
    * int8 corpus ONCE instead of once per query build — the Bucketing
    * layout-memo economics. Keyed by session too: test suites open fresh
    * sessions whose checkpointed RDDs die with them. */
  private val quantizedVecsMemo = SessionMemo[DataFrame]("quantizedVecs")

  private[operators] def quantizedVecsCk(spark: SparkSession, dir: String): DataFrame =
    quantizedVecsMemo(spark, dir)(quantizedVecs(spark, dir).localCheckpoint(eager = false))

  /** Memoized exact integer top-5 ground truth per (session, dir) — the
    * (query → 5 nearest by int8 inner product, ties by neighbor id)
    * relation every verified-ANN audit compares against. q166, q171 and
    * q202 each rebuilt the identical |Q|·|C| sim scan + rank window per
    * build (3 queries × 3 bench passes = 9 evaluations of the same
    * truth); one checkpointed evaluation serves them all — the
    * lloydCentroidsCached economics (VERDICT r17 item 5), applied to the
    * ground-truth half. */
  private val exactTop5Memo = SessionMemo[DataFrame]("revTop5")

  private def exactTop5Cached(spark: SparkSession, dir: String): DataFrame =
    exactTop5Memo(spark, dir) {
      val quant = quantizedVecsCk(spark, dir)
      val qs = quant.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("qv").as("qv_q"))
      quant.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.functions.LongDotExpr.dot(col("qv_q"), col("qv")).as("sim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))))
        .filter(col("rn") <= 5).select("query_id", "neighbor_id")
        .localCheckpoint(eager = false)
    }

  /** DuckDB mirror of [[exactTop5Cached]] as the CTE `top5(query_id,
    * neighbor_id)`: each query's five best `sim` rows, ties by id. */
  private def top5Cte: String =
    """top5 AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY sim DESC, neighbor_id) AS rn FROM sim)
      |  WHERE rn <= 5)""".stripMargin

  /** Memoized [[lloydCentroids]] per (session, dir, slice, k, dims,
    * rounds): the q170 coarse centroids ARE q171's routing index, and
    * q172's four subspace codebooks are re-read on every bench pass —
    * training once per session and serving from the cached literals is
    * the production split (fit once, reuse) that q43 documents for the
    * float IVF. `slice` is -1 for the full vector, else the PQ subspace
    * ordinal. */
  private val lloydCentroidsMemo = SessionMemo[Seq[(Long, Array[Long])]]("lloydCentroids")

  private[operators] def lloydCentroidsCached(spark: SparkSession, dir: String,
                                   slice: Int, k: Int, dims: Int, rounds: Int)
      : Seq[(Long, Array[Long])] =
    lloydCentroidsMemo(spark, dir, slice, k, dims, rounds) {
      val quant = quantizedVecsCk(spark, dir)
      val in =
        if (slice < 0) quant
        else quant.select(col("vec_id"), org.apache.spark.sql.functions
          .slice(col("qv"), slice * dims + 1, dims).as("qv"))
      lloydCentroids(in, k, dims, rounds)
    }

  /** In-row integer argmin over the centroid set: d² = x·x − 2x·c + c·c
    * (exact in integers) inside a struct (dist, cid) with the same
    * (dist, cid) tie-break as the oracle's row_number. Shared by q170's
    * assignment and q171's cell routing. One [[graft.functions.IntCentroidDists]]
    * kernel call (r21): the per-centroid `array_min(array(struct ...))`
    * literal stack inlined k 64-long centroid arrays that Catalyst
    * re-analyzed per evaluation — the q166/q207 plan-time economics;
    * element 1 of the kernel's (dist, cid)-sorted output IS array_min's
    * pick, degenerate-input contract included (see the kernel scaladoc). */
  private[operators] def intAssign(cents: Seq[(Long, Array[Long])], vec: Column = col("qv")): Column =
    element_at(
      graft.functions.IntCentroidDists.sortedDists(vec, cents, cents.head._2.length), 1)

  /** The eager Lloyd loop (q141's iterative contract): per round one
    * in-row argmin + one (cid, dim) aggregate whose k×dims result
    * re-enters the next round's plan as literals. Returns the final
    * centroids. Shared by q170 and q171. */
  private def lloydCentroids(quant: DataFrame,
                             k: Int, dims: Int, rounds: Int): Seq[(Long, Array[Long])] = {
    var cents: Seq[(Long, Array[Long])] = quant.filter(col("vec_id") < k)
      .select(col("vec_id"), col("qv")).collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[Long]]("qv").toArray).sortBy(_._1).toSeq
    // q172's ADC lookup indexes codebook literals POSITIONALLY
    // (element_at(centArr, code+1)), which is only sound when the seed
    // cids are exactly 0..k-1; a fixture with a vec_id gap below k would
    // silently misroute every lookup (ADVICE r17) — fail loudly instead
    require(cents.map(_._1) == (0L until k.toLong),
      s"lloydCentroids: seed vec_ids must be exactly 0..${k - 1}, got ${cents.map(_._1)}")
    for (_ <- 1 to rounds) {
      val sums = quant.select(col("qv"), intAssign(cents).getField("cid").as("cid"))
        .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(sum(col("v")).as("sm"), count(lit(1)).as("cnt"))
        .collect()
        .map(r => (r.getAs[Long]("cid"), r.getAs[Int]("pos"), r.getAs[Long]("sm"),
          r.getAs[Long]("cnt")))
        .groupBy(_._1)
      cents = cents.map { case (cid, old) =>
        cid -> (sums.get(cid) match {
          case Some(rows) =>
            val byPos = rows.map(t => t._2 -> (t._3, t._4)).toMap
            Array.tabulate(dims)(p => byPos(p)._1 / byPos(p)._2)
          case None => old // empty cluster keeps its centroid, both engines
        })
      }
    }
    cents
  }

  /** The k-means CTE chain (quantize → seeds → `rounds` Lloyd rounds),
    * generated for the q170/q171 oracles from the same parameters the
    * Scala loop runs with — one definition of a round, two derivations. */
  private[operators] def kmeansSqlCtes(k: Int, dims: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""a$r AS (
         |  SELECT vec_id, qv, cid FROM (
         |    SELECT v.vec_id, v.qv, c.cid,
         |      row_number() OVER (PARTITION BY v.vec_id
         |                         ORDER BY ${intDist2("v.qv", "c.dims")}, c.cid) AS rn
         |    FROM q v CROSS JOIN c${r - 1} c) WHERE rn = 1),
         |s$r AS (
         |  SELECT a.cid, g.i, CAST(sum(a.qv[g.i]) AS BIGINT) AS sm, count(*) AS cnt
         |  FROM a$r a CROSS JOIN generate_series(1, $dims) g(i)
         |  GROUP BY a.cid, g.i),
         |c$r AS MATERIALIZED (
         |  SELECT p.cid,
         |    list(CASE WHEN s.cnt IS NULL THEN p.dims[s2.i] ELSE s.sm // s.cnt END
         |         ORDER BY s2.i) AS dims
         |  FROM c${r - 1} p
         |  CROSS JOIN generate_series(1, $dims) s2(i)
         |  LEFT JOIN s$r s ON s.cid = p.cid AND s.i = s2.i
         |  GROUP BY p.cid)""".stripMargin
    }
    s"""WITH ${quantizedCte(materialized = true)},
       |c0 AS MATERIALIZED (SELECT vec_id AS cid, qv AS dims FROM q WHERE vec_id < $k),
       |${roundCtes.mkString(",\n")},
       |af AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT v.vec_id, c.cid, ${intDist2("v.qv", "c.dims")} AS dist,
       |      row_number() OVER (PARTITION BY v.vec_id
       |                         ORDER BY ${intDist2("v.qv", "c.dims")}, c.cid) AS rn
       |    FROM q v CROSS JOIN c$rounds c) WHERE rn = 1)""".stripMargin
  }

  /** Exact-integer k-means, fully ORACLE-CHECKED — the last "not
    * SQL-expressible" pillar of the ANN band dissolved the q166/q169 way:
    * Lloyd's algorithm over the int8-quantized embeddings with INTEGER
    * distances (Σ(x−c)², exact), INTEGER centroid updates (per-dim
    * integral division of sums — Scala's `/` truncates toward zero exactly
    * like DuckDB's `//` and Spark's `div`, negatives included; floorDiv
    * would diverge on negative sums), deterministic seeds (the k smallest
    * vec_ids) and a (dist, cid) tie-break — so three full Lloyd rounds,
    * the final assignment, cluster sizes, per-cluster inertia, AND the
    * centroid coordinates themselves are bit-identical cross-engine. This
    * is the IVF coarse quantizer (q43) re-grounded as a verifiable
    * computation: the float k-means keeps serving production, this twin
    * proves the machinery.
    *
    * Build is EAGER and inherently iterative (q141's BPE contract, the
    * [[lloydCentroids]] loop): each round's per-dim sums collect to the
    * driver as k×dims bounded state and re-enter the next round's plan as
    * literals; per-round corpus work is one in-row argmin plus one
    * map-side-combined (cid, dim) aggregate — nothing all-pairs, nothing
    * driver-sized beyond k×dims. */
  val q170KmeansExact: QuerySpec = {
    val (k, dims, rounds) = (8, 64, 3)
    val sql =
      s"""${kmeansSqlCtes(k, dims, rounds)}
         |SELECT c.cid, CAST(coalesce(m.n, 0) AS BIGINT) AS n_members,
         |  CAST(coalesce(m.inertia, 0) AS BIGINT) AS inertia,
         |  array_to_string(c.dims, ',') AS centroid
         |FROM c$rounds c
         |LEFT JOIN (SELECT cid, count(*) AS n, sum(dist) AS inertia
         |           FROM af GROUP BY 1) m ON m.cid = c.cid
         |ORDER BY c.cid""".stripMargin
    QuerySpec.oracle("q170_kmeans_exact", sql) { (spark, dir) =>
      import spark.implicits._
      val quant = quantizedVecsCk(spark, dir)
      val cents = lloydCentroidsCached(spark, dir, -1, k, dims, rounds)
      val af = quant.withColumn("m", intAssign(cents))
        .groupBy(col("m.cid").as("cid"))
        .agg(count(lit(1)).as("n_members"), sum(col("m.dist")).cast("long").as("inertia"))
      val centDf = cents.map { case (cid, cdims) => (cid, cdims.mkString(",")) }
        .toDF("cid", "centroid")
      broadcast(centDf).join(af, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("n_members"), lit(0L)).as("n_members"),
          coalesce(col("inertia"), lit(0L)).as("inertia"), col("centroid"))
        .orderBy("cid")
    }
  }

  /** Integer IVF serving audit, fully ORACLE-CHECKED — q43's probed-cell
    * search composed from the verified pieces: [[q170KmeansExact]]'s
    * integer centroids route the corpus into cells, each query probes its
    * 2 nearest cells, and recall of [[q166AnnRecallExact]]'s exact
    * integer top-5 inside the probed candidates is reported per query with
    * the candidate count the probing paid — the read-reduction/recall
    * trade IVF exists for, with every cell id, candidate pair, and catch
    * count bit-identical cross-engine. Same eager-iterative build as q170
    * (the Lloyd rounds); the serving plan itself is one in-row cell
    * routing + the bounded probe join. */
  val q171IvfRecallExact: QuerySpec = {
    val (k, dims, rounds, nProbe) = (8, 64, 3, 2)
    val sql =
      s"""${kmeansSqlCtes(k, dims, rounds)},
         |qq AS (SELECT vec_id AS query_id, qv FROM q WHERE vec_id % 25 = 0),
         |probes AS (
         |  SELECT query_id, cid FROM (
         |    SELECT t.query_id, c.cid,
         |      row_number() OVER (PARTITION BY t.query_id
         |                         ORDER BY ${intDist2("t.qv", "c.dims")}, c.cid) AS rn
         |    FROM qq t CROSS JOIN c$rounds c) WHERE rn <= $nProbe),
         |cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN af a ON a.cid = p.cid
         |  WHERE a.vec_id <> p.query_id),
         |sim AS (
         |  SELECT qs.query_id, c.vec_id AS neighbor_id,
         |    ${intDot("qs.qv", "c.qv")} AS sim
         |  FROM qq qs JOIN q c ON c.vec_id <> qs.query_id),
         |$top5Cte,
         |nc AS (SELECT query_id, count(*) AS n_candidates FROM cand GROUP BY 1)
         |SELECT t.query_id, count(*) AS n_exact,
         |  count(c.query_id) AS n_caught,
         |  CAST(coalesce(any_value(nc.n_candidates), 0) AS BIGINT) AS n_candidates,
         |  CAST(count(c.query_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
         |FROM top5 t
         |LEFT JOIN cand c ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
         |LEFT JOIN nc ON nc.query_id = t.query_id
         |GROUP BY t.query_id
         |ORDER BY t.query_id""".stripMargin
    QuerySpec.oracle("q171_ivf_recall_exact", sql) { (spark, dir) =>
      val quant = quantizedVecsCk(spark, dir)
      // the routing index IS q170's centroid set — served from the memo,
      // not re-derived (VERDICT r17 item 5)
      val cents = lloydCentroidsCached(spark, dir, -1, k, dims, rounds)
      // corpus → cells: the same in-row argmin as q170's assignment
      val cells = quant.select(col("vec_id"), intAssign(cents).getField("cid").as("cid"))
      // query → nProbe nearest cells: the kernel's (dist, cid)-sorted
      // array sliced in-row (== the oracle's (dist, cid) row_number;
      // k is a literal-sized array, no shuffle) — the intAssign kernel
      // rationale, one reference object instead of k centroid literals
      val probeArr = slice(
        graft.functions.IntCentroidDists.sortedDists(col("qv"), cents, dims), 1, nProbe)
      val qq = quant.filter(col("vec_id") % 25 === 0)
      val probes = qq.select(col("vec_id").as("query_id"),
          explode(probeArr).as("p"))
        .select(col("query_id"), col("p.cid").as("cid"))
      val cand = probes.join(cells.withColumnRenamed("vec_id", "neighbor_id"), "cid")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id")
      val nc = cand.groupBy("query_id").agg(count(lit(1)).as("n_candidates"))
      val top5 = exactTop5Cached(spark, dir)
      top5.join(cand.withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_caught"))
        .join(nc, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"), col("n_caught"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          (col("n_caught").cast("double") / col("n_exact").cast("double")).as("recall"))
        .orderBy("query_id")
    }
  }

  /** Integer PQ/ADC audit, fully ORACLE-CHECKED — the last member of the
    * verified-ANN family (LSH q166, MMR q169, k-means q170, IVF q171):
    * product quantization with INTEGER codebooks. Each of the m=4
    * subspaces trains its own 16-code codebook with [[lloydCentroids]]'
    * exact integer Lloyd rounds over the SLICED quantized vectors, the
    * corpus is encoded to 4 codes/vector (32× narrower than the int8
    * column), and each query scans the codes via an additive-distance
    * lookup table (ADC: Σ per-subspace d² to the coded centroid) — the
    * Jégou et al. 2011 shape, every codebook entry, code, and ADC value
    * exact integers, bit-identical cross-engine. Reports BOTH tiers per
    * query: raw ADC top-5 recall (what compression alone retains) and
    * recall of the exact top-5 inside the 50-candidate shortlist (what
    * q127's exact re-rank recovers — the shortlist bound). On this
    * cluster-free random fixture the gap is the finding: ADC@5 ~0.11,
    * shortlist-50 ~0.54 at sf0.01 — compression needs the re-rank.
    * Eager-iterative build (4 Lloyd chains, q141's contract). */
  val q172PqRecallExact: QuerySpec = {
    val (m, subDims, k, rounds, refine) = (4, 16, 16, 2, 50)
    def subOf(c: String, p: Int): String = s"$c[${p * subDims + 1}:${p * subDims + subDims}]"
    val chains = (0 until m).flatMap { p =>
      val c0 = s"c${p}_0 AS MATERIALIZED (SELECT vec_id AS cid, ${subOf("qv", p)} AS dims " +
        s"FROM q WHERE vec_id < $k)"
      val rcs = (1 to rounds).map { r =>
        s"""a${p}_$r AS (
           |  SELECT vec_id, qv, cid FROM (
           |    SELECT v.vec_id, v.qv, c.cid,
           |      row_number() OVER (PARTITION BY v.vec_id
           |                         ORDER BY ${intDist2(subOf("v.qv", p), "c.dims")}, c.cid) AS rn
           |    FROM q v CROSS JOIN c${p}_${r - 1} c) WHERE rn = 1),
           |s${p}_$r AS (
           |  SELECT a.cid, g.i, CAST(sum(${subOf("a.qv", p)}[g.i]) AS BIGINT) AS sm, count(*) AS cnt
           |  FROM a${p}_$r a CROSS JOIN generate_series(1, $subDims) g(i)
           |  GROUP BY a.cid, g.i),
           |c${p}_$r AS MATERIALIZED (
           |  SELECT pp.cid,
           |    list(CASE WHEN s.cnt IS NULL THEN pp.dims[s2.i] ELSE s.sm // s.cnt END
           |         ORDER BY s2.i) AS dims
           |  FROM c${p}_${r - 1} pp
           |  CROSS JOIN generate_series(1, $subDims) s2(i)
           |  LEFT JOIN s${p}_$r s ON s.cid = pp.cid AND s.i = s2.i
           |  GROUP BY pp.cid)""".stripMargin
      }
      val tail =
        s"""af$p AS MATERIALIZED (
           |  SELECT vec_id, cid AS code FROM (
           |    SELECT v.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY v.vec_id
           |                         ORDER BY ${intDist2(subOf("v.qv", p), "c.dims")}, c.cid) AS rn
           |    FROM q v CROSS JOIN c${p}_$rounds c) WHERE rn = 1),
           |lut$p AS (SELECT t.query_id, c.cid AS code, ${intDist2(subOf("t.qv", p), "c.dims")} AS d
           |  FROM qq t CROSS JOIN c${p}_$rounds c)""".stripMargin
      (c0 +: rcs) :+ tail
    }
    val codeJoins = (1 until m).map(p => s"JOIN af$p x$p ON x$p.vec_id = x0.vec_id").mkString("\n  ")
    val lutJoins = (0 until m)
      .map(p => s"JOIN lut$p l$p ON l$p.query_id = q2.query_id AND l$p.code = x$p.code")
      .mkString("\n  ")
    val adcSum = (0 until m).map(p => s"l$p.d").mkString(" + ")
    val sql =
      s"""WITH ${quantizedCte(materialized = true)},
         |qq AS MATERIALIZED (SELECT vec_id AS query_id, qv FROM q WHERE vec_id % 25 = 0),
         |${chains.mkString(",\n")},
         |adc AS (
         |  SELECT q2.query_id, x0.vec_id AS neighbor_id, $adcSum AS adc
         |  FROM af0 x0
         |  $codeJoins
         |  CROSS JOIN qq q2
         |  $lutJoins
         |  WHERE x0.vec_id <> q2.query_id),
         |ar AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
         |  FROM adc) WHERE rn <= $refine),
         |ex AS (
         |  SELECT q2.query_id, c.vec_id AS neighbor_id, ${intDist2("q2.qv", "c.qv")} AS d
         |  FROM qq q2 JOIN q c ON c.vec_id <> q2.query_id),
         |et5 AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rn
         |  FROM ex) WHERE rn <= 5)
         |SELECT e.query_id, count(*) AS n_exact,
         |  CAST(count(CASE WHEN a.rn <= 5 THEN 1 END) AS BIGINT) AS n_caught_adc5,
         |  CAST(count(a.rn) AS BIGINT) AS n_caught_r$refine,
         |  CAST(count(CASE WHEN a.rn <= 5 THEN 1 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS recall_adc5,
         |  CAST(count(a.rn) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_r$refine
         |FROM et5 e
         |LEFT JOIN ar a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
    QuerySpec.oracle("q172_pq_recall_exact", sql) { (spark, dir) =>
      val intDot = graft.functions.LongDotExpr.dot _
      val quant = quantizedVecsCk(spark, dir)
      val subCents = (0 until m).map { p =>
        lloydCentroidsCached(spark, dir, p, k, subDims, rounds)
      }
      // encode: one projection carrying all m codes (in-row argmins over
      // the sliced vector against each subspace's codebook literals),
      // CUT behind a lazy checkpoint: PQ codes are a stored artifact —
      // encoded once per corpus row — and without the cut CollapseProject
      // folds the 4×16-struct argmin into the per-(query,code) ADC scan,
      // re-evaluating the whole encoding |Q| times per row as one
      // codegen-hostile mega-expression (measured 41 s → 1.4 s at sf0.1)
      val codes = quant.select(col("vec_id") +: col("qv").as("qv") +: (0 until m).map { p =>
        intAssign(subCents(p), slice(col("qv"), p * subDims + 1, subDims))
          .getField("cid").as(s"code$p")
      }: _*).drop("qv").localCheckpoint(eager = false)
      val qq = quant.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("qv").as("qv_q"))
      // ADC: per-subspace LUT distance via codebook literals (codebooks
      // are cid-ordered 0..k-1, so element_at(·, code+1) IS the lookup)
      val adcCol = (0 until m).map { p =>
        val qsub = slice(col("qv_q"), p * subDims + 1, subDims)
        val centArr = typedlit(subCents(p).map(_._2.toSeq))
        val ccArr = typedlit(subCents(p).map { case (_, cd) => cd.map(x => x * x).sum })
        val idx = col(s"code$p").cast("int") + 1
        intDot(qsub, qsub) - lit(2L) * intDot(qsub, element_at(centArr, idx)) +
          element_at(ccArr, idx)
      }.reduce(_ + _)
      val shortlist = codes.join(broadcast(qq), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), adcCol.as("adc"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))))
        .filter(col("rn") <= refine)
        .select("query_id", "neighbor_id", "rn")
      val et5 = quant.join(broadcast(qq), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (intDot(col("qv_q"), col("qv_q")) - lit(2L) * intDot(col("qv_q"), col("qv"))
            + intDot(col("qv"), col("qv"))).as("d"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("d"), col("neighbor_id"))))
        .filter(col("rn") <= 5).select("query_id", "neighbor_id")
      et5.join(shortlist, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          count(when(col("rn") <= 5, 1)).as("n_caught_adc5"),
          count(col("rn")).as(s"n_caught_r$refine"))
        .select(col("query_id"), col("n_exact"), col("n_caught_adc5"),
          col(s"n_caught_r$refine"),
          (col("n_caught_adc5").cast("double") / col("n_exact").cast("double"))
            .as("recall_adc5"),
          (col(s"n_caught_r$refine").cast("double") / col("n_exact").cast("double"))
            .as(s"recall_r$refine"))
        .orderBy("query_id")
    }
  }

  /** Vector-hygiene gate: [[graft.operators.Quality.predicateReport]]
    * re-targeted at the embedding column — the validation pass that runs
    * before ANN indexing, where one ragged or NaN vector poisons a whole
    * index build (cosine against NaN is NaN, which every comparison
    * silently drops). Same planted-violation discipline as q105 (the
    * driver vectors are pristine): 0-9 truncated to 8 dims, 10-19 zeroed,
    * 20-29 NaN-injected — both engines derive the identical corrupted
    * view. The NaN rule uses `isnan`, NOT x <> x: Spark SQL defines
    * NaN = NaN as TRUE (its documented total ordering), so the idiomatic
    * IEEE self-inequality probe is exactly the predicate that silently
    * never fires there. All three rules fuse into one conditional-count
    * scan. */
  val q106VectorHygiene: QuerySpec = QuerySpec.oracle(
    "q106_vector_hygiene",
    s"""WITH corrupted AS (
       |  SELECT vec_id,
       |    CASE WHEN vec_id < 10 THEN embedding[1:8]
       |         WHEN vec_id BETWEEN 10 AND 19
       |           THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
       |         WHEN vec_id BETWEEN 20 AND 29
       |           THEN list_concat(list_concat(embedding[1:1], ['NaN'::FLOAT]), embedding[3:64])
       |         ELSE embedding END AS embedding
       |  FROM embeddings)
       |SELECT 'dim_mismatch' AS rule,
       |  count(*) FILTER (WHERE len(embedding) <> 64) AS n_violations FROM corrupted
       |UNION ALL SELECT 'nan_vector',
       |  count(*) FILTER (WHERE len(list_filter(embedding, x -> isnan(x))) > 0)
       |  FROM corrupted
       |UNION ALL SELECT 'zero_vector',
       |  count(*) FILTER (WHERE ${VectorFns.Sql.normSq("embedding")} = 0.0)
       |  FROM corrupted
       |ORDER BY rule""".stripMargin
  ) { (spark, dir) =>
    val corrupted = Tables.embeddings(spark, dir).withColumn("embedding",
      when(col("vec_id") < 10, slice(col("embedding"), 1, 8))
        .when(col("vec_id").between(10, 19),
          transform(col("embedding"), _ => lit(0.0f)))
        .when(col("vec_id").between(20, 29),
          concat(slice(col("embedding"), 1, 1), array(lit(Float.NaN)),
            slice(col("embedding"), 3, 62)))
        .otherwise(col("embedding")))
    Quality.predicateReport(corrupted, Seq(
        "dim_mismatch" -> (size(col("embedding")) =!= 64),
        "nan_vector" -> exists(col("embedding"), x => isnan(x)),
        "zero_vector" -> (VectorFns.normSq(col("embedding")) === 0.0)))
      .orderBy("rule")
  }

  /** Weights that FRONT-LOAD the fixture embeddings for q135: the synthetic
    * vectors are isotropic (information rotationally uniform — prefix
    * truncation of the RAW dims measured recall 0.07 at 8 of 64, a fixture
    * artifact, not an MRL property), so the report derives a
    * matryoshka-structured variant deterministically: dim i scaled by
    * 0.85^i, the exponential energy decay an MRL-trained embedding
    * exhibits. Computed ONCE here and embedded as the SAME literal array
    * in both engines (q149's shared-literal discipline), with each product
    * rounded to float32 in both — bit-identical derivation, so the report
    * stays fully oracle-checked. */
  private val MrlWeights: Seq[Double] = (1 to 64).map(i => math.pow(0.85, i))

  /** Matryoshka-truncation retrieval quality: top-5-by-cosine recall when
    * the embedding is cut to its prefix dims (8/16/32 of 64) vs the
    * full-width baseline — the measurement behind the "store a prefix,
    * search cheaper" MRL deployment decision, and the exact-arithmetic
    * counterpart of q78's seeded-index recall rows (every cosine here is
    * the fused expression both engines compute bit-identically, so this
    * report is fully oracle-checked, incl. the dims=64 ≡ 1.0 sanity row).
    * Runs over the [[MrlWeights]]-derived front-loaded embedding so the
    * recall gradient demonstrates the capability on a fixture whose raw
    * dims carry no front-loaded structure.
    *
    * One pass computes ALL four similarities per (query, corpus) pair and
    * ranks them with per-query windows, so truth membership and each
    * truncation's membership live on the SAME row — recall is then one
    * conditional count over the truth rows, no per-config join, and the
    * pair table is built once. |Q| is the q40/q78 1-in-25 slice (cap at
    * scale per q78's argument); windows partition on query_id. */
  val q135MatryoshkaRecall: QuerySpec = QuerySpec.oracle(
    "q135_matryoshka_recall", {
      def cosK(k: Int) =
        if (k == 64) VectorFns.Sql.cosine("q.embedding", "c.embedding")
        else VectorFns.Sql.cosine(s"q.embedding[1:$k]", s"c.embedding[1:$k]")
      val wSql = MrlWeights.mkString("[", ", ", "]")
      s"""WITH em AS MATERIALIZED (
         |  SELECT vec_id, list_transform(generate_series(1, 64),
         |    i -> CAST(embedding[i] * ($wSql)[i] AS REAL)) AS embedding
         |  FROM embeddings),
         |qs AS (SELECT vec_id, embedding FROM em WHERE vec_id % 25 = 0),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosK(64)} AS s64, ${cosK(32)} AS s32,
         |    ${cosK(16)} AS s16, ${cosK(8)} AS s8
         |  FROM qs q JOIN em c ON c.vec_id <> q.vec_id),
         |r AS (SELECT query_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY s64 DESC, neighbor_id) AS r64,
         |    row_number() OVER (PARTITION BY query_id ORDER BY s32 DESC, neighbor_id) AS r32,
         |    row_number() OVER (PARTITION BY query_id ORDER BY s16 DESC, neighbor_id) AS r16,
         |    row_number() OVER (PARTITION BY query_id ORDER BY s8 DESC, neighbor_id) AS r8
         |  FROM s),
         |cnt AS (SELECT count(*) AS n_truth,
         |    count(*) FILTER (WHERE r8 <= 5) AS n8,
         |    count(*) FILTER (WHERE r16 <= 5) AS n16,
         |    count(*) FILTER (WHERE r32 <= 5) AS n32
         |  FROM r WHERE r64 <= 5)
         |SELECT dims, recall FROM (
         |  SELECT CAST(8 AS BIGINT) AS dims, CAST(n8 AS DOUBLE) / n_truth AS recall FROM cnt
         |  UNION ALL SELECT 16, CAST(n16 AS DOUBLE) / n_truth FROM cnt
         |  UNION ALL SELECT 32, CAST(n32 AS DOUBLE) / n_truth FROM cnt
         |  UNION ALL SELECT 64, CAST(n_truth AS DOUBLE) / n_truth FROM cnt)
         |ORDER BY dims""".stripMargin
    }
  ) { (spark, dir) =>
    import graft.functions.CosineSimilarityExpr.cosine
    // the same front-loading derivation as the oracle's em CTE: one shared
    // weight literal, per-element float32 rounding in both engines
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        zip_with(col("embedding"), typedlit(MrlWeights), (a, b) => a * b)
          .cast("array<float>").as("embedding"))
    val qs = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    def cosK(k: Int) =
      if (k == 64) cosine(col("qe"), col("ce"))
      else cosine(slice(col("qe"), 1, k), slice(col("ce"), 1, k))
    def rk(c: String) = row_number().over(
      Window.partitionBy("query_id").orderBy(col(c).desc, col("neighbor_id")))
    val cnt = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .crossJoin(broadcast(qs))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosK(64).as("s64"), cosK(32).as("s32"), cosK(16).as("s16"), cosK(8).as("s8"))
      .select(col("query_id"),
        rk("s64").as("r64"), rk("s32").as("r32"), rk("s16").as("r16"), rk("s8").as("r8"))
      .filter(col("r64") <= 5)
      .agg(count(lit(1)).as("n_truth"),
        count(when(col("r8") <= 5, 1)).as("n8"),
        count(when(col("r16") <= 5, 1)).as("n16"),
        count(when(col("r32") <= 5, 1)).as("n32"))
    cnt.select(explode(array(
        struct(lit(8L).as("dims"), (col("n8").cast("double") / col("n_truth")).as("recall")),
        struct(lit(16L).as("dims"), (col("n16").cast("double") / col("n_truth")).as("recall")),
        struct(lit(32L).as("dims"), (col("n32").cast("double") / col("n_truth")).as("recall")),
        struct(lit(64L).as("dims"), (col("n_truth").cast("double") / col("n_truth")).as("recall"))))
        .as("r"))
      .select(col("r.dims").as("dims"), col("r.recall").as("recall"))
      .orderBy("dims")
  }

  /** MMR-diversified retrieval ([[Similarity.mmrRerank]]): every 25th
    * vector queries the corpus, exact top-20 shortlist, greedy λ=0.7
    * re-rank to 5 — rows-only (float greedy; no SQL mirror), with
    * SimilaritySpec holding a plain-Scala reference implementation to
    * the same results and pinning the diversity claim on a planted
    * near-duplicate cluster. */
  val q147MmrRerank: QuerySpec = QuerySpec.rowsOnly(
    "q147_mmr_rerank"
  ) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    Similarity.mmrRerank(
        emb.filter(col("vec_id") % 25 === 0), emb,
        shortlist = 20, k = 5, lambdaPct = 70)
      .orderBy("query_id", "rank")
  }

  /** The MMR relevance-vs-diversity λ sweep ([[Similarity.mmrLambdaSweep]])
    * — q147's quality claim made driver-visible every round, the q78
    * declared-report discipline: six grid points from pure-diversity
    * (λ=0) to pure-relevance (λ=100), each reporting mean pick relevance
    * and mean pairwise redundancy over the same query set. Rows-only
    * (float greedy, no SQL mirror); SimilaritySpec pins the monotone
    * tradeoff — relevance non-decreasing in λ, λ=100 redundancy ≥ λ=0's. */
  val q160MmrLambdaSweep: QuerySpec = QuerySpec.rowsOnly(
    "q160_mmr_lambda_sweep"
  ) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    Similarity.mmrLambdaSweep(
      emb.filter(col("vec_id") % 25 === 0), emb,
      shortlist = 20, k = 5, lambdaGrid = Seq(0, 25, 50, 70, 85, 100))
  }

  /** Simplified-silhouette clustering audit, exact integers — the
    * did-k-fit verdict above [[q170KmeansExact]]'s inertia: inertia
    * always falls as k grows, silhouette does not, so THIS is the number
    * that says whether the IVF coarse quantizer's cells are real
    * structure or arbitrary cuts. Per point the SIMPLIFIED silhouette
    * (Hruschka et al. — centroid distances instead of O(n²) pairwise;
    * the standard scale-out variant) on SQUARED integer distances:
    * s·10⁶ = (b² − a²)·10⁶ div max(a², b²) where a² is the distance to
    * the own centroid and b² the nearest other — bounded by
    * dims·(2·127)² under int8 quantization, so the arithmetic never
    * leaves int64 at ANY corpus size. Reports per cluster: members,
    * mean silhouette, and the count of negative-silhouette (misplaced)
    * points. Centroids serve from q170's session memo (fit once, audit
    * many); the audit itself is ONE in-row pass over the corpus (the
    * k-struct distance array per row) + one cid-keyed aggregate. */
  val q195Silhouette: QuerySpec = {
    val (k, dims, rounds) = (8, 64, 3)
    val sql =
      s"""${kmeansSqlCtes(k, dims, rounds)},
         |alld AS (SELECT v.vec_id, c.cid, ${intDist2("v.qv", "c.dims")} AS dist
         |         FROM q v CROSS JOIN c$rounds c),
         |o AS (SELECT a.vec_id, a.cid, a.dist AS a2, min(d.dist) AS b2
         |      FROM af a JOIN alld d ON d.vec_id = a.vec_id AND d.cid <> a.cid
         |      GROUP BY 1, 2, 3),
         |sil AS (SELECT vec_id, cid,
         |  CASE WHEN greatest(a2, b2) = 0 THEN 0
         |       ELSE (b2 - a2) * 1000000 // greatest(a2, b2) END AS s
         |  FROM o)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(CAST(sum(s) AS BIGINT) // count(*) AS BIGINT) AS mean_sil_micro,
         |  CAST(count(*) FILTER (WHERE s < 0) AS BIGINT) AS n_misplaced
         |FROM sil GROUP BY cid ORDER BY cid""".stripMargin
    QuerySpec.oracle("q195_silhouette", sql) { (spark, dir) =>
      val quant = quantizedVecsCk(spark, dir)
      val cents = lloydCentroidsCached(spark, dir, -1, k, dims, rounds)
      // the kernel's (dist, cid)-sorted array (the intAssign rationale):
      // element 1 IS array_min's assignment pick, and element 2's dist IS
      // the min over the other cells — cids are unique, so "first other
      // element of the sorted array" ≡ "min dist among cid ≠ own"
      val distArr = graft.functions.IntCentroidDists.sortedDists(col("qv"), cents, dims)
      quant.withColumn("own", element_at(distArr, 1))
        .withColumn("b2", element_at(distArr, 2).getField("dist"))
        .select(col("own.cid").as("cid"), col("own.dist").as("a2"), col("b2"))
        .withColumn("s", when(greatest(col("a2"), col("b2")) === 0L, 0L)
          .otherwise(expr("(b2 - a2) * 1000000 div greatest(a2, b2)")))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"),
          expr("CAST(sum(s) AS BIGINT)").as("sum_s"),
          count(when(col("s") < 0L, 1)).as("n_misplaced"))
        .select(col("cid"), col("n_members"),
          expr("sum_s div n_members").cast("long").as("mean_sil_micro"),
          col("n_misplaced"))
        .orderBy("cid")
    }
  }

  /** McNemar paired-recall test: IVF vs sign-LSH on the SAME ground
    * truth — the missing inferential step above the ANN recall reports
    * (q166/q171 say WHICH method catches more; this says whether the
    * edge is statistically real or an artifact of this query sample).
    * Items are the exact integer top-5 (query, neighbor) pairs; per item
    * each method either catches it in its candidate set or not, and
    * McNemar uses only the DISCORDANT counts: χ²·10⁶ = (b−c)²·10⁶
    * div (b+c) against χ²₁(0.05) = 3.841459 — paired design, so the
    * shared easy/hard items cancel instead of diluting the comparison.
    * Both candidate generators are the verified integer machines (q171's
    * 2-probe IVF over q170's memoized centroids; q166's 8×8 literal
    * integer planes), so every cell of the 2×2 discordance table
    * hash-verifies. Shape at 100 TB: the two candidate relations are the
    * audits' own bounded shapes (probed cells / bucket joins); the test
    * itself is two left joins on the top-5 items + ONE aggregate. */
  val q202AnnMcnemar: QuerySpec = {
    val (k, dims, rounds, nProbe) = (8, 64, 3, 2)
    val planes = intPlanes(8, 8, dims, 43L)
    val sql =
      s"""${kmeansSqlCtes(k, dims, rounds)},
         |qq AS (SELECT vec_id AS query_id, qv FROM q WHERE vec_id % 25 = 0),
         |probes AS (
         |  SELECT query_id, cid FROM (
         |    SELECT t.query_id, c.cid,
         |      row_number() OVER (PARTITION BY t.query_id
         |                         ORDER BY ${intDist2("t.qv", "c.dims")}, c.cid) AS rn
         |    FROM qq t CROSS JOIN c$rounds c) WHERE rn <= $nProbe),
         |ci AS (SELECT p.query_id, a.vec_id AS neighbor_id
         |       FROM probes p JOIN af a ON a.cid = p.cid
         |       WHERE a.vec_id <> p.query_id),
         |bl AS (${intBandKeysSql(planes)}),
         |cl AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
         |       FROM bl qb JOIN bl cb
         |         ON qb.band = cb.band AND qb.key = cb.key AND cb.vec_id <> qb.vec_id
         |       WHERE qb.vec_id % 25 = 0),
         |sim AS (
         |  SELECT qs.query_id, c.vec_id AS neighbor_id,
         |    ${intDot("qs.qv", "c.qv")} AS sim
         |  FROM qq qs JOIN q c ON c.vec_id <> qs.query_id),
         |$top5Cte,
         |it AS (
         |  SELECT t.query_id, t.neighbor_id,
         |    CASE WHEN ci.query_id IS NOT NULL THEN 1 ELSE 0 END AS a,
         |    CASE WHEN cl.query_id IS NOT NULL THEN 1 ELSE 0 END AS l
         |  FROM top5 t
         |  LEFT JOIN ci ON ci.query_id = t.query_id AND ci.neighbor_id = t.neighbor_id
         |  LEFT JOIN cl ON cl.query_id = t.query_id AND cl.neighbor_id = t.neighbor_id),
         |cellsm AS (
         |  SELECT count(*) AS n_items, CAST(sum(a) AS BIGINT) AS caught_ivf,
         |    CAST(sum(l) AS BIGINT) AS caught_lsh,
         |    count(*) FILTER (WHERE a = 1 AND l = 0) AS only_ivf,
         |    count(*) FILTER (WHERE l = 1 AND a = 0) AS only_lsh
         |  FROM it)
         |SELECT CAST(n_items AS BIGINT) AS n_items, caught_ivf, caught_lsh,
         |  CAST(only_ivf AS BIGINT) AS only_ivf, CAST(only_lsh AS BIGINT) AS only_lsh,
         |  CAST(CASE WHEN only_ivf + only_lsh = 0 THEN 0
         |    ELSE CAST(only_ivf - only_lsh AS HUGEINT) * (only_ivf - only_lsh)
         |         * 1000000 // (only_ivf + only_lsh) END AS BIGINT) AS mcnemar_micro,
         |  CASE WHEN only_ivf + only_lsh = 0 THEN false
         |    ELSE CAST(only_ivf - only_lsh AS HUGEINT) * (only_ivf - only_lsh)
         |         * 1000000 // (only_ivf + only_lsh) > 3841459 END AS significant
         |FROM cellsm""".stripMargin
    QuerySpec.oracle("q202_ann_mcnemar", sql) { (spark, dir) =>
      val quant = quantizedVecsCk(spark, dir)
      val cents = lloydCentroidsCached(spark, dir, -1, k, dims, rounds)
      // IVF candidates: q171's cell routing + 2-probe join
      val cells = quant.select(col("vec_id"), intAssign(cents).getField("cid").as("cid"))
      val probeArr = slice(
        graft.functions.IntCentroidDists.sortedDists(col("qv"), cents, dims), 1, nProbe)
      val qq = quant.filter(col("vec_id") % 25 === 0)
      val candIvf = qq.select(col("vec_id").as("query_id"), explode(probeArr).as("p"))
        .select(col("query_id"), col("p.cid").as("cid"))
        .join(cells.withColumnRenamed("vec_id", "neighbor_id"), "cid")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id")
      // LSH candidates: q166's banded bucket join, one config — band keys
      // from ONE IntSignBandKeys kernel call (r21, the q166 rationale:
      // plane literals as a plan reference object, bit-equal fused loop)
      val bands = quant
        .select(col("vec_id"), posexplode(
          graft.functions.IntSignBandKeys.bandKeys(col("qv"),
            planes.flatten.flatten, dims, planes.length, planes.head.length))
          .as(Seq("band", "key")))
      val candLsh = bands.filter(col("vec_id") % 25 === 0)
        .withColumnRenamed("vec_id", "query_id")
        .join(bands.withColumnRenamed("vec_id", "neighbor_id"), Seq("band", "key"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id").distinct()
      // exact top-5 ground truth: the memoized session-shared relation
      val top5 = exactTop5Cached(spark, dir)
      top5
        .join(candIvf.withColumn("a", lit(1L)), Seq("query_id", "neighbor_id"), "left")
        .join(candLsh.withColumn("l", lit(1L)), Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_items"),
          count(col("a")).as("caught_ivf"), count(col("l")).as("caught_lsh"),
          count(when(col("a").isNotNull && col("l").isNull, 1)).as("only_ivf"),
          count(when(col("l").isNotNull && col("a").isNull, 1)).as("only_lsh"))
        .withColumn("mcnemar_micro",
          when(col("only_ivf") + col("only_lsh") === 0L, 0L)
            .otherwise(expr(
              // (b−c)²·10⁶ passes int64 at corpus-scale item counts —
              // decimal inside, int64 out (q187 discipline)
              "(CAST(only_ivf - only_lsh AS DECIMAL(38,0)) * (only_ivf - only_lsh) * 1000000) div (only_ivf + only_lsh)"))
            .cast("long"))
        .select(col("n_items"), col("caught_ivf"), col("caught_lsh"),
          col("only_ivf"), col("only_lsh"), col("mcnemar_micro"),
          (col("mcnemar_micro") > 3841459L).as("significant"))
    }
  }

  /** Embedding drift report over a (label, half, qv) relation — the
    * operator behind [[q224EmbeddingDrift]], public so the spec can feed
    * it a PLANTED drift fixture: per label, the integer centroid of each
    * half (per-dim truncating div — q170's update rule), the squared
    * centroid shift, the average within-half scatter (inertia per point),
    * and drift = shift²·10⁶ div scatter with the 0.25 flag. */
  def embeddingDrift(q: DataFrame): DataFrame = {
    val dimrows = q.select(col("label"), col("half"),
        posexplode(col("qv")).as(Seq("pos", "val")))
    // ONE (label, half, pos) aggregate carries the sufficient statistics
    // (n, Σval, Σval²): the centroid is s1 div n, and the within-half
    // scatter Σ(val − c)² expands EXACTLY to s2 − 2·c·s1 + n·c² for the
    // integer (truncating-div) c — all integer arithmetic, so the value
    // is bit-identical to the row-walk form. This removes the second
    // corpus explode pass and the |corpus·dims|-row dimrows⋈cent join the
    // inertia previously paid (r22, guide §2.3 sufficient statistics /
    // §1.2 one pass): the corpus is touched once and everything
    // downstream is (label × half × dims) dictionary-sized.
    val cent = dimrows.groupBy("label", "half", "pos")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("val")).cast("long").as("s1"),
        sum(expr("CAST(val AS DECIMAL(38,0)) * val")).as("s2"))
      .select(col("label"), col("half"), col("pos"), col("n"),
        expr("s1 div n").cast("long").as("c"), col("s1"), col("s2"))
    val shift = cent.filter(col("half") === 0)
      .select(col("label"), col("pos"), col("c").as("ca"), col("n").as("n_a"))
      .join(cent.filter(col("half") === 1)
          .select(col("label"), col("pos"), col("c").as("cb"), col("n").as("n_b")),
        Seq("label", "pos"))
      .groupBy("label")
      .agg(sum(expr("(ca - cb) * (ca - cb)")).cast("long").as("shift_sq"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
    val inert = cent
      .groupBy("label", "half")
      .agg(sum(expr("""s2 - 2 * CAST(c AS DECIMAL(38,0)) * s1
                     |   + CAST(n AS DECIMAL(38,0)) * c * c""".stripMargin)).as("ss"),
        first(col("n")).as("n"))
      .groupBy("label")
      .agg(expr("sum(ss) div sum(n)").cast("long").as("inertia_avg"))
    shift.join(inert, "label")
      .select(col("label"), col("n_a"), col("n_b"), col("shift_sq"),
        col("inertia_avg"),
        expr("shift_sq * 1000000 div greatest(inertia_avg, 1)").cast("long")
          .as("drift_micro"),
        expr("shift_sq * 1000000 div greatest(inertia_avg, 1) > 250000").as("drifted"))
      .orderBy("label")
  }

  /** Embedding-distribution drift monitor — the check an embedding
    * pipeline runs when a model, preprocessing, or corpus version
    * changes: per label, how far did the centroid MOVE between two
    * corpus slices, relative to the cloud's own scatter
    * (between-centroid d² over average within-half inertia — a
    * discrete homogeneity readout in exact integers; Rahimi-style
    * population drift monitoring reduced to sufficient statistics). The
    * declared split is vec_id PARITY — an A/A HARNESS TEST (q201's
    * discipline): random halves of one distribution must read
    * non-drifted, and they do (~0.08 vs the 0.25 flag); the spec plants
    * a real shift and pins the flag firing. Everything is q170-style
    * integer arithmetic (per-dim truncating-div centroids, integer d²),
    * so the monitor hash-verifies. Shape at 100 TB: two
    * map-side-combined (label, half, dim) aggregates — sufficient
    * statistics, the corpus never shuffles raw vectors. */
  val q224EmbeddingDrift: QuerySpec = QuerySpec.oracle(
    "q224_embedding_drift",
    s"""WITH v AS (SELECT vec_id, label, embedding FROM embeddings),
       |s AS (SELECT vec_id, label, embedding, ${VectorFns.Sql.maxAbs("embedding")} AS scale FROM v),
       |q AS (SELECT vec_id, label, vec_id % 2 AS half,
       |    ${VectorFns.Sql.quantizeInt8("embedding", "scale")} AS qv FROM s),
       |dimrows AS (SELECT label, half, g.i AS pos, qv[g.i] AS val
       |  FROM q CROSS JOIN generate_series(1, 64) g(i)),
       |cent AS (SELECT label, half, pos,
       |    CAST(sum(val) // count(*) AS BIGINT) AS c, CAST(count(*) AS BIGINT) AS n
       |  FROM dimrows GROUP BY 1, 2, 3),
       |shift AS (SELECT a.label,
       |    CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS shift_sq,
       |    any_value(a.n) AS n_a, any_value(b.n) AS n_b
       |  FROM cent a JOIN cent b ON a.label = b.label AND a.pos = b.pos
       |  WHERE a.half = 0 AND b.half = 1 GROUP BY a.label),
       |inert0 AS (SELECT d.label, d.half,
       |    sum(CAST((d.val - c.c) AS HUGEINT) * (d.val - c.c)) AS ss,
       |    any_value(c.n) AS n
       |  FROM dimrows d
       |  JOIN cent c ON c.label = d.label AND c.half = d.half AND c.pos = d.pos
       |  GROUP BY 1, 2),
       |ic AS (SELECT label, CAST(sum(ss) // sum(n) AS BIGINT) AS inertia_avg
       |  FROM inert0 GROUP BY label)
       |SELECT s.label, s.n_a, s.n_b, s.shift_sq, ic.inertia_avg,
       |  CAST(s.shift_sq * 1000000 // greatest(ic.inertia_avg, 1) AS BIGINT)
       |    AS drift_micro,
       |  s.shift_sq * 1000000 // greatest(ic.inertia_avg, 1) > 250000 AS drifted
       |FROM shift s JOIN ic ON ic.label = s.label
       |ORDER BY s.label""".stripMargin
  ) { (spark, dir) =>
    val q = Tables.embeddings(spark, dir)
      .withColumn("scale", VectorFns.maxAbs(col("embedding")))
      .select(col("label"), pmod(col("vec_id"), lit(2)).as("half"),
        VectorFns.quantizeInt8(col("embedding"), col("scale")).as("qv"))
    embeddingDrift(q)
  }

  /** Hard-negative mining for contrastive/triplet training — the
    * training-data op the ANN band's machinery exists to serve: for each
    * anchor (the q166 1-in-25 slice), the top-3 most-similar candidates
    * of a DIFFERENT label (lang) by exact int8 inner product, reported
    * beside the best SAME-label candidate and the triplet margin
    * pos_sim − neg_sim — negatives with small or negative margins are
    * the ones a triplet loss learns from (Schroff et al. 2015's
    * semi-hard ordering falls out of sorting this report). Exactness:
    * the sims are the q166 integer dots, labels join on vec_id = doc_id,
    * so the entire mining roster hash-verifies. Shape at 100 TB: the
    * brute-force sim scan is the broadcast-anchor audit contract
    * (anchors ≪ corpus); production swaps the candidate generator for
    * q43/q171's IVF cells unchanged — the mining rule only consumes
    * (anchor, cand, sim, label). */
  val q214HardNegatives: QuerySpec = QuerySpec.oracle(
    "q214_hard_negatives",
    s"""WITH ${quantizedCte()},
       |ql AS (SELECT q.vec_id, qv, lang FROM q JOIN documents d ON d.doc_id = q.vec_id),
       |sim AS (
       |  SELECT a.vec_id AS anchor_id, a.lang AS a_lang,
       |    c.vec_id AS cand_id, c.lang AS c_lang,
       |    ${intDot("a.qv", "c.qv")} AS sim
       |  FROM ql a JOIN ql c ON c.vec_id <> a.vec_id
       |  WHERE a.vec_id % 25 = 0),
       |neg AS (SELECT anchor_id, cand_id, sim,
       |    row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, cand_id) AS rk
       |  FROM sim WHERE c_lang <> a_lang),
       |pos AS (SELECT anchor_id, cand_id AS pos_id, sim AS pos_sim,
       |    row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, cand_id) AS rk
       |  FROM sim WHERE c_lang = a_lang)
       |SELECT n.anchor_id, CAST(n.rk AS BIGINT) AS rank, n.cand_id AS neg_id,
       |  CAST(n.sim AS BIGINT) AS neg_sim, p.pos_id, CAST(p.pos_sim AS BIGINT) AS pos_sim,
       |  CAST(p.pos_sim - n.sim AS BIGINT) AS margin
       |FROM neg n JOIN pos p ON p.anchor_id = n.anchor_id AND p.rk = 1
       |WHERE n.rk <= 3 ORDER BY n.anchor_id, rank""".stripMargin
  ) { (spark, dir) =>
    def intDot(a: Column, b: Column): Column = graft.functions.LongDotExpr.dot(a, b)
    val labels = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val ql = quantizedVecsCk(spark, dir)
      .join(labels, col("doc_id") === col("vec_id")).drop("doc_id")
    val anchors = ql.filter(pmod(col("vec_id"), lit(25)) === 0)
      .select(col("vec_id").as("anchor_id"), col("qv").as("aqv"), col("lang").as("a_lang"))
    val sim = ql.join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("a_lang"), col("vec_id").as("cand_id"),
        col("lang").as("c_lang"), intDot(col("aqv"), col("qv")).as("sim"))
    // both rank windows partition on anchor_id — one exchange, reused
    val byAnchor = Window.partitionBy("anchor_id").orderBy(col("sim").desc, col("cand_id"))
    val neg = sim.filter(col("c_lang") =!= col("a_lang"))
      .withColumn("rk", row_number().over(byAnchor)).filter(col("rk") <= 3)
    val pos = sim.filter(col("c_lang") === col("a_lang"))
      .withColumn("rk", row_number().over(byAnchor)).filter(col("rk") === 1)
      .select(col("anchor_id"), col("cand_id").as("pos_id"), col("sim").as("pos_sim"))
    neg.join(pos, "anchor_id")
      .select(col("anchor_id"), col("rk").cast("long").as("rank"),
        col("cand_id").as("neg_id"), col("sim").cast("long").as("neg_sim"),
        col("pos_id"), col("pos_sim").cast("long").as("pos_sim"),
        (col("pos_sim") - col("sim")).cast("long").as("margin"))
      .orderBy("anchor_id", "rank")
  }
}
