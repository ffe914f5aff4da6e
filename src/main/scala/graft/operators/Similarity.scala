package graft.operators

import graft.functions.{CosineSimilarityExpr, DotProductExpr, TopKByScore, VectorFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (north-star band).
  *
  * Two paths:
  *   - `bruteForceTopK`: exact cosine top-k — the query side is broadcast
  *     (queries ≪ corpus is the realistic shape), so the corpus streams
  *     through one codegen'd scan, each partition keeping a local top-k via
  *     the window; no corpus shuffle. The baseline and the oracle.
  *   - `ivfTopK`/`pqTopK`/`ivfPqTopK` (top-k) and `signLshNearDupPairs`
  *     (pairs): approximate paths for 100 TB — only probed cells or
  *     colliding sign-LSH buckets are joined; recall is testable against
  *     the brute-force baseline (SimilaritySpec).
  */
object Similarity {

  /** Exact top-k neighbors per query by cosine. `queries(id, embedding)`
    * small, `corpus(id, embedding)` large. Ties break on corpus id.
    *
    * The per-query top-k is a bounded-heap aggregate (TopKByScore), NOT a
    * window: map-side partial aggregation keeps ≤k candidates per query per
    * partition, so the shuffle moves k·|Q| tuples — a window row_number
    * would shuffle and sort the entire |Q|×|corpus| pair set. Same ordering
    * (sim desc, id asc), so results are identical. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     excludeSelf: Boolean = true): DataFrame = {
    // norms once per ROW before the join (|Q|+|C| of them), only the dot
    // product per PAIR — sim = dot/(qn·cn) multiplies the same sqrt values
    // the all-in-one cosine would, so results stay bit-identical
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      sqrt(VectorFns.normSq(col("embedding"))).as("q_norm"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      sqrt(VectorFns.normSq(col("embedding"))).as("c_norm"))
    val joined = c.crossJoin(broadcast(q))
    val filtered = if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id")) else joined
    filtered
      .withColumn("sim", pairSim)
      .groupBy("query_id")
      .agg(TopKByScore.topK(col("sim"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"), col("col.score").as("sim"))
  }

  /** MMR diversity re-rank ([[graft.functions.MmrExpression]]) on top of
    * the exact top-`shortlist`: near-duplicate hits stop crowding the
    * final k. The shortlist rides back through ONE broadcast gather join
    * (the |Q|·shortlist result is broadcast into a corpus scan to fetch
    * vectors — the corpus never shuffles), is collected per query (bounded
    * arrays), and the greedy selection runs in-row as a codegen'd kernel:
    * MMR adds zero shuffles beyond the top-k that feeds it. collect_list
    * order does not matter — the kernel's argmax/tie-break is input-order
    * independent. */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, shortlist: Int,
                k: Int, lambdaPct: Int): DataFrame = {
    import graft.functions.MmrExpression
    val top = bruteForceTopK(queries, corpus, shortlist)
    val withVec = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .join(broadcast(top), "neighbor_id")
    withVec.groupBy("query_id")
      .agg(collect_list(struct(
        col("neighbor_id").cast("long").as("id"),
        col("sim").as("score"),
        col("c_emb").as("vec"))).as("cands"))
      .select(col("query_id"),
        posexplode(MmrExpression.mmr(col("cands"), k, lambdaPct)))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("sim"),
        col("col.mmr").as("mmr"))
  }

  /** The relevance-vs-diversity tradeoff report behind [[mmrRerank]]'s
    * quality claim — q78's declared-report discipline applied to MMR
    * serving: run the SAME greedy re-rank at every λ on a deterministic
    * grid and report, per λ, the mean relevance of the picks (cosine to
    * the query) and their mean pairwise redundancy (cosine among picks).
    * λ=100 is pure relevance (top-k verbatim), λ=0 pure diversity; the
    * monotone trade between the endpoints is the evidence that the greedy
    * kernel actually trades the two objectives rather than shuffling
    * ranks.
    *
    * Shape: the corpus-scale work (top-k shortlist, one broadcast join)
    * runs ONCE; every λ is one extra in-row [[graft.functions.MmrExpression]]
    * evaluation over the same collected candidate array, and both metrics
    * are in-row HOF arithmetic over that array — the λ grid multiplies
    * per-row compute, not shuffles. Output is |grid| rows. */
  def mmrLambdaSweep(queries: DataFrame, corpus: DataFrame, shortlist: Int,
                     k: Int, lambdaGrid: Seq[Int]): DataFrame = {
    import graft.functions.MmrExpression
    require(lambdaGrid.nonEmpty)
    val top = bruteForceTopK(queries, corpus, shortlist)
    val withVec = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .join(broadcast(top), "neighbor_id")
    val cands = withVec.groupBy("query_id")
      .agg(collect_list(struct(
        col("neighbor_id").cast("long").as("id"),
        col("sim").as("score"),
        col("c_emb").as("vec"))).as("cands"))
    val perLambda = cands.select(col("query_id"),
      explode(array(lambdaGrid.map(l => struct(
        lit(l).as("lambda_pct"),
        MmrExpression.mmr(col("cands"), k, l).as("picked"))): _*)).as("lp"),
      col("cands"))
    // picked vecs looked up from the candidate array in-row (k·k' scans)
    val pickedVecs = transform(col("lp.picked"), p =>
      element_at(filter(col("cands"), c => c.getField("id") === p.getField("id")), 1)
        .getField("vec"))
    val pairSims = flatten(transform(pickedVecs, (v, i) =>
      transform(slice(pickedVecs, i + lit(2), size(pickedVecs)),
        w => CosineSimilarityExpr.cosine(v, w))))
    val perQuery = perLambda.select(
      col("lp.lambda_pct").as("lambda_pct"),
      col("query_id"),
      (aggregate(col("lp.picked"), lit(0.0), (acc, p) => acc + p.getField("score"))
        / size(col("lp.picked"))).as("rel"),
      when(size(pairSims) > 0,
        aggregate(pairSims, lit(0.0), (acc, s) => acc + s) / size(pairSims))
        .otherwise(lit(0.0)).as("red"))
    perQuery.groupBy("lambda_pct")
      .agg(count(lit(1)).as("n_queries"),
        avg(col("rel")).as("mean_relevance"),
        avg(col("red")).as("mean_redundancy"))
      .orderBy("lambda_pct")
  }

  /** All pairs (i < j) above a cosine threshold — the embedding near-dup
    * primitive. Quadratic: use only on a blocked/bucketed subset; the scale
    * path is `signLshNearDupPairs`. */
  def cosinePairs(vecs: DataFrame, minCosine: Double): DataFrame = {
    val a = vecs.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = vecs.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", CosineSimilarityExpr.cosine(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= minCosine)
      .select("id_a", "id_b", "sim")
  }

  private def toMlVector(df: DataFrame): DataFrame =
    // built-in (SQL-typed, no Scala closure): float array upcasts to double
    // array at the analyzer, then converts to an ml DenseVector
    df.withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(col("embedding").cast("array<double>")))

  /** Pair similarity over precomputed norms (q_norm/c_norm columns):
    * NULL first (length mismatch / null elements — matching the fused
    * cosine, so invalid pairs drop out of top-k instead of ranking as NaN),
    * then the zero-norm NaN guard (ANSI Divide would ERROR on a zero
    * divisor; IEEE/DuckDB semantics want NaN), then the division. */
  private def pairSim: Column = {
    val dot = DotProductExpr.dot(col("q_emb"), col("c_emb"))
    val norms = col("q_norm") * col("c_norm")
    when(dot.isNull, lit(null).cast("double"))
      .when(norms === 0.0, lit(Double.NaN))
      .otherwise(dot / norms)
  }

  /** Deterministic random hyperplanes for sign-LSH, flattened row-major
    * (plane p occupies [p·dims, (p+1)·dims)) — seeded driver-side; tiny;
    * rides into the plan as ONE reference object (not inlined literals). */
  private def planeMatrix(n: Int, dims: Int, seed: Long): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n * dims)(rnd.nextGaussian().toFloat)
  }

  /** One (vec_id, embedding, band, key) row per band: `key` packs the
    * band's sign bits into a Long (so up to 56 bits/band). Exposed within
    * the package so the occupancy spec can measure bucket sizes directly.
    *
    * sign(dot) ≡ sign(cosine) for any non-degenerate vector (norms are
    * positive), so the dot skips recomputing both norms per bit — 3× fewer
    * float ops across bands × bits hashes per row. Degenerate zero vectors
    * DO key differently (cosine was NaN, which Spark's comparisons rank
    * above 0 → all-ones key; dot 0 → all-zeros key) — immaterial, because
    * the verify step's zero-norm guard NULLs a zero vector's similarity,
    * so whichever bucket it lands in, it pairs with nothing.
    *
    * All bands' keys come from ONE kernel expression per row
    * ([[graft.functions.SignBandKeysExpr]]) rather than bands × bits
    * separate dot expressions: the plane matrix is a single plan reference
    * object, so planning/codegen stays O(1) in the probe count (the
    * expression-stack form cost ~1.7 s of driver time per 28×4 config,
    * re-optimized for each of the subtree's four appearances per query). */
  private[operators] def bandAssignments(vecs: DataFrame, dims: Int, numBands: Int,
                                         bitsPerBand: Int, seed: Long): DataFrame = {
    require(bitsPerBand <= 56, s"bitsPerBand=$bitsPerBand exceeds the 56-bit Long key field")
    val ps = planeMatrix(numBands * bitsPerBand, dims, seed)
    val keys = graft.functions.SignBandKeys.bandKeys(
      col("embedding"), ps, dims, numBands, bitsPerBand)
    vecs.select(col("vec_id"), col("embedding"), posexplode(keys).as(Seq("band", "key")))
  }

  /** Bucket width for a corpus of `n` rows: `log2(n) + 8` sign bits keeps
    * the EXPECTED random-collision occupancy per bucket at n/2^bits ≤ 1/256,
    * so the within-bucket self-join (quadratic in occupancy) stays O(1) per
    * bucket no matter how large the corpus grows. Floor 8 (tiny corpora),
    * cap 56 (keys are built as a Long bit field). */
  private[operators] def autoBitsPerBand(n: Long): Int =
    math.min(56, math.max(8, 8 + (64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 2L) - 1))))

  /** Bands needed for ~95% recall of a pair at exactly `minCosine`:
    * P(one band collides) = p^bits with p = 1 - acos(cos)/π, so
    * bands = ln(0.05)/ln(1-p^bits). Clamped to [4, 32]: below cos≈0.9 the
    * ask is no longer "near-dup" and the honest answer is a different
    * algorithm (IVF / brute force), not unbounded row amplification. */
  private[operators] def autoNumBands(minCosine: Double, bitsPerBand: Int): Int = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, minCosine))) / math.Pi
    val perBand = math.pow(p, bitsPerBand.toDouble)
    val raw = if (perBand >= 1.0) 1.0 else math.log(0.05) / math.log1p(-perBand)
    math.min(32, math.max(4, math.ceil(raw).toInt))
  }

  /** Near-dup pairs via banded sign-LSH — the 100 TB ANN path.
    *
    * Each band hashes the vector to `bitsPerBand` sign bits of random
    * projections (sign(dot) == sign(cosine), so the fused cosine expression
    * does the work inside codegen); rows are joined ONLY within matching
    * (band, bucket) keys — cost scales with bucket occupancy, never |A|×|B|.
    * Candidates are then verified with exact cosine. Fully deterministic
    * (seeded planes, no Spark rand), unlike MLlib's approxSimilarityJoin —
    * which also shuffles full-width rows through its dedup and degrades
    * badly at tight bucket widths (measured 35 s vs <1 s here on 2k×64f).
    *
    * Recall tuning: P(pair survives) = 1-(1-p^bits)^bands with
    * p = 1 - acos(cos)/π; random pairs collide with p ≈ 2^-bits per band.
    *
    * Defaults are SIZE-DERIVED, not fixed: `bitsPerBand = 0` counts the
    * corpus (one extra columnar pass — pass it explicitly to stay fully
    * lazy) and takes `log2(n)+8` bits so buckets hold ≤1/256 expected
    * random rows at ANY corpus size, and `numBands = 0` then solves the
    * recall formula for ~95% at `minCosine` (clamped to ≤32 bands). A fixed
    * 8-bit default would mean 256 buckets/band → ~4M rows per bucket at
    * n = 10⁹ and a ~10¹³-pair within-bucket join. */
  def signLshNearDupPairs(vecs: DataFrame, minCosine: Double, dims: Int = 64,
                          numBands: Int = 0, bitsPerBand: Int = 0,
                          seed: Long = 42, partitions: Int = 0): DataFrame = {
    val bits = if (bitsPerBand > 0) bitsPerBand else autoBitsPerBand(vecs.count())
    val nb = if (numBands > 0) numBands else autoNumBands(minCosine, bits)
    // EXPLICIT-N repartition on the bucket key (N = the session's shuffle
    // partitions — the deployment's scale knob): the bucket self-join is an
    // EXPLODING join (map-side bytes are |corpus|×bands rows, join output is
    // the candidate-pair mass), and AQE's byte-based coalescing only sees
    // the small map output — measured at sf0.1 it folded the join read to
    // ONE partition and ran the ~2M verify dots serially in a 1.3 s task
    // (guide §2/§3: give compute-dense exploding joins their parallelism
    // explicitly; an explicit partition count is exempt from coalescing).
    // Both join sides reference this one relation, so the exchange is
    // planned once and reused.
    //
    // `partitions` (r22, VERDICT item 3): callers whose input is a BOUNDED
    // audit slice (q78's ≤200-row recall sub-corpus — id-bounded at every
    // scale factor) pass the partition count matching that bound instead of
    // paying the deployment-scale fan-out — the unconditional shufN made
    // every tiny-input call pay a 32-way shuffle whose per-task scheduling
    // cost exceeded its entire verify workload (q78 1.4 → 1.8 s in the r21
    // driver bench). 0 (the default) keeps the scale knob; the explicit
    // value is still capped by it, so a production session with thousands
    // of shuffle partitions is never over-fanned by a stale caller constant.
    val shufN = vecs.sparkSession.sessionState.conf.numShufflePartitions
    val n = if (partitions > 0) math.min(partitions, shufN) else shufN
    val bands = bandAssignments(vecs, dims, nb, bits, seed)
      .withColumn("norm", sqrt(VectorFns.normSq(col("embedding"))))
      .repartition(n, col("band"), col("key"))
    val a = bands.select(col("band"), col("key"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val b = bands.select(col("band"), col("key"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("norm").as("norm_b"))
    // verify + threshold BEFORE the dedup shuffle: rows shrink to
    // (id_a, id_b, sim) and sub-threshold candidates never shuffle at all
    // (a pair found by k bands recomputes the dot k≤numBands times —
    // cheaper than shuffling two embedding payloads per candidate). Norms
    // ride the rows (one sqrt per row-band, 8 bytes), so the per-PAIR work
    // is the dot alone; dot/(norm_a·norm_b) is the cosine expression's
    // exact arithmetic, results bit-identical for every non-degenerate
    // pair. The zero-norm guard matters under ANSI mode: a plain Divide
    // would raise DIVIDE_BY_ZERO on a zero vector. It yields NULL, not
    // NaN: Spark compares NaN GREATER than any number, so the fused
    // cosine's NaN passed `>= minCosine` and paired a zero vector with
    // every bucket-mate — a latent bug, not semantics worth preserving.
    // NULL fails every comparison, so degenerate vectors pair with nothing.
    val normProd = col("norm_a") * col("norm_b")
    a.join(b, Seq("band", "key")).filter(col("id_a") < col("id_b"))
      .withColumn("sim",
        when(normProd === 0.0, lit(null).cast("double"))
          .otherwise(DotProductExpr.dot(col("emb_a"), col("emb_b")) / normProd))
      .filter(col("sim") >= minCosine)
      .groupBy("id_a", "id_b").agg(first(col("sim")).as("sim"))
  }

  /** IVF-style approximate top-k (the brief's "IVF variant as the scale
    * path"): a k-means coarse quantizer assigns every corpus vector to one
    * of `nLists` cells; each query probes only its `nProbe` nearest cells,
    * so exact cosine runs against ~nProbe/nLists of the corpus instead of
    * all of it. Cell assignment is one pass; centroids are tiny and ride
    * into the plan as literals — queries never shuffle the corpus.
    * Deterministic given the seed.
    *
    * NOTE: calling this FITS the k-means index eagerly (jobs run at build —
    * the centroid literals ARE the index; ConstructionSweepSpec allowlists
    * q43 for exactly this). A production deployment fits the quantizer once
    * over a corpus snapshot, persists the centroids + cell assignments, and
    * serves queries against the prebuilt layout — only the fit is eager,
    * never the serving path. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nLists: Int = 16, nProbe: Int = 4, seed: Long = 42): DataFrame = {
    val (corpusCells, qCells) = ivfAssignments(queries, corpus, nLists, nProbe, seed)
    ivfTopKFrom(corpusCells, qCells, k)
  }

  /** Per-JVM cache of fitted coarse quantizers keyed by (corpus plan
    * semantic hash, nLists, seed) — the documented index-build-once
    * contract made literal: re-deriving cell assignments for the same
    * corpus snapshot reuses the centroids instead of re-running Lloyd
    * passes (each pass is a full scan of the embedding column at scale).
    * The seeded fit is deterministic, so reuse is value-identical. Same
    * immutable-snapshot assumption as Tables.schemaCache: a path rewritten
    * with different data under the same plan needs a fresh JVM. The model
    * itself is driver-side tiny (nLists × dim centroid doubles). */
  private val quantizerCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Long), org.apache.spark.ml.clustering.KMeansModel]()

  /** The IVF index split out so a caller (q78's recall report) can fit the
    * k-means quantizer ONCE and reuse the cell assignments for both the
    * top-k and the candidate-mass statistics. Returns
    * (corpusCells(neighbor_id, c_emb, cell, c_norm),
    *  qCells(query_id, q_emb, q_norm, cell) — one row per probed cell). */
  private[operators] def ivfAssignments(queries: DataFrame, corpus: DataFrame,
                                        nLists: Int, nProbe: Int,
                                        seed: Long): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    val v = toMlVector(corpus)
    // maxIter 8 (down from MLlib's 20): a coarse quantizer needs cells that
    // ROUGHLY tile the space, not converged centroids — recall is governed
    // by nProbe/nLists, not late-iteration centroid polish. On the test
    // corpus k-means tol-converges before 8 anyway (q78's recall report
    // reads identically), so this is a worst-case bound for corpora where
    // it would not: at 100 TB each extra Lloyd iteration is a full pass
    // over the embedding column.
    val km = new KMeans().setK(nLists).setSeed(seed).setMaxIter(8)
      .setFeaturesCol("features").setPredictionCol("cell")
    val model = quantizerCache.computeIfAbsent(
      (corpus.semanticHash(), nLists, seed), _ => km.fit(v))
    val corpusCells = model.transform(v)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        col("cell"), sqrt(VectorFns.normSq(col("embedding"))).as("c_norm"))
    // centroid list as float-array literals: cosine via the fused expression
    val centroids = model.clusterCenters.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat).toSeq)
    }
    val centroidCol = array(centroids.map { case (i, c) =>
      struct(lit(i).as("cell"), typedlit(c).as("centroid"))
    }: _*)
    // per query: rank cells by centroid cosine, keep the nProbe nearest
    val qCells = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        sqrt(VectorFns.normSq(col("embedding"))).as("q_norm"))
      .withColumn("cand", explode(centroidCol))
      .withColumn("c_sim", CosineSimilarityExpr.cosine(col("q_emb"), col("cand.centroid")))
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("c_sim").desc, col("cand.cell"))))
      .filter(col("cell_rank") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("q_norm"), col("cand.cell").as("cell"))
    (corpusCells, qCells)
  }

  /** Serving half of [[ivfTopK]]: exact cosine only within probed cells; the
    * query side broadcasts so the corpus NEVER shuffles (a plain join on the
    * 16-value cell key would hash-partition the whole corpus into ≤16 skewed
    * groups). */
  private[operators] def ivfTopKFrom(corpusCells: DataFrame, qCells: DataFrame,
                                     k: Int): DataFrame =
    corpusCells.join(broadcast(qCells), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", pairSim)
      .groupBy("query_id")
      .agg(TopKByScore.topK(col("sim"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"), col("col.score").as("sim"))

  /** Per-JVM cache of fitted PQ codebooks keyed like [[quantizerCache]]
    * (corpus plan semantic hash + shape + seed) — the m per-subspace
    * k-means fits are the index build; reuse is value-identical under the
    * same immutable-snapshot assumption. The codebook is driver-side tiny:
    * m × ksub × subDim floats (= dims × ksub — 4 KB at 64×16). */
  private val pqCodebookCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Int, Int, Long), Array[Float]]()

  /** Product-quantization codebook (Jégou et al. 2011): `m` independent
    * k-means fits, one per `subDim = dims/m` subspace of the embedding,
    * `ksub` centroids each, flattened `[(j·ksub + c)·subDim + d]`. Eager
    * by the same index-build contract as [[ivfTopK]]'s quantizer. */
  def pqCodebook(corpus: DataFrame, dims: Int, m: Int, ksub: Int, seed: Long): Array[Float] = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val subDim = dims / m
    pqCodebookCache.computeIfAbsent((corpus.semanticHash(), dims, m, ksub, seed), _ => {
      import org.apache.spark.ml.clustering.KMeans
      val cb = new Array[Float](m * ksub * subDim)
      // one fit per subspace; each scans only its OWN dims-slice of the
      // column (the slice prunes before the vector conversion). maxIter 8:
      // same coarse-tiling rationale as the IVF quantizer. Degenerate rows
      // (ragged/null-element — the q106 hygiene failures) are excluded from
      // the FIT (a 3-dim slice would crash the summarizer merge); encode
      // handles them via the rnorm-0 contract instead.
      val clean = corpus.filter(size(col("embedding")) === dims &&
        !exists(col("embedding"), e => e.isNull))
      (0 until m).foreach { j =>
        val sub = clean.select(
          org.apache.spark.ml.functions.array_to_vector(
            slice(col("embedding"), j * subDim + 1, subDim).cast("array<double>"))
            .as("features"))
        val km = new KMeans().setK(ksub).setSeed(seed + j).setMaxIter(8)
          .setFeaturesCol("features").setPredictionCol("cell")
        km.fit(sub).clusterCenters.zipWithIndex.foreach { case (c, ci) =>
          val arr = c.toArray
          var d = 0
          while (d < subDim) {
            cb((j * ksub + ci) * subDim + d) = arr(d).toFloat
            d += 1
          }
        }
      }
      cb
    })
  }

  /** PQ/ADC approximate top-k — the memory-compression scale path that
    * complements IVF's read-reduction: the corpus is scored from its m-byte
    * PQ codes (32× smaller than 64 float dims), never from the raw
    * embeddings. Each query precomputes one m×ksub lookup table of exact
    * subvector dots ([[graft.functions.PqLutExpr]]); every (query, corpus)
    * pair then costs m table reads ([[graft.functions.AdcDotExpr]]) instead
    * of `dims` multiplies — at 100 TB the index that no longer fits in
    * executor memory as floats DOES fit as codes, and the scan streams at
    * code width. Ranking is approximate cosine against the RECONSTRUCTED
    * vector: adc_dot/(‖q‖·‖x̂‖), ‖x̂‖ carried from encode time. Queries
    * broadcast (queries ≪ corpus); the corpus never shuffles — the top-k
    * is the same bounded-heap aggregate as [[bruteForceTopK]].
    *
    * `refine` > k turns on the re-rank stage (Jégou et al.'s ADC+R, the
    * standard production shape): the compressed scan keeps an ADC top-
    * `refine` SHORTLIST per query, raw embeddings are fetched for the
    * shortlist alone (an id-keyed join of refine·|Q| rows — at 10⁹ corpus
    * vectors the floats for thousands of candidates, not billions), and
    * exact cosine re-ranks the shortlist to the final k. Quantization loss
    * then only has to keep the true neighbors inside the shortlist, not
    * rank them — recall@k tracks the much-easier shortlist recall.
    *
    * Degenerate (null/ragged/zero) vectors encode to rnorm 0 and NULL
    * similarity, so they never rank — the [[signLshNearDupPairs]] guard
    * convention. Fully deterministic given the seed; recall vs brute force
    * is asserted in SimilaritySpec and reported by q78. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dims: Int = 64,
             m: Int = 8, ksub: Int = 16, seed: Long = 42,
             refine: Int = 0, excludeSelf: Boolean = true): DataFrame = {
    val subDim = dims / m
    val cb = pqCodebook(corpus, dims, m, ksub, seed)
    val enc = corpus.select(col("vec_id").as("neighbor_id"),
        graft.functions.PqExprs.encode(col("embedding"), cb, m, ksub, subDim).as("pq"))
      .select(col("neighbor_id"), col("pq.codes").as("codes"), col("pq.rnorm").as("rnorm"))
    val q = queries.select(col("vec_id").as("query_id"),
      graft.functions.PqExprs.lut(col("embedding"), cb, m, ksub, subDim).as("lut"),
      sqrt(VectorFns.normSq(col("embedding"))).as("q_norm"))
    val joined = enc.crossJoin(broadcast(q))
    val filtered =
      if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id")) else joined
    val normProd = col("q_norm") * col("rnorm")
    val shortlistK = if (refine > k) refine else k
    val adcTopK = filtered
      .withColumn("sim",
        when(col("q_norm").isNull || normProd === 0.0, lit(null).cast("double"))
          .otherwise(graft.functions.PqExprs.adcDot(col("codes"), col("lut"), ksub) / normProd))
      .groupBy("query_id")
      .agg(TopKByScore.topK(col("sim"), col("neighbor_id"), shortlistK).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"), col("col.score").as("sim"))
    if (refine <= k) adcTopK else exactRerank(adcTopK, queries, corpus, k)
  }

  /** Exact re-rank of an approximate shortlist (the +R of ADC+R): the
    * shortlist (refine·|Q| rows, tiny) broadcasts into an id-keyed join
    * against the corpus — the only stage that touches raw floats, and it
    * reads them for shortlist members only. */
  private def exactRerank(shortlistTopK: DataFrame, queries: DataFrame,
                          corpus: DataFrame, k: Int): DataFrame = {
    val shortlist = shortlistTopK.select(col("query_id"), col("neighbor_id"))
    val qRaw = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      sqrt(VectorFns.normSq(col("embedding"))).as("q_norm"))
    corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        sqrt(VectorFns.normSq(col("embedding"))).as("c_norm"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(qRaw), Seq("query_id"))
      .withColumn("sim", pairSim)
      .groupBy("query_id")
      .agg(TopKByScore.topK(col("sim"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"), col("col.score").as("sim"))
  }

  /** IVF+PQ+refine — the composed production ANN (the FAISS IVFADC shape):
    * the coarse quantizer prunes READS to the probed cells (~nProbe/nLists
    * of the corpus), PQ codes compress what those cells scan (6-bit codes
    * vs float dims), and the exact re-rank bounds quantization loss to
    * shortlist membership. The three indexes are exactly [[ivfTopK]]'s
    * cells and [[pqTopK]]'s codebook — both cached per corpus snapshot —
    * so the composition adds no new index state, just the serving plan:
    * codes ride WITH the cell assignment in one corpus projection, the
    * probed-cell join broadcasts the query side (corpus never shuffles),
    * and ADC scores only within probed cells. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dims: Int = 64,
                nLists: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 64,
                seed: Long = 42, refine: Int = 0): DataFrame = {
    val subDim = dims / m
    val cb = pqCodebook(corpus, dims, m, ksub, seed)
    val (corpusCells, qCells) = ivfAssignments(queries, corpus, nLists, nProbe, seed)
    val enc = corpusCells.select(col("neighbor_id"), col("cell"),
        graft.functions.PqExprs.encode(col("c_emb"), cb, m, ksub, subDim).as("pq"))
      .select(col("neighbor_id"), col("cell"),
        col("pq.codes").as("codes"), col("pq.rnorm").as("rnorm"))
    val q = qCells.select(col("query_id"), col("cell"), col("q_norm"),
      graft.functions.PqExprs.lut(col("q_emb"), cb, m, ksub, subDim).as("lut"))
    val normProd = col("q_norm") * col("rnorm")
    val shortlistK = if (refine > k) refine else k
    val adcTopK = enc.join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        when(col("q_norm").isNull || normProd === 0.0, lit(null).cast("double"))
          .otherwise(graft.functions.PqExprs.adcDot(col("codes"), col("lut"), ksub) / normProd))
      .groupBy("query_id")
      .agg(TopKByScore.topK(col("sim"), col("neighbor_id"), shortlistK).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"), col("col.score").as("sim"))
    if (refine <= k) adcTopK else exactRerank(adcTopK, queries, corpus, k)
  }
}
