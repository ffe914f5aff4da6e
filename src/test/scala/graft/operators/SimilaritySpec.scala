package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("brute-force top-k: ranks are 1..k, best neighbor first, no self") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, k = 3)
      .collect()
    assert(out.length == 15)
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
      assert(sorted.map(_.getAs[Double]("sim")).toSeq.reverse.sorted.reverse ==
        sorted.map(_.getAs[Double]("sim")).toSeq, "sims non-increasing")
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q), "self excluded")
    }
  }

  test("sign-LSH recall ≥0.9 on planted near-dups, few random survivors") {
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    // jittered copy of each vector (cos ≈ 0.99) under vec_id + 10000
    val jittered = base.select(
      (col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x + lit(0.02f) * sin(col("vec_id") * 7 + i)).cast("float")).as("embedding"),
      col("label"))
    val vecs = base.unionByName(jittered)
    val exact = Similarity.cosinePairs(vecs, minCosine = 0.98)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(exact.size >= 90, s"planted pairs exist: ${exact.size}")
    val approx = Similarity.signLshNearDupPairs(vecs, minCosine = 0.98)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.9, s"sign-LSH recall $recall over ${exact.size} planted pairs")
    assert(approx.subsetOf(exact), "verification step admits no false positives")
  }

  test("sign-LSH tolerates an all-zero embedding: no crash, no pairs for it") {
    // A zero vector keys all-zeros into some bucket; its verify divisor
    // norm_a*norm_b is 0. The zero-norm guard (Similarity.scala) must keep
    // the ANSI Divide from raising DIVIDE_BY_ZERO, and its NULL sim must
    // keep the vector out of every pair (NaN would NOT: Spark ranks NaN
    // above any number, so NaN >= minCosine passes).
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") < 50)
    val dims = base.select(size(col("embedding"))).first().getInt(0)
    val zero = spark.range(1).select(
      lit(9999L).as("vec_id"),
      array_repeat(lit(0.0f), dims).as("embedding"),
      lit(0).as("label"))
    val vecs = base.unionByName(zero.withColumn("label", col("label").cast(
      base.schema("label").dataType)))
    val pairs = Similarity.signLshNearDupPairs(vecs, minCosine = 0.5,
        numBands = 4, bitsPerBand = 4)  // few wide buckets: collisions guaranteed
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(!pairs.exists(p => p._1 == 9999L || p._2 == 9999L),
      s"zero vector must pair with nothing: ${pairs.filter(p => p._1 == 9999L || p._2 == 9999L).mkString(",")}")
  }

  test("sign-LSH auto parameters scale with corpus size and clamp sanely") {
    // bits: log2(n)+8, floor at small n, Long-field cap at huge n
    assert(Similarity.autoBitsPerBand(256) == 16)
    assert(Similarity.autoBitsPerBand(1000000000L) == 38)
    assert(Similarity.autoBitsPerBand(Long.MaxValue / 2) == 56, "capped at the Long key field")
    assert(Similarity.autoBitsPerBand(1) >= 8)
    // bands: recall-derived at near-dup thresholds, clamped [4, 32]
    assert(Similarity.autoNumBands(0.98, 16) == 7)
    assert(Similarity.autoNumBands(0.999, 8) == 4, "lower clamp")
    assert(Similarity.autoNumBands(0.2, 19) == 32,
      "low thresholds clamp instead of exploding row amplification")
  }

  test("sign-LSH auto bits bound bucket occupancy on a skewed corpus") {
    // skewed planted corpus: 8192 spread pseudo-random vectors plus a hot
    // 64-row duplicate cluster. True duplicates MUST share a bucket (that's
    // the algorithm working); the occupancy guarantee is about everything
    // else: with log2(n)+8 bits the max bucket is bounded by the true dup
    // group, while the fixed 8-bit width (256 buckets) piles ~n/256 random
    // rows into every bucket and keeps growing with corpus size.
    val n = 8192
    val cluster = 64
    val rand = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        j => ((pmod(hash(col("id"), j), lit(2001)) - 1000) / 1000.0).cast("float")).as("embedding"))
    val hot = spark.range(cluster).select((col("id") + 100000).as("vec_id"),
      transform(sequence(lit(0), lit(15)), j => lit(1.0f)).as("embedding"))
    val vecs = rand.unionByName(hot)
    def maxOccupancy(bits: Int): Long =
      Similarity.bandAssignments(vecs, dims = 16, numBands = 2, bitsPerBand = bits, seed = 42)
        .groupBy("band", "key").count().agg(max("count")).collect().head.getLong(0)
    val autoBits = Similarity.autoBitsPerBand(n + cluster)
    assert(autoBits == 22, "ceil(log2(8256)) + 8")
    val occAuto = maxOccupancy(autoBits)
    val occFixed8 = maxOccupancy(8)
    assert(occAuto <= cluster + 8,
      s"auto width: max bucket bounded by the true duplicate group, got $occAuto")
    assert(occFixed8 >= occAuto + n / 512,
      s"fixed 8-bit width accumulates random collisions on top: auto=$occAuto fixed=$occFixed8")
  }

  test("IVF top-k: high recall vs brute force at nProbe=4/16 cells") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.ivfTopK(queries, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall@5 = $recall (probing 4/16 cells)")
    // determinism: same seed → same result
    val again = Similarity.ivfTopK(queries, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(approx == again)
  }

  test("PQ/ADC top-k: recall vs brute force, determinism, shape") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // q127's config: 8 subspaces × 64 centroids (6-bit codes, ~42×
    // compression) + ADC shortlist-50 exact re-rank. Without the re-rank
    // the raw ADC ranking scores recall@5 ≈ 0.3 on this corpus (isotropic
    // synthetic vectors — PQ's worst case); the shortlist only has to
    // CONTAIN the true neighbors, not rank them, which is why ADC+R is
    // the production shape.
    val approx = Similarity.pqTopK(queries, emb, k = 5,
      m = 8, ksub = 64, refine = 50).collect()
    approx.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 5L),
        "ranks 1..5 per query")
    }
    val approxSet = approx
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.count(approxSet.contains).toDouble / exact.size
    info(s"PQ+refine recall@5 = $recall (measured 0.91 at calibration)")
    assert(recall >= 0.8, s"PQ recall@5 = $recall")
    val again = Similarity.pqTopK(queries, emb, k = 5,
        m = 8, ksub = 64, refine = 50).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(approxSet == again, "seeded codebook → identical results")
  }

  test("IVF+PQ+refine: recall tracks IVF's cell recall, deterministic") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(queries, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivfpq = Similarity.ivfPqTopK(queries, emb, k = 5,
        nLists = 16, nProbe = 4, m = 8, ksub = 64, refine = 50).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val rIvf = exact.count(ivf.contains).toDouble / exact.size
    val rIvfPq = exact.count(ivfpq.contains).toDouble / exact.size
    info(f"IVF recall@5 = $rIvf%.2f, IVF+PQ+r50 recall@5 = $rIvfPq%.2f")
    // the probed cells bound what IVF+PQ can find; the refine stage keeps
    // PQ loss from compounding much on top of that bound
    assert(rIvfPq >= rIvf - 0.15,
      s"composition loses at most modest recall vs IVF alone: $rIvfPq vs $rIvf")
    val again = Similarity.ivfPqTopK(queries, emb, k = 5,
        nLists = 16, nProbe = 4, m = 8, ksub = 64, refine = 50).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(ivfpq == again, "seeded indexes → identical results")
  }

  test("PQ encode: codes in range, degenerate vectors never rank") {
    import spark.implicits._
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    val cb = Similarity.pqCodebook(base, dims = 64, m = 8, ksub = 16, seed = 42)
    assert(cb.length == 8 * 16 * 8)
    val enc = base.select(
        graft.functions.PqExprs.encode(col("embedding"), cb, 8, 16, 8).as("pq"))
      .select(col("pq.codes").as("codes"), col("pq.rnorm").as("rnorm")).collect()
    enc.foreach { r =>
      val codes = r.getSeq[Int](0)
      assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16))
      assert(r.getDouble(1) > 0.0, "real vectors reconstruct with positive norm")
    }
    // a planted zero vector and a ragged vector: rnorm 0 → NULL sim → the
    // degenerate rows never appear in any query's top-k
    val zero = Seq((9000L, Seq.fill(64)(0.0f)), (9001L, Seq.fill(3)(1.0f)))
      .toDF("vec_id", "embedding")
    val corpus = base.select("vec_id", "embedding").unionByName(zero)
    val out = Similarity.pqTopK(base.filter(col("vec_id") < 3), corpus, k = 50)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(!out.contains(9000L) && !out.contains(9001L),
      "degenerate vectors excluded by the zero-norm guard")
  }

  test("KNN classify predicts the planted label for a cloned cluster") {
    // train: 10 copies of vec 0 with label 7; queries: vec 0 itself
    val emb = Tables.embeddings(spark, sf)
    val v0 = emb.filter(col("vec_id") === 0)
    val train = (1 to 10).map(i => v0.select(lit(i.toLong * 100).as("vec_id"),
        col("embedding"), lit(7).as("label"))).reduce(_ unionByName _)
      .unionByName(emb.filter(col("vec_id").between(1, 20))
        .select(col("vec_id"), col("embedding"), lit(1).as("label")))
    val out = Knn.classify(v0, train, k = 5).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Int]("pred_label") == 7)
    assert(out.head.getAs[Long]("n_votes") == 5L)
  }

  test("MMR: planted near-duplicate cluster loses its second seat to the diverse candidate") {
    import graft.functions.MmrExpression
    import spark.implicits._
    // a1/a2 nearly identical (score 0.95/0.94), b orthogonal at 0.80:
    // pure relevance keeps {a1, a2}; MMR at lambda = 0.7 swaps in b
    val cands = Seq(Seq(
      (1L, 0.95, Seq(1.0f, 0.0f)),
      (2L, 0.94, Seq(0.999f, 0.01f)),
      (3L, 0.80, Seq(0.0f, 1.0f))))
      .toDF("cands")
      .select(MmrExpression.mmr(
        col("cands").cast("array<struct<id:bigint,score:double,vec:array<float>>>"),
        k = 2, lambdaPct = 70).as("picked"))
    val picked = cands.selectExpr("transform(picked, p -> p.id) AS ids")
      .as[Seq[Long]].head()
    assert(picked === Seq(1L, 3L))
  }

  test("MMR: all-NaN objectives degrade to a shorter pick list; wrong type fails at analysis") {
    import graft.functions.MmrExpression
    import spark.implicits._
    // round 1 uses raw scores, so one finite candidate is picked; round 2's
    // objectives are all NaN -> the kernel must truncate, not throw
    val cands = Seq(Seq(
      (1L, 0.9, Seq(1.0f, 0.0f)),
      (2L, Double.NaN, Seq(0.0f, 1.0f)),
      (3L, Double.NaN, Seq(0.5f, 0.5f))))
      .toDF("cands")
      .select(MmrExpression.mmr(
        col("cands").cast("array<struct<id:bigint,score:double,vec:array<float>>>"),
        k = 3, lambdaPct = 70).as("picked"))
    val picked = cands.selectExpr("transform(picked, p -> p.id) AS ids")
      .as[Seq[Long]].head()
    assert(picked === Seq(1L), s"NaN tail truncates the pick list, got $picked")
    // analysis-time signature: vec as array<double> must fail BEFORE execution
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Seq((1L, 0.9, Seq(1.0, 0.0)))).toDF("cands")
        .select(MmrExpression.mmr(col("cands"), k = 1, lambdaPct = 70))
        .queryExecution.analyzed
    }
    assert(err.getMessage.toLowerCase.contains("mmr expects"))
  }

  test("q160 lambda sweep: relevance rises with lambda, redundancy trades against it") {
    val rows = graft.SparkEntry.queries("q160_mmr_lambda_sweep")(spark, sf).collect()
    assert(rows.length == 6, "one row per grid point")
    val byL = rows.map(r => r.getAs[Int]("lambda_pct") ->
      (r.getAs[Double]("mean_relevance"), r.getAs[Double]("mean_redundancy"))).toMap
    val grid = Seq(0, 25, 50, 70, 85, 100)
    // greedy MMR is not theoretically monotone point-to-point, but the
    // relevance objective must be non-decreasing in lambda up to a small
    // numerical tolerance on this fixed corpus
    grid.sliding(2).foreach { case Seq(a, b) =>
      assert(byL(b)._1 >= byL(a)._1 - 1e-9,
        s"mean relevance dropped from lambda $a (${byL(a)._1}) to $b (${byL(b)._1})")
    }
    // the endpoints must show the actual trade: pure relevance picks the
    // most redundant set, pure diversity the least redundant
    assert(byL(100)._1 > byL(0)._1, "lambda=100 must be strictly more relevant than lambda=0")
    assert(byL(100)._2 >= byL(0)._2, "lambda=100 must be at least as redundant as lambda=0")
    info(f"rel 0->100: ${byL(0)._1}%.4f -> ${byL(100)._1}%.4f, " +
      f"red 0->100: ${byL(0)._2}%.4f -> ${byL(100)._2}%.4f")
  }

  test("q147 MMR matches a plain-Scala greedy reference on the real corpus") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0
      for (i <- 0 until n) dot += a(i).toDouble * b(i).toDouble
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
    }
    val got = graft.SparkEntry.queries("q147_mmr_rerank")(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq }
    got.foreach { case (q, pickedIds) =>
      // reference: exact top-20 shortlist by (sim desc, id asc), then greedy MMR
      val short = emb.keys.filter(_ != q).toSeq
        .map(id => (id, cos(emb(q), emb(id))))
        .sortBy { case (id, s) => (-s, id) }.take(20)
      var picked = Vector.empty[(Long, Double)]
      var remaining = short
      while (picked.length < 5 && remaining.nonEmpty) {
        val scored = remaining.map { case (id, s) =>
          val pen = if (picked.isEmpty) 0.0
            else picked.map(p => cos(emb(id), emb(p._1))).max
          val v = if (picked.isEmpty) s else 0.7 * s - 0.3 * pen
          (id, s, v)
        }
        val best = scored.minBy { case (id, _, v) => (-v, id) }
        picked :+= ((best._1, best._2))
        remaining = remaining.filterNot(_._1 == best._1)
      }
      assert(pickedIds === picked.map(_._1).toSeq, s"query $q diverged")
    }
    assert(got.nonEmpty)
  }

  test("q149 retrieval metrics: bounds, coherence, and a planted perfect query") {
    val rows = graft.SparkEntry.queries("q149_retrieval_eval")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, p5, mrr, ndcg) = (r.getAs[Long]("n_rel"), r.getAs[Double]("p_at_5"),
        r.getAs[Double]("mrr"), r.getAs[Double]("ndcg"))
      assert(n >= 0 && n <= 5)
      assert(p5 === n / 5.0)
      assert(mrr >= 0.0 && mrr <= 1.0)
      assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-12)
      // a query with zero relevant has every metric at zero; with any
      // relevant, MRR and NDCG are strictly positive
      if (n == 0) assert(mrr == 0.0 && ndcg == 0.0)
      else assert(mrr > 0.0 && ndcg > 0.0)
      // top-heavy coherence: if the first hit is relevant, NDCG is at
      // least DCG of one top hit over the ideal of n hits
      if (mrr == 1.0 && n == 5) assert(math.abs(ndcg - 1.0) < 1e-12)
    }
  }
}
