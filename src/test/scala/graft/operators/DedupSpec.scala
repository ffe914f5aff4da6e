package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val planted = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),  // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bend today"),  // near dup of 0
    (3L, "completely different words about spark distributed query engines and shuffles"),
    (4L, "another unrelated document mentioning parquet columnar storage formats"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bank today")   // exact dup of 0
  ).toDF("doc_id", "text")

  test("incremental dedup: corpus wins, delta clusters among itself, unique kept") {
    // corpus doc 0 is already served; delta doc 10 duplicates it, delta
    // docs 11/12 duplicate each other only (12 is longer → kept), 13 unique
    def withLen(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("n_chars", length(col("text")).cast("long"))
    val corpus = withLen(Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "completely different words about spark distributed query engines and shuffles")
    ).toDF("doc_id", "text"))
    val delta = withLen(Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (13L, "another unrelated document mentioning parquet columnar storage formats")
    ).toDF("doc_id", "text"))
    val out = Dedup.incrementalDedup(corpus, delta, "doc_id", "text", "n_chars")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("reason"), r.getAs[Boolean]("keep"))).toMap
    assert(out(10L) === ("dup_of_corpus", false), "existing copy wins unconditionally")
    assert(out(12L) === ("kept", true), "longer member represents the delta group")
    assert(out(11L) === ("dup_in_delta", false))
    assert(out(13L) === ("kept", true))
    assert(out.size === 4, "one verdict per delta doc, corpus rows never emitted")
  }

  test("exact dedup keeps min id and counts the group") {
    val out = Dedup.exact(planted, "doc_id", Seq("text"))
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    val big = out.find(_.getAs[Long]("n_dups") == 3).get
    assert(big.getAs[Long]("doc_id") == 0L)
  }

  test("ngram jaccard finds planted near-dups, not unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(planted, "doc_id", "text", n = 3, minJaccard = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 5L)) && pairs.contains((1L, 5L)))
    assert(pairs.contains((0L, 2L)), "near-dup (one word changed) above 0.5")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash banding proposes and verifies the same near-dups") {
    val pairs = Dedup.minHashPairs(planted, "doc_id", "text",
      n = 3, numHashes = 16, numBands = 4, minJaccard = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)), "identical docs always collide in every band")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash kernel signature equals the composable form, incl. null/empty text") {
    // the kernel is an optimization of an executable specification: both
    // forms must agree value-for-value on real docs AND the degenerate rows
    // (null text / too-short text → all-MaxValue signature)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(spark.sql(
        "SELECT CAST(-1 AS BIGINT) AS doc_id, CAST(NULL AS STRING) AS text " +
        "UNION ALL SELECT CAST(-2 AS BIGINT), 'two words'"))
    val rows = docs.select(
        col("doc_id"),
        Dedup.minHashSignature(col("text"), 3, 16).as("kernel"),
        Dedup.minHashSignatureComposable(col("text"), 3, 16).as("spec"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1).toVector === r.getSeq[Long](2).toVector,
        s"signature mismatch for doc ${r.getAs[Long]("doc_id")}")
    }
    assert(rows.find(_.getAs[Long]("doc_id") == -1L).get
      .getSeq[Long](1).forall(_ == Long.MaxValue))
  }

  test("simhash of NULL text is 0, matching the composable form and the oracle") {
    // The composable sum(when(...)) form — and q33's DuckDB CASE mirror —
    // computes 0 for NULL text; the kernel coalesces to the same value so
    // null-text docs bucket under signature 0, never NULL.
    val df = spark.sql("SELECT CAST(NULL AS STRING) AS text UNION ALL SELECT 'a b a'")
    val sigs = df.select(Dedup.simHash(col("text")).as("s")).collect().map(_.getLong(0))
    assert(sigs.contains(0L))
    assert(sigs.forall(_ >= 0L))
  }

  test("simhash hamming pairs find the near-dup via pigeonhole blocking") {
    val pairs = Dedup.simHashPairs(planted, "doc_id", "text", bits = 16, maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // identical docs are hamming-0 pairs
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 5L)) && pairs.contains((1L, 5L)))
    // unrelated docs don't appear
    assert(!pairs.contains((3L, 4L)))
  }

  test("connected components resolve a transitive chain to one min-id group") {
    // chain: 1-2, 2-3 (but never 1-3), plus a separate pair 7-6 and a long
    // path 10-11-...-19 exercising the pointer-jump convergence
    val chain = (10L until 19L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (7L, 6L)) ++ chain).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("canonical_id")).toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L,
      s"transitive chain collapses to min id: $cc")
    assert(cc(6L) == 6L && cc(7L) == 6L, "min id wins regardless of pair order")
    assert((10L to 19L).forall(cc(_) == 10L), s"long path converges: $cc")
    assert(cc.size == 15, "exactly the nodes appearing in pairs")
  }

  test("connected components: tiny-graph round mode matches the default shape") {
    // graphs within tinyEdgeLimit are solved by one single-task union-find;
    // the labeling must be identical to the iterative label rounds that
    // every larger graph runs (limit 0 forces those on this graph)
    val chain = (10L until 19L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (7L, 6L)) ++ chain).toDF("id_a", "id_b")
    def labelsWith(tinyEdgeLimit: Long): Map[Long, Long] =
      Dedup.connectedComponents(pairs, tinyEdgeLimit = tinyEdgeLimit).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("canonical_id")).toMap
    assert(labelsWith(1000000L) == labelsWith(0L))
  }

  test("connected components raise instead of returning partial labels at maxIter") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 0).collect()
    }
    assert(e.getMessage.contains("converge"))
  }

  test("dedupGroups: transitive near-dup texts collapse, singletons keep themselves") {
    // A~B and B~C share shingle windows but A and C share none
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w5 w6 w7 w8 w9 w10 w11 w12"),
      (3L, "w9 w10 w11 w12 w13 w14 w15 w16"),
      (4L, "totally separate vocabulary about columnar execution engines")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.1)
    val pairSet = pairs.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairSet == Set((1L, 2L), (2L, 3L)), s"A~C must NOT be a direct pair: $pairSet")
    val groups = Dedup.dedupGroups(docs, "doc_id", pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L),
      s"closure groups A,B,C under min id; the singleton stays put: $groups")
  }

  test("dedupGroups on a corpus with zero pairs: every doc is its own canonical") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
    assert(pairs.isEmpty, "fixture must produce no near-dup pairs")
    val groups = Dedup.dedupGroups(docs, "doc_id", pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    assert(groups == Map(1L -> 1L, 2L -> 2L),
      "empty pair graph must not crash; singletons keep themselves")
  }

  test("semantic dedup: cosine-pair graph closes transitively, keeps min id") {
    // q123's shape on a planted fixture: v1~v2 and v2~v3 are near (chain —
    // v1·v3 alone is below threshold), v4 is orthogonal. The closure must
    // group {1,2,3} under min id 1 and keep the singleton 4 as itself.
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.436f, 0.0f)),   // cos(v1,v2) ≈ 0.90
      (3L, Seq(0.62f, 0.785f, 0.0f)),  // cos(v2,v3) ≈ 0.90, cos(v1,v3) ≈ 0.62
      (4L, Seq(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val edges = Similarity.cosinePairs(vecs, minCosine = 0.85).select("id_a", "id_b")
    val pairSet = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == Set((1L, 2L), (2L, 3L)),
      s"fixture must be a chain, not a clique: $pairSet")
    val groups = Dedup.dedupGroups(vecs.select("vec_id"), "vec_id", edges).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("canonical_id")).toMap
    assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L),
      s"transitive closure under min id; orthogonal vector untouched: $groups")
  }

  test("shingles handle short and empty texts") {
    val df = Seq((0L, "one two"), (1L, ""), (2L, "a b c d")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .orderBy("doc_id").collect()
    assert(out(0).getSeq[String](1).isEmpty)
    assert(out(1).getSeq[String](1).isEmpty)
    assert(out(2).getSeq[String](1) == Seq("a b c", "b c d"))
  }

  // ── exact substring-span dedup (q125/q126, Lee et al. 2021) ──
  // doc 0 and doc 1 share the run "c d e f g h" at different offsets;
  // doc 2 is a strict substring of doc 0's tail (and overlaps doc 1's
  // shared run) so its cut intervals [1,8] ∪ [1,6] must union-merge to
  // full removal; doc 3 repeats a phrase only WITHIN itself; doc 4 is
  // too short for a trigram.
  private lazy val spanDocs = Seq(
    (0L, "x1 x2 c d e f g h x3 x4"),
    (1L, "y1 c d e f g h y2"),
    (2L, "c d e f g h x3 x4"),
    (3L, "p q r s p q r s p q r s"),
    (4L, "zz")
  ).toDF("doc_id", "text")

  test("spanPairs reports maximal duplicated runs with exact positions") {
    val spans = Dedup.spanPairs(spanDocs, "doc_id", "text",
        k = 2, minSpan = 4, maxOcc = 100)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("start_a"), r.getAs[Long]("start_b"),
        r.getAs[Long]("span_toks"))).toSet
    assert(spans === Set(
      (0L, 1L, 3L, 2L, 6L),   // "c d e f g h": doc0 pos 3-8, doc1 pos 2-7
      (0L, 2L, 3L, 1L, 8L),   // "c d e f g h x3 x4": doc2 is doc0's tail
      (1L, 2L, 2L, 1L, 6L)),
      s"exactly the planted maximal spans, nothing from the intra-doc repeat: $spans")
  }

  test("spanPairs: intra-doc repetition alone is never a cross-doc span") {
    val only3 = spanDocs.filter(col("doc_id") === 3L)
    assert(Dedup.spanPairs(only3, "doc_id", "text", k = 2, minSpan = 2, maxOcc = 100)
      .isEmpty, "a doc repeating itself emits no pairs")
  }

  test("spanPairs stop-gram cutoff drops over-frequent grams") {
    val two = spanDocs.filter(col("doc_id") < 2L)
    // every shared bigram occurs twice; maxOcc = 1 drops them all
    assert(Dedup.spanPairs(two, "doc_id", "text", k = 2, minSpan = 4, maxOcc = 1).isEmpty)
    assert(!Dedup.spanPairs(two, "doc_id", "text", k = 2, minSpan = 4, maxOcc = 2).isEmpty)
  }

  test("spanScrub cuts only the higher-id copy and union-merges overlaps") {
    val out = Dedup.spanScrub(spanDocs, "doc_id", "text",
        k = 2, minSpan = 4, maxOcc = 100)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_toks"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text")))).toMap
    assert(out(0L) === ((10L, 0L, "x1 x2 c d e f g h x3 x4")), "lowest id keeps its text")
    assert(out(1L) === ((8L, 6L, "y1 y2")), "doc1 loses the shared run, keeps its frame")
    assert(out(2L) === ((8L, 8L, "")), "[1,8] and [1,6] merge to full removal")
    assert(out(3L) === ((12L, 0L, "p q r s p q r s p q r s")), "self-repeat untouched")
    assert(out(4L) === ((1L, 0L, "zz")), "sub-gram-length doc passes through")
    // conservation: survivors + removed = original token count, every doc
    out.values.foreach { case (n, cut, clean) =>
      val kept = if (clean.isEmpty) 0 else clean.split(" ").length
      assert(kept + cut === n)
    }
  }

  test("positional grams kernel: ordered with repeats, empty below k") {
    val df = Seq((0L, "A b; a B c"), (1L, "x"), (2L, "")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        graft.functions.PositionalGramsExpr.grams(col("text"), 2).as("g"))
      .orderBy("doc_id").collect()
    assert(out(0).getSeq[String](1) === Seq("a b", "b a", "a b", "b c"),
      "lowercased, order preserved, repeats kept (unlike shingles' distinct)")
    assert(out(1).getSeq[String](1).isEmpty && out(2).getSeq[String](1).isEmpty)
  }
}
