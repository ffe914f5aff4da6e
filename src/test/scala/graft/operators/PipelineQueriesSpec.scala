package graft.operators

import graft.SparkSpec

/** Property pins for the mixture/LM pipeline queries whose full semantics
  * live in the DuckDB oracle gate: these assert the invariants the oracle
  * can't phrase (determinism across runs, probability structure).
  */
class PipelineQueriesSpec extends SparkSpec {

  test("dedupKeepFlagsFrom(precomputed labels) matches the self-contained q59 exactly") {
    // the production pattern: ONE connected-components run feeds every
    // consumer — labels computed once here, handed to the overload, and the
    // result must be row-identical to the declared query that re-derives them
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf).filter(col("doc_id") < 200)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, minJaccard = 0.5, maxDocFreq = 1000)
    val labels = Dedup.dedupGroups(docs.select("doc_id"), "doc_id", pairs)
    val reused = DedupQueries.dedupKeepFlagsFrom(labels, docs)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val declared = DedupQueries.q59DedupKeeplist.build(spark, sf)
      .collect().map(_.toString).toSeq
    assert(reused === declared)
  }

  test("q78: recall/candidate bounds, LSH frontier orders by candidate mass") {
    val rows = VectorQueries.q78AnnRecall.build(spark, sf).collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Double]("recall"), r.getAs[Double]("candidate_fraction"))).toMap
    assert(rows.keySet ===
      Set("lsh_4x8", "lsh_16x6", "lsh_28x4", "ivf_top5", "pq_8x64_r50"))
    rows.foreach { case (m, (rec, cand)) =>
      assert(rec >= 0.0 && rec <= 1.0, s"$m recall out of [0,1]: $rec")
      assert(cand >= 0.0 && cand <= 1.0, s"$m candidate_fraction out of [0,1]: $cand")
    }
    // verified-candidate methods can never beat the exact set (found ⊆ truth),
    // and more bands of fewer bits must examine more pairs AND recall more —
    // the frontier the report exists to show
    val frontier = Seq(rows("lsh_4x8"), rows("lsh_16x6"), rows("lsh_28x4"))
    assert(frontier.map(_._2) === frontier.map(_._2).sorted,
      "candidate mass grows along the 4x8 → 16x6 → 28x4 frontier")
    assert(frontier.map(_._1) === frontier.map(_._1).sorted,
      "recall grows along the frontier")
  }

  test("q56: deterministic sample, rates in (0, 1], rate shrinks with source size") {
    val a = CorpusQueries.q56MixtureResample.build(spark, sf).collect()
    val b = CorpusQueries.q56MixtureResample.build(spark, sf).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq, "same sample every run")
    assert(a.nonEmpty)
    val rates = a.map(r => r.getAs[String]("source") -> r.getAs[Double]("keep_rate")).toMap
    assert(rates.values.forall(r => r > 0.0 && r <= 1.0))
    // the anchor source (largest token total) must have the SMALLEST rate
    // (1/2 by construction unless every source ties)
    assert(rates.values.min >= 0.5, "anchored flattening never drops below α=1/2 of the max source")
  }

  test("q57: conditional probabilities are exact count ratios with coherent prefixes") {
    val rows = CorpusQueries.q57BigramLm.build(spark, sf).collect()
    assert(rows.length === 30)
    rows.foreach { r =>
      val (nAb, nA, p) =
        (r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"), r.getAs[Double]("p_cond"))
      assert(nAb >= 1 && nA >= nAb, s"prefix total covers the pair: $r")
      assert(p === nAb.toDouble / nA.toDouble, s"exact IEEE ratio: $r")
    }
    // within any prefix, listed pairs can't exceed the prefix mass
    rows.groupBy(_.getAs[String]("a")).foreach { case (a, g) =>
      val nA = g.head.getAs[Long]("n_a")
      assert(g.map(_.getAs[Long]("n_ab")).sum <= nA, s"prefix '$a' mass exceeded")
    }
    // top-30 ordering is by raw pair count, descending
    val counts = rows.map(_.getAs[Long]("n_ab")).toSeq
    assert(counts === counts.sorted.reverse)
  }

  test("q58: quantized surprisal is an exact integer-bit average, ordered desc") {
    val rows = CorpusQueries.q58LmSurprisal.build(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (n, s, avg) = (r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("sum_bits"), r.getAs[Double]("avg_bits"))
      assert(n >= 1 && s >= 0)
      assert(avg === s.toDouble / n.toDouble, s"exact IEEE ratio: $r")
      // floor(log2(n_a/n_ab)) < 63 bits always; a corpus-sized bound is
      // tighter: no bigram can be rarer than 1 in the total bigram count
      assert(avg <= 63.0)
    }
    val avgs = rows.map(_.getAs[Double]("avg_bits")).toSeq
    assert(avgs === avgs.sorted.reverse, "most-surprising-first ordering")
  }

  test("q59: exactly one keep per group, and it is the argmax-quality member") {
    val rows = DedupQueries.q59DedupKeeplist.build(spark, sf).collect()
    assert(rows.nonEmpty)
    val byGroup = rows.groupBy(_.getAs[Long]("group_id"))
    byGroup.foreach { case (g, members) =>
      val kept = members.filter(_.getAs[Boolean]("keep"))
      assert(kept.length === 1, s"group $g keeps exactly one")
      // group label is the min member id (CC convention), always a member
      assert(members.map(_.getAs[Long]("doc_id")).min === g)
      // the keeper maximizes (n_chars, -doc_id)
      val best = members.maxBy(r =>
        (r.getAs[Long]("n_chars"), -r.getAs[Long]("doc_id")))
      assert(kept.head.getAs[Long]("doc_id") === best.getAs[Long]("doc_id"))
    }
    // the keep-list is a partition of the input: every doc appears once
    val ids = rows.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids.distinct.length === ids.length)
  }

  test("q100: bounded-heap postings ≡ collect-then-slice; df consistent with list length") {
    val out = ServingQueries.q100InvertedIndex.build(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val df = r.getAs[Long]("df")
      val postings = r.getAs[String]("postings_csv").split(",").map(_.toLong)
      assert(df >= 10, "df threshold applied")
      assert(postings.length == math.min(df, 20L), "postings truncate at 20, never below df")
      assert(postings.zip(postings.tail).forall { case (a, b) => a < b },
        "postings strictly increasing in doc order")
    }
    // the bounded heap must agree with the definitional collect-then-slice
    // (safe at spec scale, the thing the heap replaces at corpus scale)
    import org.apache.spark.sql.functions._
    val naive = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(filter(split(lower(col("text")), "\\W+"), t => t =!= "")).as("token"))
      .distinct()
      .groupBy("token")
      .agg(count(lit(1)).as("df"), sort_array(collect_list(col("doc_id"))).as("post"))
      .filter(col("df") >= 10)
      .select(col("token"), array_join(slice(col("post"), 1, 20).cast("array<string>"), ",").as("postings_csv"))
      .collect().map(r => r.getAs[String]("token") -> r.getAs[String]("postings_csv")).toMap
    assert(out.map(r => r.getAs[String]("token") -> r.getAs[String]("postings_csv")).toMap == naive)
  }

  test("q116: source Jaccard in (0, 1]; intersections bounded by both set sizes") {
    val rows = CorpusQueries.q116SourceOverlap.build(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nab, na, nb) = (r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(nab <= math.min(na, nb))
      val j = r.getAs[Double]("jaccard")
      assert(j > 0 && j <= 1.0)
      assert(j == nab.toDouble / (na + nb - nab).toDouble, "exact set arithmetic")
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"), "canonical pair order")
    }
  }

  test("q115: keywords are ≤3 per doc, every doc covered, top_score positive") {
    val rows = CorpusQueries.q115KeywordExtract.build(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length == docs, "every (non-empty) document gets keywords")
    rows.foreach { r =>
      val kws = r.getAs[String]("keywords").split(",")
      assert(kws.nonEmpty && kws.length <= 3 && kws.distinct.length == kws.length)
      assert(r.getAs[Double]("top_score") > 0)
    }
  }

  test("q94: lifts are internally consistent (single integer N) and ordered desc") {
    val rows = CorpusQueries.q94Collocations.build(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    // lift = n_ab·N / (n_a·n_b) ⇒ N = lift·n_a·n_b / n_ab must recover the
    // SAME integer bigram total from every row — any marginal/total mixup
    // (swapped n_a/n_b, filtered-before-marginal counts) breaks this
    val ns = rows.map { r =>
      val lift = r.getAs[Double]("lift")
      lift * r.getAs[Long]("n_a") * r.getAs[Long]("n_b") / r.getAs[Long]("n_ab")
    }
    val n0 = math.round(ns.head)
    ns.foreach(n => assert(math.abs(n - n0) < 1e-6 * n0, s"inconsistent N: $n vs $n0"))
    rows.foreach(r => assert(r.getAs[Long]("n_ab") >= 5, "min-count filter applied"))
    val lifts = rows.map(_.getAs[Double]("lift"))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b }, "ranked by lift desc")
  }

  test("q161: KMV estimates land inside the k=64 error envelope; merge is consistent") {
    val rows = graft.SparkEntry.queries("q161_kmv_sketch")(spark, sf).collect()
    val bySrc = rows.map(r => r.getAs[String]("scope") ->
      (r.getAs[Long]("n_exact"), r.getAs[Long]("est_distinct"))).toMap
    assert(bySrc.contains("(all)"), "the merged corpus row is present")
    bySrc.foreach { case (scope, (exact, est)) =>
      if (exact <= 64) assert(est == exact, s"$scope: small sets are exact")
      else {
        // KMV stddev is ~1/sqrt(k-2) = 12.7% at k=64; 5 sigma = ~64%
        val relErr = math.abs(est - exact).toDouble / exact
        assert(relErr < 0.64, s"$scope: est $est vs exact $exact (relErr $relErr)")
      }
    }
    // the merged estimate must agree with sketching the union directly:
    // global k smallest hashes are each their source's k smallest
    val (allExact, allEst) = bySrc("(all)")
    assert(allExact >= bySrc.filter(_._1 != "(all)").values.map(_._1).max,
      "global distinct count dominates every per-source count")
    assert(allEst > 64, "the corpus vocabulary exceeds the sketch size")
  }

  test("q163: 13-gram decon flags the planted cross-source span, bounds hold") {
    val rows = graft.SparkEntry.queries("q163_ngram_decontaminate")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, hit) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_contaminated"))
      assert(hit >= 0 && hit <= n, s"doc ${r.getAs[Long]("doc_id")}: $hit hits of $n grams")
      assert(r.getAs[Boolean]("contaminated") == (hit > 0))
    }
    // the corpus plants long shared spans across sources (q125's fixture
    // property), so the eval slice contaminates at least one training doc
    assert(rows.exists(_.getAs[Boolean]("contaminated")),
      "no contamination found — the 13-gram join is not seeing the planted spans")
    // and exact-text decon would NOT have caught these (they are
    // sub-document overlaps, not identical docs): the contaminated docs'
    // texts are not verbatim in src0
    val docs = graft.sources.Tables.documents(spark, sf)
    val evTexts = docs.filter(org.apache.spark.sql.functions.col("source") === "src0")
      .select("text").collect().map(_.getString(0)).toSet
    val contaminatedIds = rows.filter(_.getAs[Boolean]("contaminated")).map(_.getAs[Long]("doc_id"))
    val contaminatedTexts = docs
      .filter(org.apache.spark.sql.functions.col("doc_id").isin(contaminatedIds: _*))
      .select("text").collect().map(_.getString(0))
    assert(contaminatedTexts.exists(t => !evTexts.contains(t)),
      "q163 should catch sub-document leakage exact-text decon misses")
  }

  test("q164: banding recall is ~0 in the chance regime and 1.0 above the design threshold") {
    val rows = graft.SparkEntry.queries("q164_lsh_dedup_recall")(spark, sf).collect()
      .map(r => r.getAs[Double]("threshold") ->
        (r.getAs[Long]("n_true"), r.getAs[Long]("n_caught"), r.getAs[Long]("n_candidates")))
      .toMap
    assert(rows.size == 6)
    rows.foreach { case (t, (nTrue, nCaught, _)) =>
      assert(nCaught <= nTrue, s"threshold $t: caught $nCaught of $nTrue")
    }
    // chance-collision regime: banding must NOT surface the junk pairs
    val (junkTrue, junkCaught, _) = rows(0.02)
    assert(junkTrue > 10, "the slice has a junk-pair population to measure against")
    assert(junkCaught.toDouble / junkTrue < 0.5,
      s"banding should reject the chance regime: $junkCaught/$junkTrue")
    // design regime: every true near-dup pair is surfaced
    val (dupTrue, dupCaught, nCand) = rows(0.5)
    assert(dupTrue > 0 && dupCaught == dupTrue,
      s"recall must be 1.0 above the design threshold: $dupCaught/$dupTrue")
    // and the candidate set is tight (precision evidence)
    assert(nCand <= dupTrue * 2, s"candidate set $nCand should stay near the true set $dupTrue")
  }

  test("q166: integer ANN recall — per-query invariants and the recall/cost frontier") {
    val rows = graft.SparkEntry.queries("q166_ann_recall_exact")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ne, nc, cand) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_caught"),
        r.getAs[Long]("n_candidates"))
      assert(ne > 0 && ne <= 5 && nc >= 0 && nc <= ne,
        s"caught $nc of $ne exact neighbors")
      assert(r.getAs[Double]("recall") == nc.toDouble / ne.toDouble)
      assert(cand >= nc, "every caught neighbor is by definition a candidate")
    }
    // the frontier: the wider 4x4 banding pays more candidates and catches
    // at least as much as 8x8 in aggregate (monotone collision probability)
    def tot(cfg: String, f: org.apache.spark.sql.Row => Long) =
      rows.filter(_.getAs[String]("config") == cfg).map(f).sum
    assert(tot("lsh_4x4", _.getAs[Long]("n_candidates"))
      > tot("lsh_8x8", _.getAs[Long]("n_candidates")))
    assert(tot("lsh_4x4", _.getAs[Long]("n_caught"))
      >= tot("lsh_8x8", _.getAs[Long]("n_caught")))
  }

  test("q169: integer MMR picks match a plain-Scala greedy reference exactly") {
    import org.apache.spark.sql.functions.{broadcast, col, row_number}
    // rebuild the same shortlist inputs the query uses, then run the greedy
    // loop naively on the driver and require identical picks and objectives
    val quant = graft.sources.Tables.embeddings(spark, sf)
      .withColumn("scale", graft.functions.VectorFns.maxAbs(col("embedding")))
      .select(col("vec_id"),
        graft.functions.VectorFns.quantizeInt8(col("embedding"), col("scale")).as("qv"))
    val qs = quant.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("qv").as("qv_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rel").desc, col("cand_id"))
    val cands = quant.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("qv"),
        graft.functions.LongDotExpr.dot(col("qv_q"), col("qv")).as("rel"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"),
        r.getAs[Seq[Long]]("qv").toArray, r.getAs[Long]("rel")))
      .groupBy(_._1)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val want = cands.flatMap { case (qid, cs) =>
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (cand, obj)
      val remaining = scala.collection.mutable.Set(cs.map(_._2): _*)
      val byId = cs.map(c => c._2 -> c).toMap
      for (t <- 1 to 5) {
        val best = remaining.toSeq.map { id =>
          val c = byId(id)
          val objV =
            if (t == 1) c._4
            else 70L * c._4 - 30L * picked.map(p => dot(c._3, byId(p._1)._3)).max
          (objV, id)
        }.maxBy { case (o, id) => (o, -id) }
        picked += ((best._2, best._1))
        remaining -= best._2
      }
      picked.zipWithIndex.map { case ((id, obj), i) => (qid, i + 1, id, obj) }
    }.toSet
    val got = graft.SparkEntry.queries("q169_mmr_exact")(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("pick_order"),
        r.getAs[Long]("cand_id"), r.getAs[Long]("obj"))).toSet
    assert(got === want)
  }

  test("q170: integer k-means matches a plain-Scala Lloyd reference exactly") {
    import org.apache.spark.sql.functions.col
    val quant = graft.sources.Tables.embeddings(spark, sf)
      .withColumn("scale", graft.functions.VectorFns.maxAbs(col("embedding")))
      .select(col("vec_id"),
        graft.functions.VectorFns.quantizeInt8(col("embedding"), col("scale")).as("qv"))
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Long]]("qv").toArray)
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, c) => (x - c) * (x - c) }.sum
    var cents = quant.filter(_._1 < 8).map { case (id, qv) => id -> qv.clone() }
    def assign() = quant.map { case (id, qv) =>
      val best = cents.map { case (cid, c) => (d2(qv, c), cid) }.min
      (id, qv, best._2, best._1)
    }
    for (_ <- 1 to 3) {
      val byCid = assign().groupBy(_._3)
      cents = cents.map { case (cid, old) =>
        cid -> (byCid.get(cid) match {
          case Some(members) =>
            Array.tabulate(64)(p => members.map(_._2(p)).sum / members.length)
          case None => old
        })
      }
    }
    val fin = assign().groupBy(_._3)
    val want = cents.map { case (cid, c) =>
      val m: Seq[(Long, Array[Long], Long, Long)] =
        fin.get(cid).map(_.toSeq).getOrElse(Seq.empty)
      (cid, m.size.toLong, m.map(_._4).sum, c.mkString(","))
    }.toSet
    val got = graft.SparkEntry.queries("q170_kmeans_exact")(spark, sf).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("n_members"),
        r.getAs[Long]("inertia"), r.getAs[String]("centroid"))).toSet
    assert(got === want)
    // the census is a partition of the corpus
    assert(got.toSeq.map(_._2).sum === quant.length.toLong)
  }

  test("q171: IVF recall invariants — candidates come from probed cells only") {
    val rows = graft.SparkEntry.queries("q171_ivf_recall_exact")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ne, nc, cand) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_caught"),
        r.getAs[Long]("n_candidates"))
      assert(ne > 0 && ne <= 5 && nc >= 0 && nc <= ne)
      assert(r.getAs[Double]("recall") == nc.toDouble / ne.toDouble)
      assert(cand >= nc, "caught neighbors are candidates by definition")
    }
    // probing 2 of 8 cells must actually REDUCE reads: the mean candidate
    // set stays well under the whole corpus
    val corpus = graft.sources.Tables.embeddings(spark, sf).count()
    val meanCand = rows.map(_.getAs[Long]("n_candidates")).sum.toDouble / rows.length
    assert(meanCand < corpus * 0.8, s"probed candidates $meanCand vs corpus $corpus")
  }

  test("q172: PQ recall invariants — the shortlist dominates raw ADC@5") {
    val rows = graft.SparkEntry.queries("q172_pq_recall_exact")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ne, a5, r50) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_caught_adc5"),
        r.getAs[Long]("n_caught_r50"))
      assert(ne > 0 && ne <= 5)
      // ADC top-5 ⊆ ADC top-50, so the shortlist can only catch MORE
      assert(a5 >= 0 && a5 <= r50 && r50 <= ne)
      assert(r.getAs[Double]("recall_adc5") == a5.toDouble / ne.toDouble)
      assert(r.getAs[Double]("recall_r50") == r50.toDouble / ne.toDouble)
    }
  }

  test("q173: CMS one-sided guarantee and monotone width improvement") {
    val rows = graft.SparkEntry.queries("q173_cms_sketch")(spark, sf).collect()
    assert(rows.length == 60) // 3 widths x top-20
    rows.foreach { r =>
      // est >= exact, always — the Count-Min one-sided error guarantee
      assert(r.getAs[Long]("overestimate") >= 0L,
        s"CMS underestimated ${r.getAs[String]("bigram")}")
      assert(r.getAs[Long]("est_cms") ==
        r.getAs[Long]("n_exact") + r.getAs[Long]("overestimate"))
    }
    val meanOver = rows.groupBy(_.getAs[Long]("width"))
      .view.mapValues(rs => rs.map(_.getAs[Long]("overestimate")).sum.toDouble / rs.size)
      .toMap
    // the sizing curve: mean overestimate non-increasing as the sketch widens
    assert(meanOver(64L) >= meanOver(512L) && meanOver(512L) >= meanOver(4096L),
      s"width sweep not monotone: $meanOver")
    assert(meanOver(64L) > 0.0, "w=64 should show real collisions on this stream")
  }

  test("q174: BM25 ranks are dense per query and scores positive-descending") {
    val rows = graft.SparkEntry.queries("q174_bm25_topk")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to rs.length.toLong),
        s"query $qid ranks not dense")
      val scores = byRank.map(_.getAs[Double]("score"))
      assert(scores.forall(_ > 0.0))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $qid scores not descending")
    }
  }

  test("q176: DSIR weights — target docs rescored as raw outrank the raw pool") {
    val rows = graft.SparkEntry.queries("q176_dsir_weights")(spark, sf).collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bigrams") > 0L)
      assert(r.getAs[Double]("avg_bits") ==
        r.getAs[Long]("sum_bits").toDouble / r.getAs[Long]("n_bigrams").toDouble)
    }
    // ordering is by avg_bits desc then doc_id
    val avgs = rows.map(_.getAs[Double]("avg_bits"))
    assert(avgs.zip(avgs.tail).forall { case (a, b) => a >= b })
  }

  test("q177: EWMA fold matches a plain-Scala recurrence per nation") {
    val rows = graft.SparkEntry.queries("q177_ewma_trend")(spark, sf).collect()
    assert(rows.nonEmpty)
    // recompute the recurrence from the same (nation, day) series
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    def cents(c: org.apache.spark.sql.Column) =
      (c.cast(DecimalType(18, 2)) * 100).cast("long")
    val rev = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.supplier(spark, sf)
          .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"), to_date(col("l_shipdate")).as("day"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("r"))
      .groupBy("nk", "day").agg(sum(col("r")).cast("long").as("x"))
      .join(graft.sources.Tables.nation(spark, sf)
          .select(col("n_nationkey").as("nk"), col("n_name")),
        "nk")
      .collect()
      .groupBy(_.getAs[String]("n_name"))
    rows.foreach { row =>
      val series = rev(row.getAs[String]("nation"))
        .sortBy(_.getAs[java.sql.Date]("day").toString).map(_.getAs[Long]("x"))
      var (s, mx) = (-1L, 0L)
      series.foreach { x =>
        if (s == -1L) s = x
        else { mx = math.max(mx, math.abs(x - s)); s = (x + 3 * s) / 4 }
      }
      assert(row.getAs[Long]("ewma_micro") == s, s"nation ${row.getString(0)}")
      assert(row.getAs[Long]("max_dev_micro") == mx)
      assert(row.getAs[Long]("n_days") == series.length.toLong)
    }
    assert(rows.length == rev.size, "one output row per supplier nation")
  }

  test("q194: largest-remainder quotas sum to B, stay within 1 of proportional") {
    val rows = graft.SparkEntry.queries("q194_stratified_sample")(spark, sf).collect()
    assert(rows.length == 200, "the roster is exactly the budget")
    val again = graft.SparkEntry.queries("q194_stratified_sample")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "content-hash ranks make the sample reproducible")
    val byStratum = rows.groupBy(r => (r.getAs[String]("lang"), r.getAs[String]("source")))
    val n = graft.sources.Tables.documents(spark, sf).count()
    byStratum.foreach { case ((lang, src), picks) =>
      val quota = picks.head.getAs[Long]("quota")
      val nh = picks.head.getAs[Long]("n_h")
      assert(picks.length.toLong == quota, s"($lang,$src) roster matches its quota")
      assert(quota <= nh, "never allocated past the stratum size")
      val base = 200L * nh / n
      assert(quota == base || quota == base + 1,
        s"($lang,$src) within 1 of exact proportionality")
      assert(picks.map(_.getAs[Long]("pick")).sorted.toSeq == (1L to quota).toSeq,
        "picks are the quota lowest hash ranks, densely numbered")
    }
    assert(byStratum.values.map(_.head.getAs[Long]("quota")).sum == 200L)
  }

  test("q195: simplified silhouette matches a plain-Scala reference") {
    val rows = graft.SparkEntry.queries("q195_silhouette")(spark, sf).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions._
    // rebuild the int8 corpus and centroids exactly as the query does:
    // centroid strings come from q170's own output (the shared memo)
    val quant = graft.sources.Tables.embeddings(spark, sf)
      .withColumn("scale", graft.functions.VectorFns.maxAbs(col("embedding")))
      .select(col("vec_id"),
        graft.functions.VectorFns.quantizeInt8(col("embedding"), col("scale")).as("qv"))
      .collect().map(r => r.getAs[Seq[Long]]("qv").toArray)
    val cents = graft.SparkEntry.queries("q170_kmeans_exact")(spark, sf).collect()
      .map(r => r.getAs[Long]("cid") ->
        r.getAs[String]("centroid").split(",").map(_.toLong)).sortBy(_._1)
    def d2(x: Array[Long], c: Array[Long]): Long =
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    val per = scala.collection.mutable.Map[Long, (Long, BigInt, Long)]()
      .withDefaultValue((0L, BigInt(0), 0L))
    quant.foreach { x =>
      val ds = cents.map { case (cid, c) => (d2(x, c), cid) }.sorted
      val (a2, own) = ds.head
      val b2 = ds.filter(_._2 != own).map(_._1).min
      val sil = if (math.max(a2, b2) == 0) 0L
        else (b2 - a2) * 1000000L / math.max(a2, b2)
      val (n, sum, neg) = per(own)
      per(own) = (n + 1, sum + sil, neg + (if (sil < 0) 1L else 0L))
    }
    rows.foreach { r =>
      val (n, sum, neg) = per(r.getAs[Long]("cid"))
      assert(r.getAs[Long]("n_members") == n)
      assert(r.getAs[Long]("mean_sil_micro") == (sum / n).toLong,
        s"cid ${r.getAs[Long]("cid")}")
      assert(r.getAs[Long]("n_misplaced") == neg)
    }
    assert(rows.map(_.getAs[Long]("n_members")).sum == quant.length)
  }

  test("q196: kappa matches a plain-Scala marginal computation per source") {
    val rows = graft.SparkEntry.queries("q196_cohens_kappa")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "n_chars", "text").collect()
      .map { r =>
        val text = r.getAs[String]("text")
        val spaces = (text.length - text.replace(" ", "").length).toLong
        (r.getAs[String]("source"),
          math.min(r.getAs[Long]("n_chars") / 200, 2L), math.min(spaces / 35, 2L))
      }.groupBy(_._1)
    rows.foreach { row =>
      val g = docs(row.getAs[String]("source"))
      val n = BigInt(g.length)
      val agree = BigInt(g.count(t => t._2 == t._3))
      val pe = (0L to 2L).map(c =>
        BigInt(g.count(_._2 == c)) * g.count(_._3 == c)).sum
      assert(row.getAs[Long]("n_docs") == n.toLong)
      assert(row.getAs[Long]("n_agree") == agree.toLong)
      assert(row.getAs[Long]("po_micro") == (agree * 1000000 / n).toLong)
      val expected = if (n * n == pe) 0L
        else ((agree * n - pe) * 1000000 / (n * n - pe)).toLong
      assert(row.getAs[Long]("kappa_micro") == expected, row.getString(0))
      assert(row.getAs[Long]("kappa_micro") <= 1000000L)
    }
    assert(rows.length == docs.size)
  }

  test("q197: Gini from count-of-counts equals the definitional sorted-rank Gini") {
    val rows = graft.SparkEntry.queries("q197_skew_audit")(spark, sf).collect()
    assert(rows.length == 5)
    def giniOf(counts: Seq[Long]): (Long, Long, Long, Long) = {
      val x = counts.sorted
      val k = BigInt(x.length)
      val n = BigInt(x.sum)
      val num = x.zipWithIndex.map { case (v, i) =>
        BigInt(2 * (i + 1) - 1) * v - k * v
      }.sum
      ((n).toLong, k.toLong, (BigInt(x.max) * 1000000 / n).toLong,
        (num * 1000000 / (k * n)).toLong)
    }
    val byCol: Map[String, Seq[Long]] = Map(
      "lineitem.l_suppkey" -> graft.sources.Tables.lineitem(spark, sf)
        .groupBy("l_suppkey").count().collect().map(_.getAs[Long]("count")).toSeq,
      "documents.source" -> graft.sources.Tables.documents(spark, sf)
        .groupBy("source").count().collect().map(_.getAs[Long]("count")).toSeq)
    rows.filter(r => byCol.contains(r.getAs[String]("key_col"))).foreach { r =>
      val (n, k, top1, gini) = giniOf(byCol(r.getAs[String]("key_col")))
      assert(r.getAs[Long]("n_rows") == n)
      assert(r.getAs[Long]("n_keys") == k)
      assert(r.getAs[Long]("top1_share_micro") == top1)
      assert(r.getAs[Long]("gini_micro") == gini, r.getAs[String]("key_col"))
      assert(r.getAs[Boolean]("hot") == (top1 > 31250L))
    }
    rows.foreach { r =>
      val g = r.getAs[Long]("gini_micro")
      assert(g >= 0L && g < 1000000L, "Gini in [0, 1)")
    }
  }

  test("q198: CMS inner product always overestimates and tightens with width") {
    val rows = graft.SparkEntry.queries("q198_join_card_est")(spark, sf).collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getAs[Long]("overestimate") >= 0L,
        s"${r.getAs[String]("join_key")}: CMS inner product is an overestimate")
      assert(r.getAs[Long]("est_cms") ==
        r.getAs[Long]("exact") + r.getAs[Long]("overestimate"))
      assert(r.getAs[Long]("noise_bound") ==
        r.getAs[Long]("n_left") * r.getAs[Long]("n_right") / r.getAs[Long]("width"))
    }
    // widening the sketch can only remove collisions (never add signal)
    rows.groupBy(_.getAs[String]("join_key")).foreach { case (k, g) =>
      val byW = g.sortBy(_.getAs[Long]("width"))
      assert(byW.head.getAs[Long]("est_cms") >= byW.last.getAs[Long]("est_cms"), k)
      assert(byW.map(_.getAs[Long]("exact")).distinct.length == 1,
        "exact size is width-independent")
    }
    // the 1:N orderkey join: exact must equal the lineitem row count
    val ok = rows.filter(_.getAs[String]("join_key").startsWith("lineitem.l_orderkey"))
    assert(ok.head.getAs[Long]("exact") == ok.head.getAs[Long]("n_left"))
  }

  test("q199: Benford grid complete, shares sum to ~1, terms nonnegative") {
    val rows = graft.SparkEntry.queries("q199_benford_audit")(spark, sf).collect()
    assert(rows.length == 18, "two audited columns x nine digits")
    rows.groupBy(_.getAs[String]("col")).foreach { case (c, g) =>
      assert(g.map(_.getAs[Long]("digit")).sorted.toSeq == (1L to 9L), c)
      val shares = g.map(_.getAs[Long]("obs_share_micro")).sum
      assert(shares > 990000L && shares <= 1000000L, s"$c shares ≈ 1")
      assert(g.map(_.getAs[Long]("benford_micro")).sum == 1000000L,
        "the nine rounded Benford micro constants")
      g.foreach(r => assert(r.getAs[Long]("chi2_term_micro") >= 0L))
      // digit 1 must dominate digit 9 in any Benford-conformant column,
      // and these synthetic prices at least put mass on every digit
      val by = g.map(r => r.getAs[Long]("digit") -> r.getAs[Long]("n_obs")).toMap
      assert(by(1L) > 0L)
    }
  }

  test("q200: stationary distribution is the matrix fixpoint and nearly sums to 1") {
    val rows = graft.SparkEntry.queries("q200_markov_stationary")(spark, sf).collect()
    assert(rows.length == 5, "one row per event type")
    val pi = rows.map(r => r.getAs[String]("event_type") ->
      r.getAs[Long]("stationary_micro")).toMap
    val s = pi.values.sum
    assert(s > 990000L && s <= 1000000L, s"mass ≈ 1 after truncation, got $s")
    // rebuild the transition matrix relationally and check one more
    // power-iteration step moves nothing (fixpoint at the report's
    // precision)
    import org.apache.spark.sql.functions._
    val seq0 = graft.sources.Tables.events(spark, sf)
      .select(col("event_type").as("f"),
        lead(col("event_type"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy(col("ts"), col("event_id"))).as("t"))
      .filter(col("t").isNotNull)
      .groupBy("f", "t").agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("cnt")))
    val tot = seq0.groupBy(_._1).map { case (f, xs) => f -> xs.map(_._3).sum }
    val p = seq0.map { case (f, t, c) => (f, t) -> c * 1000000L / tot(f) }.toMap
    val types = tot.keys.toSeq.sorted
    val next = types.map { j =>
      j -> types.map(i => pi(i) * p.getOrElse((i, j), 0L) / 1000000L).sum
    }.toMap
    types.foreach { j =>
      // per-term truncation wobbles a few micro per step near the fixpoint
      assert(math.abs(next(j) - pi(j)) <= 5L, s"$j: ${next(j)} vs ${pi(j)}")
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("p_self_micro") >= 0L &&
        r.getAs[Long]("p_self_micro") <= 1000000L)
    }
  }

  test("q201: 2x2 chi-square matches a plain-Scala closed form per goal") {
    val rows = graft.SparkEntry.queries("q201_ab_test")(spark, sf).collect()
    assert(rows.length == 3)
    import org.apache.spark.sql.functions._
    val ud = graft.sources.Tables.events(spark, sf)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("saw"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("bought"),
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicked"),
        max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("signed"))
      .filter(col("saw") === 1L).collect()
    def cells(get: org.apache.spark.sql.Row => Long) = {
      val by = ud.groupBy(r => (r.getAs[Long]("user_id") % 2, get(r)))
        .map { case (k, v) => k -> v.length.toLong }.withDefaultValue(0L)
      (by((0L, 1L)), by((0L, 0L)), by((1L, 1L)), by((1L, 0L)))
    }
    val goals = Map[String, org.apache.spark.sql.Row => Long](
      "purchase" -> (_.getAs[Long]("bought")), "click" -> (_.getAs[Long]("clicked")),
      "signup" -> (_.getAs[Long]("signed")))
    rows.foreach { row =>
      val (a, b, c, d) = cells(goals(row.getAs[String]("goal")))
      val n = BigInt(a + b + c + d)
      val den = BigInt(a + b) * (c + d) * (a + c) * (b + d)
      val chi2 = if (den == 0) 0L
        else (n * BigInt(a * d - b * c).pow(2) * 1000000 / den).toLong
      assert(row.getAs[Long]("n_arm0") == a + b)
      assert(row.getAs[Long]("n_arm1") == c + d)
      assert(row.getAs[Long]("rate0_micro") == a * 1000000L / (a + b))
      assert(row.getAs[Long]("rate1_micro") == c * 1000000L / (c + d))
      assert(row.getAs[Long]("chi2_micro") == chi2, row.getString(0))
      assert(row.getAs[Boolean]("significant") == (chi2 > 3841459L))
      // the parity split is an A/A test: fabricated significance here
      // means the harness is broken
      assert(!row.getAs[Boolean]("significant"), "A/A split must read n.s.")
    }
  }

  test("q202: McNemar cells are coherent and the statistic matches the closed form") {
    val r = graft.SparkEntry.queries("q202_ann_mcnemar")(spark, sf).collect().head
    val (n, ca, cl) = (r.getAs[Long]("n_items"), r.getAs[Long]("caught_ivf"),
      r.getAs[Long]("caught_lsh"))
    val (b, c) = (r.getAs[Long]("only_ivf"), r.getAs[Long]("only_lsh"))
    assert(n > 0 && ca <= n && cl <= n)
    assert(b <= ca && c <= cl, "discordant counts bounded by catches")
    // inclusion-exclusion: both = ca - b = cl - c
    assert(ca - b == cl - c, "the 2x2 table closes")
    val expected = if (b + c == 0) 0L else (b - c) * (b - c) * 1000000L / (b + c)
    assert(r.getAs[Long]("mcnemar_micro") == expected)
    assert(r.getAs[Boolean]("significant") == (expected > 3841459L))
  }

  test("q203: Spearman matches a plain-Scala rank computation per nation") {
    val rows = graft.SparkEntry.queries("q203_spearman")(spark, sf).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    def cents(c: org.apache.spark.sql.Column) =
      (c.cast(DecimalType(18, 2)) * 100).cast("long")
    val rev = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.supplier(spark, sf)
          .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"), to_date(col("l_shipdate")).as("day"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("r"),
        cents(col("l_quantity")).as("q"))
      .groupBy("nk", "day")
      .agg(sum(col("r")).cast("long").as("x"), sum(col("q")).cast("long").as("y"))
      .join(graft.sources.Tables.nation(spark, sf)
          .select(col("n_nationkey").as("nk"), col("n_name")), "nk")
      .collect().groupBy(_.getAs[String]("n_name"))
    rows.foreach { row =>
      val g = rev(row.getAs[String]("nation"))
        .map(r => (r.getAs[java.sql.Date]("day").toString,
          r.getAs[Long]("x"), r.getAs[Long]("y")))
      val n = g.length
      def ranks(key: ((String, Long, Long)) => (Long, String)): Map[String, Int] =
        g.sortBy(key).zipWithIndex.map { case (t, i) => t._1 -> (i + 1) }.toMap
      val rx = ranks(t => (t._2, t._1))
      val ry = ranks(t => (t._3, t._1))
      val sd2 = g.map(t => { val d = BigInt(rx(t._1) - ry(t._1)); d * d }).sum
      val rho = BigInt(1000000) - BigInt(6) * sd2 * 1000000 / (BigInt(n) * (n.toLong * n - 1))
      assert(row.getAs[Long]("n_days") == n.toLong)
      assert(row.getAs[Long]("sum_d2") == sd2.toLong, row.getString(0))
      assert(row.getAs[Long]("spearman_micro") == rho.toLong)
      assert(math.abs(row.getAs[Long]("spearman_micro")) <= 1000000L)
    }
    assert(rows.length == rev.size)
  }

  test("q204: KM curve matches a plain-Scala product-limit fold") {
    val rows = graft.SparkEntry.queries("q204_kaplan_meier")(spark, sf).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions._
    val users = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("user_id")
      .agg(min(col("day")).as("f"),
        min(when(col("event_type") === "purchase", col("day"))).as("p"),
        max(col("day")).as("l"))
      .collect()
    val hz = users.map(_.getAs[java.sql.Date]("l").toLocalDate).maxBy(_.toEpochDay)
    val durs = users.map { r =>
      val f = r.getAs[java.sql.Date]("f").toLocalDate
      val p = Option(r.getAs[java.sql.Date]("p")).map(_.toLocalDate)
      p match {
        case Some(pp) => (pp.toEpochDay - f.toEpochDay, 1L)
        case None => (hz.toEpochDay - f.toEpochDay, 0L)
      }
    }
    val byT = durs.groupBy(_._1).map { case (t, xs) =>
      t -> (xs.map(_._2).sum, xs.length.toLong)
    }
    val ts = byT.keys.toSeq.sorted
    var s = 1000000L
    val expected = ts.flatMap { t =>
      val n = durs.count(_._1 >= t).toLong
      val d = byT(t)._1
      if (d > 0) { s = s * (n - d) / n; Some((t, n, d, s)) } else None
    }
    assert(rows.length == expected.length)
    rows.zip(expected).foreach { case (r, (t, n, d, sm)) =>
      assert(r.getAs[Long]("t_days") == t)
      assert(r.getAs[Long]("n_risk") == n)
      assert(r.getAs[Long]("d_events") == d)
      assert(r.getAs[Long]("s_micro") == sm, s"t=$t")
    }
    // survival is monotone non-increasing from 1
    val ss = rows.map(_.getAs[Long]("s_micro")).toSeq
    assert(ss.zip(ss.tail).forall { case (a, b) => b <= a })
    assert(ss.head <= 1000000L)
  }

  test("q205: attribution models agree on totals and disagree on allocation") {
    val rows = graft.SparkEntry.queries("q205_attribution")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).sorted.toSeq ==
      Seq("click", "signup", "view"))
    val (f, l) = (rows.map(_.getAs[Long]("first_touch")).sum,
      rows.map(_.getAs[Long]("last_touch")).sum)
    assert(f == l, "every attributed purchase has exactly one first and one last touch")
    // linear credit sums to ~1e6 per attributed purchase (short of the
    // exact total only by the documented per-touch truncation)
    val lin = rows.map(_.getAs[Long]("linear_micro")).sum
    assert(lin <= f * 1000000L && lin > f * 1000000L - f * 20L,
      s"linear credit $lin vs $f purchases")
    rows.foreach { r =>
      assert(r.getAs[Long]("first_touch") > 0 && r.getAs[Long]("last_touch") > 0)
    }
  }

  test("q206: bootstrap bands bracket the point estimate with sane width") {
    val rows = graft.SparkEntry.queries("q206_bootstrap_ci")(spark, sf).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val (m, lo, hi) = (r.getAs[Long]("mean_cents"), r.getAs[Long]("boot_lo"),
        r.getAs[Long]("boot_hi"))
      assert(lo < hi, r.getString(0))
      assert(lo <= m && m <= hi, s"${r.getString(0)}: point estimate inside the band")
      // sane width even at the tiny spec-scale n (~20 orders/nation):
      // bounded by the mean itself; sf0.01 reads ~5%
      assert(hi - lo < m, "not absurdly wide")
      assert(hi - lo > 0)
    }
    val again = graft.SparkEntry.queries("q206_bootstrap_ci")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "hash-derived weights make the bootstrap reproducible")
  }

  test("q207: Chapman estimate is consistent with its defining counts") {
    val r = graft.SparkEntry.queries("q207_chapman_coverage")(spark, sf).collect().head
    val (a, b, m) = (r.getAs[Long]("caught_a"), r.getAs[Long]("caught_b"),
      r.getAs[Long]("overlap"))
    assert(m <= math.min(a, b), "overlap bounded by both catches")
    val est = (BigInt(a + 1) * (b + 1) / (m + 1) - 1).toLong
    assert(r.getAs[Long]("chapman_est") == est)
    assert(est >= math.max(a, b), "the union can't exceed the estimated population")
    assert(r.getAs[Long]("coverage_a_micro") == (BigInt(a) * 1000000 / est).toLong)
    assert(r.getAs[Long]("coverage_b_micro") == (BigInt(b) * 1000000 / est).toLong)
    assert(r.getAs[Long]("coverage_a_micro") <= 1000000L)
  }

  test("q189: CUSUM argmax matches a plain-Scala reference per nation") {
    val rows = graft.SparkEntry.queries("q189_cusum_changepoint")(spark, sf).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    def cents(c: org.apache.spark.sql.Column) =
      (c.cast(DecimalType(18, 2)) * 100).cast("long")
    val rev = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.supplier(spark, sf)
          .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"), to_date(col("l_shipdate")).as("day"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("r"))
      .groupBy("nk", "day").agg(sum(col("r")).cast("long").as("x"))
      .join(graft.sources.Tables.nation(spark, sf)
          .select(col("n_nationkey").as("nk"), col("n_name")),
        "nk")
      .collect()
      .groupBy(_.getAs[String]("n_name"))
    rows.foreach { row =>
      val series = rev(row.getAs[String]("nation"))
        .sortBy(_.getAs[java.sql.Date]("day").toString)
        .map(r => (r.getAs[java.sql.Date]("day").toString, r.getAs[Long]("x")))
      val n = BigInt(series.length)
      val total = BigInt(series.map(_._2).sum)
      var (cum, bestAbs, bestIdx) = (BigInt(0), BigInt(-1), -1)
      series.zipWithIndex.foreach { case ((_, x), i) =>
        cum += x
        val absd = (n * cum - BigInt(i + 1) * total).abs
        if (absd > bestAbs) { bestAbs = absd; bestIdx = i } // earliest on ties
      }
      val t = BigInt(bestIdx + 1)
      val cumAt = BigInt(series.take(bestIdx + 1).map(_._2).sum)
      assert(row.getAs[java.sql.Date]("cp_day").toString == series(bestIdx)._1,
        s"nation ${row.getString(0)}")
      assert(row.getAs[Long]("cp_t") == t.toLong)
      assert(row.getAs[Long]("n_days") == n.toLong)
      assert(row.getAs[Long]("stat_micro") == (bestAbs * 1000000 / (n * total)).toLong)
      assert(row.getAs[Long]("mean_before_micro") == (cumAt / t).toLong)
      if (t != n)
        assert(row.getAs[Long]("mean_after_micro") == ((total - cumAt) / (n - t)).toLong)
      assert(row.getAs[Boolean]("shifted") == (row.getAs[Long]("stat_micro") > 20000L))
    }
    assert(rows.length == rev.size, "one output row per supplier nation")
  }

  test("q191: KS statistic matches a plain-Scala ECDF max per source") {
    val rows = graft.SparkEntry.queries("q191_ks_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val grid = docs.map(_._2).distinct.sorted
    val n = docs.length
    rows.foreach { row =>
      val src = row.getAs[String]("source")
      val mine = docs.filter(_._1 == src).map(_._2)
      val ns = mine.length
      val nr = n - ns
      val m = grid.map { v =>
        val cs = BigInt(mine.count(_ <= v))
        val cr = BigInt(docs.count(_._2 <= v)) - cs
        (cs * nr - cr * ns).abs
      }.max
      assert(row.getAs[Long]("n_src") == ns.toLong, src)
      assert(row.getAs[Long]("n_rest") == nr.toLong, src)
      assert(row.getAs[Long]("d_micro") == (m * 1000000 / (BigInt(ns) * nr)).toLong, src)
      assert(row.getAs[Boolean]("shifted") ==
        (m * m * 1000000 > BigInt(1498176) * (ns + nr) * ns * nr), src)
    }
    assert(rows.length == docs.map(_._1).distinct.length, "one row per source")
  }

  test("q192: Kendall S and tie-corrected variance match a plain-Scala pair count") {
    val rows = graft.SparkEntry.queries("q192_mann_kendall")(spark, sf).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    def cents(c: org.apache.spark.sql.Column) =
      (c.cast(DecimalType(18, 2)) * 100).cast("long")
    val rev = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.supplier(spark, sf)
          .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"),
        trunc(to_date(col("l_shipdate")), "month").as("mo"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("r"))
      .groupBy("nk", "mo").agg(sum(col("r")).cast("long").as("x"))
      .join(graft.sources.Tables.nation(spark, sf)
          .select(col("n_nationkey").as("nk"), col("n_name")), "nk")
      .collect()
      .groupBy(_.getAs[String]("n_name"))
    rows.foreach { row =>
      val series = rev(row.getAs[String]("nation"))
        .sortBy(_.getAs[java.sql.Date]("mo").toString).map(_.getAs[Long]("x"))
      val nMo = series.length
      var s = 0L
      for (i <- series.indices; j <- i + 1 until nMo)
        s += java.lang.Long.signum(series(j) - series(i))
      val tterm = series.groupBy(identity).values.map(_.length.toLong)
        .filter(_ > 1).map(t => t * (t - 1) * (2 * t + 5)).sum
      val var18 = nMo.toLong * (nMo - 1) * (2L * nMo + 5) - tterm
      val n0 = nMo.toLong * (nMo - 1) / 2
      assert(row.getAs[Long]("n_months") == nMo.toLong)
      assert(row.getAs[Long]("kendall_s") == s, row.getString(0))
      assert(row.getAs[Long]("tau_micro") == s * 1000000 / n0)
      assert(row.getAs[Long]("var18") == var18)
      assert(row.getAs[Boolean]("trending") ==
        (BigInt(s) * s * 18000000 > BigInt(2706025) * var18))
    }
    assert(rows.length == rev.size, "one row per supplier nation")
  }

  test("q184: Holt fold matches a plain-Scala level+trend recurrence per nation") {
    val rows = graft.SparkEntry.queries("q184_holt_trend")(spark, sf).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    def cents(c: org.apache.spark.sql.Column) =
      (c.cast(DecimalType(18, 2)) * 100).cast("long")
    val rev = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.supplier(spark, sf)
          .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"), to_date(col("l_shipdate")).as("day"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("r"))
      .groupBy("nk", "day").agg(sum(col("r")).cast("long").as("x"))
      .join(graft.sources.Tables.nation(spark, sf)
          .select(col("n_nationkey").as("nk"), col("n_name")),
        "nk")
      .collect()
      .groupBy(_.getAs[String]("n_name"))
    rows.foreach { row =>
      val series = rev(row.getAs[String]("nation"))
        .sortBy(_.getAs[java.sql.Date]("day").toString).map(_.getAs[Long]("x"))
      // Scala Long division truncates toward zero — the identical
      // semantics the Spark/DuckDB recurrence uses (negatives included)
      var (init, l, b) = (false, 0L, 0L)
      series.foreach { x =>
        if (!init) { init = true; l = x; b = 0L }
        else {
          val nl = (x + 3 * (l + b)) / 4
          b = ((nl - l) + 3 * b) / 4
          l = nl
        }
      }
      assert(row.getAs[Long]("level_micro") == l, s"level, nation ${row.getString(0)}")
      assert(row.getAs[Long]("trend_micro") == b, s"trend, nation ${row.getString(0)}")
      assert(row.getAs[Long]("forecast7_micro") == l + 7 * b)
      assert(row.getAs[Long]("n_days") == series.length.toLong)
    }
    assert(rows.length == rev.size, "one output row per supplier nation")
  }

  test("q186: Holt-Winters fold matches a plain-Scala seasonal recurrence per nation") {
    val rows = graft.SparkEntry.queries("q186_holt_winters")(spark, sf).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    def cents(c: org.apache.spark.sql.Column) =
      (c.cast(DecimalType(18, 2)) * 100).cast("long")
    val rev = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.supplier(spark, sf)
          .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"), to_date(col("l_shipdate")).as("day"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("r"))
      .groupBy("nk", "day").agg(sum(col("r")).cast("long").as("x"))
      .withColumn("dow", dayofweek(col("day")) - 1)
      .join(graft.sources.Tables.nation(spark, sf)
          .select(col("n_nationkey").as("nk"), col("n_name")), "nk")
      .collect()
      .groupBy(_.getAs[String]("n_name"))
    rows.foreach { row =>
      val series = rev(row.getAs[String]("nation"))
        .sortBy(_.getAs[java.sql.Date]("day").toString)
        .map(r => (r.getAs[Long]("x"), r.getAs[Int]("dow")))
      var (init, l, b) = (false, 0L, 0L)
      val s = Array.fill(7)(0L)
      series.foreach { case (x, dow) =>
        if (!init) { init = true; l = x; b = 0L }
        else {
          val nl = (x - s(dow) + 3 * (l + b)) / 4
          val nb = ((nl - l) + 3 * b) / 4
          s(dow) = ((x - nl) + 3 * s(dow)) / 4
          l = nl; b = nb
        }
      }
      assert(row.getAs[Long]("level_micro") == l, s"level, ${row.getString(0)}")
      assert(row.getAs[Long]("trend_micro") == b, s"trend, ${row.getString(0)}")
      assert(row.getAs[Long]("seasonal_span_micro") == s.max - s.min)
    }
    assert(rows.length == rev.size)
  }

  test("q185: RRF fusion is well-formed and promotes multi-list consensus") {
    val rows = graft.SparkEntry.queries("q185_hybrid_rrf")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length % 5 == 0, "exactly kPick rows per query")
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, picks) =>
      assert(picks.map(_.getAs[Long]("pick")).sorted.toSeq == (1L to 5L),
        s"query $q: dense pick ranks")
      assert(picks.map(_.getAs[Long]("cand_id")).distinct.length == 5,
        s"query $q: distinct candidates")
      // fused score non-increasing in pick order; every score is a sum of
      // 1..3 quantized reciprocals from ranks 1..10
      val ordered = picks.sortBy(_.getAs[Long]("pick"))
      val scores = ordered.map(_.getAs[Long]("rrf_micro"))
      assert(scores.zip(scores.tail).forall { case (a, c) => a >= c })
      ordered.foreach { p =>
        val nl = p.getAs[Long]("n_lists")
        assert(nl >= 1 && nl <= 3)
        val (lo, hi) = (nl * (1000000L / 70), nl * (1000000L / 61))
        assert(p.getAs[Long]("rrf_micro") >= lo && p.getAs[Long]("rrf_micro") <= hi,
          s"score outside the n_lists=$nl band")
      }
    }
    // the fusion property itself: somewhere a consensus candidate (on ≥2
    // lists) outranks single-list candidates — otherwise RRF degenerates
    // to concatenation and the operator proves nothing on this fixture
    assert(rows.exists(_.getAs[Long]("n_lists") >= 2),
      "no multi-list candidate in any top-5 — fusion not exercised")
  }

  test("q180: quantile sketch lands inside its error envelope against the exact ranks") {
    val rows = graft.SparkEntry.queries("q180_quantile_sketch")(spark, sf).collect()
    // 3 return flags + the merged '(all)' row
    assert(rows.length == 4)
    rows.foreach { r =>
      val (n, sn) = (r.getAs[Long]("n_exact"), r.getAs[Long]("sample_n"))
      assert(sn == math.min(256L, n), "sample is exactly the bottom-k")
      Seq(50, 90, 99).foreach { p =>
        val est = r.getAs[Long](s"p${p}_est").toDouble
        val exact = r.getAs[Long](s"p${p}_exact").toDouble
        assert(exact > 0)
        // k=256 uniform sample: rank error ~ n/√k; on the ~uniform price
        // distribution that is ≲ 3·(1/√256) ≈ 19% relative — bound sized
        // to the estimator (3 standard errors), not tuned to the fixture
        assert(math.abs(est - exact) / exact < 0.25,
          s"${r.getString(0)}/p$p: est $est vs exact $exact")
      }
      // quantiles are monotone in p on both paths
      assert(r.getAs[Long]("p50_est") <= r.getAs[Long]("p90_est") &&
        r.getAs[Long]("p90_est") <= r.getAs[Long]("p99_est"))
      assert(r.getAs[Long]("p50_exact") <= r.getAs[Long]("p90_exact") &&
        r.getAs[Long]("p90_exact") <= r.getAs[Long]("p99_exact"))
    }
    // the sketch branch is actually live: at least one estimate differs
    // from its exact twin (n ≫ k for every scope at this sf)
    assert(rows.exists(r => r.getAs[Long]("p50_est") != r.getAs[Long]("p50_exact")),
      "estimates identical to exact everywhere — sample branch not exercised")
  }

  test("q129: TV distance bounds, identical distributions tie, skew ranks highest") {
    // driver-table invariants: TV ∈ [0, 1), token totals positive
    val rows = CorpusQueries.q129SourceDivergence.build(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tv = r.getAs[Double]("tv_distance")
      assert(tv >= 0.0 && tv < 1.0, s"TV out of range: $tv")
      assert(r.getAs[Long]("n_tokens") > 0)
    }
    // planted fixture: two sources with the IDENTICAL unigram distribution
    // must tie exactly (the arithmetic is exact, so equality is ==), and a
    // skewed source must rank strictly above them
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d a b c d", "uniform1"),
      (2L, "a b c d", "uniform2"),
      (3L, "a a a a a a b c", "skewed")
    ).toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft_q129").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val planted = CorpusQueries.q129SourceDivergence.build(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("tv_distance")).toMap
    assert(planted("uniform1") == planted("uniform2"),
      s"same distribution, different volume → identical TV: $planted")
    assert(planted("skewed") > planted("uniform1"),
      s"skewed source diverges more: $planted")
  }

  test("q210: ACF values bounded, full lag grid per nation") {
    val rows = SeriesQueries.q210AcfAudit.build(spark, sf).collect()
    assert(rows.nonEmpty)
    // |r| ≤ 1 in exact arithmetic; div-first quantization can overshoot
    // by at most 1 part in 10⁶ of the denominator
    rows.foreach { r =>
      val a = r.getAs[Long]("acf_micro")
      assert(math.abs(a) <= 1000001L, s"ACF out of range: $r")
      assert(r.getAs[Long]("n_days") > 0)
    }
    rows.groupBy(_.getAs[String]("nation")).foreach { case (n, rs) =>
      assert(rs.map(_.getAs[Long]("lag")).sorted.toSeq == Seq(1L, 2L, 3L, 7L),
        s"$n missing lags")
    }
  }

  test("q215: pacf1 equals q210's lag-1 ACF per nation (Durbin-Levinson base case)") {
    val acf1 = SeriesQueries.q210AcfAudit.build(spark, sf).collect()
      .filter(_.getAs[Long]("lag") == 1L)
      .map(r => r.getAs[String]("nation") -> r.getAs[Long]("acf_micro")).toMap
    val pacf = SeriesQueries.q215PacfAudit.build(spark, sf).collect()
    assert(pacf.nonEmpty)
    pacf.foreach { r =>
      val n = r.getAs[String]("nation")
      assert(r.getAs[Long]("pacf1_micro") == acf1(n),
        s"$n: phi11 must be the lag-1 autocorrelation")
      assert(math.abs(r.getAs[Long]("pacf2_micro")) <= 1000001L)
      assert(math.abs(r.getAs[Long]("pacf3_micro")) <= 1000001L)
    }
  }

  test("q218: LSH candidate recall vs the exact audit region; verified precision is perfect") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Similarity => Sim}
    val emb = graft.sources.Tables.embeddings(spark, sf)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Sim.cosinePairs(emb.filter(col("vec_id") < 200), 0.3))
    val lshRegion = pairSet(Sim.signLshNearDupPairs(emb, minCosine = 0.3,
        numBands = 16, bitsPerBand = 4))
      .filter(p => p._1 < 200 && p._2 < 200)
    assert(exact.nonEmpty, "audit region must contain >=0.3 pairs")
    // precision 1.0 by construction: the verify step applies the SAME
    // cosine expression as the exact audit, so no false pair can survive
    assert((lshRegion -- exact).isEmpty,
      s"unverified pair leaked: ${(lshRegion -- exact).take(3)}")
    val recall = lshRegion.size.toDouble / exact.size
    assert(recall >= 0.6,
      s"LSH candidate recall $recall below the declared floor (caught ${lshRegion.size}/${exact.size})")
    // the declared query resolves the full corpus: one row per vector,
    // canonical ids are group minima, keeps count the groups
    val rows = DedupQueries.q218SemanticDedupFull.build(spark, sf).collect()
    assert(rows.length == emb.count())
    assert(rows.forall(r => r.getAs[Long]("canonical_id") <= r.getAs[Long]("vec_id")))
    val keeps = rows.count(_.getAs[Boolean]("keep"))
    assert(keeps == rows.map(_.getAs[Long]("canonical_id")).distinct.length)
  }

  test("q224: parity halves read A/A (no drift); a planted shift fires the flag") {
    import spark.implicits._
    // the declared query: random halves of ONE distribution — an A/A
    // harness test, every label must read non-drifted
    val rows = VectorQueries.q224EmbeddingDrift.build(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.getAs[Boolean]("drifted") &&
        r.getAs[Long]("drift_micro") < 250000L,
        s"A/A parity split must not read drifted: $r")
      assert(r.getAs[Long]("n_a") > 0 && r.getAs[Long]("n_b") > 0)
    }
    // planted drift: half 1 of label "s" is the same cloud translated by
    // +20 per dim — between-centroid distance ~64*400 dwarfs the scatter
    val rnd = new scala.util.Random(11)
    def vec(off: Long) = Seq.fill(8)(rnd.nextInt(21).toLong - 10 + off)
    val planted = ((0 until 40).map(i => ("s", i.toLong % 2,
        if (i % 2 == 1) vec(20) else vec(0))) ++
      (0 until 40).map(i => ("n", i.toLong % 2, vec(0))))
      .toDF("label", "half", "qv")
    val out = VectorQueries.embeddingDrift(planted).collect()
      .map(r => r.getAs[String]("label") -> r).toMap
    assert(out("s").getAs[Boolean]("drifted"),
      s"planted +20/dim shift must flag: ${out("s")}")
    assert(!out("n").getAs[Boolean]("drifted"),
      s"untranslated control must not flag: ${out("n")}")
  }

  test("q223: AR(1) residuals lose the lag-1 structure the fit models") {
    val acf1 = SeriesQueries.q210AcfAudit.build(spark, sf).collect()
      .filter(_.getAs[Long]("lag") == 1L)
      .map(r => r.getAs[String]("nation") -> r.getAs[Long]("acf_micro")).toMap
    val rows = SeriesQueries.q223LjungBox.build(spark, sf).collect()
    assert(rows.length == acf1.size)
    rows.foreach { r =>
      val n = r.getAs[String]("nation")
      // the residual lag-1 autocorrelation must collapse relative to the
      // series' own — the fit removed exactly what it models (Box-Jenkins
      // residual diagnostics); quantization leaves a small floor
      assert(math.abs(r.getAs[Long]("racf1_micro")) <=
        math.max(math.abs(acf1(n)) / 2, 5000L),
        s"$n: AR(1) residuals kept the lag-1 structure: ${r.getAs[Long]("racf1_micro")} vs series ${acf1(n)}")
      assert(r.getAs[Long]("q_lb_micro") >= 0)
      assert(r.getAs[Boolean]("whiteness_rejected") ==
        (r.getAs[Long]("q_lb_micro") > 7815000L))
    }
  }

  test("q222: SemDeDup groups are cluster-local and keep the most prototypical member") {
    val rows = DedupQueries.q222SemDedupClusters.build(spark, sf).collect()
    assert(rows.nonEmpty)
    val byGroup = rows.groupBy(_.getAs[Long]("group_id"))
    byGroup.foreach { case (g, rs) =>
      // pairs only form within a cluster, so no group can span clusters
      assert(rs.map(_.getAs[Long]("cluster")).distinct.length == 1,
        s"group $g spans clusters: ${rs.mkString(";")}")
      assert(rs.forall(_.getAs[Long]("n_in_group") == rs.length.toLong))
      assert(rs.count(_.getAs[Boolean]("keep")) == 1,
        s"group $g must keep exactly one representative")
      assert(rs.forall(r => r.getAs[Long]("group_id") <= r.getAs[Long]("vec_id")))
    }
    // keeps partition the corpus: one representative per group, all docs
    // accounted for
    assert(rows.count(_.getAs[Boolean]("keep")) == byGroup.size)
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == rows.length)
  }

  test("q220: reliability table is self-consistent and ECE re-derives from its own bins") {
    val rows = SeriesQueries.q220CalibrationEce.build(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getAs[Long]("n_docs")).sum
    rows.foreach { r =>
      val (c, o) = (r.getAs[Long]("mean_conf_micro"), r.getAs[Long]("obs_rate_micro"))
      assert(c >= 0 && c <= 1000000 && o >= 0 && o <= 1000000, s"out of unit range: $r")
      val bin = r.getAs[Long]("bin")
      assert(bin >= 0 && bin <= 9)
      // mean confidence must land inside its own decile (bin 9 absorbs 1.0)
      assert(c >= bin * 100000 && (bin == 9 || c < (bin + 1) * 100000),
        s"mean confidence escaped its bin: $r")
      assert(r.getAs[Long]("gap_micro") == math.abs(c - o))
    }
    val eceWant = rows.map(r =>
      r.getAs[Long]("n_docs") * r.getAs[Long]("gap_micro")).sum / n
    assert(rows.forall(_.getAs[Long]("ece_micro") == eceWant),
      s"ECE must re-derive from the bin rows: want $eceWant")
  }

  test("q221: the piecewise fit splits exactly at q189's changepoint") {
    val cp = SeriesQueries.q189CusumChangepoint.build(spark, sf).collect()
      .map(r => r.getAs[String]("nation") ->
        (r.getAs[Long]("cp_t"), r.getAs[Long]("n_days"))).toMap
    val rows = SeriesQueries.q221PiecewiseTrend.build(spark, sf).collect()
    assert(rows.length == cp.size)
    rows.foreach { r =>
      val nation = r.getAs[String]("nation")
      val (t, n) = cp(nation)
      assert(r.getAs[Long]("cp_t") == t, s"$nation: breakpoint drifted from q189")
      assert(r.getAs[Long]("n_before") == t &&
        r.getAs[Long]("n_before") + r.getAs[Long]("n_after") == n,
        s"$nation: segment sizes must partition the series: $r")
      if (r.getAs[Long]("n_before") >= 2 && r.getAs[Long]("n_after") >= 2)
        assert(!r.isNullAt(r.fieldIndex("slope_shift_micro")),
          s"$nation: non-degenerate segments must fit slopes")
    }
  }

  test("q216: the serving chain is internally consistent (picks, fusion provenance, metrics)") {
    val rows = ServingQueries.q216RagServe.build(spark, sf).collect()
    assert(rows.nonEmpty && rows.length % 5 == 0, "five picks per query")
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("pick_order")).sorted.toSeq == (1L to 5L),
        s"query $q: missing pick orders")
      // no candidate is served twice, and the query never retrieves itself
      val cands = rs.map(_.getAs[Long]("cand_id"))
      assert(cands.distinct.length == 5 && !cands.contains(q), s"query $q: $cands")
      // MMR pick 1 is the raw-relevance argmax (the kernel's round 0)
      val byPick = rs.sortBy(_.getAs[Long]("pick_order"))
      assert(byPick.head.getAs[Long]("rel") == rs.map(_.getAs[Long]("rel")).max,
        s"query $q: pick 1 must maximize relevance")
      // metrics agree with the relevant flags they summarize
      val nRel = rs.count(_.getAs[Boolean]("relevant"))
      assert(rs.forall(_.getAs[Long]("n_rel") == nRel.toLong), s"query $q: n_rel drift")
      val firstRel = byPick.indexWhere(_.getAs[Boolean]("relevant"))
      val wantMrr = if (firstRel < 0) 0.0 else 1.0 / (firstRel + 1)
      assert(rs.forall(r => math.abs(r.getAs[Double]("mrr") - wantMrr) < 1e-12),
        s"query $q: mrr mismatch")
      rs.foreach { r =>
        // every pick came through the RRF fusion: at least one arm ranked
        // it in its top-10, so its score has at least one reciprocal term
        assert(r.getAs[Long]("n_arms") >= 1L &&
          r.getAs[Long]("rrf_micro") >= 1000000L / 70L,
          s"query $q: pick outside the fused shortlist: $r")
        val nd = r.getAs[Double]("ndcg")
        assert(nd >= 0.0 && nd <= 1.0 + 1e-12, s"query $q: ndcg out of range")
      }
    }
  }

  test("q217: every AR order beats the naive lag-1 backtest; phi1 is q215's pacf1 (Yule-Walker base)") {
    val pacf1 = SeriesQueries.q215PacfAudit.build(spark, sf).collect()
      .map(r => r.getAs[String]("nation") -> r.getAs[Long]("pacf1_micro")).toMap
    val rows = SeriesQueries.q217ArFit.build(spark, sf).collect()
    assert(rows.length == pacf1.size * 3, "three AR orders per nation")
    rows.foreach { r =>
      val n = r.getAs[String]("nation")
      // near-white daily revenue: the AR forecast ≈ the mean, roughly
      // halving the naive differencing variance — every order must beat
      // the lag-1 baseline (the VERDICT r19 'which model' criterion)
      assert(r.getAs[Boolean]("beats_naive") &&
        r.getAs[Long]("sse_ratio_micro") <= 1000000L,
        s"$n p=${r.getAs[Long]("p")}: AR backtest lost to naive: $r")
      assert(r.getAs[Long]("n_eval") > 0)
      // the AR(1) coefficient IS the lag-1 PACF (Durbin-Levinson base)
      if (r.getAs[Long]("p") == 1L)
        assert(r.getAs[Long]("phi1_micro") == pacf1(n),
          s"$n: Yule-Walker AR(1) coefficient must equal phi11")
    }
  }

  test("q211: KMV union/Jaccard estimates land inside their sampling-error envelopes") {
    val rows = SketchQueries.q211KmvSetOps.build(spark, sf).collect()
    assert(rows.length >= 3, "at least the returnflag segment pairs")
    rows.foreach { r =>
      val (ue, ux) = (r.getAs[Long]("union_est"), r.getAs[Long]("union_exact"))
      val (ie, ix) = (r.getAs[Long]("inter_est"), r.getAs[Long]("inter_exact"))
      val jm = r.getAs[Long]("jaccard_micro")
      // KMV σ ≈ 1/√(k−1) ≈ 9% at k=128 — 35% is a ~4σ acceptance band
      assert(math.abs(ue - ux) <= 0.35 * ux, s"union estimate too far: $r")
      assert(jm >= 0 && jm <= 1000000, s"Jaccard out of [0,1]: $r")
      // Jaccard σ = √(J(1−J)/k) ≤ 4.5% — 25 points ≈ 5σ+; intersection
      // inherits both errors, so bound it by the union-scaled J band
      val jx = if (ux == 0) 0.0 else ix.toDouble / ux
      assert(math.abs(jm / 1e6 - jx) <= 0.25, s"Jaccard too far from exact: $r")
      assert(math.abs(ie - ix) <= 0.35 * ux, s"intersection estimate too far: $r")
    }
  }

  test("q213: planted repetitive and top-heavy docs flag; diverse prose does not") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark data " * 30, "en", "s", 0L),            // one 2-gram looped
      (2L, ("a " * 40) + "big fast slow", "en", "s", 0L), // 'a' dominates
      (3L, "big fast slow small query table join scan sort merge", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_q213").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val rows = CorpusQueries.q213RepetitionRules.build(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Boolean]("repetitive"), s"looped 2-gram doc: ${rows(1L)}")
    assert(rows(2L).getAs[Boolean]("top_heavy"), s"one-token-dominant doc: ${rows(2L)}")
    assert(!rows(3L).getAs[Boolean]("repetitive") && !rows(3L).getAs[Boolean]("top_heavy"),
      s"all-distinct prose must pass: ${rows(3L)}")
    assert(rows(3L).getAs[Long]("dup3_micro") == 0L)
  }

  test("q214: hard negatives rank by similarity, margins consistent, labels differ") {
    val rows = VectorQueries.q214HardNegatives.build(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("anchor_id")).foreach { case (a, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to byRank.length),
        s"anchor $a ranks not dense")
      // negatives descend in similarity; margin = pos_sim − neg_sim
      val sims = byRank.map(_.getAs[Long]("neg_sim"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y }, s"anchor $a not sorted")
      byRank.foreach { r =>
        assert(r.getAs[Long]("margin") ==
          r.getAs[Long]("pos_sim") - r.getAs[Long]("neg_sim"))
        assert(r.getAs[Long]("neg_id") != a && r.getAs[Long]("pos_id") != a)
      }
    }
  }

  test("q208: trigram profiles separate signal-bearing languages perfectly") {
    // the corpus's lang labels are generator noise (q208's report honestly
    // reads ≈ chance there) — the operator's separating POWER is pinned
    // here on a fixture whose languages have genuinely distinct character
    // distributions: 100% held-out accuracy is required, not hoped for
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mk = (base: String, rep: Int) => (base + " ") * rep
    val docs = (0 until 8).flatMap { i =>
      Seq(
        (i * 3L, "aa", mk(s"der und das ist ein${('a' + i % 3).toChar}", 4 + i % 3)),
        (i * 3L + 1, "bb", mk(s"le et la les une${('k' + i % 3).toChar}", 4 + i % 3)),
        (i * 3L + 2, "cc", mk(s"xylo qwz vyx zyq${('p' + i % 3).toChar}", 4 + i % 3)))
    }.toDF("doc_id", "lang", "text")
    val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val heldOut = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    assert(heldOut.count() >= 3, "split must hold out docs of every language")
    val prof = CorpusQueries.langIdProfiles(train, k = 64)
    // profile shape: at most k rows per language, weights in [1, k]
    val profRows = prof.collect()
    profRows.groupBy(_.getAs[String]("p_lang")).foreach { case (l, rs) =>
      assert(rs.length <= 64, s"$l profile exceeds k")
      assert(rs.forall(r => r.getAs[Long]("w") >= 1 && r.getAs[Long]("w") <= 64))
    }
    val pred = CorpusQueries.langIdPredict(heldOut, prof).collect()
    assert(pred.nonEmpty)
    val wrong = pred.filter(r =>
      r.getAs[String]("lang_true") != r.getAs[String]("lang_pred"))
    assert(wrong.isEmpty,
      s"distinct character distributions must classify perfectly: ${wrong.mkString(", ")}")
  }

  test("q208: OVERLAPPING character distributions stay inside an accuracy band (VERDICT r19)") {
    // the perfect-separation fixture above cannot distinguish 'learned
    // something' from 'fixture trivially separable'. This one can: three
    // dialects share a dominant common core (most trigrams identical —
    // the Spanish/Portuguese regime) and differ only in a minority of
    // function words, so rank profiles overlap heavily and accuracy must
    // land WELL above 1/3 chance without being handed disjoint alphabets.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val core = "the data in the table and the rows of the set"
    val tails = Map(
      "aa" -> Seq("haus und zeit", "zug mit wald", "berg vom dorf"),
      "bb" -> Seq("casa y tiempo", "tren con bosque", "monte del pueblo"),
      "cc" -> Seq("maison et temps", "train au bois", "mont du village"))
    val docs = (0 until 12).flatMap { i =>
      tails.toSeq.sortBy(_._1).zipWithIndex.map { case ((lang, ts), j) =>
        val text = (core + " " + ts(i % 3) + " ") * (3 + i % 2)
        (i * 3L + j, lang, text)
      }
    }.toDF("doc_id", "lang", "text")
    val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val heldOut = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val nHeld = heldOut.count()
    assert(nHeld >= 6, "split must hold out several docs")
    val prof = CorpusQueries.langIdProfiles(train, k = 64)
    val pred = CorpusQueries.langIdPredict(heldOut, prof).collect()
    assert(pred.length == nHeld)
    val acc = pred.count(r =>
      r.getAs[String]("lang_true") == r.getAs[String]("lang_pred")).toDouble / nHeld
    assert(acc >= 0.6,
      s"overlapping-distribution accuracy $acc fell below the band floor (chance = 1/3)")
    // the classifier must actually use more than one output class —
    // a constant predictor can reach 1/3 here
    assert(pred.map(_.getAs[String]("lang_pred")).distinct.length >= 2,
      "degenerate constant prediction")
  }
}
