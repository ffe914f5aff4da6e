package graft

import graft.sources.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import scala.jdk.CollectionConverters._

/** Repo-wide lazy-construction contract: CONSTRUCTING a declared query's
  * DataFrame must start ZERO Spark jobs — building a plan is metadata work,
  * and at 100 TB a construction-time job is a full corpus pass a caller
  * never asked to run. The exceptions are documented below and each has an
  * in-code rationale at its definition site.
  *
  * Method (same as Q51ConstructionSpec): job-start events are async but
  * FIFO, so a tagged sentinel job ordered AFTER all constructions bounds
  * the wait — once the sentinel's event arrives, any construction-started
  * job's event would already be visible. Tables are first-touched before
  * the listener registers so Spark's one-time parquet schema-inference
  * jobs (cached per path by Tables.load) don't bill to the queries.
  */
class ConstructionSweepSpec extends SparkSpec {

  /** Queries whose BUILD legitimately executes Spark work:
    * q35/q59/q73 — Dedup.connectedComponents iterates label-propagation
    * rounds eagerly (each round is a job; the loop's convergence check
    * cannot be expressed lazily);
    * q50 — trains and evaluates MLlib models at build time (the model IS
    * the result; excluded from the plan sweep for the same reason);
    * q43 — IVF fits its k-means cell index at build time (the centroid
    * literals ARE the index; a production deployment fits once and reuses
    * — Similarity.ivfTopK documents the split);
    * q76 — FIRST build per (session, dir) writes the bucketed table layout
    * (the one-time cost the bucketing amortizes; repeat builds find the
    * catalog entries and are job-free — Bucketing.ensureOrdersLineitemBucketed). */
  private val eagerByDesign = Set(
    "q35_dedup_groups", "q59_dedup_keeplist", "q73_dedup_apply",
    // q165 iterates CC over the near-dup pair graph at build, like q35
    "q165_dedup_savings",
    // q175's adjacency + final-label lazy checkpoints: under AQE,
    // checkpoint creation executes the upstream rounds at build — the
    // index-build-shaped step q136's per-round cuts are allowed for
    "q175_label_propagation",
    "q50_ml_train_eval", "q43_ann_ivf", "q76_bucketed_join",
    // q78 fits q43's IVF quantizer (once, reused for top-k AND candidate
    // stats) — same eager-index rationale as q43; round 15 adds q127's PQ
    // codebook fit to its build
    "q78_ann_recall",
    // q127 fits the PQ codebook (m per-subspace k-means) at build — the
    // codebook IS the index, same contract as q43's coarse quantizer;
    // q128 composes that codebook with q43's coarse cells (both cached)
    "q127_ann_pq", "q128_ann_ivfpq",
    // q79's first build per session materializes the two-generation parquet
    // layout the merged scan reads (Staged; repeat builds job-free)
    "q79_schema_evolution",
    // q80 iterates CC over the delta subgraph at build, like q35/q59/q73
    "q80_dedup_incremental",
    // q123 iterates CC over the cosine-pair graph at build, like q35
    "q123_semantic_dedup",
    // q218 iterates the same CC over the FULL-corpus LSH candidate graph
    "q218_semantic_dedup_full",
    // q222 fits the Lloyd quantizer (memoized) and iterates CC over the
    // within-cluster near-dup graph at build — q170 + q123's contracts
    "q222_semdedup_clusters",
    // q200 collects the |event_type|² transition matrix at build and
    // power-iterates eagerly over integer micro units — the Lloyd/BPE
    // dictionary-bounded-state contract
    "q200_markov_stationary",
    // q188/q190/q193 carry per-round lazy checkpoints (min-plus
    // relaxation / peel rounds); q191/q192 cut their shared dictionary
    // relation once — in every case checkpoint CREATION executes the
    // upstream stage at build under AQE, q136/q175's documented
    // index-build-shaped step
    "q188_weighted_hops", "q190_kcore", "q193_ktruss",
    "q191_ks_drift", "q192_mann_kendall",
    // q157 cuts the gated survivor relation behind a lazy checkpoint (r21:
    // three consumers — span pairs, the scrub, the pack join — re-ran the
    // gate→dedup→decon prefix per evaluation); creation executes the
    // upstream gate at build under AQE, the q191/q192 shared-cut shape
    "q157_corpus_shards",
    // q219 cuts each HITS half-step's raw sums behind a lazy checkpoint
    // (the q136 per-round plan-doubling guard) — creation executes the
    // node-sized upstream at build, the documented index-build shape
    "q219_hits",
    // q195/q202 serve q170's memoized Lloyd centroids — a cold cache
    // fits them at build (the q43/q78/q127 eager-index rationale)
    "q195_silhouette", "q202_ann_mcnemar",
    // the series band serves the memoized (nation, day) daily-revenue
    // checkpoint (dailyRevenueCached) — whichever consumer builds first
    // on a cold cache materializes the dictionary-sized series at build
    // (the q214/q166 shared-checkpoint rationale); listing all seven
    // keeps the sweep order-independent
    "q177_ewma_trend", "q184_holt_trend", "q186_holt_winters",
    "q189_cusum_changepoint", "q203_spearman", "q210_acf_audit",
    "q215_pacf_audit", "q217_ar_fit", "q221_piecewise_trend",
    "q223_ljung_box",
    // q214 serves the memoized quantized-corpus checkpoint — a cold
    // cache materializes it at build (q207's rationale); q166 joined the
    // same contract in r19 when its ground truth moved to the memoized
    // exactTop5Cached checkpoint
    "q214_hard_negatives", "q166_ann_recall_exact",
    // q216's dense arm serves the memoized quantized-corpus checkpoint —
    // a cold cache materializes it at build (q214's rationale)
    "q216_rag_serve",
    // q207 builds from the memoized quantized-corpus checkpoint — a cold
    // cache materializes it at build (the same shared-index economics)
    "q207_chapman_coverage",
    // q82's first build per session writes the ORC layout (Staged)
    "q82_orc_roundtrip",
    // q83's first build per session writes the z-ordered layout (+ its
    // one-row min/max normalization aggregate; Staged)
    "q83_zorder_scan",
    // q85's first build per session writes the lang-partitioned directory
    // layout (Staged; the pruning asserts are driver-side file-listing
    // only, job-free on repeat builds)
    "q85_partition_pruned_scan",
    // q86/q87's first builds per session write the CSV / JSON-lines
    // layouts the round-trips read (Staged)
    "q86_csv_roundtrip", "q87_json_roundtrip",
    // q179's first build per session writes the XML layout (Staged)
    "q179_xml_roundtrip",
    // q89's first build per session writes the dict-z-ordered layout (+ its
    // two tiny dictionary/max-code aggregates; Staged)
    "q89_zorder_dict_scan",
    // q103's first build per session writes the lang-partitioned layout
    // then dynamic-overwrites the 'de' partition (Staged; repeat builds
    // job-free)
    "q103_partition_overwrite",
    // q104's first build per session fragments documents into 64 shards
    // then compacts them (Staged; repeat builds job-free)
    "q104_compaction",
    // q120's first build per session writes a fragmented lang-partitioned
    // layout then compacts each partition (Staged; the second compaction
    // pass is skip-all and job-free; repeat builds job-free)
    "q120_compaction_partitioned",
    // q136's edge relation sits behind a (nominally lazy) localCheckpoint;
    // under AQE, toRdd at checkpoint CREATION already executes the
    // upstream stages, so the edge materialization runs at build — an
    // index-build-shaped step (Graph.pageRank documents the trade)
    "q136_pagerank",
    // q140 iterates CC over the fuzzy-name entity graph at build, like q35
    "q140_entity_groups",
    // q162: personalized PageRank — q136's localCheckpoint discipline, one
    // cut per round (the dangling + contribution double-reference), so the
    // rounds execute at build under AQE
    "q162_personalized_pagerank",
    // q168's first build per session fits + saves the Word2Vec featurizer
    // (Staged; the index-build economics of q43's quantizer; repeat builds
    // load from the saved layout — still a driver-side read of the
    // persisted model)
    "q168_w2v_report",
    // q167: the co-supply edge dictionary sits behind a (nominally lazy)
    // localCheckpoint — q136's index-build-shaped trade, one cut for the
    // four references the census makes
    "q167_triangle_count",
    // q144/q145's first build per session writes the three-version
    // snapshot log (Staged; repeat builds list committed versions
    // driver-side and write nothing — their jobs are each version read's
    // parquet schema inference and q144's travelled-vs-latest count
    // assert, the documented in-build pin)
    "q144_time_travel", "q145_snapshot_diff",
    // q141/q142 learn BPE merges at build: each round's argmax is a 1-row
    // collect that must become a literal in the next round's rewrite —
    // inherently iterative (Bpe.learnMerges documents the contract)
    "q141_bpe_merges", "q142_bpe_fertility",
    // q170/q171/q172 run their Lloyd rounds at build (q172: one chain per
    // PQ subspace): each round's k×dims centroid sums collect and
    // re-enter the next round's plan as literals — the same
    // inherently-iterative contract as q141's merge learning
    "q170_kmeans_exact", "q171_ivf_recall_exact", "q172_pq_recall_exact",
    // q181: the edge-dictionary / node-set / self-loop-augmented
    // adjacency sit behind (nominally lazy) localCheckpoints — under AQE
    // checkpoint creation executes the upstream stages at build, q136's
    // index-build-shaped trade
    "q181_hop_distance",
    // q183's first build per session copies events into the 3-file stream
    // source and drives the AvailableNow sketch-maintenance stream (Staged;
    // repeat builds read the persisted state)
    "q183_stream_sketch_state",
    // r21 shared-relation memos: a COLD cache materializes the memoized
    // relation at build (checkpoint creation executes the upstream stages
    // under AQE — the q136/q175 documented index-build-shaped step); a
    // warm cache is job-free. q31/q35-family share ngramPairs200Cached,
    // q125/q126 share spanPairsCached, q174/q185 their retrieval feature/
    // posting indexes, q208 its trained profile table (a fit, the Lloyd
    // rationale)
    "q31_dedup_ngram_pairs", "q125_span_pairs", "q126_span_scrub",
    "q174_bm25_topk", "q185_hybrid_rrf", "q208_langid_confusion",
    // r21 in-query skinny-relation cuts (the q191/q192 rationale): the
    // shared dictionary/base relation each sits behind a lazy checkpoint
    // whose creation executes the upstream aggregate at build
    "q173_cms_sketch", "q211_kmv_set_ops")

  test("every declared query constructs with zero Spark jobs (except the eager set)") {
    val sc = spark.sparkContext
    // First-touch every table so schema-inference jobs happen here, not
    // inside the swept constructions.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach(Tables.load(spark, sf, _))
    Tables.events(spark, sf)

    // Attribution is by JOB DESCRIPTION, not a mutable var read at event-
    // delivery time: setJobDescription is thread-local and captured into the
    // job's properties synchronously at submit, so a job started by a
    // construction carries "__construct_<name>" no matter how late the async
    // listener bus delivers its event. (A var-based scheme misattributes any
    // event delivered after the var moves on — the race ADVICE r9 flagged.)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<untagged: " + js.stageInfos.map(_.name).mkString(" | ") + ">"))
    }
    sc.addSparkListener(listener)
    try {
      def sentinel(tag: String): Unit = {
        sc.setJobDescription(tag)
        try spark.range(1).count() finally sc.setJobDescription(null)
        val deadline = System.currentTimeMillis() + 30000
        while (!seen.contains(tag) && System.currentTimeMillis() < deadline)
          Thread.sleep(25)
        assert(seen.contains(tag), s"listener never saw the $tag job")
      }
      // Drain any event backlog from earlier suites sharing the session
      // (FIFO bus: once the flush sentinel arrives, older events are in).
      sentinel("__construction_flush")
      seen.clear()

      SparkEntry.queries.foreach { case (name, fn) =>
        if (!eagerByDesign(name)) {
          sc.setJobDescription(s"__construct_$name")
          try fn(spark, sf).columns // analysis only; must not run a job
          finally sc.setJobDescription(null)
        }
      }
      sentinel("__construction_sentinel")
      val offenders = seen.asScala.filterNot(_ == "__construction_sentinel").toSeq
      assert(offenders.isEmpty,
        s"construction started Spark job(s): ${offenders.distinct.mkString("; ")}")
    } finally sc.removeSparkListener(listener)
  }
}
