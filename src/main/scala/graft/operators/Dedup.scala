package graft.operators

import graft.functions.Exprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines (north-star band):
  * exact, n-gram Jaccard, MinHash+LSH banding, SimHash, embedding-cosine
  * (the last via Similarity.cosinePairs / lshNearDupPairs).
  *
  * Scale design: every path is shuffle-on-key (shingle, band key, simhash) —
  * never an all-pairs product. Candidate generation joins only rows sharing
  * a bucket; frequent-shingle filtering caps bucket fan-out, which is the
  * standard guard against the quadratic blowup a stop-shingle causes at
  * 100 TB.
  */
object Dedup {

  /** Exact dedup keeping the smallest id per duplicate group (hash-groupBy;
    * one shuffle on the dedup key). */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Distinct word n-gram shingles of a text column — the codegen'd
    * [[graft.functions.ShinglesExpr]] kernel (tokenize + gram + distinct in
    * one loop per row). The composable HOF form costs ~0.5 ms/doc through
    * interpreted lambda evaluation — see the expression's scaladoc. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.ShinglesExpr.shingles(text, n)

  /** All pairs (i < j) with shingle-set Jaccard ≥ `minJaccard`, in ONE
    * linear chain over ONE corpus scan.
    *
    * The earlier formulation self-joined a filtered (doc, shingle) table
    * and joined per-doc sizes back twice; every re-reference re-executed
    * the scan→explode→rare-filter lineage (the custom shingle kernel's
    * subtrees defeat exchange reuse), so the corpus was scanned up to
    * EIGHT times per evaluation. This chain touches it once:
    *
    *   1. group the exploded shingles by shingle key — doc occurrence
    *      LIST + occurrence count `df` in one aggregate (collect_list is
    *      bounded by the `maxDocFreq` stop-shingle guard that keeps hot
    *      shingles out of the pair fan-out in any formulation);
    *   2. re-explode the rare rows and attach each doc's rare-shingle
    *      occurrence count `n_sh` with a doc-keyed window;
    *   3. regroup by shingle and emit the ordered index pairs from the
    *      doc-sorted occurrence list — equal-doc index pairs dropped, so
    *      each (a, b) pair surfaces exactly (occ_a × occ_b) times per
    *      shingle, the same multiset count the self-join produced;
    *   4. one (id_a, id_b)-keyed aggregate sums intersections and carries
    *      the sizes (`first` — constant per doc), then the identical
    *      jaccard arithmetic filters.
    *
    * Shuffles are all keyed (shingle, doc, shingle, pair) — value-for-value
    * identical to the join formulation (DedupSpec pins planted fixtures;
    * q31/q35 hash-match their DuckDB mirrors), with occurrence (multiset)
    * semantics preserved exactly: `df`, `n_sh`, and `inter` all count
    * occurrence rows, not distinct docs. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minJaccard: Double = 0.8,
                        maxDocFreq: Long = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc")
    val perDoc = docs
      .select(col(idCol).as("doc"), explode(shingles(col(textCol), n)).as("sh"))
      .groupBy("sh").agg(collect_list(col("doc")).as("docs"), count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select(col("sh"), explode(col("docs")).as("doc"))
      .withColumn("n_sh", count(lit(1)).over(w))
    val pairsArr = flatten(transform(col("ds"), (a, i) =>
      transform(slice(col("ds"), i + lit(2), size(col("ds"))), b =>
        struct(a.getField("doc").as("id_a"), a.getField("n_sh").as("n_a"),
          b.getField("doc").as("id_b"), b.getField("n_sh").as("n_b")))))
    perDoc
      .groupBy("sh")
      .agg(sort_array(collect_list(struct(col("doc"), col("n_sh")))).as("ds"))
      .select(explode(pairsArr).as("p"))
      .filter(col("p.id_a") =!= col("p.id_b"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("p.n_a")).as("n_a"), first(col("p.n_b")).as("n_b"))
      .withColumn("jaccard", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "inter", "jaccard")
  }

  /** Portable 60-bit token/shingle hash: [[Exprs.hash60]] of `seed:s`,
    * identical in DuckDB ([[seededHashSql]]), so MinHash signatures are
    * cross-engine reproducible. */
  def seededHash(s: Column, seed: Int): Column =
    Exprs.hash60(concat(lit(seed.toString), lit(":"), s))

  def seededHashSql(s: String, seed: Int): String =
    Exprs.hash60Sql(s"concat('$seed', ':', $s)")

  /** MinHash signature: array of `numHashes` minima of seeded hashes over the
    * doc's shingle set. Empty shingle set → all Long.MaxValue. The codegen'd
    * [[graft.functions.MinHashSigExpr]] kernel — the composable form below
    * pays `numHashes` interpreted transform lambdas per row (spec-pinned
    * value-identical). The outer coalesce preserves the composable form's
    * null-text behavior (null text → all-MaxValue row, not null). */
  def minHashSignature(text: Column, n: Int, numHashes: Int): Column =
    coalesce(graft.functions.MinHashSigExpr.signature(text, n, numHashes),
      array((0 until numHashes).map(_ => lit(Long.MaxValue)): _*))

  /** The composable-expression definition of [[minHashSignature]], kept as
    * the kernel's executable specification (DedupSpec pins equality). */
  def minHashSignatureComposable(text: Column, n: Int, numHashes: Int): Column = {
    val sh = shingles(text, n)
    array((0 until numHashes).map { i =>
      coalesce(array_min(transform(sh, s => seededHash(s, i))), lit(Long.MaxValue))
    }: _*)
  }

  /** The banding half of [[minHashPairs]] on its own: the DISTINCT
    * (id_a, id_b) candidate pairs surfaced by band-key collisions, BEFORE
    * exact verification — the relation a recall/precision audit (q164)
    * compares against ground truth. */
  def minHashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, numHashes: Int = 16, numBands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / numBands
    // drop docs with no shingles BEFORE banding: they would all share the
    // identical all-MaxValue signature and collapse into one quadratic
    // bucket (the hot-key blowup the frequency guard exists to prevent)
    val sig = docs.select(col(idCol).as("doc"), col(textCol).as("text"))
      .filter(size(shingles(col(textCol), n)) > 0)
      .withColumn("sig", minHashSignature(col("text"), n, numHashes))
    val bands = sig.select(col("doc"), explode(
      array((0 until numBands).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))).as("key"))
      }: _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.key").as("key"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
  }

  /** Candidate near-dup pairs via LSH banding over MinHash signatures:
    * signature split into `numBands` bands, docs sharing any band key are
    * candidates (joined on the band key — bucket join, no product), then
    * exact Jaccard verifies. */
  def minHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, numHashes: Int = 16, numBands: Int = 4,
                   minJaccard: Double = 0.5): DataFrame = {
    val candidates = minHashCandidatePairs(docs, idCol, textCol, n, numHashes, numBands)
    // verify ONLY the candidate pairs: join their shingle sets back in and
    // intersect per pair — cost scales with |candidates|, never |docs|²
    val shingleSets = docs.select(col(idCol).as("doc"), shingles(col(textCol), n).as("shs"))
    candidates
      .join(shingleSets.select(col("doc").as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(shingleSets.select(col("doc").as("id_b"), col("shs").as("shs_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter") / (size(col("shs_a")) + size(col("shs_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash over token hashes: bit b is set iff more tokens have bit b set
    * than clear (ties → 0). `bits` ≤ 60 (hash width). One pass, no shuffle.
    * NULL text coalesces to signature 0 — the value the composable
    * `sum(when(...))` form (and the DuckDB oracle's `CASE ... ELSE 0`)
    * computes for NULL, so null-text docs bucket under 0, not NULL. */
  def simHash(text: Column, bits: Int = 16): Column =
    coalesce(graft.functions.SimHashExpr.simHash(text, bits), lit(0L))

  /** Docs grouped by identical simhash (hamming-0 near-dup groups). */
  def simHashGroups(docs: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    docs.select(col(idCol).as("doc"), simHash(col(textCol), bits).as("simhash"))
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min(col("doc")).as("min_doc"))

  /** Transitive closure over a near-dup pair graph: every node mapped to the
    * smallest id of its connected component — the group-resolution step a
    * training-data pipeline runs after `minHashPairs`/`simHashPairs` so that
    * A~B, B~C collapses into ONE keep-one group even when A~C was never
    * emitted as a pair.
    *
    * Algorithm: graphs whose MEASURED edge count is tiny (≤ `tinyEdgeLimit`,
    * default 1M rows) are solved exactly by one single-task union-find pass
    * — see the gate in the body; everything larger runs iterative min-label
    * propagation — TWO neighbor hops plus one pointer jump
    * (label(n) ← label(label(n))) per round, so convergence is
    * O(log diameter) rounds, not O(diameter) — near-dup graphs are mostly
    * tiny cliques plus the occasional long chain, and the jump step is what
    * keeps the chain case from serializing the whole job. Each round is
    * three key-partitioned joins + two aggregates (no all-pairs, nothing on
    * the driver but a 1-row convergence checksum). `localCheckpoint` severs
    * the otherwise exponentially growing lineage each round (on a real
    * cluster with executor churn, set a checkpoint dir and swap for
    * `checkpoint`).
    *
    * Two hops per round, and min-over-neighbors WITHOUT a per-step
    * least(own) (r21): a round's fixed costs — the label checkpoint write,
    * the convergence action, the AQE stage scheduling — dominate its join
    * work, and on the straggly-chain graphs that set the round count
    * (q123's 117-node component) two hops + jump converge in 6 rounds where
    * one hop + jump took 11, for the same total edge-join count. Dropping
    * the per-step least is sound because both edge orientations are
    * present and the INITIAL labels already fold self in: every neighbor m
    * of n then satisfies lbl(m) ≤ lbl₀(m) ≤ n (n ∈ N(m)), so
    * min-over-neighbors alone is monotone non-increasing and its fixpoint
    * is the component min (a stable non-constant labeling is impossible:
    * the component's max label would have to exceed all its neighbors'
    * labels and equal their min at once).
    *
    * Convergence detection: labels only ever decrease, so the label sum
    * (decimal — an ANSI long sum can overflow) is strictly monotone until
    * fixpoint; equal checksum ⇒ no label moved ⇒ done.
    *
    * Returns (node, canonical_id) for every node that appears in `pairs`;
    * nodes with no pairs are absent (handle via `dedupGroups`' left join).
    */
  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
                          idBCol: String = "id_b", maxIter: Int = 50,
                          tinyEdgeLimit: Long = 1000000L): DataFrame = {
    // both orientations via ONE explode, not a self-union: the pairs plan
    // (often an expensive candidate join) is evaluated once, not twice,
    // when the persist below first materializes
    // persisted PRE-PARTITIONED on dst, the key every round joins on: the
    // cached data then already has hashpartitioning(dst) and the per-round
    // join re-shuffles only the labels side (|V| rows), never the edge list
    // (|E| rows — the dominant movement on a dense near-dup graph)
    val edges = pairs
      .select(explode(array(
        struct(col(idACol).cast("long").as("src"), col(idBCol).cast("long").as("dst")),
        struct(col(idBCol).cast("long").as("src"), col(idACol).cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // coalesce(0): an EMPTY pair set must mean "no components", not an NPE —
    // sum over zero rows is NULL and the convergence compare would blow up
    def checksumOf(labels: DataFrame) =
      labels.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).collect().head.getDecimal(0)
    // a localCheckpointed plan is backed by a persisted RDD; once the NEXT
    // round's checkpoint has materialized the prior round's blocks are dead
    // weight — free them, or block-manager storage grows linearly with
    // rounds on long-diameter graphs
    def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
        case _ => None
      }
    // TINY-GRAPH mode (r22): every per-round stage otherwise inherits the
    // session-default partition layout (the edge cache + the label
    // checkpoints) even when the graph is a few hundred rows, so a round
    // costs ~4 stages × N-tasks of pure task scheduling at high core
    // counts (q123 ran 81 jobs on 336 edge rows, and the 8-core driver
    // bench beat the 32-core one across the whole CC family). When the
    // MEASURED edge count — a cheap cached scan; the count below is the
    // loop's first action and materializes the cache — is at most
    // `tinyEdgeLimit` rows (default 1M, ≲ tens of MB), the whole iterative loop is the wrong algorithm: a
    // graph that small is solved EXACTLY by one single-task union-find
    // pass (one job), where even single-task ROUNDS still paid one
    // checkpoint-materialize + checksum-collect job and its driver
    // planning gap per round (measured: the round mode left q123's CC at
    // ~1.5 s on 336 edges — pure per-round scheduling). Above the
    // threshold NOTHING changes (no second cache, no re-shuffle, no
    // closure in the hot path — the deployment-scale shape is exactly the
    // r21 code), so this is the guide-§2 "derive partitioning from input
    // size" rule, not a local-mode constant (the rejected round modes are
    // measured in OPTIMIZATION_r22.md #8).
    val confN = pairs.sparkSession.sessionState.conf.numShufflePartitions
    if (confN > 1 && edges.count() <= tinyEdgeLimit) {
      // zero allowed rounds cannot converge under any algorithm — keep the
      // maxIter contract (partial labels must never be returned silently)
      if (maxIter < 1)
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxIter rounds")
      val sess = pairs.sparkSession
      import sess.implicits._
      // min-root union-find with path compression: every union hangs the
      // larger root under the smaller, so each tree's root is its
      // component's min id throughout — the same fixpoint the label rounds
      // reach (DedupSpec pins tiny ≡ default on the chain+path graph).
      // coalesce(1) merges the cached edge partitions into one task with
      // no shuffle; ≤1M edges ⇒ ≤2M LongMap entries, a few tens of MB.
      val solved = edges.coalesce(1).as[(Long, Long)]
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x0: Long): Long = {
            var r = x0
            while (parent(r) != r) r = parent(r)
            var y = x0
            while (y != r) { val nxt = parent(y); parent(y) = r; y = nxt }
            r
          }
          it.foreach { case (a, b) =>
            if (!parent.contains(a)) parent(a) = a
            if (!parent.contains(b)) parent(b) = b
            val ra = find(a); val rb = find(b)
            if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
          }
          parent.keys.toArray.iterator.map(k => (k, find(k)))
        }
        .toDF("node", "lbl")
      graft.PlanDump.dumpIfEnabled(solved, "ccTinySolve")
      // EAGER checkpoint: the solve must run while the edge cache is hot —
      // a lazy cut materialized after unpersist would re-execute the
      // (often expensive) candidate-pair plan
      val out = solved.localCheckpoint(eager = true)
      edges.unpersist(blocking = false)
      return out.select(col("node"), col("lbl").as("canonical_id"))
    }
    // LAZY checkpoint: the checksum action right after both materializes the
    // round's labels AND reads the convergence signal in ONE job, instead of
    // an eager-checkpoint job followed by a checksum job per round
    var labels = edges.groupBy("src").agg(min(col("dst")).as("m"))
      .select(col("src").as("node"), least(col("src"), col("m")).as("lbl"))
      .localCheckpoint(eager = false)
    var checksum = checksumOf(labels)
    var converged = false
    var iter = 0
    // one neighbor hop: min label over neighbors (both orientations are in
    // `edges` and every node is a src, so the groupBy covers every node and
    // the self term is subsumed — see the monotonicity note above)
    def hop(lbls: DataFrame): DataFrame =
      edges.join(lbls.select(col("node").as("dst"), col("lbl")), "dst")
        .groupBy("src").agg(min(col("lbl")).as("lbl"))
        .select(col("src").as("node"), col("lbl"))
    // label-of-label (pointer jump); labels are always existing node ids,
    // so the jump join always hits
    def jump(stepped: DataFrame): DataFrame =
      stepped.as("x")
        .join(stepped.select(col("node").as("p"), col("lbl").as("plbl")),
          col("x.lbl") === col("p"), "left")
        .select(col("x.node").as("node"), coalesce(col("plbl"), col("x.lbl")).as("lbl"))
    while (!converged && iter < maxIter) {
      // two neighbor hops, then the pointer jump (measured r21: one extra
      // hop per round saves a round on straggly graphs but costs more than
      // it saves; a second jump does not reduce rounds at all)
      val stepped = jump(hop(hop(labels)))
      if (iter == 0) graft.PlanDump.dumpIfEnabled(stepped, "ccRound")
      val next = stepped.localCheckpoint(eager = false)
      val nextSum = checksumOf(next)
      converged = nextSum.compareTo(checksum) == 0
      checksum = nextSum
      checkpointRdd(labels).foreach(_.unpersist(blocking = false))
      labels = next
      iter += 1
    }
    edges.unpersist()
    if (!converged)
      // with pointer jumping, maxIter=50 covers diameters beyond any real
      // graph — hitting this means the inputs (or the algorithm) are broken,
      // and partial labels would silently under-merge duplicate groups
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds")
    labels.select(col("node"), col("lbl").as("canonical_id"))
  }

  /** Keep-one-per-cluster resolution: each doc mapped to the smallest doc id
    * of its connected near-dup component (matching `exact`'s min-id
    * convention); docs appearing in no pair are their own canonical. */
  def dedupGroups(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    docs.join(cc.select(col("node").as(idCol), col("canonical_id")), Seq(idCol), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col(idCol).cast("long")))
  }

  /** Incremental near-dup dedup — the production shape for a growing
    * corpus: `delta` (the new batch) is deduped against the EXISTING
    * `corpus` and then within itself, without re-clustering the corpus.
    * Contract: id spaces disjoint (document PKs), `corpus` already deduped.
    * A delta doc with a Jaccard ≥ `minJaccard` pair to ANY corpus doc is
    * `dup_of_corpus` (the existing copy wins unconditionally — it is
    * already served downstream; serving stability beats a marginally
    * better new copy). Survivors cluster among THEMSELVES (connected
    * components over the delta-only subgraph — the clustering cost tracks
    * the batch, never the accumulated corpus) and each group keeps its
    * highest-quality member (`qualityCol` desc, id tiebreak): `kept` /
    * `dup_in_delta`. Returns one row per delta doc:
    * (idCol, group_id, reason, keep); group_id is null for corpus dups.
    *
    * Shape at scale: one shingle-keyed pair join over corpus+delta (rarity
    * from the union — the maintained index's document frequencies); the
    * corpus-dup id-set is tiny (delta-bounded) and localCheckpoints after
    * the CC build first materializes it, so consumers reuse the ids
    * instead of re-running the shingle join.
    *
    * DELIBERATE exception to the operators-don't-cache convention (stated
    * at [[ngramJaccardPairs]]): the lazy localCheckpoint pins only the
    * delta-bounded dup id-set — kilobytes per nightly batch, not corpus-
    * scale — and without it the result plan references the shingle join
    * THREE times (anti-join, survivor-pair pruning, verdict join), tripling
    * the one genuinely expensive stage. A caller who needs a fully
    * unmaterialized plan can rebuild from [[ngramJaccardPairs]] directly;
    * storage is released with the session like any localCheckpoint. */
  def incrementalDedup(corpus: DataFrame, delta: DataFrame, idCol: String,
                       textCol: String, qualityCol: String,
                       n: Int = 3, minJaccard: Double = 0.5,
                       maxDocFreq: Long = 1000): DataFrame = {
    val keep = Seq(idCol, textCol, qualityCol).map(col)
    val union = corpus.select(keep: _*).unionByName(delta.select(keep: _*))
    val pairs = ngramJaccardPairs(union, idCol, textCol, n, minJaccard, maxDocFreq)
    val cIds = corpus.select(col(idCol))
    // delta docs paired with a corpus doc, either orientation: semi-join
    // one side into the corpus id-set, anti-join the other side out of it
    def crossSide(corpusSide: String, deltaSide: String) =
      pairs.join(cIds.select(col(idCol).as(corpusSide)), Seq(corpusSide), "left_semi")
        .join(cIds.select(col(idCol).as(deltaSide)), Seq(deltaSide), "left_anti")
        .select(col(deltaSide).as(idCol))
    val dupOfCorpus = crossSide("id_a", "id_b")
      .unionByName(crossSide("id_b", "id_a"))
      .distinct()
      .localCheckpoint(eager = false)
    val survivors = delta.join(dupOfCorpus, Seq(idCol), "left_anti")
    val survivorPairs = pairs
      .join(cIds.select(col(idCol).as("id_a")), Seq("id_a"), "left_anti")
      .join(cIds.select(col(idCol).as("id_b")), Seq("id_b"), "left_anti")
      .join(dupOfCorpus.select(col(idCol).as("id_a")), Seq("id_a"), "left_anti")
      .join(dupOfCorpus.select(col(idCol).as("id_b")), Seq("id_b"), "left_anti")
    val groups = dedupGroups(survivors.select(idCol), idCol, survivorPairs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canonical_id").orderBy(col(qualityCol).desc, col(idCol))
    val flags = groups.join(survivors.select(col(idCol), col(qualityCol)), Seq(idCol))
      .withColumn("keep", row_number().over(w) === 1)
    delta.select(col(idCol))
      .join(dupOfCorpus.withColumn("__cd", lit(1)), Seq(idCol), "left")
      .join(flags.select(col(idCol), col("canonical_id").as("group_id"), col("keep")),
        Seq(idCol), "left")
      .select(col(idCol), col("group_id"),
        when(col("__cd") === 1, lit("dup_of_corpus"))
          .when(col("keep"), lit("kept")).otherwise(lit("dup_in_delta")).as("reason"),
        coalesce(col("keep"), lit(false)).as("keep"))
  }

  /** Positional k-gram fingerprint stream: one row per (doc, pos, gram),
    * `pos` 1-based at the gram's first token. The codegen'd
    * [[graft.functions.PositionalGramsExpr]] kernel (ordered, WITH repeats —
    * unlike [[shingles]], whose distinct drops the positions span matching
    * needs). */
  def positionalGrams(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc"),
        posexplode(graft.functions.PositionalGramsExpr.grams(col(textCol), k)))
      .select(col("doc"), (col("pos") + 1).cast("long").as("pos"), col("col").as("gram"))

  /** Position-aligned gram matches between distinct docs: (id_a, pa, id_b,
    * pb) for every occurrence pair of a shared k-gram with id_a < id_b —
    * the raw material [[spanPairs]] chains into maximal spans.
    *
    * Two passes over the positional stream (r22): a count prefilter keeps
    * only pair-capable grams (2 ≤ occ ≤ maxOcc — counts are constant
    * per-gram state with map-side combine), then ONLY those grams'
    * occurrence lists are collected and the ordered cross-doc index pairs
    * emitted. Per-gram collected state is bounded by maxOcc BY THE FILTER
    * (a boilerplate gram with millions of occurrences contributes one
    * count row and is dropped before any list exists — the hot-key OOM
    * guard at corpus scale), and both passes parallelize over the input
    * partitioning (the former single-pass bounded-heap aggregate could
    * not: its per-gram partial heaps made a multi-partition merge cost
    * more than the serial stage it replaced — measured r21/r22).
    * Dropping over-frequent grams can split a span that crosses one — the
    * standard fingerprint-sampling caveat (Lee et al. 2021 §4 accept the
    * same for their frequency cutoffs); both engines apply the identical
    * cutoff so results still match. */
  def spanMatches(docs: DataFrame, idCol: String, textCol: String,
                  k: Int, maxOcc: Int): DataFrame = {
    val g = positionalGrams(docs, idCol, textCol, k)
    // TWO-PASS gram build (r22, VERDICT item 2). Pass 1 counts occurrences
    // per gram — a map-side-combined single long per (partition, gram) —
    // and keeps only PAIR-CAPABLE grams: 2 ≤ occ ≤ maxOcc (an occ-1 gram
    // produces no pairs by construction, and in a real corpus the vast
    // majority of k-grams occur once). Pass 2 collects occurrence lists
    // for the survivors alone. This replaces the single-pass
    // BottomKRows-heap aggregate whose per-gram partial heaps made the
    // stage unparallelizable: with N input partitions the heap MERGE
    // shuffled ~N× the single-partition state (measured 2.7× slower at
    // N=32 in r21), so the stage was pinned to one task — the largest
    // serial stage left in q157. With the count prefilter the collected
    // state is bounded by maxOcc per gram WITHOUT a heap (the filter ran
    // first), both passes parallelize over the input partitioning, and
    // the gram kernel's second evaluation is map-side-only work against
    // the caller's (checkpointed) rows. Output is value-identical:
    // sort_array over struct(doc, pos) is exactly the heap's byte-ordered
    // (doc, pos) ascending order, and the occ filter is unchanged.
    val keep = g.groupBy("gram").agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxOcc && col("occ") >= 2)
      .select("gram")
    val occs = g.join(keep, Seq("gram"), "left_semi")
      .groupBy("gram")
      .agg(sort_array(collect_list(struct(col("doc"), col("pos")))).as("os"))
    // ordered cross-doc pairs from the (doc,pos)-sorted occurrence list;
    // later elements with the same doc are intra-doc repeats (q47's
    // self-repetition band, not a cross-doc dup) — filtered out
    val pairsArr = flatten(transform(col("os"), (a, i) =>
      transform(
        filter(slice(col("os"), i + lit(2), size(col("os"))),
          b => b.getField("doc") =!= a.getField("doc")),
        b => struct(a.getField("doc").as("id_a"), a.getField("pos").as("pa"),
          b.getField("doc").as("id_b"), b.getField("pos").as("pb")))))
    occs.select(explode(pairsArr).as("m"))
      .select(col("m.id_a").as("id_a"), col("m.pa").as("pa"),
        col("m.id_b").as("id_b"), col("m.pb").as("pb"))
  }

  /** Exact duplicated substring spans across documents (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): maximal
    * runs of ≥ `minSpan` consecutive tokens shared verbatim between two
    * docs. Their suffix-array formulation is replaced by the Spark-native
    * equivalent: position-aligned k-gram matches ([[spanMatches]]) chained
    * into maximal runs with gaps-and-islands — two matches at (pa, pb) and
    * (pa+1, pb+1) lie on the same diagonal `pa − pb`, so a maximal span is
    * a maximal consecutive-pa run within (id_a, id_b, diag), found by the
    * `pa − row_number()` grouping constant. A run of m grams covers
    * m + k − 1 tokens.
    *
    * Scale shape: the only corpus-sized shuffles are the gram groupBy
    * (bounded state, see [[spanMatches]]) and the match aggregation; the
    * islands window partitions by (id_a, id_b, diag) — match-pair
    * granularity, no giant partitions. Returns (id_a, id_b, start_a,
    * start_b, span_toks), one row per maximal span. */
  def spanPairs(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 3, minSpan: Int = 20, maxOcc: Int = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "diag").orderBy("pa")
    spanMatches(docs, idCol, textCol, k, maxOcc)
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("id_a", "id_b", "diag", "grp")
      .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
        (count(lit(1)) + k - 1).as("span_toks"))
      .filter(col("span_toks") >= minSpan)
      .select("id_a", "id_b", "start_a", "start_b", "span_toks")
  }

  /** The APPLY step of span dedup — Lee et al. cut every duplicated
    * substring but one copy; here the lower-id doc keeps its text and each
    * higher-id doc has its duplicated token ranges removed. Returns one
    * row per doc: (idCol, n_toks, n_removed, clean_text) where clean_text
    * is the surviving tokens rejoined.
    *
    * Overlapping cut ranges (one doc duplicating several sources) are
    * union-merged per doc with gaps-and-islands over a running max — a
    * window partitioned by doc over interval-count rows, then the merged
    * interval list (small: spans per doc, not tokens) rides back to the
    * corpus on a doc-keyed left join, and one array pass drops covered
    * positions. The corpus is never shuffled on anything but its own id. */
  def spanScrub(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 3, minSpan: Int = 20, maxOcc: Int = 1000): DataFrame =
    spanScrubFrom(docs, idCol, textCol,
      spanPairs(docs, idCol, textCol, k, minSpan, maxOcc))

  /** [[spanScrub]] over a PRECOMPUTED span relation (the [[spanPairs]]
    * schema) — so a caller holding a materialized span set (q125/q126's
    * shared memo) applies the scrub without re-running the gram machinery. */
  def spanScrubFrom(docs: DataFrame, idCol: String, textCol: String,
                    spans: DataFrame): DataFrame = {
    val iv = spans.select(col("id_b").as("doc"), col("start_b").as("s"),
      (col("start_b") + col("span_toks") - 1).as("e"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy("s", "e")
    import org.apache.spark.sql.expressions.Window.{unboundedPreceding, currentRow}
    val merged = iv
      .withColumn("pe", max(col("e")).over(wOrd.rowsBetween(unboundedPreceding, -1)))
      .withColumn("nw", when(col("pe").isNull || col("s") > col("pe") + 1, 1).otherwise(0))
      .withColumn("grp", sum(col("nw")).over(wOrd.rowsBetween(unboundedPreceding, currentRow)))
      .groupBy("doc", "grp").agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val ivs = merged.groupBy("doc")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"),
        sum(col("e") - col("s") + 1).as("n_removed"))
    val toks = filter(split(lower(col(textCol)), "\\W+"), t => t =!= "")
    docs.select(col(idCol).cast("long").as("doc"), toks.as("ts"))
      .join(ivs, Seq("doc"), "left")
      .withColumn("kept", when(col("ivs").isNull, col("ts")).otherwise(
        transform(
          filter(sequence(lit(1L), size(col("ts")).cast("long")),
            p => !exists(col("ivs"), v => p >= v.getField("s") && p <= v.getField("e"))),
          p => element_at(col("ts"), p.cast("int")))))
      .select(col("doc").as(idCol), size(col("ts")).cast("long").as("n_toks"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Pairs within hamming distance ≤ `maxHamming` of each other's simhash,
    * by pigeonhole blocking: split the hash into maxHamming+1 bit blocks —
    * any pair within distance d must agree on ≥1 whole block, so candidates
    * join on (block_idx, block_bits) and only candidates pay the popcount
    * verification. Shuffle-on-key, never all-pairs. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int = 16, maxHamming: Int = 3): DataFrame =
    hammingPairs(
      docs.select(col(idCol).as("doc"), simHash(col(textCol), bits).as("simhash")),
      idCol = "doc", sigCol = "simhash", bits = bits, maxHamming = maxHamming)

  /** The pigeonhole block join itself, over any PRECOMPUTED bit signature
    * (text simhash, image dHash, audio fingerprint — the machinery is
    * modality-blind): split into maxHamming+1 blocks, candidates must
    * agree on ≥1 whole block, popcount verifies. Shuffle-on-key. */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   bits: Int, maxHamming: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    val blockSize = math.max(1, bits / nBlocks)
    val hashed = sigs.select(col(idCol).as("doc"), col(sigCol).as("simhash"))
    val blocks = hashed.select(col("doc"), col("simhash"), explode(array(
      (0 until nBlocks).map { b =>
        val lo = b * blockSize
        val width = if (b == nBlocks - 1) bits - lo else blockSize
        // Java shifts are mod 64: a 64-bit-wide block (maxHamming = 0 over
        // a full long) needs the explicit all-ones mask
        val mask = if (width >= 64) -1L else (1L << width) - 1
        struct(lit(b).as("blk"),
          shiftright(col("simhash"), lo).bitwiseAND(mask).as("bits"))
      }: _*)).as("bk"))
      .select(col("doc"), col("simhash"), col("bk.blk").as("blk"), col("bk.bits").as("bits"))
    val a = blocks.select(col("blk"), col("bits"), col("doc").as("id_a"), col("simhash").as("sh_a"))
    val b = blocks.select(col("blk"), col("bits"), col("doc").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("blk", "bits")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(first(col("hamming")).as("hamming"))
  }
}
