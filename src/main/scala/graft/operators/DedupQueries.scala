package graft.operators

import graft.{QuerySpec, SessionMemo}
import graft.functions.VectorFns
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup band of the LLM-data pipeline: exact, shingle, MinHash and
  * SimHash near-dup detection, semantic (embedding) dedup, keep-lists and
  * their incremental form, benchmark contamination and decontamination,
  * exact-substring span dedup, and the LSH recall and coverage audits.
  * The operators live in [[Dedup]] / [[Similarity]]; this module binds
  * them to the driver tables and renders the DuckDB mirrors.
  *
  * The synthetic corpus has no true near-dups (max pairwise Jaccard ≈ 0.03,
  * max cosine ≈ 0.46 — measured), so the oracle queries use top-N-pairs /
  * top-k form, which is non-empty and deterministic at any threshold;
  * threshold semantics are exercised in DedupSpec/SimilaritySpec with
  * planted duplicates.
  *
  * Owns the shared tokenizer mirrors ([[LowToksSql]], [[ShinglesSql]],
  * [[lowToksCol]]) the other text-reading bands use.
  */
object DedupQueries {

  import VectorFns.Sql.intDot
  import VectorQueries.{intAssign, intBandKeysSql, intPlanes, kmeansSqlCtes, lloydCentroidsCached,
    quantizedCte, quantizedVecsCk}

  /** DuckDB mirror of Dedup.lowToks. */
  private[operators] val LowToksSql =
    raw"""list_filter(str_split_regex(lower(text), '\W+'), t -> t <> '')"""

  /** DuckDB mirror of Dedup.shingles(text, 3). */
  private[operators] val ShinglesSql =
    s"""CASE WHEN len(ts) >= 3
       | THEN list_distinct(list_transform(generate_series(1, len(ts) - 2),
       |        i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2])))
       | ELSE [] END""".stripMargin.replace("\n", "")

  val q30DedupExact: QuerySpec = QuerySpec.oracle(
    "q30_dedup_exact",
    """SELECT min(doc_id) AS doc_id, count(*) AS n_dups, text
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    Dedup.exact(Tables.documents(spark, dir), "doc_id", Seq("text"))
      .select("doc_id", "n_dups", "text")
      .orderBy("doc_id")
  }

  /** Memoized shingle-pair relation over the bounded doc_id < 200 audit
    * region per (session, dir) — [[Dedup.ngramJaccardPairs]] at
    * minJaccard 0 (every shingle-sharing pair with its exact jaccard),
    * shared by FIVE consumers (r21): q31 (top pairs), q35 (CC groups),
    * q59/q73 (keep flags / apply, via the ≥ [[DedupMinJaccard]] filter —
    * exactly the filter the operator itself would have applied last) and
    * q165 (savings). Each previously re-ran the shingle explode + gram
    * groupBy + pair aggregate per evaluation; the pair relation is tiny
    * (audit-region-bounded), so the checkpoint holds the small output of
    * the one expensive stage. */
  private val ngramPairs200Memo = SessionMemo[DataFrame]("ngramPairs200")

  private def ngramPairs200Cached(spark: SparkSession, dir: String): DataFrame =
    ngramPairs200Memo(spark, dir) {
      Dedup.ngramJaccardPairs(
          Tables.documents(spark, dir).filter(col("doc_id") < 200),
          "doc_id", "text", n = 3, minJaccard = 0.0, maxDocFreq = 1000)
        .localCheckpoint(eager = false)
    }

  val q31NgramJaccard: QuerySpec = QuerySpec.oracle(
    "q31_dedup_ngram_pairs",
    s"""WITH ${rareShinglesCte(200)},
       |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
       |inter AS (
       |  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc GROUP BY 1, 2)
       |SELECT id_a, id_b, inter,
       |  inter / (sa.n_sh + sb.n_sh - inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc = id_a
       |JOIN sizes sb ON sb.doc = id_b
       |ORDER BY jaccard DESC, id_a, id_b LIMIT 20""".stripMargin
  ) { (spark, dir) =>
    ngramPairs200Cached(spark, dir)
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  private val NumHashes = 16

  private val NumBands = 4

  /** DuckDB mirror of Dedup.minHashSignature over the shingle list `shs`:
    * the NumHashes seeded-hash minima as one SQL list. */
  private val MinHashSigSql: String = (0 until NumHashes).map { i =>
    s"coalesce(list_min(list_transform(shs, s -> ${Dedup.seededHashSql("s", i)})), 9223372036854775807)"
  }.mkString("[", ",\n  ", "]")

  /** DuckDB mirror of Dedup.minHashCandidatePairs over the CTE `shl`:
    * CTEs `ne`, `sigs`, `bands` (md5 of each band's rows) and
    * `cand(id_a, id_b)`, the doc pairs sharing any band key. */
  private val MinHashCandidatesSql: String = {
    val rpb = NumHashes / NumBands
    val bandSelects = (0 until NumBands).map { b =>
      val (lo, hi) = (b * rpb + 1, b * rpb + rpb)
      s"SELECT doc_id AS doc, $b AS band, md5(array_to_string(sig[$lo:$hi], ',')) AS bkey FROM sigs"
    }
    s"""ne AS (SELECT doc_id, shs FROM shl WHERE len(shs) > 0),
       |sigs AS (SELECT doc_id, $MinHashSigSql AS sig FROM ne),
       |bands AS (${bandSelects.mkString("\n  UNION ALL ")}),
       |cand AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc)""".stripMargin
  }

  val q32MinHash: QuerySpec = QuerySpec.oracle(
    "q32_dedup_minhash_sig", {
      val bandExprs = (0 until NumBands).map { b =>
        val lo = b * (NumHashes / NumBands) + 1
        val hi = lo + NumHashes / NumBands - 1
        s"md5(array_to_string(sig[$lo:$hi], ',')) AS band$b"
      }
      s"""WITH toks AS (
         |  SELECT doc_id, $LowToksSql AS ts FROM documents WHERE doc_id < 200),
         |shl AS (SELECT doc_id, $ShinglesSql AS shs FROM toks),
         |sigs AS (SELECT doc_id, $MinHashSigSql AS sig FROM shl)
         |SELECT doc_id, array_to_string(sig, ',') AS sig_csv,
         |  ${bandExprs.mkString(",\n  ")}
         |FROM sigs ORDER BY doc_id""".stripMargin
    }
  ) { (spark, dir) =>
    val rowsPerBand = NumHashes / NumBands
    val sig = Dedup.minHashSignature(col("text"), 3, NumHashes)
    val csv = (c: Column) => concat_ws(",", transform(c, x => x.cast("string")))
    Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .withColumn("sig", sig)
      .select(Seq(col("doc_id"), csv(col("sig")).as("sig_csv")) ++
        (0 until NumBands).map { b =>
          md5(csv(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))).as(s"band$b")
        }: _*)
      .orderBy("doc_id")
  }

  val q33SimHash: QuerySpec = QuerySpec.oracle(
    "q33_dedup_simhash", {
      val bitExprs = (0 until 16).map { b =>
        s"CASE WHEN 2 * len(list_filter(hs, h -> ((h >> $b) & 1) = 1)) > len(hs) THEN CAST(${1L << b} AS BIGINT) ELSE 0 END"
      }
      s"""WITH toks AS (SELECT doc_id, $LowToksSql AS ts FROM documents),
         |hashed AS (SELECT doc_id, list_transform(ts, t -> ${Dedup.seededHashSql("t", 0)}) AS hs FROM toks)
         |SELECT doc_id, ${bitExprs.mkString(" + ")} AS simhash
         |FROM hashed ORDER BY doc_id""".stripMargin
    }
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), Dedup.simHash(col("text"), 16).as("simhash"))
      .orderBy("doc_id")
  }

  /** Near-dup GROUP resolution: the q31 shingle-pair graph closed
    * transitively (connected components, min-id canonical) — verified
    * against a DuckDB recursive-CTE closure over the identical pair set.
    * All shingle-sharing pairs (jaccard > 0) are edges so the tiny test
    * corpus yields non-trivial components. */
  val q35DedupGroups: QuerySpec = QuerySpec.oracle(
    "q35_dedup_groups",
    s"""WITH RECURSIVE ${rareShinglesCte(200)},
       |pairs AS (
       |  SELECT a.doc AS id_a, b.doc AS id_b
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc GROUP BY 1, 2),
       |${reachCte("SELECT doc_id, doc_id FROM toks")},
       |cc AS (SELECT node AS doc_id, min(lbl) AS canonical_id FROM reach GROUP BY node)
       |SELECT doc_id, canonical_id,
       |  count(*) OVER (PARTITION BY canonical_id) AS n_in_group
       |FROM cc ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    val pairs = ngramPairs200Cached(spark, dir)
    val groups = Dedup.dedupGroups(docs.select("doc_id"), "doc_id", pairs)
    groups
      .withColumn("n_in_group", count(lit(1)).over(Window.partitionBy("canonical_id")))
      .select("doc_id", "canonical_id", "n_in_group")
      .orderBy("doc_id")
  }

  /** Semantic (embedding-space) dedup resolution — q35's pipeline with the
    * edge set swapped from shingle Jaccard to exact cosine similarity:
    * pairs at cos ≥ 0.3 over the bounded subset (the documented quadratic;
    * at scale sign-LSH candidates feed the SAME resolution tail), closed
    * transitively by [[Dedup.connectedComponents]], min-id canonical,
    * keep = canonical member. Verified against a DuckDB recursive-CTE
    * closure over the identical edge set — the cosine values are
    * bit-matched cross-engine (q34), so both engines derive the same
    * edges, components, and keep-list. */
  val q123SemanticDedup: QuerySpec = QuerySpec.oracle(
    "q123_semantic_dedup",
    s"""WITH RECURSIVE v AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id
       |  WHERE ${VectorFns.Sql.cosine("a.embedding", "b.embedding")} >= 0.3),
       |${reachCte("SELECT vec_id, vec_id FROM v")},
       |cc AS (SELECT node AS vec_id, min(lbl) AS canonical_id FROM reach GROUP BY node)
       |SELECT vec_id, canonical_id,
       |  count(*) OVER (PARTITION BY canonical_id) AS n_in_group,
       |  vec_id = canonical_id AS keep
       |FROM cc ORDER BY vec_id""".stripMargin
  ) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir).filter(col("vec_id") < 200)
    val edges = Similarity.cosinePairs(emb, minCosine = 0.3).select("id_a", "id_b")
    val groups = Dedup.dedupGroups(emb.select("vec_id"), "vec_id", edges)
    groups
      .withColumn("n_in_group", count(lit(1)).over(Window.partitionBy("canonical_id")))
      .select(col("vec_id"), col("canonical_id"), col("n_in_group"),
        (col("vec_id") === col("canonical_id")).as("keep"))
      .orderBy("vec_id")
  }

  /** Full-corpus semantic dedup, the PRODUCTION path q123 documents —
    * promoted from comment to declared query (VERDICT r19 item 5): q41's
    * banded sign-LSH generates candidates over ALL embeddings (16 bands ×
    * 4 bits, pinned like q41 so the declared output is scale-stable;
    * production derives bits from |corpus| via the occupancy heuristic),
    * each candidate is cosine-VERIFIED at the same ≥ 0.3 threshold as
    * q123's exact audit region, and the surviving pairs feed the SAME
    * [[Dedup.connectedComponents]] resolution tail — keep-list out, one
    * row per vector, q123's exact schema. Float LSH planes keep it
    * rows-only (SURVEY §5's float-seed exclusion); honesty comes from the
    * spec: within the vec_id < 200 region the LSH candidate set is pinned
    * to a recall floor against q123's exact quadratic, and — because the
    * verify step applies the identical cosine expression — to PERFECT
    * precision (every banded pair the region yields is a true ≥ 0.3
    * pair). Shape at 100 TB: candidates per band are bucket-local (never
    * all-pairs), verification shrinks rows to (id, id) before any
    * shuffle, CC is the delta-friendly pointer-jumping loop. */
  val q218SemanticDedupFull: QuerySpec =
    QuerySpec.rowsOnly("q218_semantic_dedup_full") { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val cand = Similarity.signLshNearDupPairs(emb, minCosine = 0.3,
        numBands = 16, bitsPerBand = 4)
      val groups = Dedup.dedupGroups(emb.select("vec_id"), "vec_id",
        cand.select("id_a", "id_b"))
      groups
        .withColumn("n_in_group", count(lit(1)).over(Window.partitionBy("canonical_id")))
        .select(col("vec_id"), col("canonical_id"), col("n_in_group"),
          (col("vec_id") === col("canonical_id")).as("keep"))
        .orderBy("vec_id")
    }

  /** The contamination oracle of q38 and of its bloom-filtered form q51:
    * per held-out ('src0') doc, its shingles, how many occur in the train
    * split, and the ratio. */
  private val ContaminationSql: String =
    s"""WITH toks AS (SELECT doc_id, source, $LowToksSql AS ts FROM documents),
       |shl AS (SELECT doc_id, source, $ShinglesSql AS shs FROM toks),
       |ev AS (SELECT doc_id, unnest(shs) AS sh FROM shl WHERE source = 'src0'),
       |tr AS (SELECT DISTINCT unnest(shs) AS sh FROM shl WHERE source <> 'src0')
       |SELECT ev.doc_id, count(*) AS n_sh, count(tr.sh) AS n_hit,
       |  CAST(count(tr.sh) AS DOUBLE) / count(*) AS contamination
       |FROM ev LEFT JOIN tr ON ev.sh = tr.sh
       |GROUP BY ev.doc_id ORDER BY doc_id""".stripMargin

  /** Benchmark-contamination detection: for each held-out doc (source
    * 'src0'), the fraction of its distinct 3-gram shingles appearing
    * ANYWHERE in the training split — the train/eval overlap audit run
    * before training on scraped data. The train shingle set is key-joined
    * (one shuffle on the shingle), never collected or broadcast: it scales
    * with the corpus. */
  val q38Contamination: QuerySpec = QuerySpec.oracle(
    "q38_contamination",
    ContaminationSql
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val sh = Dedup.shingles(col("text"), 3)
    val ev = docs.filter(col("source") === "src0")
      .select(col("doc_id"), explode(sh).as("sh"))
    val tr = docs.filter(col("source") =!= "src0")
      .select(explode(sh).as("sh")).distinct()
      .withColumn("hit", lit(1))
    ev.join(tr, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
      .withColumn("contamination", col("n_hit").cast("double") / col("n_sh"))
      .orderBy("doc_id")
  }

  /** q38's contamination check with a Bloom prefilter on the scan side —
    * the 100 TB shape: a 6-probe codegen'd bloom test (built distributively
    * over the train shingles, shipped once per executor) drops definite
    * misses BEFORE the shuffle, and the exact join over the survivors
    * removes the false positives, so the answer — and the oracle — is
    * IDENTICAL to the unfiltered q38. At real scale the shuffle shrinks to
    * the contaminated fraction; the filter itself is bounded at 8 MB
    * (pickMBits cap), far under broadcast size. */
  val q51ContaminationBloom: QuerySpec = QuerySpec.oracle(
    "q51_contamination_bloom",
    ContaminationSql
  ) { (spark, dir) =>
    import graft.functions.BloomFilterOps
    val docs = Tables.documents(spark, dir)
    val sh = Dedup.shingles(col("text"), 3)
    val ev = docs.filter(col("source") === "src0")
      .select(col("doc_id"), explode(sh).as("sh"))
    // Raw (NON-distinct) train shingles feed the bloom: inserts are
    // idempotent, so deduplicating first would only add a full shuffle of
    // the train side before the build — the one cost this operator exists
    // to avoid. The build is fully LAZY (BloomBuildAggregate): the bitset
    // is a 1-row array<long> aggregate inside this query's own DAG, riding
    // a broadcast cross join to the probe side — so constructing this
    // DataFrame runs ZERO Spark jobs (Q51ConstructionSpec pins it) and at
    // execution the build is ONE scan whose shuffle carries one fixed-size
    // buffer per partition, never the data. Sizing comes from an
    // OVERESTIMATE (TOTAL table row count × a generous shingles-per-doc
    // bound) read from the parquet FOOTERS — driver-side metadata IO, not a
    // count() job (at scale a sizing count is itself a full corpus pass).
    // The footer count covers ALL sources (⊇ the train subset — a wider
    // overestimate), and oversizing a bloom only widens it toward the 8 MB
    // cap — it can never affect correctness (no false negatives either way;
    // the exact verify join below removes false positives and deduplicates
    // lazily exactly as q38).
    val trDocs = docs.filter(col("source") =!= "src0")
    val trRaw = trDocs.select(explode(sh).as("sh"))
    val nDocs = Tables.parquetRowCount(spark, s"$dir/documents.parquet")
    val mBits = BloomFilterOps.pickMBits(nDocs * 256)
    val bloom = trRaw.agg(BloomFilterOps.bloomAgg(col("sh"), mBits).as("__bloom"))
    val tr = trRaw.distinct()
    val nsh = ev.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val nhit = ev.crossJoin(broadcast(bloom))
      .filter(BloomFilterOps.mightContainIn(col("__bloom"), mBits, 6, col("sh")))
      .select("doc_id", "sh")
      .join(tr, Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val out = nsh.join(nhit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_sh")).as("contamination"))
      .orderBy("doc_id")
    out
  }

  /** DECONTAMINATION — q51's production-direction twin: flag/drop TRAIN
    * documents that contain eval-benchmark shingles, instead of profiling
    * eval docs against the train corpus. The direction matters at 100 TB:
    * here the bloom is built over the EVAL shingle set, whose size is
    * bounded by the benchmark suite (not the corpus), so the filter stays
    * comfortably under the broadcast cap at ANY corpus scale — whereas a
    * corpus-sized bloom (q51's direction) eventually outgrows its 8 MB cap
    * and has to fall back to the exact join. The 100 TB train side rides
    * the scan at full parallelism; only probable-hit shingles shuffle into
    * the exact verify join, which removes bloom false positives — so keep
    * flags are exact, and a clean corpus shuffles almost nothing. */
  val q75Decontaminate: QuerySpec = QuerySpec.oracle(
    "q75_decontaminate",
    s"""WITH toks AS (SELECT doc_id, source, $LowToksSql AS ts FROM documents),
       |shl AS (SELECT doc_id, source, $ShinglesSql AS shs FROM toks),
       |tr AS (SELECT doc_id, unnest(shs) AS sh FROM shl WHERE source <> 'src0'),
       |evs AS (SELECT DISTINCT unnest(shs) AS sh FROM shl WHERE source = 'src0'),
       |h AS (SELECT doc_id, count(*) AS n_hit FROM tr JOIN evs USING (sh) GROUP BY doc_id)
       |SELECT t.doc_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_eval_sh,
       |  h.n_hit IS NULL AS keep
       |FROM (SELECT doc_id FROM shl WHERE source <> 'src0') t
       |LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    import graft.functions.BloomFilterOps
    val docs = Tables.documents(spark, dir)
    val sh = Dedup.shingles(col("text"), 3)
    val tr = docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode(sh).as("sh"))
    val evRaw = docs.filter(col("source") === "src0").select(explode(sh).as("sh"))
    // Sized from the footer row count (⊇ the eval subset — wider
    // overestimate, metadata-only) exactly as q51; raw inserts, lazy build.
    val nDocs = Tables.parquetRowCount(spark, s"$dir/documents.parquet")
    val mBits = BloomFilterOps.pickMBits(nDocs * 256)
    val bloom = evRaw.agg(BloomFilterOps.bloomAgg(col("sh"), mBits).as("__bloom"))
    val hits = tr.crossJoin(broadcast(bloom))
      .filter(BloomFilterOps.mightContainIn(col("__bloom"), mBits, 6, col("sh")))
      .join(evRaw.distinct(), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    docs.filter(col("source") =!= "src0").select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hit"), lit(0L)).as("n_eval_sh"),
        col("n_hit").isNull.as("keep"))
      .orderBy("doc_id")
  }

  /** Spark side of [[LowToksSql]] (Dedup's case-insensitive tokenizer). */
  private[operators] def lowToksCol: Column =
    filter(split(lower(col("text")), "\\W+"), t => t =!= "")

  /** Pair threshold for the q59/q73 DECISION/APPLY queries. Unlike q35
    * (which keeps every shingle-sharing pair so the tiny corpus yields
    * non-trivial components to exercise the closure), the decision pass uses
    * a discriminative cut — at 0.0 any shared rare shingle links two docs
    * and 200 test docs collapse into ~2 components, so the apply join runs
    * against a degenerate 2-row keep-list. 0.5 keeps the output shaped like
    * production dedup: most docs survive, only real near-dups merge. */
  private val DedupMinJaccard = 0.5

  /** DuckDB mirror of [[Dedup.connectedComponents]]' reachability: CTEs
    * `edges` (both directions of `pairs(id_a, id_b)`) and the recursive
    * `reach(node, lbl)` started from `seed` (`SELECT id, id FROM …`, every
    * node labelled by itself); a node's component is its `min(lbl)`. */
  private def reachCte(seed: String): String =
    s"""edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(node, lbl) AS (
       |  $seed
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node)""".stripMargin

  /** DuckDB mirror of the rare-shingle sets Dedup.ngramJaccardPairs reads
    * over `doc_id < bound`: CTEs `toks`, `shl`, `sh0`, `rare` and
    * `sh(doc, sh)`, the shingles held by at most 1000 docs. */
  private def rareShinglesCte(bound: Int): String =
    s"""toks AS (
       |  SELECT doc_id, $LowToksSql AS ts FROM documents WHERE doc_id < $bound),
       |shl AS (SELECT doc_id, $ShinglesSql AS shs FROM toks),
       |sh0 AS (SELECT doc_id AS doc, unnest(shs) AS sh FROM shl),
       |rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 1000),
       |sh AS (SELECT doc, sh0.sh FROM sh0 JOIN rare USING (sh))""".stripMargin

  /** DuckDB CTE prefix shared by the dedup decision/incremental queries:
    * doc-bounded shingle pair graph (Jaccard ≥ [[DedupMinJaccard]],
    * mirroring Dedup.ngramJaccardPairs' rare-filtered distinct-shingle
    * sets). Ends at CTE `pairs(id_a, id_b)` with id_a < id_b. */
  private def dedupPairsCte(bound: Int): String =
    s"""${rareShinglesCte(bound)},
       |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
       |itx AS (
       |  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM itx
       |  JOIN sizes sa ON sa.doc = itx.id_a
       |  JOIN sizes sb ON sb.doc = itx.id_b
       |  WHERE CAST(itx.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - itx.inter)
       |        >= $DedupMinJaccard)""".stripMargin

  /** Shared DuckDB CTE chain for the dedup decision pass (q59/q73): the
    * pair graph → recursive-closure connected components → docs joined with
    * their group label. Ends at CTE `j(doc_id, group_id, n_chars)`. */
  private val DedupGroupsCte =
    s"""WITH RECURSIVE ${dedupPairsCte(200)},
       |${reachCte("SELECT doc_id, doc_id FROM toks")},
       |cc AS (SELECT node AS doc_id, min(lbl) AS group_id FROM reach GROUP BY node),
       |j AS (SELECT d.doc_id, cc.group_id, d.n_chars
       |  FROM documents d JOIN cc USING (doc_id) WHERE d.doc_id < 200)""".stripMargin

  /** The PRODUCTION pattern for the dedup decision: resolve keep flags from
    * PRECOMPUTED group labels (`Dedup.dedupGroups` output — doc_id,
    * canonical_id), so ONE connected-components run feeds every consumer
    * (decision, apply, audit). The standalone declared queries q35/q59/q73
    * each re-derive the labels because a declared query must be
    * self-contained — that triple cost is a bench artifact, not the
    * production shape; this overload is the shape. Within each group the
    * representative is the highest-quality member (longest text, doc_id
    * tiebreak). Columns: doc_id, group_id, n_chars, keep. */
  def dedupKeepFlagsFrom(groups: DataFrame, docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("group_id").orderBy(col("n_chars").desc, col("doc_id"))
    groups.join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .select(col("doc_id"), col("canonical_id").as("group_id"), col("n_chars"))
      .withColumn("keep", row_number().over(w) === 1)
  }

  /** Spark side of [[DedupGroupsCte]] + keep flag, shared by q59/q73: within
    * each CC group the representative is the highest-quality member (longest
    * text, doc_id tiebreak). Columns: doc_id, group_id, n_chars, keep. */
  private def dedupKeepFlags(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    // the memoized audit-region pair set, thresholded — the filter the
    // operator itself would have applied last, on identical jaccard values
    val pairs = ngramPairs200Cached(spark, dir)
      .filter(col("jaccard") >= DedupMinJaccard)
    dedupKeepFlagsFrom(Dedup.dedupGroups(docs.select("doc_id"), "doc_id", pairs), docs)
  }

  /** The DECISION step of near-dup dedup: q35's connected components resolved
    * into a keep/drop decision — within each group the representative is the
    * highest-quality member (longest text, doc_id tiebreak), NOT blindly the
    * min-id label, matching how production dedup keeps the best copy rather
    * than the first-seen one. Verified against the identical DuckDB
    * recursive-CTE closure plus a window argmax. Shape at scale: inherits
    * CC's properties (edges shuffle once, labels iterate), then one
    * group-keyed window — the decision pass adds a single hash shuffle. */
  val q59DedupKeeplist: QuerySpec = QuerySpec.oracle(
    "q59_dedup_keeplist",
    s"""$DedupGroupsCte
       |SELECT doc_id, group_id, n_chars,
       |  row_number() OVER (PARTITION BY group_id ORDER BY n_chars DESC, doc_id) = 1 AS keep
       |FROM j ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    dedupKeepFlags(spark, dir).orderBy("doc_id")
  }

  /** The APPLY step — the operator a user actually runs on a corpus: q59's
    * keep flags filtered and joined back to the full document columns,
    * emitting the deduped corpus itself (one representative per near-dup
    * group, all document fields intact, plus its group label for lineage).
    * Shape at scale: the keep-list (doc_id, group_id — ids only, a fraction
    * of the corpus width) joins the documents table on its primary key; one
    * hash shuffle of ids against the corpus scan, no extra pass over text. */
  val q73DedupApply: QuerySpec = QuerySpec.oracle(
    "q73_dedup_apply",
    s"""$DedupGroupsCte,
       |k AS (SELECT doc_id, group_id,
       |    row_number() OVER (PARTITION BY group_id ORDER BY n_chars DESC, doc_id) = 1 AS keep
       |  FROM j)
       |SELECT k.doc_id, k.group_id, d.text, d.lang, d.source, d.n_chars
       |FROM k JOIN documents d USING (doc_id)
       |WHERE keep ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    dedupKeepFlags(spark, dir)
      .filter(col("keep"))
      .select("doc_id", "group_id")
      .join(docs, Seq("doc_id"))
      .select("doc_id", "group_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** INCREMENTAL dedup — the production shape for a growing corpus: a new
    * batch (the delta, doc_id in [150, 300)) is deduped against the EXISTING
    * corpus (doc_id < 150) and then within itself, WITHOUT re-clustering the
    * corpus. Three-way verdict per delta doc:
    *
    *   - `dup_of_corpus`: shares a Jaccard ≥ [[DedupMinJaccard]] pair with
    *     any existing doc — the existing copy wins unconditionally (the
    *     corpus is already deduped and already served downstream; stability
    *     of the served set beats the marginally-longer new copy);
    *   - survivors run the q59 machinery among THEMSELVES (CC over
    *     survivor-survivor pairs, best-quality representative per group):
    *     `kept` or `dup_in_delta`.
    *
    * Shape at scale: one shingle-keyed pair join over corpus+delta (rarity
    * from the union, i.e. the maintained index's document frequencies), but
    * CC iterates over the DELTA-ONLY subgraph — the nightly batch, not the
    * accumulated 100 TB corpus, which is the entire point of incremental
    * dedup. Corpus-side shingles rejoin once; corpus labels never move. */
  val q80DedupIncremental: QuerySpec = QuerySpec.oracle(
    "q80_dedup_incremental",
    s"""WITH RECURSIVE ${dedupPairsCte(300)},
       |cdup AS (SELECT DISTINCT id_b AS doc_id FROM pairs
       |         WHERE id_a < 150 AND id_b >= 150),
       |ss AS (SELECT id_a, id_b FROM pairs
       |       WHERE id_a >= 150
       |         AND id_a NOT IN (SELECT doc_id FROM cdup)
       |         AND id_b NOT IN (SELECT doc_id FROM cdup)),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM ss
       |          UNION ALL SELECT id_b, id_a FROM ss),
       |surv AS (SELECT doc_id FROM toks
       |         WHERE doc_id >= 150 AND doc_id NOT IN (SELECT doc_id FROM cdup)),
       |reach(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM surv
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
       |cc AS (SELECT node AS doc_id, min(lbl) AS group_id FROM reach GROUP BY node),
       |j AS (SELECT d.doc_id, cc.group_id, d.n_chars
       |      FROM documents d JOIN cc USING (doc_id)),
       |k AS (SELECT doc_id, group_id,
       |    row_number() OVER (PARTITION BY group_id ORDER BY n_chars DESC, doc_id) = 1 AS keep
       |  FROM j)
       |SELECT t.doc_id, k.group_id,
       |  CASE WHEN cdup.doc_id IS NOT NULL THEN 'dup_of_corpus'
       |       WHEN k.keep THEN 'kept' ELSE 'dup_in_delta' END AS reason,
       |  coalesce(k.keep, false) AS keep
       |FROM toks t
       |LEFT JOIN cdup ON t.doc_id = cdup.doc_id
       |LEFT JOIN k ON t.doc_id = k.doc_id
       |WHERE t.doc_id >= 150
       |ORDER BY t.doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 300)
    Dedup.incrementalDedup(
        corpus = docs.filter(col("doc_id") < 150),
        delta = docs.filter(col("doc_id") >= 150),
        idCol = "doc_id", textCol = "text", qualityCol = "n_chars",
        n = 3, minJaccard = DedupMinJaccard, maxDocFreq = 1000)
      .orderBy("doc_id")
  }

  /** MinHash-LSH candidate PAIRS ([[Dedup.minHashPairs]]) as a declared
    * oracle query — the fourth dedup family's pair generation made
    * driver-visible (q31 covers shingle-join pairs, q32 the signatures,
    * q33 simhash; this closes the matrix). Banding is the scale story:
    * docs sharing any 4-hash band key join on the key — bucket join,
    * never all-pairs — and only the surfaced candidates pay the exact
    * Jaccard verification. On the doc_id < 200 slice the corpus's 3 true
    * near-dup pairs (Jaccard ≥ 0.9, bimodal against ~0.03 junk) all
    * band-collide deterministically, so the declared output at the shared
    * [[DedupMinJaccard]] threshold is exactly the true-dup pair set. The
    * DuckDB mirror replays the identical banding (the md5-seeded hashes
    * are cross-engine, proven by q32) and the exact-Jaccard verification
    * from first principles. */
  val q88MinHashPairs: QuerySpec = QuerySpec.oracle(
    "q88_dedup_minhash_pairs",
    s"""WITH toks AS (
       |  SELECT doc_id, $LowToksSql AS ts FROM documents WHERE doc_id < 200),
       |shl AS (SELECT doc_id, $ShinglesSql AS shs FROM toks),
       |$MinHashCandidatesSql,
       |sized AS (
       |  SELECT id_a, id_b, len(list_intersect(sa.shs, sb.shs)) AS inter,
       |    len(sa.shs) AS n_a, len(sb.shs) AS n_b
       |  FROM cand
       |  JOIN shl sa ON sa.doc_id = id_a
       |  JOIN shl sb ON sb.doc_id = id_b)
       |SELECT id_a, id_b, inter / (n_a + n_b - inter) AS jaccard
       |FROM sized WHERE inter / (n_a + n_b - inter) >= $DedupMinJaccard
       |ORDER BY id_a, id_b""".stripMargin
  ) { (spark, dir) =>
    Dedup.minHashPairs(
        Tables.documents(spark, dir).filter(col("doc_id") < 200),
        "doc_id", "text", n = 3, numHashes = NumHashes, numBands = NumBands,
        minJaccard = DedupMinJaccard)
      .orderBy("id_a", "id_b")
  }

  /** LSH-dedup quality audit — q78's declared-recall discipline applied to
    * the MinHash band (and, unlike the float ANN report, fully
    * ORACLE-checked: both sides are deterministic integer/string
    * machinery): ground truth is the exact all-pairs shingle Jaccard on
    * the q31 slice, candidates are q88's banded collisions, and the
    * report counts, per Jaccard threshold, how many true pairs the
    * banding surfaced — the measured S-curve (recall ~0 in the chance-
    * collision regime, 1.0 above the design threshold) that justifies
    * running banded LSH instead of the
    * quadratic at 100 TB, where only the banding is feasible and this
    * report is the evidence it loses almost nothing above the design
    * threshold. n_candidates rides along so precision-at-verify is
    * derivable from the same rows. */
  val q164LshDedupRecall: QuerySpec = QuerySpec.oracle(
    "q164_lsh_dedup_recall",
    s"""WITH ${rareShinglesCte(200)},
       |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
       |exact AS (
       |  SELECT a.doc AS id_a, b.doc AS id_b,
       |    count(*) / (sa.n_sh + sb.n_sh - count(*)) AS jaccard
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
       |  JOIN sizes sa ON sa.doc = a.doc
       |  JOIN sizes sb ON sb.doc = b.doc
       |  GROUP BY 1, 2, sa.n_sh, sb.n_sh),
       |$MinHashCandidatesSql,
       |nc AS (SELECT count(*) AS n_candidates FROM cand),
       |j AS (SELECT e.jaccard, c.id_a IS NOT NULL AS caught
       |      FROM exact e LEFT JOIN cand c ON c.id_a = e.id_a AND c.id_b = e.id_b),
       |grid AS (SELECT unnest([0.02, 0.05, 0.1, 0.3, 0.5, 0.9]) AS threshold)
       |SELECT g.threshold,
       |  count(*) FILTER (WHERE j.jaccard >= g.threshold) AS n_true,
       |  count(*) FILTER (WHERE j.jaccard >= g.threshold AND j.caught) AS n_caught,
       |  any_value(nc.n_candidates) AS n_candidates
       |FROM grid g CROSS JOIN nc LEFT JOIN j ON true
       |GROUP BY g.threshold
       |ORDER BY g.threshold""".stripMargin
  ) { (spark, dir) =>
    val slice = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    val exact = Dedup.ngramJaccardPairs(slice, "doc_id", "text",
        n = 3, minJaccard = 0.0, maxDocFreq = 1000)
      .select("id_a", "id_b", "jaccard")
    val cand = Dedup.minHashCandidatePairs(slice, "doc_id", "text",
        n = 3, numHashes = NumHashes, numBands = NumBands)
      .withColumn("is_cand", lit(1))
    val nc = cand.agg(count(lit(1)).as("n_candidates"))
    val joined = exact.join(cand, Seq("id_a", "id_b"), "left")
    // grid-side outer join (mirroring the oracle's grid CROSS JOIN ... LEFT
    // JOIN): every threshold row survives with zero counts even when the
    // exact pair set is EMPTY — an exploded per-pair grid would return 0
    // rows there while the oracle returns |grid|
    val grid = exact.sparkSession.range(1)
      .select(explode(typedlit(Seq(0.02, 0.05, 0.1, 0.3, 0.5, 0.9))).as("threshold"))
    grid.join(joined, lit(true), "left")
      .groupBy("threshold")
      .agg(count(when(col("jaccard") >= col("threshold"), 1)).as("n_true"),
        count(when(col("jaccard") >= col("threshold") && col("is_cand").isNotNull, 1))
          .as("n_caught"))
      .crossJoin(broadcast(nc))
      .orderBy("threshold")
  }

  /** Dedup-savings report — the cluster-size histogram every dedup run
    * publishes before anyone approves dropping data: per NEAR-dup cluster
    * size (q35's CC resolution over the Jaccard ≥ [[DedupMinJaccard]]
    * pair graph — this fixture has no byte-identical dups, so exact-text
    * clusters would be a degenerate all-size-1 histogram), how many
    * clusters, documents and tokens they hold, and how much is REDUNDANT
    * (everything but the canonical member). The histogram's tail is also
    * the data-quality smoke alarm: a fat cluster at size N ≫ 2 is
    * boilerplate or a crawler loop, not organic duplication. Shape: the
    * bounded q31-slice pair graph + CC + one token scan, re-keyed by the
    * BOUNDED cluster-size dictionary. */
  val q165DedupSavings: QuerySpec = QuerySpec.oracle(
    "q165_dedup_savings",
    s"""WITH RECURSIVE ${rareShinglesCte(200)},
       |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
       |jp AS (
       |  SELECT a.doc AS id_a, b.doc AS id_b,
       |    count(*) / (sa.n_sh + sb.n_sh - count(*)) AS j
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
       |  JOIN sizes sa ON sa.doc = a.doc
       |  JOIN sizes sb ON sb.doc = b.doc
       |  GROUP BY 1, 2, sa.n_sh, sb.n_sh),
       |pairs AS (SELECT id_a, id_b FROM jp WHERE j >= $DedupMinJaccard),
       |${reachCte("SELECT doc_id, doc_id FROM toks")},
       |cc AS (SELECT node AS doc_id, min(lbl) AS canonical_id FROM reach GROUP BY node),
       |dt AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS toks FROM toks),
       |cl AS (
       |  SELECT cc.canonical_id, count(*) AS sz,
       |    CAST(sum(dt.toks) AS BIGINT) AS toks,
       |    CAST(sum(CASE WHEN cc.doc_id = cc.canonical_id THEN dt.toks ELSE 0 END) AS BIGINT) AS kept
       |  FROM cc JOIN dt USING (doc_id) GROUP BY 1)
       |SELECT CAST(sz AS BIGINT) AS cluster_size,
       |  count(*) AS n_clusters,
       |  CAST(sz * count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  CAST((sz - 1) * count(*) AS BIGINT) AS n_redundant_docs,
       |  CAST(sum(toks - kept) AS BIGINT) AS n_redundant_tokens
       |FROM cl GROUP BY sz ORDER BY cluster_size""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    val pairs = ngramPairs200Cached(spark, dir)
      .filter(col("jaccard") >= DedupMinJaccard)
      .select("id_a", "id_b")
    val groups = Dedup.dedupGroups(docs.select("doc_id"), "doc_id", pairs)
    val dt = docs.select(col("doc_id"), size(lowToksCol).cast("long").as("toks"))
    val cl = groups.join(dt, "doc_id")
      .groupBy("canonical_id")
      .agg(count(lit(1)).as("sz"),
        sum(col("toks")).cast("long").as("toks"),
        sum(when(col("doc_id") === col("canonical_id"), col("toks")).otherwise(0L))
          .cast("long").as("kept"))
    cl.groupBy("sz")
      .agg(count(lit(1)).as("n_clusters"),
        (col("sz") * count(lit(1))).cast("long").as("n_docs"),
        sum(col("toks")).cast("long").as("n_tokens"),
        ((col("sz") - 1) * count(lit(1))).cast("long").as("n_redundant_docs"),
        sum(col("toks") - col("kept")).cast("long").as("n_redundant_tokens"))
      .select(col("sz").cast("long").as("cluster_size"), col("n_clusters"),
        col("n_docs"), col("n_tokens"), col("n_redundant_docs"), col("n_redundant_tokens"))
      .orderBy("cluster_size")
  }

  /** SemDeDup — cluster-then-dedup semantic deduplication (Abbas et al.
    * 2023; the D4/SemDeDup pipeline op), the CLUSTERED alternative to
    * q218's LSH candidates and this band's only fully ORACLE-CHECKED
    * semantic dedup: q170's integer k-means partitions the corpus, pair
    * comparison happens ONLY within a cluster (the published method's
    * scale contract — candidate pairs are cluster-local, never corpus-
    * quadratic), near-duplicates resolve by connected components, and
    * each group keeps its MOST PROTOTYPICAL member (min distance to the
    * cluster centroid — SemDeDup's keep-the-representative rule, vs the
    * min-id convention of the exact bands). Exactness end to end: the
    * centroids are q170's integer literals, the duplicate predicate
    * avoids the cosine's sqrt entirely — dot ≥ 0 AND 100·dot² ≥ 9·|a|²|b|²
    * ⟺ cos ≥ 0.3 in pure int64 — and the CC recursion mirrors as q123's
    * recursive CTE, so groups, keeps, and sizes all hash-match. Shape at
    * 100 TB: one in-row assignment over centroid literals, one
    * cluster-keyed self-join whose pair mass is Σ|cluster|² (bounded by
    * the quantizer's balance, the SemDeDup argument), pointer-jumping CC
    * on the near-dup subgraph. */
  val q222SemDedupClusters: QuerySpec = {
    val (k, dims, rounds) = (8, 64, 3)
    val sql =
      s"""${kmeansSqlCtes(k, dims, rounds).replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |nv AS MATERIALIZED (
         |  SELECT a.vec_id, a.cid, a.dist, q.qv, ${intDot("q.qv", "q.qv")} AS n2
         |  FROM af a JOIN q ON q.vec_id = a.vec_id),
         |pairs AS MATERIALIZED (SELECT id_a, id_b FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${intDot("a.qv", "b.qv")} AS d, a.n2 AS na, b.n2 AS nb
         |  FROM nv a JOIN nv b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |  WHERE d >= 0 AND 100 * d * d >= 9 * na * nb),
         |${reachCte("SELECT vec_id, vec_id FROM nv")},
         |cc AS (SELECT node AS vec_id, min(lbl) AS group_id FROM reach GROUP BY node)
         |SELECT n.vec_id, CAST(n.cid AS BIGINT) AS cluster, cc.group_id,
         |  count(*) OVER (PARTITION BY cc.group_id) AS n_in_group,
         |  row_number() OVER (PARTITION BY cc.group_id
         |                     ORDER BY n.dist, n.vec_id) = 1 AS keep
         |FROM nv n JOIN cc ON cc.vec_id = n.vec_id
         |ORDER BY n.vec_id""".stripMargin
    QuerySpec.oracle("q222_semdedup_clusters", sql) { (spark, dir) =>
      val quant = quantizedVecsCk(spark, dir)
      val cents = lloydCentroidsCached(spark, dir, -1, k, dims, rounds)
      val intDot = graft.functions.LongDotExpr.dot _
      // assignment + norms once; the relation feeds the self-join twice
      // and the final report — cut it (the q207 skinny-relation rule)
      val nv = quant.withColumn("m", intAssign(cents))
        .select(col("vec_id"), col("qv"), col("m.cid").as("cid"),
          col("m.dist").as("dist"), intDot(col("qv"), col("qv")).as("n2"))
        .localCheckpoint(eager = false)
      val a = nv.select(col("cid"), col("vec_id").as("id_a"),
        col("qv").as("qv_a"), col("n2").as("na"))
      val b = nv.select(col("cid"), col("vec_id").as("id_b"),
        col("qv").as("qv_b"), col("n2").as("nb"))
      val pairs = a.join(b, Seq("cid")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          intDot(col("qv_a"), col("qv_b")).as("d"), col("na"), col("nb"))
        .filter(col("d") >= 0 && expr("100 * d * d >= 9 * na * nb"))
        .select("id_a", "id_b")
      val groups = Dedup.dedupGroups(
        nv.select("vec_id", "cid", "dist"), "vec_id", pairs)
      groups
        .withColumn("n_in_group",
          count(lit(1)).over(Window.partitionBy("canonical_id")))
        .withColumn("keep", row_number().over(
          Window.partitionBy("canonical_id").orderBy("dist", "vec_id")) === 1)
        .select(col("vec_id"), col("cid").cast("long").as("cluster"),
          col("canonical_id").as("group_id"), col("n_in_group"), col("keep"))
        .orderBy("vec_id")
    }
  }

  /** DuckDB mirror of [[Dedup.spanPairs]]'s span CTE chain (k=3,
    * maxOcc=200, minSpan=15): positional trigrams → stop-gram cutoff →
    * cross-doc position-aligned matches → gaps-and-islands on the
    * diagonal. Shared by q125 (report), q126 (scrub) and — via the
    * parameterized source relation — the q157 capstone's sub-document
    * dedup stage. Returns the CTE list WITHOUT a leading WITH so callers
    * can splice it into an existing chain. */
  private[operators] def spanCtes(k: Int, maxOcc: Int, minSpan: Int,
                                  from: String = "documents"): String = {
    val gramCols = (0 until k).map(j => s"ts[i+$j]").mkString(", ")
    s"""toks AS MATERIALIZED (SELECT doc_id, $LowToksSql AS ts FROM $from),
       |g AS (SELECT doc_id AS doc, unnest(generate_series(1, len(ts)-${k - 1})) AS pos,
       |  unnest(list_transform(generate_series(1, len(ts)-${k - 1}),
       |    i -> concat_ws(' ', $gramCols))) AS gram FROM toks),
       |rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= $maxOcc),
       |gr AS (SELECT doc, pos, g.gram FROM g JOIN rare USING (gram)),
       |m AS (SELECT a.doc AS id_a, a.pos AS pa, b.doc AS id_b, b.pos AS pb
       |  FROM gr a JOIN gr b ON a.gram = b.gram AND a.doc < b.doc),
       |isl AS (SELECT id_a, id_b, pa, pb, pa - pb AS diag,
       |  pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp FROM m),
       |spans AS (SELECT id_a, id_b, min(pa) AS start_a, min(pb) AS start_b,
       |    count(*) + ${k - 1} AS span_toks
       |  FROM isl GROUP BY id_a, id_b, diag, grp
       |  HAVING count(*) + ${k - 1} >= $minSpan)""".stripMargin
  }

  // k=5: over this corpus's 31-word vocabulary, TRIGRAMS collide by
  // chance (14k cross-doc match rows at sf0.01) while 5-grams collide
  // essentially only inside genuinely duplicated text (1.2k rows, the
  // IDENTICAL 24 spans ≥ 15 — measured both ways); real corpora have the
  // same property at lower k. minSpan 15 ≥ 2k−1 so a reported span always
  // contains at least two overlapping grams of genuine run.
  private[operators] val SpanK = 5

  private[operators] val SpanMaxOcc = 200

  private[operators] val SpanMin = 15

  /** Memoized full-corpus maximal-span relation per (session, dir) — the
    * [[Dedup.spanPairs]] output at the shared (SpanK, SpanMin, SpanMaxOcc)
    * config, shared by q125 (report) and q126 (scrub) (r21): both queries
    * previously re-ran the whole positional-gram machinery (the corpus
    * explode + BottomKRows gram groupBy + islands window) per evaluation.
    * The span relation is spans-per-corpus sized (tiny next to the gram
    * stream), so the checkpoint materializes the small output of the one
    * expensive stage — the chunkIndexCached economics. q157's span stage
    * keeps its own build (different input: the gated survivor set). */
  private val spanPairsMemo = SessionMemo[DataFrame]("spanPairs")

  private def spanPairsCached(spark: SparkSession, dir: String): DataFrame =
    spanPairsMemo(spark, dir) {
      graft.PlanDump.cut(
        Dedup.spanPairs(Tables.documents(spark, dir), "doc_id", "text",
          k = SpanK, minSpan = SpanMin, maxOcc = SpanMaxOcc),
        "spanPairs")
    }

  /** Exact duplicated-substring spans (Lee et al. 2021) — see
    * [[Dedup.spanPairs]]. The corpus plants real shared prefixes (93-token
    * spans measured at sf0.01), so the report is non-trivially non-empty;
    * (id_a, id_b, start_a, start_b) is unique per maximal span, so the
    * order-by is total and the LIMIT deterministic. */
  val q125SpanPairs: QuerySpec = QuerySpec.oracle(
    "q125_span_pairs",
    "WITH " + spanCtes(SpanK, SpanMaxOcc, SpanMin) +
      "\nSELECT id_a, id_b, start_a, start_b, span_toks FROM spans " +
      "ORDER BY span_toks DESC, id_a, id_b, start_a, start_b LIMIT 100"
  ) { (spark, dir) =>
    spanPairsCached(spark, dir)
      .orderBy(col("span_toks").desc, col("id_a"), col("id_b"),
        col("start_a"), col("start_b"))
      .limit(100)
  }

  /** Span-dedup APPLY — duplicated token ranges cut from the higher-id
    * copy, per-doc interval union, cleaned text fingerprinted (md5 keeps
    * the compared rows narrow; the full text round-trips through the
    * identical concat both sides). See [[Dedup.spanScrub]]. */
  val q126SpanScrub: QuerySpec = QuerySpec.oracle(
    "q126_span_scrub",
    "WITH " + spanCtes(SpanK, SpanMaxOcc, SpanMin) +
      s""",
         |iv AS (SELECT id_b AS doc, start_b AS s, start_b + span_toks - 1 AS e FROM spans),
         |mx AS (SELECT doc, s, e, max(e) OVER (PARTITION BY doc ORDER BY s, e
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM iv),
         |isl2 AS (SELECT doc, s, e, sum(CASE WHEN pe IS NULL OR s > pe + 1 THEN 1 ELSE 0 END)
         |  OVER (PARTITION BY doc ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp FROM mx),
         |mrg AS (SELECT doc, min(s) AS s, max(e) AS e FROM isl2 GROUP BY doc, grp),
         |ivl AS (SELECT doc, list(struct_pack(s := s, e := e) ORDER BY s, e) AS ivs,
         |  sum(e - s + 1) AS n_removed FROM mrg GROUP BY doc)
         |SELECT d.doc_id, len(ts) AS n_toks,
         |  CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed,
         |  md5(coalesce(array_to_string(CASE WHEN ivs IS NULL THEN ts
         |    ELSE list_transform(list_filter(generate_series(1, len(ts)),
         |      p -> len(list_filter(ivs, iv -> p >= iv.s AND p <= iv.e)) = 0),
         |      p -> ts[p]) END, ' '), '')) AS clean_md5
         |FROM (SELECT doc_id, ts FROM toks) d LEFT JOIN ivl ON ivl.doc = d.doc_id
         |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    Dedup.spanScrubFrom(Tables.documents(spark, dir), "doc_id", "text",
        spanPairsCached(spark, dir))
      .select(col("doc_id"), col("n_toks"), col("n_removed"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** N-GRAM decontamination at the published standard (GPT-3 appendix C /
    * The Pile: 13-gram overlap) — the sub-document sibling of the
    * exact-text decon band (q38/q51/q75): a training document is
    * contaminated if ANY of its 13 consecutive tokens appear verbatim in
    * the held-out eval slice, catching the quotes/paraphrase-with-copied-
    * span leakage exact-text matching misses entirely. Output is the
    * per-document audit (every train doc: gram positions, distinct
    * contaminated grams, verdict) ordered by doc_id.
    *
    * Shape at scale: the eval gram dictionary is DISTINCT and BROADCAST
    * (eval ≪ train — the production direction, same argument as the
    * q51/q75 bloom), so the corpus pays one scan + an in-map semi-join;
    * the only corpus-keyed shuffle is the per-doc hit aggregate on
    * doc_id. Gram equality is exact string equality — hash-exact in
    * DuckDB, no float anywhere. */
  val q163NgramDecontaminate: QuerySpec = {
    val k = 13
    val gramCols = (0 until k).map(j => s"ts[i+$j]").mkString(", ")
    QuerySpec.oracle(
      "q163_ngram_decontaminate",
      s"""WITH toks AS (SELECT doc_id, source, $LowToksSql AS ts FROM documents),
         |ev AS (SELECT DISTINCT unnest(list_transform(generate_series(1, len(ts)-${k - 1}),
         |         i -> concat_ws(' ', $gramCols))) AS g
         |       FROM toks WHERE source = 'src0' AND len(ts) >= $k),
         |tr AS (SELECT doc_id, greatest(len(ts) - ${k - 1}, 0) AS n_grams, ts
         |       FROM toks WHERE source <> 'src0'),
         |tg AS (SELECT doc_id,
         |         unnest(list_distinct(list_transform(generate_series(1, len(ts)-${k - 1}),
         |           i -> concat_ws(' ', $gramCols)))) AS g
         |       FROM tr WHERE len(ts) >= $k),
         |hit AS (SELECT doc_id, count(*) AS n_hit
         |        FROM tg WHERE g IN (SELECT g FROM ev) GROUP BY doc_id)
         |SELECT tr.doc_id, CAST(tr.n_grams AS BIGINT) AS n_grams,
         |  CAST(coalesce(hit.n_hit, 0) AS BIGINT) AS n_contaminated,
         |  coalesce(hit.n_hit, 0) > 0 AS contaminated
         |FROM tr LEFT JOIN hit USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    ) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val ev = docs.filter(col("source") === "src0")
        .select(explode(Dedup.shingles(col("text"), k)).as("g"))
        .distinct()
      val tr = docs.filter(col("source") =!= "src0")
        .select(col("doc_id"),
          greatest(size(lowToksCol) - (k - 1), lit(0)).cast("long").as("n_grams"),
          Dedup.shingles(col("text"), k).as("gs"))
      val hits = tr.select(col("doc_id"), explode(col("gs")).as("g"))
        .join(broadcast(ev), Seq("g"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      tr.select("doc_id", "n_grams")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_hit"), lit(0L)).as("n_contaminated"),
          (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
        .orderBy("doc_id")
    }
  }

  /** Mark-recapture coverage estimate for near-dup discovery — the
    * question q164's recall audit can only answer at audit scale (exact
    * ground truth is an all-pairs scan): at 100 TB, how many near-dup
    * pairs exist BEYOND what the production LSH found? Ecology's answer
    * needs no truth: run two INDEPENDENTLY SEEDED sign-LSH captures of
    * the same pair population and apply the bias-corrected Chapman
    * estimator N̂ = (a+1)(b+1) div (m+1) − 1 from the two catch sizes
    * and their overlap m — small overlap between independent captures
    * means a large unseen population, and the whole estimate is one
    * integer expression over three pair counts. Both captures are the
    * verified q166 integer-plane machinery (literals, banded bucket
    * joins, never all-pairs), so a, b, m, and N̂ all hash-verify.
    * Reported beside them: each capture's coverage Ĉ = catch·10⁶ div N̂.
    * Shape at 100 TB: ONE capture-tagged banded bucket self-join over the
    * corpus (the production dedup shape) whose pairs fold straight into a
    * per-pair capture-flag aggregate — a, b, and the overlap m are three
    * sums of that one relation, so candidate pairs cross the wire once
    * (r19; the per-capture form shipped the pair set through four
    * un-reused exchanges). */
  val q207ChapmanCoverage: QuerySpec = {
    val dims = 64
    val configs = Seq(("a", intPlanes(8, 8, dims, 101L)), ("b", intPlanes(8, 8, dims, 202L)))
    val bandCtes = configs.map { case (name, planes) =>
      s"""b_$name AS (${intBandKeysSql(planes)}),
         |c_$name AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM b_$name x JOIN b_$name y
         |    ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id)""".stripMargin
    }
    QuerySpec.oracle(
      "q207_chapman_coverage",
      s"""WITH ${quantizedCte(materialized = true)},
         |${bandCtes.mkString(",\n")},
         |counts AS (
         |  SELECT (SELECT count(*) FROM c_a) AS a,
         |    (SELECT count(*) FROM c_b) AS b,
         |    (SELECT count(*) FROM c_a JOIN c_b USING (id_a, id_b)) AS m)
         |SELECT CAST(a AS BIGINT) AS caught_a, CAST(b AS BIGINT) AS caught_b,
         |  CAST(m AS BIGINT) AS overlap,
         |  CAST(CAST(a + 1 AS HUGEINT) * (b + 1) // (m + 1) - 1 AS BIGINT)
         |    AS chapman_est,
         |  CAST(CAST(a AS HUGEINT) * 1000000
         |    // (CAST(a + 1 AS HUGEINT) * (b + 1) // (m + 1) - 1) AS BIGINT)
         |    AS coverage_a_micro,
         |  CAST(CAST(b AS HUGEINT) * 1000000
         |    // (CAST(a + 1 AS HUGEINT) * (b + 1) // (m + 1) - 1) AS BIGINT)
         |    AS coverage_b_micro
         |FROM counts""".stripMargin
    ) { (spark, dir) =>
      val quant = quantizedVecsCk(spark, dir)
      // BOTH captures ride ONE tagged explode + ONE banded self-join
      // (r19): the per-capture form computed each capture's pair set
      // TWICE — once under its count, once under the overlap join — and
      // the executed plan showed four un-reused pair exchanges. Tagging
      // bucket rows with their capture and folding the distinct + overlap
      // join into one (id_a, id_b) flag aggregate makes the candidate
      // pairs cross the wire exactly once: a = Σ fa, b = Σ fb,
      // m = Σ fa·fb — identical counts, half the heavy work, and the
      // map-side combine absorbs same-pair duplicates from multiple
      // bands before the shuffle.
      // both captures' band keys from ONE IntSignBandKeys kernel call per
      // capture (r21): the per-plane expression stack inlined 128 64-long
      // array literals (~8k literal nodes) that Catalyst re-analyzed every
      // pass — q207 ran FOUR Spark stages yet cost ~2.9 s, nearly all
      // driver plan time; the kernel carries each capture's planes as one
      // plan reference object, bit-equal fused integer loop (q166 note)
      val bandArrays = configs.map { case (cap, planes) =>
        transform(
          graft.functions.IntSignBandKeys.bandKeys(col("qv"),
            planes.flatten.flatten, dims, planes.length, planes.head.length),
          (k, i) => struct(lit(cap).as("cap"), i.as("band"), k.as("key")))
      }
      // the bands relation is |corpus| × 16 skinny rows feeding BOTH join
      // sides — cut it once (lazy checkpoint, the q136/q172 encode-once
      // contract; eagerByDesign-listed)
      val bands = quant
        .select(col("vec_id"), explode(concat(bandArrays: _*)).as("bk"))
        .select(col("vec_id"), col("bk.cap").as("cap"),
          col("bk.band").as("band"), col("bk.key").as("key"))
        .localCheckpoint(eager = false)
      val flags = bands.select(col("vec_id").as("id_a"), col("cap"), col("band"), col("key"))
        .join(bands.select(col("vec_id").as("id_b"), col("cap"), col("band"), col("key")),
          Seq("cap", "band", "key"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(max(when(col("cap") === configs(0)._1, 1L).otherwise(0L)).as("fa"),
          max(when(col("cap") === configs(1)._1, 1L).otherwise(0L)).as("fb"))
      flags.agg(sum(col("fa")).as("a"), sum(col("fb")).as("b"),
          sum(col("fa") * col("fb")).as("m"))
        // (a+1)(b+1) exceeds int64 at corpus-scale pair counts — decimal
        // inside, int64 out (q187 discipline)
        .withColumn("est",
          expr("(CAST(a + 1 AS DECIMAL(38,0)) * (b + 1)) div (m + 1) - 1"))
        .select(col("a").cast("long").as("caught_a"), col("b").cast("long").as("caught_b"),
          col("m").cast("long").as("overlap"), col("est").cast("long").as("chapman_est"),
          expr("(CAST(a AS DECIMAL(38,0)) * 1000000) div est").cast("long")
            .as("coverage_a_micro"),
          expr("(CAST(b AS DECIMAL(38,0)) * 1000000) div est").cast("long")
            .as("coverage_b_micro"))
    }
  }
}
