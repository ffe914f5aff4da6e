package graft.operators

import graft.{QuerySpec, SessionMemo}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over relationship edges derived from the relational
  * tables (SURVEY.md §2.8 extension band) — the band beyond
  * [[Dedup.connectedComponents]]' reachability: iterative importance
  * scoring (PageRank) and its composition with the fuzzy-match edge
  * builders ([[Relational]] q93) into entity resolution.
  *
  * The reference (a single-node pandas script) has no graph surface at
  * all; these exist because a training-data pipeline needs link-graph
  * importance for source weighting and record-linkage resolution for
  * per-entity dedup, and both must run as bounded-round shuffle-on-key
  * jobs at corpus scale.
  */
object Graph {

  /** Power-iteration PageRank in EXACT integer micro-units.
    *
    * Ranks are bigint micro-units (1.0 ≡ `unit`), the damping factor is a
    * percentage, and each edge contribution is ONE integral division
    * `(rank * dampingPct) div (100 * deg)` — so every iteration is
    * deterministic integer arithmetic, bit-identical across engines and
    * across partitionings (no float sum-order drift), which is what makes
    * a distributed PageRank hash-verifiable against an independent SQL
    * unrolling. The truncation the integral division introduces is part
    * of the operator's published contract (ranks are lower bounds within
    * |E| + |V| units per iteration of the rational fixpoint iterate).
    *
    * `edges` must carry (src_t, src, dst_t, dst); for an undirected graph
    * provide BOTH orientations. DIRECTED graphs with sinks are in
    * contract: each iteration collects the damped mass sitting on
    * dangling nodes (no out-edges) and redistributes it equally —
    * `(danglingMass · dampingPct) div (100 · |V|)` to every node, the
    * standard correction without which sink mass simply vanishes and
    * rank totals decay toward the teleport floor. The node set is
    * src ∪ dst; nodes receiving no contributions still hold
    * teleport + dangling share.
    *
    * Scale shape: the edge list joined with its out-degrees is
    * pre-partitioned on the (src_t, src) key every round joins on and cut
    * behind ONE lazy localCheckpoint, so all rounds share a single
    * materialization of the |E|-sized relation. The BUILD IS EAGER: the
    * one-action structure probe below (and, under AQE, checkpoint
    * creation itself) executes the edge subtree at construction — an
    * index-build-shaped step, policed by ConstructionSweepSpec's eager
    * allowlist. Per round only the node-sized rank relation shuffles,
    * plus the map-side-combined contribution aggregate. The
    * dangling term references each round's rank relation TWICE (the
    * anti-join aggregate + the contribution join), so on graphs that
    * actually have dangling nodes each round is cut behind a
    * localCheckpoint — without it the two references double the logical
    * plan per round and the chain goes exponential in the iteration count
    * (measured: 218 statically-planned exchanges at 5 rounds vs ~10 with
    * the cut); the share rides as a broadcast scalar. Graphs with NO
    * dangling nodes (every undirected graph) are detected by one
    * build-time node-sized action and take the lean single-reference
    * lazy chain — no per-round checkpoints, one job end to end.
    */
  /** One cached materialization of a PageRank-family graph: the caller's
    * edge relation cut behind its own checkpoint, the degree /
    * contribution / flagged-node relations derived from it, and the
    * one-action structure counts. A pure function of the edge relation —
    * built once per [[pageRank]]/[[personalizedPageRank]] call, and
    * MEMOIZED per (session, dir) for the trade graph ([[tradeGraphBase]])
    * so its two consumers (q136, q162) share ONE materialization per
    * session instead of each evaluation re-running the |E|-sized
    * checkpoint chain + structure probe (r21; the tradePairs economics
    * one level up). */
  private[operators] final case class PrGraphBase(
      deg: DataFrame, nodesFlagged: DataFrame, contribEdges: DataFrame,
      nNodes: Long, hasDangling: Boolean, allReceive: Boolean) {
    def nodes: DataFrame = nodesFlagged.select("t", "id")
  }

  private[operators] def prGraphBase(edges: DataFrame): PrGraphBase = {
    // the caller's edge subtree (scans, joins, the dedup-to-dictionary
    // distinct) is cut behind ITS OWN checkpoint first: deg, nodes and
    // contribEdges below each materialize against the cached |E| rows —
    // without this cut each derived checkpoint re-executes the base
    // subtree (measured: 3 full base executions per build, q136 3.8→6 s)
    val edgesCk = edges.localCheckpoint(eager = false)
    // deg checkpointed on its own: the per-round dangling anti-join needs
    // the node-sized degree relation without dragging the |E|-sized
    // contribEdges subtree behind it
    val deg = edgesCk.groupBy("src_t", "src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    // Node set WITH the structure flags in ONE relation: deg already IS
    // the distinct src set (has_out), the distinct dst set carries
    // has_in, and their full outer join is exactly src ∪ dst — replacing
    // the old union-distinct node build PLUS a separate probe that
    // re-walked |E| for a second dst-distinct. The one build-time action
    // below is then a plain aggregate of this node-sized cached relation
    // (one fewer |E|-walking job per graph build).
    val nodesFlagged = deg
      .select(col("src_t").as("t"), col("src").as("id"), lit(1).as("has_out"))
      .join(edgesCk.select(col("dst_t").as("t"), col("dst").as("id")).distinct()
          .withColumn("has_in", lit(1)),
        Seq("t", "id"), "full_outer")
      .localCheckpoint(eager = false)
    // ONE build-time action (an aggregate of the cached node relation)
    // picks the execution path. No dangling nodes — every undirected
    // graph, most link graphs — means share ≡ 0 and the rank relation is
    // referenced ONCE per round, so the rounds chain as the lean lazy
    // linear plan with no per-round checkpoints (measured: the general
    // path's per-round materialization cost q136 9.0 s vs 3.8 s; both
    // paths compute identical values, so the branch is pure execution-path
    // choice and the shared oracle covers both). When every node also
    // RECEIVES contributions (all nodes have in-edges — guaranteed for
    // undirected graphs), the keep-alive left join against the node
    // relation is redundant too and each round is exactly the lean
    // group-and-add of the no-dangling contract. |V| comes back from the
    // same action and bakes into the dangling share as a literal.
    val structureRow = nodesFlagged
      .agg(count(lit(1)).as("n_nodes"),
        count(when(col("has_out").isNull, 1)).as("n_dangling"),
        count(when(col("has_in").isNull, 1)).as("n_no_in"))
      .collect().head
    // ONE persisted materialization of the edge relation, PRE-PARTITIONED
    // AND PRE-SORTED on the (src_t, src) key every round joins on (r22,
    // VERDICT item 1 — the q136/q162 plan showed an
    // `Exchange hashpartitioning(src_t, src)` + Sort over the cached RDD
    // in EVERY round: the localCheckpoint had NOT preserved a partitioning
    // the round joins could reuse, so each of the 5/3 rounds re-shuffled
    // and re-sorted the |E|-sized relation). persist() rather than
    // localCheckpoint, the [[Dedup.connectedComponents]] mechanism: an
    // InMemoryRelation reliably reports the cached plan's partitioning and
    // ordering (a lazily-checkpointed LogicalRDD drops both under AQE —
    // verified in this round's before/after plans), so every round's
    // sort-merge join reuses ONE exchange+sort of |E| for the whole query
    // and re-shuffles only the node-sized rank relation (guide §2.4:
    // remove shuffles outright). canChangeCachedPlanOutputPartitioning
    // stays at its false default — AQE must not re-coalesce the cached
    // layout (measured catastrophic on the CC loop in r21). The persist is
    // session-scoped serving state like the memo holding it; storage is
    // MEMORY_AND_DISK so an |E| beyond executor memory spills instead of
    // evicting the working set.
    // N must be EXACTLY the session's shuffle partitions (the deployment
    // scale knob) for the reuse to fire: EnsureRequirements re-shuffles a
    // co-partitioned child whose partition count sits BELOW
    // conf.numShufflePartitions whenever the other join side shuffles
    // anyway (the "reasonable parallelism" rule) — measured: a size-derived
    // N = 5 cache was re-exchanged to 32 every round, value-identical plans
    // but zero exchange reuse. The per-round rank side shuffles into the
    // same N, so partition sizing stays governed by the one session knob.
    val contribEdgesPlan = edgesCk.join(deg, Seq("src_t", "src"))
      .repartition(col("src_t"), col("src"))
      .sortWithinPartitions("src_t", "src")
    val contribEdges = contribEdgesPlan.localCheckpoint(eager = false)
    PrGraphBase(deg, nodesFlagged, contribEdges,
      nNodes = structureRow.getLong(0),
      hasDangling = structureRow.getLong(1) > 0,
      allReceive = structureRow.getLong(1) == 0 && structureRow.getLong(2) == 0)
  }

  def pageRank(edges: DataFrame, iterations: Int, dampingPct: Int = 85,
               unit: Long = 1000000L): DataFrame =
    pageRankFrom(prGraphBase(edges), iterations, dampingPct, unit)

  private[operators] def pageRankFrom(base: PrGraphBase, iterations: Int,
                                      dampingPct: Int = 85,
                                      unit: Long = 1000000L): DataFrame = {
    require(iterations >= 1 && dampingPct > 0 && dampingPct < 100)
    val teleport = unit * (100 - dampingPct) / 100
    val PrGraphBase(deg, _, contribEdges, nNodes, hasDangling, allReceive) = base
    val nodes = base.nodes
    var ranks = nodes
      .select(col("t").as("src_t"), col("id").as("src"),
        lit(unit).cast("long").as("rank_units"))
    for (_ <- 1 to iterations) {
      // shuffled-hash hint on the node-sized side: the per-round join
      // builds a |V|-row hash table and STREAMS the cached pre-partitioned
      // edge relation — a sort-merge join would re-walk both sorted runs
      // per round for no benefit (r22; equi-join, results identical)
      val contribs = contribEdges
        .join(ranks.hint("shuffle_hash"), Seq("src_t", "src"))
        .withColumn("contrib",
          expr(s"(rank_units * $dampingPct) div (100 * deg)"))
        .groupBy(col("dst_t").as("t"), col("dst").as("id"))
        .agg(sum(col("contrib")).cast("long").as("contrib_sum"))
      if (allReceive) {
        ranks = contribs
          .select(col("t").as("src_t"), col("id").as("src"),
            (lit(teleport) + col("contrib_sum")).cast("long").as("rank_units"))
      } else if (!hasDangling) {
        ranks = nodes
          .join(contribs, Seq("t", "id"), "left")
          .select(col("t").as("src_t"), col("id").as("src"),
            (lit(teleport) + coalesce(col("contrib_sum"), lit(0L)))
              .cast("long").as("rank_units"))
      } else {
        // damped mass on dangling nodes, split equally — ONE row,
        // broadcast. This second reference to the rank relation forces
        // the per-round localCheckpoint cut (without it the plan doubles
        // per round and goes exponential in the iteration count —
        // measured 218 statically-planned exchanges at 5 rounds).
        val share = ranks.join(deg, Seq("src_t", "src"), "left_anti")
          .agg(coalesce(sum(col("rank_units")), lit(0L)).cast("long").as("dm"))
          .select(expr(s"(dm * $dampingPct) div (100 * ${nNodes}L)").as("dangling_share"))
        ranks = nodes
          .join(contribs, Seq("t", "id"), "left")
          .crossJoin(broadcast(share))
          .select(col("t").as("src_t"), col("id").as("src"),
            (lit(teleport) + col("dangling_share") + coalesce(col("contrib_sum"), lit(0L)))
              .cast("long").as("rank_units"))
          .localCheckpoint(eager = false)
      }
    }
    ranks.select(col("src_t").as("node_type"), col("src").as("node_id"),
      col("rank_units"))
  }

  /** Personalized PageRank — [[pageRank]]'s recurrence with the teleport
    * (and the dangling mass) directed at a SEED set instead of uniformly:
    * r(v) = [v∈S]·((100−d)·unit·|V| + d·D) div (100·|S|) + Σ contribs —
    * the "proximity to S" ranking behind related-entity retrieval and
    * topic-conditioned source weighting. Same exact integer micro-unit
    * discipline (one integral division per edge, one per seed), same
    * per-round localCheckpoint cut, same |E|-once/|V|-per-round shuffle
    * shape; the seed membership flag rides the node relation as a
    * broadcast-joined column, the |V|/|S| divisors as one-time scalar
    * reads baked into the plan as literals, and (general path only) the
    * per-round dangling mass as a broadcast 1-row aggregate.
    *
    * `seeds` carries (src_t, src); seeds outside the graph's node set are
    * ignored (they could receive no mass and would distort the |S|
    * divisor). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iterations: Int,
                           dampingPct: Int = 85, unit: Long = 1000000L): DataFrame =
    personalizedPageRankFrom(prGraphBase(edges), seeds, iterations, dampingPct, unit)

  /** The seed ∩ node-set relation + its count — split out (r22) so a
    * serving caller can intersect and count ONCE per (corpus, seed set)
    * and reuse it across evaluations (q162's memo below); the collected
    * divisor bakes into the plan as a literal (Scala Long floor division
    * ≡ both engines' integral division on non-negatives) instead of a
    * per-round scalar cross join. */
  private[operators] def seedsInGraphOf(base: PrGraphBase, seeds: DataFrame)
      : (DataFrame, Long) = {
    val sig = base.nodes
      .join(broadcast(seeds.select(col("src_t").as("t"), col("src").as("id")).distinct()),
        Seq("t", "id"), "left_semi")
      .localCheckpoint(eager = false)
    (sig, sig.count())
  }

  private[operators] def personalizedPageRankFrom(
      base: PrGraphBase, seeds: DataFrame, iterations: Int,
      dampingPct: Int = 85, unit: Long = 1000000L): DataFrame = {
    val (seedsInGraph, nSeeds) = seedsInGraphOf(base, seeds)
    personalizedPageRankSeeded(base, seedsInGraph, nSeeds, iterations,
      dampingPct, unit)
  }

  /** [[personalizedPageRankFrom]] over a PRECOMPUTED (seed ∩ nodes,
    * count) pair, so the seed intersection/count jobs run once per serving
    * session, not once per evaluation. */
  private[operators] def personalizedPageRankSeeded(
      base: PrGraphBase, seedsInGraph: DataFrame, nSeeds: Long,
      iterations: Int, dampingPct: Int = 85, unit: Long = 1000000L): DataFrame = {
    require(iterations >= 1 && dampingPct > 0 && dampingPct < 100)
    val PrGraphBase(deg, _, contribEdges, nNodes, hasDangling, _) = base
    val nodes = base.nodes
    require(nSeeds > 0, "personalizedPageRank: no seed intersects the graph's node set")
    val seedFlag = broadcast(seedsInGraph.withColumn("is_seed", lit(1L)))
    val cleanSeedTerm = ((100 - dampingPct) * nNodes * unit) / (100 * nSeeds)
    if (!hasDangling) {
      // FRONTIER-SPARSE rounds (r22, VERDICT item 1): the rank relation
      // carries only NONZERO-rank nodes. Equivalence to the dense
      // recurrence is exact — a zero-rank node's edge contribution is
      // (0 · d) div (100 · deg) = 0, identical to the node being absent
      // from the join, and on the no-dangling path a node's rank is
      // [v∈S]·c + Σcontribs, so rank = 0 ⟺ (non-seed ∧ contrib_sum = 0)
      // — rows the final densify join below restores as literal zeros.
      // Seeds are kept alive through rounds by unioning a zero
      // contribution per seed BEFORE the aggregate (a seed whose
      // neighborhood sends it nothing must still collect its teleport
      // term). What this buys: round r joins only the r-hop neighborhood
      // of S against the edge base instead of every node — on the trade
      // graph round 1 touches the ~600-seed frontier (~4% of |E|), and at
      // 100 TB a 3-round PPR over a regional seed set never drags the
      // whole graph through every round (the standard sparse-frontier
      // property of push-style PPR).
      var ranks = seedsInGraph
        .select(col("t").as("src_t"), col("id").as("src"),
          lit(nNodes * unit / nSeeds).cast("long").as("rank_units"))
      for (_ <- 1 to iterations) {
        val contribRows = contribEdges
          .join(ranks.hint("shuffle_hash"), Seq("src_t", "src"))
          .select(col("dst_t").as("t"), col("dst").as("id"),
            expr(s"(rank_units * $dampingPct) div (100 * deg)").as("contrib"))
          .unionByName(seedsInGraph.select(col("t"), col("id"),
            lit(0L).as("contrib")))
        ranks = contribRows
          .groupBy("t", "id")
          .agg(sum(col("contrib")).cast("long").as("contrib_sum"))
          .join(seedFlag, Seq("t", "id"), "left")
          .select(col("t").as("src_t"), col("id").as("src"),
            (when(col("is_seed").isNotNull, lit(cleanSeedTerm)).otherwise(lit(0L))
              + col("contrib_sum")).cast("long").as("rank_units"))
          .filter(col("rank_units") =!= 0L)
      }
      // densify: the operator's contract is one row per node (zeros
      // included) — restored with ONE node-sized left join at the end
      // instead of carrying zero rows through every round
      nodes.join(ranks.select(col("src_t").as("t"), col("src").as("id"),
          col("rank_units")), Seq("t", "id"), "left")
        .select(col("t").as("node_type"), col("id").as("node_id"),
          coalesce(col("rank_units"), lit(0L)).as("rank_units"))
    } else {
      // general (dangling) path: dense rounds with the per-round
      // checkpoint cut — the dangling-mass term references each round's
      // ranks twice (see pageRankFrom)
      var ranks = nodes
        .join(seedFlag, Seq("t", "id"), "left")
        .select(col("t").as("src_t"), col("id").as("src"),
          when(col("is_seed").isNotNull, lit(nNodes * unit / nSeeds))
            .otherwise(lit(0L)).cast("long").as("rank_units"))
      for (_ <- 1 to iterations) {
        val contribs = contribEdges
          .join(ranks, Seq("src_t", "src"))
          .withColumn("contrib",
            expr(s"(rank_units * $dampingPct) div (100 * deg)"))
          .groupBy(col("dst_t").as("t"), col("dst").as("id"))
          .agg(sum(col("contrib")).cast("long").as("contrib_sum"))
        val dm = ranks.join(deg, Seq("src_t", "src"), "left_anti")
          .agg(coalesce(sum(col("rank_units")), lit(0L)).cast("long").as("dm"))
        ranks = nodes
          .join(contribs, Seq("t", "id"), "left")
          .join(seedFlag, Seq("t", "id"), "left")
          .crossJoin(broadcast(dm))
          .select(col("t").as("src_t"), col("id").as("src"),
            (when(col("is_seed").isNotNull,
              expr(s"((100 - $dampingPct) * ${nNodes}L * $unit + $dampingPct * dm) div (100 * ${nSeeds}L)"))
              .otherwise(lit(0L))
              + coalesce(col("contrib_sum"), lit(0L))).cast("long").as("rank_units"))
          .localCheckpoint(eager = false)
      }
      ranks.select(col("src_t").as("node_type"), col("src").as("node_id"),
        col("rank_units"))
    }
  }

  /** The q136 oracle is the SAME integer recurrence unrolled as a CTE
    * chain — generated, not hand-copied, so the Spark loop and the SQL
    * provably share one definition of an iteration. */
  private def pageRankOracleSql(iterations: Int): String = {
    val base =
      """SELECT DISTINCT 'c' AS src_t, o_custkey AS src, 's' AS dst_t, l_suppkey AS dst
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin
    val head = Seq(
      s"edges AS MATERIALIZED (\n  SELECT * FROM (\n    $base)\n  UNION ALL\n  SELECT dst_t, dst, src_t, src FROM (\n    $base))",
      "deg AS MATERIALIZED (SELECT src_t, src, count(*) AS deg FROM edges GROUP BY 1, 2)",
      """nodes AS MATERIALIZED (
        |  SELECT DISTINCT src_t AS t, src AS id FROM edges
        |  UNION SELECT DISTINCT dst_t, dst FROM edges)""".stripMargin,
      "nn AS (SELECT count(*) AS n FROM nodes)",
      "r0 AS (SELECT t, id, CAST(1000000 AS BIGINT) AS rank_units FROM nodes)")
    // each iteration carries the dangling-mass term the Scala loop carries:
    // damped mass on out-degree-0 nodes split equally over |V|. r_{i-1} is
    // referenced twice per round (dangling sum + contribution sum), so the
    // rank CTEs are MATERIALIZED — without it DuckDB inlines the chain and
    // evaluation goes exponential in the iteration count.
    val iters = (1 to iterations).flatMap { i =>
      Seq(
        s"""d$i AS (
           |  SELECT CAST(coalesce(sum(r.rank_units), 0) AS BIGINT) AS dm
           |  FROM r${i - 1} r
           |  LEFT JOIN deg g ON g.src_t = r.t AND g.src = r.id
           |  WHERE g.src IS NULL)""".stripMargin,
        s"s$i AS (SELECT CAST((d.dm * 85) // (100 * nn.n) AS BIGINT) AS share FROM d$i d, nn)",
        s"""c$i AS (
           |  SELECT e.dst_t AS t, e.dst AS id,
           |    CAST(sum((r.rank_units * 85) // (100 * d.deg)) AS BIGINT) AS contrib_sum
           |  FROM edges e
           |  JOIN r${i - 1} r ON r.t = e.src_t AND r.id = e.src
           |  JOIN deg d ON d.src_t = e.src_t AND d.src = e.src
           |  GROUP BY 1, 2)""".stripMargin,
        s"""r$i AS MATERIALIZED (
           |  SELECT n.t, n.id,
           |    CAST(150000 + s.share + coalesce(c.contrib_sum, 0) AS BIGINT) AS rank_units
           |  FROM nodes n
           |  CROSS JOIN s$i s
           |  LEFT JOIN c$i c ON c.t = n.t AND c.id = n.id)""".stripMargin)
    }
    (head ++ iters).mkString("WITH ", ",\n", "") +
      s"""
         |SELECT t AS node_type, id AS node_id, rank_units
         |FROM r$iterations
         |ORDER BY rank_units DESC, node_type, node_id LIMIT 50""".stripMargin
  }

  /** PageRank over the customer↔supplier trade graph: who are the most
    * central counterparties? Edges are the DISTINCT (customer, supplier)
    * pairs observed in lineitem⋈orders — the |E|-bounding dedup-to-
    * dictionary step (q93's discipline) that keeps the graph a function
    * of the relationship set, not the fact count — taken undirected via
    * one explode (both orientations from a single evaluation of the
    * join, the [[Dedup.connectedComponents]] trick). Five rounds at
    * damping 0.85, exact micro-unit arithmetic (see [[pageRank]]), top-50
    * by rank with a total (type, id) tie-break so the LIMIT is
    * deterministic. */
  val q136PageRank: QuerySpec = QuerySpec.oracle(
    "q136_pagerank", pageRankOracleSql(5)
  ) { (spark, dir) =>
    pageRankFrom(tradeGraphBase(spark, dir), iterations = 5)
      .orderBy(col("rank_units").desc, col("node_type"), col("node_id"))
      .limit(50)
  }

  /** The q162 oracle: [[personalizedPageRank]]'s recurrence unrolled the
    * same generated way as q136's, seeds spliced in as an INTERSECT with
    * the node set. */
  private def pprOracleSql(iterations: Int, unit: Long = 1000000L): String = {
    val base =
      """SELECT DISTINCT 'c' AS src_t, o_custkey AS src, 's' AS dst_t, l_suppkey AS dst
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin
    val head = Seq(
      s"edges AS MATERIALIZED (\n  SELECT * FROM (\n    $base)\n  UNION ALL\n  SELECT dst_t, dst, src_t, src FROM (\n    $base))",
      "deg AS MATERIALIZED (SELECT src_t, src, count(*) AS deg FROM edges GROUP BY 1, 2)",
      """nodes AS MATERIALIZED (
        |  SELECT DISTINCT src_t AS t, src AS id FROM edges
        |  UNION SELECT DISTINCT dst_t, dst FROM edges)""".stripMargin,
      "nn AS (SELECT count(*) AS n FROM nodes)",
      """seeds AS MATERIALIZED (
        |  SELECT 'c' AS t, c_custkey AS id FROM customer WHERE c_nationkey = 1
        |  INTERSECT SELECT t, id FROM nodes)""".stripMargin,
      "ns AS (SELECT count(*) AS n FROM seeds)",
      s"""r0 AS MATERIALIZED (
         |  SELECT n.t, n.id,
         |    CAST(CASE WHEN s.id IS NOT NULL THEN (nn.n * $unit) // ns.n ELSE 0 END AS BIGINT) AS rank_units
         |  FROM nodes n CROSS JOIN nn CROSS JOIN ns
         |  LEFT JOIN seeds s ON s.t = n.t AND s.id = n.id)""".stripMargin)
    val iters = (1 to iterations).flatMap { i =>
      Seq(
        s"""d$i AS (
           |  SELECT CAST(coalesce(sum(r.rank_units), 0) AS BIGINT) AS dm
           |  FROM r${i - 1} r
           |  LEFT JOIN deg g ON g.src_t = r.t AND g.src = r.id
           |  WHERE g.src IS NULL)""".stripMargin,
        s"""c$i AS (
           |  SELECT e.dst_t AS t, e.dst AS id,
           |    CAST(sum((r.rank_units * 85) // (100 * d.deg)) AS BIGINT) AS contrib_sum
           |  FROM edges e
           |  JOIN r${i - 1} r ON r.t = e.src_t AND r.id = e.src
           |  JOIN deg d ON d.src_t = e.src_t AND d.src = e.src
           |  GROUP BY 1, 2)""".stripMargin,
        s"""r$i AS MATERIALIZED (
           |  SELECT n.t, n.id,
           |    CAST(CASE WHEN s.id IS NOT NULL
           |           THEN (15 * nn.n * $unit + 85 * d.dm) // (100 * ns.n) ELSE 0 END
           |         + coalesce(c.contrib_sum, 0) AS BIGINT) AS rank_units
           |  FROM nodes n
           |  CROSS JOIN nn CROSS JOIN ns CROSS JOIN d$i d
           |  LEFT JOIN c$i c ON c.t = n.t AND c.id = n.id
           |  LEFT JOIN seeds s ON s.t = n.t AND s.id = n.id)""".stripMargin)
    }
    (head ++ iters).mkString("WITH ", ",\n", "") +
      s"""
         |SELECT t AS node_type, id AS node_id, rank_units
         |FROM r$iterations
         |WHERE rank_units > 0
         |ORDER BY rank_units DESC, node_type, node_id LIMIT 50""".stripMargin
  }

  /** Personalized PageRank over the q136 trade graph, seeded at nation-1
    * customers: "which counterparties sit closest to nation 1's trade?"
    * — the related-entity ranking a topic- or region-conditioned source
    * weighting consumes. Three rounds (proximity orderings stabilize much
    * faster than global importance), damped 0.85, exact integer
    * micro-units; zero-mass nodes (unreachable in 3 hops) drop before the
    * top-50 so the LIMIT stays meaningful. */
  /** Memoized (seed ∩ nodes, count) for q162's nation-1 seed set per
    * (session, dir) — the serving contract one level down from
    * [[tradeGraphBase]]: a PPR serving system resolves its seed set
    * against the graph snapshot once, not per query (r22; each q162
    * evaluation previously re-ran the semi-join, its checkpoint AND a
    * count action). */
  private val nation1SeedsMemo = SessionMemo[(DataFrame, Long)]("pprNation1Seeds")
  private def nation1SeedsCached(spark: SparkSession, dir: String): (DataFrame, Long) =
    nation1SeedsMemo(spark, dir) {
      val seeds = Tables.customer(spark, dir)
        .filter(col("c_nationkey") === 1)
        .select(lit("c").as("src_t"), col("c_custkey").as("src"))
      seedsInGraphOf(tradeGraphBase(spark, dir), seeds)
    }

  val q162PersonalizedPageRank: QuerySpec = QuerySpec.oracle(
    "q162_personalized_pagerank", pprOracleSql(3)
  ) { (spark, dir) =>
    val (sig, nSeeds) = nation1SeedsCached(spark, dir)
    personalizedPageRankSeeded(tradeGraphBase(spark, dir), sig, nSeeds,
        iterations = 3)
      .filter(col("rank_units") > 0)
      .orderBy(col("rank_units").desc, col("node_type"), col("node_id"))
      .limit(50)
  }

  /** Per-node triangle count + local clustering coefficient — the standard
    * graph statistic after PageRank and connected components (cohesion:
    * how clique-like is each node's neighborhood). `edges` must carry ONE
    * row per undirected edge as (s_a, s_b) with s_a < s_b; the triangle
    * enumeration is the ordered 3-way self-join (a<b<c via the edge
    * orientation itself), so every triangle is produced exactly once and
    * the join never explores either symmetric copy. Wedge cost is
    * Σ deg², which is why callers must hand in a DEGREE-BOUNDED edge set
    * (see the q167 hub cap) — the discipline that keeps the self-join
    * feasible when the dictionary grows 100×. All counts integer;
    * lcc = 2·Δ(v) / (deg·(deg−1)) is the only float, derived identically
    * on both engines. */
  def triangleStats(edges: DataFrame): DataFrame = {
    // the edge dictionary is referenced four times (deg twice via the
    // union, the 3-way join thrice) — cut it once; it is bounded by the
    // supplier dictionary, not the fact tables
    val e = edges.select(col("s_a"), col("s_b")).localCheckpoint(eager = false)
    val deg = e.select(col("s_a").as("s")).union(e.select(col("s_b").as("s")))
      .groupBy("s").agg(count(lit(1)).as("degree"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e2.s_a") === col("e1.s_b"))
      .join(e.as("e3"), col("e3.s_a") === col("e1.s_a") && col("e3.s_b") === col("e2.s_b"))
      .select(col("e1.s_a").as("a"), col("e1.s_b").as("b"), col("e2.s_b").as("c"))
    val tn = tri.select(explode(array(col("a"), col("b"), col("c"))).as("s"))
      .groupBy("s").agg(count(lit(1)).as("n_triangles"))
    deg.join(tn, Seq("s"), "left")
      .select(col("s").as("node_id"), col("degree").cast("long").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).cast("long").as("n_triangles"),
        when(col("degree") >= 2,
          (coalesce(col("n_triangles"), lit(0L)) * 2).cast("double")
            / (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering_coeff"))
  }

  /** DuckDB CTE prefix deriving the supplier co-supply edge dictionary
    * (ends at `e(s_a, s_b)`, one row per undirected edge, s_a < s_b) —
    * shared verbatim by the q167/q175 oracles, mirroring
    * [[coSupplyEdges]]. */
  private def CoSupplySqlCtes(minRepeat: Int = 2): String =
    s"""p AS (
      |  SELECT o_custkey AS cust, l_suppkey AS supp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2 HAVING count(*) >= $minRepeat),
      |ok AS (SELECT cust FROM p GROUP BY cust HAVING count(*) <= 1000),
      |pc AS (SELECT p.cust, p.supp FROM p JOIN ok USING (cust)),
      |e AS (SELECT a.supp AS s_a, b.supp AS s_b, count(*) AS n_sc
      |      FROM pc a JOIN pc b ON a.cust = b.cust AND a.supp < b.supp
      |      GROUP BY 1, 2)""".stripMargin

  /** Memoized distinct customer↔supplier trade PAIRS per (session, dir) —
    * the expensive dedup-to-dictionary step q136 and q162 both build from
    * lineitem⋈orders. The fit-once/serve-many economics the ANN audits
    * use (VectorQueries.quantizedVecsCk): each session materializes the
    * relationship dictionary once behind a checkpoint; the per-query
    * orientation explode stays cheap and derives from the cached rows. */
  private val tradePairsMemo = SessionMemo[DataFrame]("tradePairs")
  private def tradePairs(spark: SparkSession, dir: String): DataFrame =
    tradePairsMemo(spark, dir)(
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
        .localCheckpoint(eager = false))

  /** Memoized [[PrGraphBase]] of the trade graph per (session, dir) — one
    * |E|-sized materialization + structure probe shared by q136 and q162
    * (r21): each PageRank evaluation previously re-ran the four-checkpoint
    * build chain over the (already memoized) tradePairs rows. Eager by the
    * index-build contract (the structure probe is one action). */
  private val tradeGraphBaseMemo = SessionMemo[PrGraphBase]("prGraphBase")
  private def tradeGraphBase(spark: SparkSession, dir: String): PrGraphBase =
    tradeGraphBaseMemo(spark, dir)(prGraphBase(tradeEdges(spark, dir)))

  /** Both orientations of the [[tradePairs]] dictionary — the q136/q162
    * input graph. */
  private def tradeEdges(spark: SparkSession, dir: String): DataFrame =
    tradePairs(spark, dir).select(explode(array(
        struct(lit("c").as("src_t"), col("cust").as("src"),
          lit("s").as("dst_t"), col("supp").as("dst")),
        struct(lit("s").as("src_t"), col("supp").as("src"),
          lit("c").as("dst_t"), col("cust").as("dst")))).as("e"))
      .select(col("e.src_t").as("src_t"), col("e.src").as("src"),
        col("e.dst_t").as("dst_t"), col("e.dst").as("dst"))

  /** The supplier co-supply edge dictionary (shared by q167/q175):
    * suppliers adjacent when they REPEATEDLY serve the same customer
    * (≥2 orders on the (customer, supplier) pair — one-off trades would
    * make the projection near-complete and meaningless), the bipartite
    * trade graph projected onto its supplier side. Two scale guards make
    * the projection 100 TB-safe: the repeat-trade filter bounds edge mass
    * to persistent relationships, and customers fanning out to >1000
    * suppliers are dropped before pairing (the q31 stop-shingle/hub cap —
    * a single hub customer would otherwise contribute C(k,2) pairs). One
    * row per undirected edge, s_a < s_b. */
  private val coSupplyEdgesMemo = SessionMemo[DataFrame]("coSupplyEdges")
  /** Memoized per (session, dir, minRepeat) behind a checkpoint: the
    * projection is the expensive shared input of three graph audits
    * (q167 at ≥2; q175 and q181 at ≥3) — built once per session, served
    * from the cached rows thereafter (the [[tradePairs]] economics). */
  private def coSupplyEdges(spark: SparkSession, dir: String, minRepeat: Int = 2): DataFrame =
    coSupplyEdgesMemo(spark, dir, minRepeat) {
      val p = Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= minRepeat)
        .select("cust", "supp")
      val ok = p.groupBy("cust").agg(count(lit(1)).as("k"))
        .filter(col("k") <= 1000)
        .select("cust")
      val pc = p.join(ok, "cust")
      // the grouped form of the distinct pair dictionary: same rows, plus
      // the shared-customer count q188 weights edges by ((cust, supp) is
      // unique in pc, so count(*) IS the distinct shared-customer count)
      pc.as("a").join(pc.as("b"),
          col("a.cust") === col("b.cust") && col("a.supp") < col("b.supp"))
        .groupBy(col("a.supp").as("s_a"), col("b.supp").as("s_b"))
        .agg(count(lit(1)).as("n_sc"))
        .localCheckpoint(eager = false)
    }

  /** Triangle census of the supplier co-supply graph (see
    * [[coSupplyEdges]] for the graph and its scale guards). The node set
    * is the supplier DICTIONARY (SF×10k), so the per-node output and the
    * wedge join are dictionary-bounded. Exact integer counts; DuckDB
    * re-derives the identical graph and census. */
  val q167TriangleCount: QuerySpec = QuerySpec.oracle(
    "q167_triangle_count",
    s"""WITH ${CoSupplySqlCtes()},
      |deg AS (SELECT s, count(*) AS degree FROM (
      |    SELECT s_a AS s FROM e UNION ALL SELECT s_b AS s FROM e) GROUP BY s),
      |tri AS (SELECT e1.s_a AS a, e1.s_b AS b, e2.s_b AS c
      |        FROM e e1 JOIN e e2 ON e2.s_a = e1.s_b
      |        JOIN e e3 ON e3.s_a = e1.s_a AND e3.s_b = e2.s_b),
      |tn AS (SELECT s, count(*) AS n_triangles FROM (
      |    SELECT a AS s FROM tri UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri) GROUP BY s)
      |SELECT d.s AS node_id, CAST(d.degree AS BIGINT) AS degree,
      |  CAST(coalesce(tn.n_triangles, 0) AS BIGINT) AS n_triangles,
      |  CASE WHEN d.degree >= 2
      |    THEN CAST(2 * coalesce(tn.n_triangles, 0) AS DOUBLE)
      |         / CAST(d.degree * (d.degree - 1) AS DOUBLE)
      |    ELSE 0.0 END AS clustering_coeff
      |FROM deg d LEFT JOIN tn ON tn.s = d.s
      |ORDER BY node_id""".stripMargin
  ) { (spark, dir) =>
    triangleStats(coSupplyEdges(spark, dir)).orderBy("node_id")
  }

  /** Label-propagation community detection (Raghavan et al. 2007,
    * SYNCHRONOUS variant, fixed 2 rounds) over the co-supply graph — the
    * community statistic after PageRank/CC/triangles: each node adopts
    * the MAJORITY label among its neighbors' previous-round labels, ties
    * broken by smallest label, labels initialized to node ids. A fixed
    * round count makes the synchronous schedule fully deterministic (no
    * convergence test, no float), so every per-round label — not just the
    * final partition — is exact integer relational algebra and the oracle
    * unrolls the identical recurrence as generated CTEs (q136's
    * discipline). Differs from connected components (q35) exactly where
    * it should: CC merges everything reachable; LPA's majority vote keeps
    * densely-knit neighborhoods in distinct communities inside one
    * component (this graph is one component; LPA at these parameters
    * partitions it into 4). Graph parameters are chosen where the fixture
    * has structure to show: minRepeat=3 (the ≥2 graph is 99.9%-complete —
    * 4946/4950 possible edges — and ANY majority dynamic on a
    * near-complete graph collapses to one label; at ≥3 density drops to
    * ~22%) and 2 rounds (measured label counts by round at sf0.01:
    * 100 → 20 → 4 → 1 — the random trade fixture has no stable
    * communities, so the report freezes the dynamic before the
    * known-degenerate fixpoint). Shape at scale: per round ONE edge-keyed
    * join carrying (node, nbr-label) + one (node, label) count + a
    * node-partitioned argmax window — the adjacency is cut once behind a
    * checkpoint (referenced every round), rounds shuffle node-sized label
    * relations, and nothing is ever quadratic in the dictionary. */
  /** Synchronous label propagation over an undirected edge set (one row
    * per edge, (s_a, s_b)): labels start as node ids; each of the fixed
    * `rounds` rounds every node adopts the majority label among its
    * neighbors' previous-round labels, ties to the smallest label.
    * Returns (node, label). Deterministic integer relational algebra —
    * see q175 for the oracle unrolling and the scale shape. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    // the adjacency is referenced by every round — cut its lineage once
    // (lazy: no job at build, one materialization at run)
    val adj = edges.select(col("s_a").as("node"), col("s_b").as("nbr"))
      .union(edges.select(col("s_b").as("node"), col("s_a").as("nbr")))
      .localCheckpoint(eager = false)
    var labels = adj.select(col("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      val counts = adj
        .join(labels.select(col("node").as("nbr"), col("label")), "nbr")
        .groupBy("node", "label").agg(count(lit(1)).as("c"))
      labels = counts.withColumn("rn", row_number().over(
          Window.partitionBy("node").orderBy(col("c").desc, col("label"))))
        .filter(col("rn") === 1).select("node", "label")
    }
    labels
  }

  val q175LabelPropagation: QuerySpec = {
    val rounds = 2
    val roundCtes = (1 to rounds).map { r =>
      s"""r$r AS (SELECT a.node, l.label, count(*) AS c
         |  FROM adj a JOIN l${r - 1} l ON l.node = a.nbr GROUP BY 1, 2),
         |l$r AS MATERIALIZED (SELECT node, label FROM (
         |    SELECT node, label,
         |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         |    FROM r$r) WHERE rn = 1)""".stripMargin
    }
    QuerySpec.oracle(
      "q175_label_propagation",
      s"""WITH ${CoSupplySqlCtes(minRepeat = 3)},
         |adj AS MATERIALIZED (SELECT s_a AS node, s_b AS nbr FROM e
         |  UNION ALL SELECT s_b, s_a FROM e),
         |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM adj),
         |${roundCtes.mkString(",\n")},
         |sz AS (SELECT label, count(*) AS n_members FROM l$rounds GROUP BY label)
         |SELECT l.node AS node_id, l.label AS community,
         |  CAST(sz.n_members AS BIGINT) AS n_members
         |FROM l$rounds l JOIN sz USING (label)
         |ORDER BY node_id""".stripMargin
    ) { (spark, dir) =>
      // final labels feed both the per-node output and the size aggregate
      // — one cut so the rounds chain executes once, not twice
      val l3 = labelPropagation(coSupplyEdges(spark, dir, minRepeat = 3), rounds)
        .localCheckpoint(eager = false)
      val sz = l3.groupBy("label").agg(count(lit(1)).as("n_members"))
      l3.join(sz, "label")
        .select(col("node").as("node_id"), col("label").as("community"),
          col("n_members"))
        .orderBy("node_id")
    }
  }

  /** Seed-set hop distance (BFS layers) — the graph-proximity primitive
    * beside PageRank's importance and PPR's random-walk closeness: the
    * MINIMUM number of edges from any seed to each node, computed as
    * `rounds` min-plus relaxations d_r(v) = min(d_{r-1}(v),
    * min_{u∈N(v)} d_{r-1}(u) + 1) — exact small integers, so every
    * per-round distance is bit-identical cross-engine and the oracle
    * unrolls the identical recurrence (q136's generated-CTE discipline).
    * Nodes unreached within `rounds` hops report -1 (the fixed round
    * count IS the operator's contract: hop-k neighborhoods, not full
    * SSSP convergence).
    *
    * `edges` carries one row per undirected edge (s_a, s_b); `seeds`
    * carries `node` — seeds outside the node set are ignored. Scale
    * shape: the relaxation joins on the node key with WEIGHT-0 SELF-LOOPS
    * folded into the adjacency, so the carried distance relation is
    * referenced ONCE per round (the "keep own distance" term rides the
    * same join) — the lean single-reference lazy chain, no per-round
    * checkpoint cuts (the q136 double-reference lesson applied by
    * construction); the adjacency is cut once behind a checkpoint and
    * each round shuffles only the node-sized distance relation into one
    * map-side-combined min aggregate. */
  def hopDistance(edges: DataFrame, seeds: DataFrame, rounds: Int,
                  inf: Long = 999L): DataFrame =
    minPlusDistance(edges.select(col("s_a"), col("s_b"), lit(1L).as("w")),
        seeds, rounds, inf)
      .withColumnRenamed("dist", "hop")

  /** The general min-plus relaxation behind [[hopDistance]]: `rounds`
    * Bellman-Ford iterations over an undirected WEIGHTED edge set
    * (s_a, s_b, w ≥ 0) — d_r(v) = min(d_{r-1}(v), min_u d_{r-1}(u) +
    * w(u,v)), seeds at 0, unreached -1. Weight-0 self-loops keep the
    * carried relation single-referenced per round (see [[hopDistance]]);
    * `inf` must exceed any reachable path cost (rounds × max w). */
  def minPlusDistance(wEdges: DataFrame, seeds: DataFrame, rounds: Int,
                      inf: Long): DataFrame = {
    require(rounds >= 1)
    val e = wEdges.select(col("s_a"), col("s_b"), col("w")).localCheckpoint(eager = false)
    val nodes = e.select(col("s_a").as("node"))
      .union(e.select(col("s_b").as("node"))).distinct()
      .localCheckpoint(eager = false)
    val adjp = e.select(col("s_a").as("node"), col("s_b").as("nbr"), col("w"))
      .union(e.select(col("s_b").as("node"), col("s_a").as("nbr"), col("w")))
      .union(nodes.select(col("node"), col("node").as("nbr"), lit(0L).as("w")))
      .localCheckpoint(eager = false)
    var dist = nodes
      .join(broadcast(seeds.select(col("node")).distinct().withColumn("s", lit(1))),
        Seq("node"), "left")
      .select(col("node"),
        when(col("s").isNotNull, lit(0L)).otherwise(lit(inf)).cast("long").as("d"))
    for (_ <- 1 to rounds) {
      dist = adjp.join(dist.select(col("node").as("nbr"), col("d")), "nbr")
        .groupBy("node").agg(min(col("d") + col("w")).as("d"))
    }
    dist.select(col("node").as("node_id"),
      when(col("d") >= inf, lit(-1L)).otherwise(col("d")).cast("long").as("dist"))
  }

  /** BFS layers over the co-supply graph from the nation-1 supplier seed
    * set: "how many trade hops is each supplier from nation 1's supply
    * base?" — the retrieval-graph neighborhood primitive next to q162's
    * PPR (which weights paths; this counts them). Same minRepeat=3 graph
    * as q175 (structure over near-completeness), 4 rounds, degree rides
    * along from the same edge dictionary; unreached suppliers report
    * hop -1. Oracle: the recurrence unrolled as generated CTEs with
    * weight-0 self-loops — ONE definition of a round, two derivations. */
  val q181HopDistance: QuerySpec = {
    val rounds = 4
    val roundCtes = (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT a.node, min(l.d + a.w) AS d
         |  FROM adjp a JOIN l${r - 1} l ON l.node = a.nbr GROUP BY a.node)""".stripMargin
    }
    QuerySpec.oracle(
      "q181_hop_distance",
      s"""WITH ${CoSupplySqlCtes(minRepeat = 3)},
         |nodes AS MATERIALIZED (SELECT DISTINCT s_a AS node FROM e UNION SELECT s_b FROM e),
         |deg AS (SELECT s, count(*) AS degree FROM (
         |    SELECT s_a AS s FROM e UNION ALL SELECT s_b AS s FROM e) GROUP BY s),
         |adjp AS MATERIALIZED (
         |  SELECT s_a AS node, s_b AS nbr, 1 AS w FROM e
         |  UNION ALL SELECT s_b, s_a, 1 FROM e
         |  UNION ALL SELECT node, node, 0 FROM nodes),
         |seeds AS (SELECT s_suppkey AS node FROM supplier WHERE s_nationkey = 1
         |          INTERSECT SELECT node FROM nodes),
         |l0 AS MATERIALIZED (
         |  SELECT n.node, CASE WHEN s.node IS NOT NULL THEN 0 ELSE 999 END AS d
         |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
         |${roundCtes.mkString(",\n")}
         |SELECT l.node AS node_id,
         |  CAST(CASE WHEN l.d >= 999 THEN -1 ELSE l.d END AS BIGINT) AS hop,
         |  CAST(d.degree AS BIGINT) AS degree
         |FROM l$rounds l JOIN deg d ON d.s = l.node
         |ORDER BY node_id""".stripMargin
    ) { (spark, dir) =>
      val edges = coSupplyEdges(spark, dir, minRepeat = 3)
        .localCheckpoint(eager = false) // hops + degree both derive from it
      val seeds = Tables.supplier(spark, dir)
        .filter(col("s_nationkey") === 1)
        .select(col("s_suppkey").as("node"))
      val deg = edges.select(col("s_a").as("node_id"))
        .union(edges.select(col("s_b").as("node_id")))
        .groupBy("node_id").agg(count(lit(1)).as("degree"))
      hopDistance(edges, seeds, rounds)
        .join(deg, "node_id")
        .orderBy("node_id")
    }
  }

  /** WEIGHTED shortest path (bounded-round Bellman-Ford) over the
    * co-supply graph — q181's hop count generalized to trade-STRENGTH
    * costs: edge weight 10⁶ div n_shared_customers, so strongly-bonded
    * supplier pairs are cheap to traverse and the distance ranks "how
    * tightly is each supplier coupled to nation 1's supply base" rather
    * than merely "how many hops away" (the two orderings genuinely
    * differ: a two-strong-hops path beats one weak direct edge). Exact
    * integer micro-unit costs (one integral division per edge, q136's
    * discipline), 4 relaxation rounds, unreached -1; oracle unrolls the
    * identical recurrence. Same lean single-reference round shape as
    * [[minPlusDistance]] documents. */
  val q188WeightedHops: QuerySpec = {
    val rounds = 4
    val inf = 1000000000000L
    val roundCtes = (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT a.node, min(l.d + a.w) AS d
         |  FROM adjp a JOIN l${r - 1} l ON l.node = a.nbr GROUP BY a.node)""".stripMargin
    }
    QuerySpec.oracle(
      "q188_weighted_hops",
      s"""WITH ${CoSupplySqlCtes(minRepeat = 3)},
         |nodes AS MATERIALIZED (SELECT DISTINCT s_a AS node FROM e UNION SELECT s_b FROM e),
         |adjp AS MATERIALIZED (
         |  SELECT s_a AS node, s_b AS nbr, CAST(1000000 // n_sc AS BIGINT) AS w FROM e
         |  UNION ALL SELECT s_b, s_a, CAST(1000000 // n_sc AS BIGINT) FROM e
         |  UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM nodes),
         |seeds AS (SELECT s_suppkey AS node FROM supplier WHERE s_nationkey = 1
         |          INTERSECT SELECT node FROM nodes),
         |l0 AS MATERIALIZED (
         |  SELECT n.node, CAST(CASE WHEN s.node IS NOT NULL THEN 0 ELSE $inf END AS BIGINT) AS d
         |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
         |${roundCtes.mkString(",\n")}
         |SELECT node AS node_id,
         |  CAST(CASE WHEN d >= $inf THEN -1 ELSE d END AS BIGINT) AS cost_micro
         |FROM l$rounds ORDER BY node_id""".stripMargin
    ) { (spark, dir) =>
      val we = coSupplyEdges(spark, dir, minRepeat = 3)
        .select(col("s_a"), col("s_b"), expr("1000000 div n_sc").as("w"))
      val seeds = Tables.supplier(spark, dir)
        .filter(col("s_nationkey") === 1)
        .select(col("s_suppkey").as("node"))
      minPlusDistance(we, seeds, rounds, inf)
        .withColumnRenamed("dist", "cost_micro")
        .orderBy("node_id")
    }
  }

  /** Bounded-round k-core peeling over an undirected edge set (s_a, s_b)
    * for a LADDER of thresholds in one relation chain: the surviving
    * edge set carries `k` as a column, and each round drops every
    * (k, node) whose in-core degree is below its own k — Batagelj-
    * Zaversnik peeling re-expressed as `rounds` relational iterations
    * (degree agg + two anti joins), which is exactly how a distributed
    * engine peels: no priority queue, all k values advance together.
    * `rounds` bounds the cascade horizon like [[hopDistance]]'s; a
    * non-fixpoint tail is mirrored identically by the unrolled oracle.
    * Returns (core_k, node_id, core_deg) for surviving nodes. */
  def kCore(edges: DataFrame, ks: Seq[Int], rounds: Int): DataFrame = {
    require(rounds >= 1 && ks.nonEmpty)
    val dir = edges.select(col("s_a").as("node"), col("s_b").as("nbr"))
      .union(edges.select(col("s_b").as("node"), col("s_a").as("nbr")))
    var e = dir.select(explode(typedLit(ks.map(_.toLong))).as("k"),
        col("node"), col("nbr"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to rounds) {
      // e is referenced twice per round (degree + survivor filter) and
      // bad twice (both endpoints) — checkpoint each or the lazy plan
      // doubles per round (the q136 double-reference lesson)
      val bad = e.groupBy("k", "node").agg(count(lit(1)).as("d"))
        .filter(col("d") < col("k"))
        .select(col("k").as("bk"), col("node").as("bn"))
        .localCheckpoint(eager = false)
      e = e.join(bad, col("k") === col("bk") && col("node") === col("bn"),
          "left_anti")
        .join(bad, col("k") === col("bk") && col("nbr") === col("bn"),
          "left_anti")
        .localCheckpoint(eager = false)
    }
    e.groupBy("k", "node").agg(count(lit(1)).as("core_deg"))
      .select(col("k").as("core_k"), col("node").as("node_id"), col("core_deg"))
  }

  /** k-core decomposition profile of the co-supply graph — the density
    * ladder beside q167's triangles and q175's communities: which
    * suppliers sit in the mutually-dense trading core that survives
    * peeling at k ∈ {12, 14, 16}? (Measured at sf0.01: degrees 8–43,
    * k=12 keeps 90 nodes in 2 peel rounds, k=14 keeps 82 in 3, k=16
    * CASCADES to empty in 7 — the collapse between 14 and 16 IS the
    * degeneracy reading, which a degree histogram alone cannot see.)
    * 8 peel rounds cover every fixpoint above. All-integer: degree
    * counts and anti joins only, so the oracle unrolls the identical
    * recurrence as generated CTEs. Shape at 100 TB: the relation is
    * |ks| copies of the dictionary-bounded edge set, each round ONE
    * (k, node)-keyed degree agg + two anti joins against the small
    * dropped set — no per-node priority queue, no global sort. */
  val q190KCore: QuerySpec = {
    val (ks, rounds) = (Seq(12, 14, 16), 8)
    val roundCtes = (1 to rounds).map { r =>
      s"""d$r AS (SELECT k, node, count(*) AS d FROM e${r - 1} GROUP BY 1, 2),
         |bad$r AS MATERIALIZED (SELECT k, node FROM d$r WHERE d < k),
         |e$r AS MATERIALIZED (
         |  SELECT e.k, e.node, e.nbr FROM e${r - 1} e
         |  ANTI JOIN bad$r ba ON ba.k = e.k AND ba.node = e.node
         |  ANTI JOIN bad$r bb ON bb.k = e.k AND bb.node = e.nbr)""".stripMargin
    }
    QuerySpec.oracle(
      "q190_kcore",
      s"""WITH ${CoSupplySqlCtes(minRepeat = 3)},
         |ks AS (SELECT unnest([${ks.mkString(", ")}]) AS k),
         |e0 AS MATERIALIZED (
         |  SELECT k, s_a AS node, s_b AS nbr FROM e CROSS JOIN ks
         |  UNION ALL SELECT k, s_b, s_a FROM e CROSS JOIN ks),
         |${roundCtes.mkString(",\n")}
         |SELECT CAST(k AS BIGINT) AS core_k, node AS node_id,
         |  CAST(count(*) AS BIGINT) AS core_deg
         |FROM e$rounds GROUP BY 1, 2 ORDER BY core_k, node_id""".stripMargin
    ) { (spark, dir) =>
      kCore(coSupplyEdges(spark, dir, minRepeat = 3), ks, rounds)
        .orderBy("core_k", "node_id")
    }
  }

  /** Bounded-round k-truss peeling over an undirected edge set
    * (s_a, s_b) for a LADDER of thresholds — the EDGE-level density
    * sibling of [[kCore]]: an edge survives at k while it sits in at
    * least k−2 triangles of the surviving set, so a k-truss demands
    * cohesion a k-core can fake with disjoint stars. Each round is one
    * triangle-support join (the q167 ordered-wedge shape, k riding
    * along) + a left-join filter; synchronous drops, all k values
    * advance together. Returns (truss_k, node_id, truss_deg). */
  def kTruss(edges: DataFrame, ks: Seq[Int], rounds: Int): DataFrame = {
    require(rounds >= 1 && ks.nonEmpty)
    // Round cut that RESETS size statistics, not just lineage: a
    // localCheckpoint snapshots the round plan's estimated stats into
    // the LogicalRDD, and because every round INNER-joins the carried
    // relation to itself twice, the sizeInBytes estimate compounds as
    // S → S⁴ per round — by round ~15 the optimizer is multiplying
    // BigInts with millions of digits and planning time explodes
    // (kCore never hits this: anti-join stats don't multiply). The
    // RDD[Row] round-trip pins each round's stats back to the default
    // constant; the data path cost is nil on a dictionary-sized graph.
    def cut(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(df.rdd.localCheckpoint(), df.schema)
    var e = cut(edges.select(explode(typedLit(ks.map(_.toLong))).as("k"),
      col("s_a"), col("s_b")))
    for (_ <- 1 to rounds) {
      // e is referenced four times per round (two adjacency orientations
      // × two wedge arms, plus the survivor filter) — the per-round
      // checkpoint cut keeps the lazy chain from doubling (q136 lesson)
      def dir(kc: String, ac: String, bc: String): DataFrame =
        e.select(col("k").as(kc), col("s_a").as(ac), col("s_b").as(bc))
          .union(e.select(col("k").as(kc), col("s_b").as(ac), col("s_a").as(bc)))
      val sup = e
        .join(dir("xk", "xa", "xb"),
          col("xk") === col("k") && col("xa") === col("s_a"))
        .join(dir("yk", "ya", "yb"),
          col("yk") === col("k") && col("ya") === col("s_b") && col("yb") === col("xb"))
        .groupBy("k", "s_a", "s_b").agg(count(lit(1)).as("sup"))
        .select(col("k").as("sk"), col("s_a").as("sa"), col("s_b").as("sb"),
          col("sup"))
      e = cut(e.join(sup,
          col("sk") === col("k") && col("sa") === col("s_a") && col("sb") === col("s_b"),
          "left")
        .filter(coalesce(col("sup"), lit(0L)) >= col("k") - 2)
        .select("k", "s_a", "s_b"))
    }
    e.select(col("k"), col("s_a").as("node"))
      .union(e.select(col("k"), col("s_b")))
      .groupBy("k", "node").agg(count(lit(1)).as("truss_deg"))
      .select(col("k").as("truss_k"), col("node").as("node_id"), col("truss_deg"))
  }

  /** k-truss decomposition of the co-supply graph — the EDGE-cohesion
    * rung above q190's k-core: a supplier pair survives at k only while
    * embedded in ≥ k−2 surviving triangles, so trusses certify mutual
    * density stars and near-cliques of the core can fake. (Measured at
    * sf0.01 over the minRepeat=3 graph, 1082 edges: k=5 keeps 930 edges
    * / 94 nodes in 8 rounds, k=8 keeps 160 / 34 in 7, k=10 CASCADES to
    * empty in 4 — contrast q190 where k-core 12 still keeps 90 nodes;
    * the truss collapsing two rungs earlier is the star-vs-clique
    * distinction made quantitative.) 9 rounds cover every fixpoint.
    * All-integer (triangle counts + joins), so the oracle unrolls the
    * identical recurrence as generated CTEs. Shape at 100 TB: |ks|
    * copies of the dictionary-bounded edge set; each round ONE
    * edge-keyed triangle-support join (the q167 wedge shape, hub-capped
    * upstream) + a left-join filter — no per-edge priority queue. */
  val q193KTruss: QuerySpec = {
    val (ks, rounds) = (Seq(5, 8, 10), 9)
    val roundCtes = (1 to rounds).map { r =>
      s"""d$r AS (SELECT k, s_a AS a, s_b AS b FROM e${r - 1}
         |        UNION ALL SELECT k, s_b, s_a FROM e${r - 1}),
         |sup$r AS MATERIALIZED (
         |  SELECT e.k, e.s_a, e.s_b, count(*) AS sup
         |  FROM e${r - 1} e JOIN d$r x ON x.k = e.k AND x.a = e.s_a
         |                   JOIN d$r y ON y.k = e.k AND y.a = e.s_b AND y.b = x.b
         |  GROUP BY 1, 2, 3),
         |e$r AS MATERIALIZED (
         |  SELECT e.k, e.s_a, e.s_b FROM e${r - 1} e
         |  LEFT JOIN sup$r s ON s.k = e.k AND s.s_a = e.s_a AND s.s_b = e.s_b
         |  WHERE coalesce(s.sup, 0) >= e.k - 2)""".stripMargin
    }
    QuerySpec.oracle(
      "q193_ktruss",
      s"""WITH ${CoSupplySqlCtes(minRepeat = 3)},
         |e0 AS MATERIALIZED (
         |  SELECT k, s_a, s_b FROM e
         |  CROSS JOIN (SELECT unnest([${ks.mkString(", ")}]) AS k)),
         |${roundCtes.mkString(",\n")}
         |SELECT CAST(k AS BIGINT) AS truss_k, node AS node_id,
         |  CAST(count(*) AS BIGINT) AS truss_deg
         |FROM (SELECT k, s_a AS node FROM e$rounds
         |      UNION ALL SELECT k, s_b FROM e$rounds)
         |GROUP BY 1, 2 ORDER BY truss_k, node_id""".stripMargin
    ) { (spark, dir) =>
      kTruss(coSupplyEdges(spark, dir, minRepeat = 3), ks, rounds)
        .orderBy("truss_k", "node_id")
    }
  }

  /** Record-linkage entity resolution: q93's dictionary-blocked fuzzy
    * edges (part-name pairs within Levenshtein 2 — tighter than q93's
    * report threshold, this is a MERGE decision) closed transitively by
    * [[Dedup.connectedComponents]], canonical entity = alphabetically
    * smallest member name. The quadratic and the closure both run over
    * the vocab-bounded distinct-name dictionary (ids assigned by a
    * window over that dictionary — bounded, never the corpus); the
    * corpus contributes only the per-name count aggregate that rides
    * along on the final equi-join. Verified against a DuckDB
    * recursive-CTE closure over the identical edge set (levenshtein is
    * exact in both engines, so the edge sets match bit-for-bit). */
  val q140EntityGroups: QuerySpec = QuerySpec.oracle(
    "q140_entity_groups",
    """WITH RECURSIVE names AS (
      |  SELECT p_name, count(*) AS n_parts FROM part GROUP BY 1),
      |pairs AS (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b
      |  FROM names a JOIN names b ON a.p_name < b.p_name
      |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
      |edges AS (SELECT name_a AS src, name_b AS dst FROM pairs
      |          UNION ALL SELECT name_b, name_a FROM pairs),
      |reach(node, lbl) AS (
      |  SELECT p_name, p_name FROM names
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      |cc AS (SELECT node AS p_name, min(lbl) AS entity FROM reach GROUP BY node)
      |SELECT c.p_name AS name, c.entity,
      |  count(*) OVER (PARTITION BY c.entity) AS n_in_entity,
      |  n.n_parts
      |FROM cc c JOIN names n ON n.p_name = c.p_name
      |ORDER BY name""".stripMargin
  ) { (spark, dir) =>
    val names = Tables.part(spark, dir)
      .groupBy("p_name").agg(count(lit(1)).as("n_parts"))
    // dense ids over the DICTIONARY (vocab-bounded window — the same
    // bounded-window argument as q95's buckets), ordered by name so
    // min-id canonical ≡ alphabetically-min name (ASCII; Spark and
    // DuckDB binary string order agree). Materialized ONCE (eager
    // checkpoint — the build is already eager for the CC rounds): the
    // dictionary is referenced from six plan branches below, and as a
    // checkpointed RDD the corpus-scan aggregate behind it runs once
    // instead of being re-planned under every branch.
    val ids = names.withColumn("nid",
      row_number().over(Window.orderBy("p_name")).cast("long"))
      .localCheckpoint()
    val a = ids.select(col("p_name").as("name_a"), col("nid").as("id_a"))
    val b = ids.select(col("p_name").as("name_b"), col("nid").as("id_b"))
    val pairEdges = a.join(broadcast(b), col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b")
    val groups = Dedup.dedupGroups(ids.select(col("nid")), "nid", pairEdges)
    val resolved = groups
      .join(ids.select(col("nid"), col("p_name").as("name")), "nid")
      .join(ids.select(col("nid").as("canonical_id"), col("p_name").as("entity")),
        "canonical_id")
    val sizes = resolved.groupBy("entity").agg(count(lit(1)).as("n_in_entity"))
    resolved.join(sizes, "entity")
      .join(ids.select(col("p_name").as("name"), col("n_parts")), "name")
      .select("name", "entity", "n_in_entity", "n_parts")
      .orderBy("name")
  }

  /** Kleinberg HITS over a directed bipartite edge set (cust → supp):
    * authority(s) = Σ_{c→s} hub(c), hub(c) = Σ_{c→s} authority(s),
    * alternating for `rounds` iterations with L∞ normalization to
    * `unit` micro-units after every half-step — integer div, truncated
    * per node, so both engines share one recurrence (the q136/q200
    * discipline; L∞ rather than L2 because max-normalization keeps the
    * arithmetic in exact integers AND keeps resolution — an L1 norm
    * would shrink every score to ~unit/|V|). Convergence theory is
    * norm-agnostic: the direction converges to the principal singular
    * vectors of the adjacency regardless of per-round scaling.
    *
    * Scale shape: per half-step one |E|-sized equi-join + key-keyed
    * aggregate (the exact PageRank shuffle), normalization a 1-row
    * max aggregate broadcast back over the node-sized relation — no
    * single-partition window anywhere. Each half-step's raw sums are
    * cut behind a lazy localCheckpoint so the max-agg and the
    * normalize read ONE materialized node-sized RDD (the q136 per-round
    * plan-doubling guard) and rounds chain in constant plan size.
    * Returns (hubs(c, h), authorities(s, a)) in micro-units. */
  def hits(pairs: DataFrame, rounds: Int, unit: Long = 1000000L)
      : (DataFrame, DataFrame) = {
    require(rounds >= 1, "need at least one HITS round")
    val edges = pairs.select(col("cust").as("c"), col("supp").as("s"))
    var h = edges.select("c").distinct().withColumn("h", lit(unit))
    var a: DataFrame = edges.limit(0).select(col("s"), lit(unit).as("a"))
    for (_ <- 1 to rounds) {
      val aRaw = edges.join(h, "c")
        .groupBy("s").agg(sum(expr("CAST(h AS DECIMAL(38,0))")).as("ar"))
        .localCheckpoint(eager = false)
      a = aRaw.crossJoin(broadcast(aRaw.agg(max(col("ar")).as("am"))))
        .select(col("s"), expr(s"(ar * $unit) div am").cast("long").as("a"))
      val hRaw = edges.join(a, "s")
        .groupBy("c").agg(sum(expr("CAST(a AS DECIMAL(38,0))")).as("hr"))
        .localCheckpoint(eager = false)
      h = hRaw.crossJoin(broadcast(hRaw.agg(max(col("hr")).as("hm"))))
        .select(col("c"), expr(s"(hr * $unit) div hm").cast("long").as("h"))
    }
    (h, a)
  }

  /** Memoized [[hits]] over the trade graph per (session, dir, rounds):
    * the alternating rounds are an index-build-shaped step (20 node-sized
    * checkpoint materializations), so each session runs them once and
    * every later build serves the two final score relations from cached
    * RDDs — the tradePairs/quantizedVecsCk economics. */
  private val hitsTradeMemo = SessionMemo[(DataFrame, DataFrame)]("hitsTrade")
  private def hitsTradeCached(spark: SparkSession, dir: String,
                              rounds: Int): (DataFrame, DataFrame) =
    hitsTradeMemo(spark, dir, rounds) {
      val (h, a) = hits(tradePairs(spark, dir), rounds)
      (h.localCheckpoint(eager = false), a.localCheckpoint(eager = false))
    }

  /** The q219 oracle: [[hits]]'s alternating recurrence unrolled as a
    * generated CTE chain from the same round count — the q136 pattern,
    * so the Spark loop and the SQL provably share one definition of a
    * half-step. */
  private def hitsOracleSql(rounds: Int): String = {
    val head = Seq(
      """edges AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)""".stripMargin,
      "h0 AS (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM edges)")
    val iters = (1 to rounds).flatMap { i =>
      Seq(
        s"""ar$i AS MATERIALIZED (
           |  SELECT e.s, sum(CAST(h.h AS HUGEINT)) AS ar
           |  FROM edges e JOIN h${i - 1} h ON h.c = e.c GROUP BY 1)""".stripMargin,
        s"""a$i AS MATERIALIZED (
           |  SELECT s, CAST(ar * 1000000 // (SELECT max(ar) FROM ar$i) AS BIGINT) AS a
           |  FROM ar$i)""".stripMargin,
        s"""hr$i AS MATERIALIZED (
           |  SELECT e.c, sum(CAST(a.a AS HUGEINT)) AS hr
           |  FROM edges e JOIN a$i a ON a.s = e.s GROUP BY 1)""".stripMargin,
        s"""h$i AS MATERIALIZED (
           |  SELECT c, CAST(hr * 1000000 // (SELECT max(hr) FROM hr$i) AS BIGINT) AS h
           |  FROM hr$i)""".stripMargin)
    }
    (head ++ iters).mkString("WITH ", ",\n", "") +
      s"""
         |SELECT * FROM (
         |  (SELECT 'hub' AS kind, 'c' AS node_type, c AS node_id, h AS score_units
         |   FROM h$rounds ORDER BY h DESC, c LIMIT 25)
         |  UNION ALL
         |  (SELECT 'authority', 's', s, a
         |   FROM a$rounds ORDER BY a DESC, s LIMIT 25))
         |ORDER BY kind, score_units DESC, node_id""".stripMargin
  }

  /** HITS hub/authority centrality on the DIRECTED trade graph — the
    * dual-score centrality the band lacked (VERDICT r19 item 6):
    * PageRank (q136) answers "who is central" on the undirected view;
    * HITS separates the two sides of a bipartite market — a hub
    * customer buys from the strong suppliers, an authority supplier
    * serves the strong customers (Kleinberg 1999's mutual
    * reinforcement, here the principal singular vectors of the trade
    * adjacency). Five alternating rounds in exact micro units (see
    * [[hits]]); top-25 per side with a total (score, id) tie-break so
    * both LIMITs are deterministic. Edges are the memoized distinct
    * (customer, supplier) dictionary q136/q162 share. */
  val q219Hits: QuerySpec = QuerySpec.oracle(
    "q219_hits", hitsOracleSql(5)
  ) { (spark, dir) =>
    val (h, a) = hitsTradeCached(spark, dir, rounds = 5)
    val hubs = h.orderBy(col("h").desc, col("c")).limit(25)
      .select(lit("hub").as("kind"), lit("c").as("node_type"),
        col("c").as("node_id"), col("h").as("score_units"))
    val auths = a.orderBy(col("a").desc, col("s")).limit(25)
      .select(lit("authority").as("kind"), lit("s").as("node_type"),
        col("s").as("node_id"), col("a").as("score_units"))
    hubs.union(auths)
      .orderBy(col("kind"), col("score_units").desc, col("node_id"))
  }

  val all: Seq[QuerySpec] = Seq(
    q136PageRank, q140EntityGroups, q162PersonalizedPageRank, q167TriangleCount,
    q175LabelPropagation, q181HopDistance, q188WeightedHops, q190KCore,
    q193KTruss, q219Hits)
}
