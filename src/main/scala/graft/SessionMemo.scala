package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** One session-keyed fit-once/serve-many memo, with stopped-session
  * eviction.
  *
  * Each memoised build (Graph.tradePairs / coSupplyEdges,
  * VectorQueries.quantizedVecsCk / lloydCentroidsCached, …) is one
  * instance keyed by (SparkSession, dir, params), so each session
  * materializes its expensive shared state once per dir and parameter set.
  * A bare ConcurrentHashMap, however, never forgets: entries for STOPPED
  * sessions keep DataFrame/checkpointed-RDD references alive for the life
  * of the JVM (ADVICE r18) — a long-lived process or a many-session test
  * run accumulates stale plans. `apply` sweeps dead-session keys on every
  * access before computing: the sweep is O(live sessions) over a map whose
  * size is bounded by sessions × dirs × params (a handful), so the cost is
  * noise next to the builds being memoized.
  *
  * Each instance owns its map: builds nest (chunkBm25Index → chunkIndex,
  * prGraphBase → tradePairs, …), and a build that touched the map it runs
  * inside would fail `computeIfAbsent` with "Recursive update".
  */
final class SessionMemo[V](label: String) {
  private val cache = new ConcurrentHashMap[(SparkSession, String, List[Any]), V]()

  /** The memoised value for (spark, dir, params), built on first use. */
  def apply(spark: SparkSession, dir: String, params: Any*)(build: => V): V = {
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    cache.computeIfAbsent((spark, dir, params.toList), _ => {
      val t0 = System.nanoTime()
      val v = build
      SessionMemo.buildSeconds.put(SessionMemo.recordKey(label, params),
        (System.nanoTime() - t0) / 1e9)
      v
    })
  }
}

object SessionMemo {

  def apply[V](label: String): SessionMemo[V] = new SessionMemo[V](label)

  /** Seconds spent BUILDING each memo, recorded at build time — the
    * cold/warm accounting VERDICT r21 asked for: per-query bench figures
    * for memo consumers are warm serving costs, and this map lets Bench
    * emit what a cold deployment pays once per corpus version
    * (`memo_builds` in target/bench.json). Keyed by [[recordKey]], so
    * every parameter set keeps its own entry; the dir is not part of the
    * key, so a memo built for several dirs (warmup + timed) keeps the LAST
    * build's seconds, which in a Bench run is the timed dir's (warmup
    * precedes the timed passes). Every build puts a new boxed value. */
  val buildSeconds = new ConcurrentHashMap[String, Double]()

  /** `label` alone for a memo without params, else `label(p1,p2,…)`. */
  def recordKey(label: String, params: Seq[Any]): String =
    if (params.isEmpty) label else params.mkString(label + "(", ",", ")")
}
