package graft.streaming

import graft.functions.Exprs.hash60
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming rebuild of the reference's live path (SURVEY.md §2.9:
  * tweepy poll → same transform chain → per-row Mongo insert, src/main.py:
  * 133-158) plus the north-star event-time operators: watermarked tumbling
  * windows, streaming dedup, session windows.
  *
  * Sources are file streams (the stand-in for the Twitter poll); every
  * transform is the SAME lazy DataFrame code the batch path uses — the
  * reference's "one transform chain for train and live" design, kept.
  * State stores are bounded by watermarks; at scale each operator is
  * hash-partitioned on its grouping key.
  */
object EventsStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** File-source stream of events (json lines per file — easy to generate
    * deterministically in tests; parquet works identically).
    *
    * `maxFilesPerTrigger` splits the backlog into micro-batches; note the
    * watermark only advances BETWEEN batches (append-mode windows emit once
    * a later batch's watermark passes them — stream end does NOT flush open
    * windows). */
  def readEventStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .json(dir)

  /** Watermarked tumbling-window counts per event type. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup on event_id with state GENUINELY bounded by
    * the watermark. The classic `dropDuplicates("event_id")` would be a
    * scale bug here: watermark eviction applies to key-only dedup state
    * ONLY when the event-time column is part of the dedup key, so a
    * key-only dropDuplicates retains every id ever seen — unbounded state
    * on an unbounded stream. `dropDuplicatesWithinWatermark` is the
    * purpose-built form: dedup on the key alone, state evicted once the
    * watermark passes an id's first-seen event time — the right contract
    * for re-delivery dedup, where duplicates arrive within the delivery
    * delay, not forever. */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** Per-user session windows (gap-based). Same operator works in batch —
    * Relational-side oracle q60/q61 verify the semantics against an
    * independent gaps-and-islands SQL formulation. */
  def sessionCounts(events: DataFrame, gap: String = "10 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  final case class UserStats(user_id: Long, n_events: Long, total_value: Double,
                             max_value: Double, last_ts: java.sql.Timestamp)

  /** Custom keyed state via flatMapGroupsWithState: running per-user
    * aggregates emitted on every update — the arbitrary-state API for
    * semantics session_window/dropDuplicates can't express. State is
    * per-key and lives in the state store; at scale it shards with the
    * grouping hash partitioning. */
  def runningUserStats(events: DataFrame): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    events.selectExpr("user_id", "ts", "value").as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OM.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(user, 0L, 0.0, Double.MinValue, new java.sql.Timestamp(0)))
          val next = rows.foldLeft(prev) { (s, r) =>
            UserStats(user, s.n_events + 1, s.total_value + r._3,
              math.max(s.max_value, r._3),
              if (r._2.after(s.last_ts)) r._2 else s.last_ts)
          }
          state.update(next)
          Iterator.single(next)
      }
  }

  final case class MgState(keys: Seq[Long], counts: Seq[Long])
  final case class TrendingUser(event_type: String, user_id: Long,
                                est_count: Long, rank: Int)

  /** Streaming heavy hitters: per event type, a bounded Misra-Gries summary
    * of user activity held in keyed state — the streaming twin of
    * `functions.FrequentItemsSketch` (the shared `MisraGries.offer` rule,
    * so the same count > n/(k+1) superset guarantee holds over everything
    * the key has ever seen). The state is AT MOST k entries per key forever, no
    * matter how many distinct users stream through — the property that lets
    * a trending-users view run unbounded at 100 TB/day, where a per-user
    * running count (runningUserStats) would grow state linearly. Emits the
    * current top `topN` (estimate desc, user asc) for every key touched by
    * a micro-batch. */
  def trendingUsers(events: DataFrame, k: Int = 16, topN: Int = 3): Dataset[TrendingUser] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    events.selectExpr("event_type", "user_id").as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OM.Append, GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[(String, Long)], state: GroupState[MgState]) =>
          val m = scala.collection.mutable.HashMap.empty[Long, Long]
          state.getOption.foreach(s => s.keys.lazyZip(s.counts).foreach(m.update))
          rows.foreach { case (_, u) =>
            graft.functions.MisraGries.offer(m, k, u, identity[Long])
          }
          val entries = m.toSeq
          state.update(MgState(entries.map(_._1), entries.map(_._2)))
          entries.sortBy { case (u, c) => (-c, u) }.take(topN)
            .iterator.zipWithIndex
            .map { case ((u, c), i) => TrendingUser(et, u, c, i + 1) }
      }
  }

  /** Watermarked stream-stream join: each click paired with same-user
    * purchases inside `[click_ts, click_ts + window]` — the streaming twin
    * of the batch RangeJoin operator (q65 verifies those semantics against
    * DuckDB). Both sides carry event-time watermarks AND the join condition
    * time-bounds one side against the other, which is exactly what lets
    * Spark evict join state once the watermark passes a row's match window
    * — without the bound, stream-stream join state grows forever. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        window_ : String = "30 minutes",
                        watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"), col("value"))
    c.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $window_"))
      .drop("p_user_id")
  }

  /** Run a streaming query to completion over whatever is in the source dir
    * (Trigger.AvailableNow) and sink to parquet — the batched replacement for
    * the reference's per-row insert loop. */
  def runToParquet(df: DataFrame, outDir: String, checkpointDir: String,
                   mode: OutputMode = OutputMode.Append): Unit = {
    val q = df.writeStream
      .outputMode(mode)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming materialized-view maintenance — the batch refresh identity
    * (q132: refresh(base, Δ) ≡ recompute(all), exact because the states
    * are decimal) run CONTINUOUSLY: every micro-batch's partial aggregate
    * merges into a parquet-backed daily (event_type) rollup.
    *
    * Exactly-once without a transactional sink: the view is written to a
    * VERSIONED directory per micro-batch (`v=<batchId>`), computed as
    * merge(latest committed version < batchId, this batch). foreachBatch
    * replays the last batch after a crash-before-checkpoint-commit — and
    * replaying batch N simply recomputes `v=N` from the same `v=M` (M < N)
    * and the same replayed rows, overwriting `v=N` in place. A naive
    * "merge into THE view" overwrite would double-count that replay; the
    * version key is what makes the merge idempotent. Old versions are
    * pruned to a small window (crash recovery only ever needs the latest
    * committed one).
    *
    * Scale shape: the per-batch partial aggregate shuffles ONLY the batch;
    * the merge reads the view (aggregate-sized, ≪ fact history) and
    * rewrites it — cost per trigger is O(|Δ| + |view|), the q132 contract,
    * forever. */
  def maintainDailyView(events: DataFrame, viewDir: String, checkpointDir: String): Unit = {
    runForeachBatch(events, checkpointDir) { (batch, id) =>
      val spark = batch.sparkSession
      val partial = batch
        .groupBy(to_date(date_trunc("day", col("ts"))).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_value"))
      val merged = latestView(spark, viewDir, beforeVersion = Some(id)) match {
        case Some(prior) =>
          prior.unionByName(partial)
            .groupBy("day", "event_type")
            .agg(sum(col("n_events")).as("n_events"),
              sum(col("sum_value")).cast("decimal(18,2)").as("sum_value"))
        case None => partial
      }
      merged.write.mode("overwrite").parquet(s"$viewDir/v=$id")
      // prune: recovery only ever reads the latest committed version
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      viewVersions(spark, viewDir).dropRight(3).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$viewDir/v=$v"), true)
      }
    }
  }

  /** Streaming SKETCH maintenance — [[maintainDailyView]]'s exactly-once
    * versioned-merge discipline applied to the MERGEABLE sketch family
    * (q161 KMV / q173 CMS / q180's bottom-k quantile sample): every
    * micro-batch computes its PARTIAL sketches over the event keys and
    * folds them into the persisted state. All merges are the sketches'
    * defining algebra — CMS by CELL-WISE ADDITION (the counts form an
    * abelian monoid), KMV and the quantile sample by re-taking the
    * bottom-k of the distinct union (semilattices) — so
    * maintained-state ≡ from-scratch recompute EXACTLY, cell for cell
    * and hash for hash, no approximation drift across any batch split
    * (EventsStreamSpec pins the identity). Same replay-idempotent
    * version-key contract as the daily view: replaying batch N rebuilds
    * `v=N` from the same committed `v=M` (M < N) and the same rows.
    *
    * Scale shape: the per-batch CMS pass is one map-side-combined
    * (j, bucket) aggregate over the batch only; the state read back per
    * trigger is d·w cells + k hashes — CONSTANT regardless of history
    * length, the property that makes sketches the streaming-state answer
    * where q132's exact rollup state grows with the key universe. The
    * hash discipline is q138/q161/q173's md5-prefix integer, so the
    * maintained state is directly comparable against the batch oracles. */
  def maintainSketches(events: DataFrame, stateDir: String, checkpointDir: String,
                       d: Int = 4, w: Int = 64, k: Int = 64): Unit = {
    runForeachBatch(events, checkpointDir) { (batch, id) =>
      val spark = batch.sparkSession
      val keys = batch.select(
        concat_ws(":", col("event_type"), col("user_id")).as("t"))
      // CMS partial: the q173 seeded-row bucket scheme over this batch
      val cells = keys.select(explode(array((0 until d).map(j =>
          struct(lit(j).as("j"),
            pmod(hash60(concat(lit(s"$j:"), col("t"))), lit(w.toLong)).as("bucket"))): _*))
          .as("cell"))
        .groupBy(col("cell.j").as("j"), col("cell.bucket").as("bucket"))
        .agg(count(lit(1)).cast("long").as("c"))
      val cms = latestView(spark, s"$stateDir/cms", beforeVersion = Some(id)) match {
        case Some(prior) => prior.unionByName(cells)
          .groupBy("j", "bucket").agg(sum(col("c")).cast("long").as("c"))
        case None => cells
      }
      cms.write.mode("overwrite").parquet(s"$stateDir/cms/v=$id")
      // KMV partial: distinct key hashes; merge = bottom-k of the union
      val hs = keys.distinct()
        .select(hash60(col("t")).as("h"))
      val kmv = (latestView(spark, s"$stateDir/kmv", beforeVersion = Some(id)) match {
        case Some(prior) => prior.unionByName(hs)
        case None => hs
      }).distinct().orderBy("h").limit(k)
      kmv.write.mode("overwrite").parquet(s"$stateDir/kmv/v=$id")
      // Quantile partial (the q180 bottom-k sample): each event carries its
      // value-cents tagged with the md5-prefix rank hash of its UNIQUE
      // event_id; the maintained state is the k lexicographically smallest
      // (h, v) PAIRS of the union — a total order on pairs, so bottom-k
      // stays a semilattice even across 60-bit prefix collisions, and the
      // sorted v column answers any quantile by integer rank arithmetic
      // exactly as q180's batch sketch does.
      val qv = batch.select(
        hash60(col("event_id").cast("string")).as("h"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("v"))
      val qnt = (latestView(spark, s"$stateDir/qnt", beforeVersion = Some(id)) match {
        case Some(prior) => prior.unionByName(qv)
        case None => qv
      }).distinct().orderBy("h", "v").limit(k)
      qnt.write.mode("overwrite").parquet(s"$stateDir/qnt/v=$id")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      Seq("cms", "kmv", "qnt").foreach { kind =>
        viewVersions(spark, s"$stateDir/$kind").dropRight(3).foreach { v =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/$kind/v=$v"), true)
        }
      }
    }
  }

  /** Per-trigger late-data accounting — the number a production owner
    * actually watches on a watermarked stream: how many rows did the
    * watermark DROP this trigger (an alert threshold on delivery decay),
    * beside the rows observed and the watermark that did the dropping.
    * Captured from the engine's own instrumentation
    * (StreamingQueryProgress: numInputRows, eventTime.watermark,
    * stateOperators.numRowsDroppedByWatermark) after the run, and
    * persisted to `accountingDir` so the maintained state dir carries its
    * own delivery audit trail (VERDICT r19 item 7).
    * `watermark_ms` is the watermark IN EFFECT during the trigger (the
    * one that filtered its rows) in epoch millis — Spark tracks
    * watermarks at millisecond precision. */
  final case class TriggerAccounting(batch_id: Long, input_rows: Long,
                                     dropped_late_rows: Long, watermark_ms: Long)

  /** Run a watermarked windowed aggregate to completion (AvailableNow),
    * sink append-mode results to parquet, and persist the per-trigger
    * late-data accounting derived from the query's progress events.
    *
    * `recentProgress` is a ring buffer bounded by
    * `spark.sql.streaming.numRecentProgressUpdates` (default 100) — a run
    * with more triggers than the bound would silently lose the EARLIEST
    * triggers' drop counts (ADVICE r20). The conf is raised to
    * `maxTriggers` for the duration of the run (and restored after), so
    * the audit trail is complete for any run up to that many triggers;
    * a run past it should stream the accounting via a
    * StreamingQueryListener instead. */
  def runWindowedWithAccounting(events: DataFrame, outDir: String,
                                checkpointDir: String, accountingDir: String,
                                window_ : String = "1 hour",
                                watermark: String = "2 hours",
                                maxTriggers: Int = 100000)
      : Seq[TriggerAccounting] = {
    val spark = events.sparkSession
    val ProgressConf = "spark.sql.streaming.numRecentProgressUpdates"
    val prevProgressConf = spark.conf.getOption(ProgressConf)
    spark.conf.set(ProgressConf, maxTriggers.toString)
    try {
    val q = tumblingCounts(events, window_, watermark).writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fmt = java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME
    val acct = q.recentProgress.toSeq.map { p =>
      val wmMs = Option(p.eventTime.get("watermark"))
        .map(s => java.time.OffsetDateTime.parse(s, fmt).toInstant.toEpochMilli)
        .getOrElse(0L)
      TriggerAccounting(p.batchId, p.numInputRows,
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum, wmMs)
    }
    import spark.implicits._
    acct.toDF().coalesce(1).write.mode("overwrite").parquet(accountingDir)
    acct
    } finally {
      prevProgressConf match {
        case Some(v) => spark.conf.set(ProgressConf, v)
        case None => spark.conf.unset(ProgressConf)
      }
    }
  }

  /** Committed (\_SUCCESS-marked) view versions, ascending. */
  private def viewVersions(spark: SparkSession, viewDir: String): Seq[Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(viewDir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filter(s => fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .sorted
  }

  /** The maintained view as a DataFrame: the latest committed version
    * (optionally restricted to versions below `beforeVersion` — the replay
    * guard the maintainer itself uses). None before the first commit. */
  def latestView(spark: SparkSession, viewDir: String,
                 beforeVersion: Option[Long] = None): Option[DataFrame] = {
    val vs = viewVersions(spark, viewDir)
    val eligible = beforeVersion.fold(vs)(b => vs.filter(_ < b))
    eligible.lastOption.map(v => spark.read.parquet(s"$viewDir/v=$v"))
  }

  /** foreachBatch scoring hook (§3.2 streaming analog): apply any batch
    * DataFrame→DataFrame transform (e.g. SentimentPipeline.scoreBatch) per
    * micro-batch. */
  def runForeachBatch(df: DataFrame, checkpointDir: String)
                     (f: (DataFrame, Long) => Unit): Unit = {
    val q = df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) => f(batch.toDF(), id))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
