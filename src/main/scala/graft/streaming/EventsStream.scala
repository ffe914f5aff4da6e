package graft.streaming

import graft.functions.Exprs.hash60
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Structured Streaming side of the pipeline: the reference's live path
  * (SURVEY.md §2.9: tweepy poll → same transform chain → per-row Mongo
  * insert, src/main.py:133-158) runs as [[runForeachBatch]] over a file
  * stream (the stand-in for the Twitter poll), applying the SAME lazy
  * DataFrame code the batch path uses per micro-batch — the reference's
  * "one transform chain for train and live" design, kept.
  * [[maintainSketches]] folds each micro-batch into persisted, versioned
  * sketch state; q183 verifies it against a from-scratch recompute.
  */
object EventsStream {

  /** Streaming SKETCH maintenance with exactly-once versioned merges,
    * applied to the MERGEABLE sketch family
    * (q161 KMV / q173 CMS / q180's bottom-k quantile sample): every
    * micro-batch computes its PARTIAL sketches over the event keys and
    * folds them into the persisted state. All merges are the sketches'
    * defining algebra — CMS by CELL-WISE ADDITION (the counts form an
    * abelian monoid), KMV and the quantile sample by re-taking the
    * bottom-k of the distinct union (semilattices) — so
    * maintained-state ≡ from-scratch recompute EXACTLY, cell for cell
    * and hash for hash, no approximation drift across any batch split
    * (EventsStreamSpec pins the identity).
    *
    * Exactly-once without a transactional sink: each micro-batch writes a
    * VERSIONED directory `v=<batchId>` computed as merge(latest committed
    * version < batchId, this batch). foreachBatch replays the last batch
    * after a crash before the checkpoint commit, and replaying batch N
    * rebuilds `v=N` from the same committed `v=M` (M < N) and the same
    * rows, overwriting it in place; a merge into one fixed directory would
    * double-count that replay. Only the last three versions are kept.
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
