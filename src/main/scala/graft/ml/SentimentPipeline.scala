package graft.ml

import graft.functions.Exprs.hash60
import graft.operators.Sampling
import graft.sources.Tables
import org.apache.spark.ml.Transformer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end rebuild of the reference's two entry points (SURVEY.md §3).
  *
  * Training (§3.1, src/main.py:162-191):
  *   CSV scan → project → class filter → balanced sample → union →
  *   content fingerprint → versioned sink → featurize → 80/20 split →
  *   train 5 classifiers → metrics runs table → model registry.
  *
  * Inference (§3.2, src/main.py:192-200): a batch of texts through the SAME
  * featurizer, scored by every registered model in one pass, batched sink
  * (the reference does one Mongo insert per row).
  */
object SentimentPipeline {

  /** Sentiment140 convention: 0 = negative, 4 = positive (src/main.py:68-69);
    * MLlib wants {0,1} double labels. */
  private def mlLabel(sentiment: org.apache.spark.sql.Column) =
    when(sentiment === 4, 1.0).otherwise(0.0)

  /** §3.1 steps S1→S3: read, project, filter to the two classes, balanced
    * sample of n/2 each (seeded — documented improvement over the
    * reference's unseeded sampler), fingerprint, versioned CSV sink. */
  def readAndFetchData(spark: SparkSession, csvPath: String, total: Int,
                       versionedDir: Option[String] = None, seed: Long = 15): (DataFrame, String) = {
    val raw = Tables.sentiment140(spark, csvPath)
      .select("sentiment", "tweet")
      .filter(col("sentiment").isin(0, 4))
    val sampled = Sampling.balancedSample(raw, "sentiment", total / 2, seed)
    val version = sampled
      .select(hash60(concat_ws("|", col("sentiment"), col("tweet"))).as("h"))
      .agg(expr("bit_xor(h)"))
      .collect().head.getLong(0).toHexString
    versionedDir.foreach(d => Tables.writeVersionedCsv(sampled, d, version))
    (sampled, version)
  }

  final case class Trained(featurizer: TextFeaturizer,
                           models: Map[String, Transformer],
                           runs: DataFrame,
                           version: String)

  /** §3.1 end-to-end. With `modelDir` set, the WHOLE inference pipeline is
    * persisted — classifiers, registry manifest, fitted featurizer, runs
    * table — so `loadTrained` can rebuild a scoring process from disk alone
    * (the reference's registry→score loop, src/main.py:143-158). */
  def train(spark: SparkSession, csvPath: String, total: Int = 2000,
            modelDir: Option[String] = None, runId: String = "run-1"): Trained = {
    val (sampled, version) = readAndFetchData(spark, csvPath, total)
    val labeled = sampled.withColumn("label", mlLabel(col("sentiment")))
    val (trainDf, validDf) = Sampling.trainValidSplit(labeled, 0.8, seed = 15)
    val featurizer = Features.fit(trainDf, "tweet")
    val trainF = featurizer.transform(trainDf, "tweet").cache()
    val validF = featurizer.transform(validDf, "tweet")
    val (models, runs) =
      try Trainer.trainAndEvaluate(trainF, validF, runId, version, modelDir)
      finally trainF.unpersist()
    modelDir.foreach { d =>
      Trainer.writeRegistry(spark, d, models.keys.toSeq)
      featurizer.save(s"$d/_featurizer")
      runs.coalesce(1).write.mode("overwrite").parquet(s"$d/_runs")
    }
    Trained(featurizer, models, runs, version)
  }

  /** Rebuild the full inference pipeline from a `train(modelDir = ...)`
    * directory in a fresh process: registry → model loaders, persisted
    * featurizer, persisted runs table (dataset version included). */
  def loadTrained(spark: SparkSession, modelDir: String): Trained = {
    val registry = spark.read.parquet(s"$modelDir/_registry").collect()
      .map(r => r.getAs[String]("model_name") -> r.getAs[String]("path")).toMap
    val models = registry.map { case (name, path) => name -> Trainer.loadModel(name, path) }
    val runs = spark.read.parquet(s"$modelDir/_runs")
    val version = runs.select("dataset_version").limit(1).collect().head.getString(0)
    Trained(TextFeaturizer.load(s"$modelDir/_featurizer"), models, runs, version)
  }

  /** §3.2: score a batch of raw texts with every model in one pass. The
    * result is `tweet` followed by one double `pred_<model>` column per
    * model, in model-name order; only predictions are computed. */
  def scoreBatch(texts: DataFrame, textCol: String, trained: Trained): DataFrame = {
    val featurized = trained.featurizer.transform(
      texts.withColumnRenamed(textCol, "tweet"), "tweet")
    val scored = Trainer.scoreAll(featurized, trained.models)
    scored.select("tweet", scored.columns.filter(_.startsWith("pred_")).toSeq: _*)
  }

  /** §3.2 live loop as ONE composed entry point (the reference's
    * poll→score→insert cycle, src/main.py:192-200): a text file stream (the
    * Twitter-poll stand-in) scored by every registered model per
    * micro-batch and written to a parquet sink — batched writes, not the
    * reference's per-row insert. Restartable AND idempotent: foreachBatch
    * alone is at-least-once (a crash between the write and the checkpoint
    * commit replays the batch), so each batch dynamically OVERWRITES its own
    * batch_id partition — a replay rewrites identical rows instead of
    * appending duplicates, making the sink effectively exactly-once. */
  def runStreamingInference(spark: SparkSession, textDir: String, trained: Trained,
                            outDir: String, checkpointDir: String,
                            maxFilesPerTrigger: Int = 1): Unit = {
    val texts = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .text(textDir)
      .withColumnRenamed("value", "tweet")
    graft.streaming.EventsStream.runForeachBatch(texts, checkpointDir) { (batch, batchId) =>
      scoreBatch(batch, "tweet", trained)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(outDir)
    }
  }
}
