package graft.ml

import graft.QuerySpec
import graft.functions.Exprs.{hash60, hash60Sql}
import graft.operators.Sampling
import graft.sources.{Staged, Tables}
import org.apache.spark.sql.functions._

/** Rows-only QuerySpecs for the ML surface (MLlib fits are not
  * SQL-expressible — SURVEY.md §5 excludes them from the oracle; metric
  * sanity is asserted in MlSpec).
  *
  * The label is derived from the text ("does the doc mention 'spark'"), so
  * the features carry real signal and the evaluation metrics are meaningful,
  * not coin flips.
  */
object MlQueries {

  val q50TrainEval: QuerySpec = QuerySpec.rowsOnly("q50_ml_train_eval") { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
      .withColumn("label", when(col("text").contains("spark"), 1.0).otherwise(0.0))
    val (trainDf, validDf) = Sampling.trainValidSplit(docs, 0.8, seed = 15)
    val featurizer = Features.fit(trainDf, "text", numFeatures = 256)
    val trainF = featurizer.transform(trainDf, "text").cache()
    val validF = featurizer.transform(validDf, "text")
    val (_, runs) = Trainer.trainAndEvaluate(trainF, validF, "bench-run", "na")
    trainF.unpersist()
    runs.orderBy("model_name", "metric")
  }

  /** Deterministic k-fold assignment + stratification audit: fold =
    * content-hash of the id mod 5 (`conv(md5…)` ↔ `('0x'||…)::BIGINT`,
    * the cross-engine hash the samplers and manifests already use), so
    * folds are REPRODUCIBLE across runs, partitionings, and engines —
    * the property a CV split must have before per-fold metrics mean
    * anything — and the per-(fold, label) counts are the stratification
    * balance check run before accepting the split. One scan, one
    * map-side-combined aggregate; this is the oracle-checkable half of
    * the CV loop (the MLlib fits stay rows-only per SURVEY §5). */
  val q156CvFolds: QuerySpec = QuerySpec.oracle(
    "q156_cv_folds",
    s"""SELECT ${hash60Sql("CAST(vec_id AS VARCHAR)")} % 5 AS fold,
      |  label, count(*) AS n
      |FROM embeddings GROUP BY 1, 2
      |ORDER BY fold, label""".stripMargin
  ) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .withColumn("fold",
        hash60(col("vec_id").cast("string")) % 5)
      .groupBy("fold", "label").agg(count(lit(1)).as("n"))
      .orderBy("fold", "label")
  }

  /** Learned-embedding surface made driver-visible (VERDICT r16 item 7 —
    * the Word2Vec featurizer was spec-only): fit MLlib Word2Vec on the
    * documents corpus, persist it, and score with the RELOADED model (the
    * registry path a restarted inference process takes, including the
    * Hadoop-FS layout probe), then report per-source embedding geometry —
    * doc counts, zero-vector count (docs whose every token fell below
    * minCount), mean vector norm, and the source-centroid norm (→0 when
    * directions are random, →mean norm when a source's docs align — the
    * cheap corpus-level signal that the embedding learned SOMETHING).
    * Rows-only per SURVEY §5 (MLlib fits are excluded from the SQL
    * oracle); exact reload-transform parity is pinned in
    * SentimentPipelineSpec. First build per (session, dir) fits and saves
    * ([[Staged]]); repeat builds load — the one-time index-build economics
    * of q43's quantizer.
    * The centroid is a posexplode dimension-sum — vector state never
    * leaves the executors except as the |source|×dims aggregate. */
  val q168W2vReport: QuerySpec = QuerySpec.rowsOnly("q168_w2v_report") { (spark, dir) =>
    import org.apache.spark.ml.functions.vector_to_array
    val docs = Tables.documents(spark, dir)
    val path = Staged(spark, dir, "w2v") { path =>
      Features.fitWord2Vec(docs, "text", vectorSize = 32, minCount = 2).save(path)
    }
    val feats = TextFeaturizer.load(path).transform(docs, "text")
      .select(col("source"), vector_to_array(col("features")).as("a"))
    val norms = feats
      .withColumn("norm",
        sqrt(aggregate(transform(col("a"), x => x * x), lit(0.0), (acc, v) => acc + v)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("norm") === 0.0, 1)).as("n_zero_vecs"),
        avg(col("norm")).as("mean_norm"))
    val centroids = feats
      .select(col("source"), posexplode(col("a")).as(Seq("dim", "v")))
      .groupBy("source", "dim").agg(avg(col("v")).as("cv"))
      .groupBy("source").agg(sqrt(sum(col("cv") * col("cv"))).as("centroid_norm"))
    norms.join(centroids, "source").orderBy("source")
  }

  val all: Seq[QuerySpec] = Seq(q50TrainEval, q156CvFolds, q168W2vReport)
}
