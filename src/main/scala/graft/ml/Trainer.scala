package graft.ml

import org.apache.spark.ml.classification._
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.ml.{PredictionModel, Transformer}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's classifier surface (SURVEY.md §2.10 M1-M3, M5-M8):
  * 5 models trained on the 80% split, evaluated on 20%, metrics logged to a
  * queryable runs table, models persisted with a name→path registry manifest.
  * (M4/KNN is relational — graft.operators.Knn.)
  *
  * Deviations documented in SURVEY §2.10: kernel SVC → LinearSVC (MLlib has
  * no kernel SVM); GaussianNB → NaiveBayes(gaussian). The reference's
  * transposed confusion-matrix bug (src/main.py:121) is NOT replicated —
  * orientation here is the correct (label, prediction).
  */
object Trainer {

  /** The reference's model set (src/main.py:91-114), KNN excepted — all
    * FIVE classifiers including the kernel tier: `rff_svc` is the RBF
    * `SVC()` analogue (Random Fourier Features + LinearSVC, [[RffSvc]]), so
    * the runs table and the M7 fan-out carry the nonlinear model too. */
  def models(seed: Long = 0): Seq[(String, Estimator)] = Seq(
    "random_forest" -> new RandomForestClassifier().setMaxDepth(2).setSeed(seed),
    "logistic_regression" -> new LogisticRegression().setMaxIter(25),
    "linear_svc" -> new LinearSVC().setMaxIter(15),
    "gaussian_nb" -> new NaiveBayes().setModelType("gaussian"),
    "rff_svc" -> new RffSvc.RffSvcEstimator())

  type Estimator = org.apache.spark.ml.Estimator[_ <: Transformer]

  /** Confusion matrix as one aggregate (A1, correct orientation) +
    * precision/recall/accuracy scalars (A2). Binary labels {0,1}. */
  def confusion(preds: DataFrame): DataFrame = {
    def cell(l: Int, p: Int) =
      count(when(col("label") === l && col("prediction") === p, 1)).as(
        (l, p) match {
          case (0, 0) => "tn"; case (0, 1) => "fp"
          case (1, 0) => "fn"; case (1, 1) => "tp"
        })
    preds.agg(cell(0, 0), cell(0, 1), cell(1, 0), cell(1, 1))
      .withColumn("precision",
        round(col("tp") / greatest(col("tp") + col("fp"), lit(1)), 6))
      .withColumn("recall",
        round(col("tp") / greatest(col("tp") + col("fn"), lit(1)), 6))
      .withColumn("accuracy",
        round((col("tp") + col("tn")) / greatest(col("tp") + col("tn") + col("fp") + col("fn"), lit(1)), 6))
  }

  /** Train every model, score the validation split, and emit the M8 runs
    * table: one row per (model, metric) — the queryable equivalent of the
    * reference's MLflow log_metric calls (src/main.py:124-131). */
  def trainAndEvaluate(train: DataFrame, valid: DataFrame, runId: String,
                       datasetVersion: String, modelDir: Option[String] = None)
      : (Map[String, Transformer], DataFrame) = {
    val spark = train.sparkSession
    import spark.implicits._
    val n = train.count()
    // fit + persist + evaluate every model CONCURRENTLY: the five fits are
    // independent jobs, so on an uncontended cluster wall time is the
    // slowest single fit instead of the sum (MLlib fits are thread-safe —
    // CrossValidator's own setParallelism is built on exactly this).
    // Results are collected back in models() order, so the runs table and
    // every downstream ordering stay deterministic.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(models().size)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val fitted = try {
      val futures = models().map { case (name, est) =>
        name -> scala.concurrent.Future {
          val m = est.fit(train)
          modelDir.foreach(d => m.asInstanceOf[MLWritable].write.overwrite().save(s"$d/$name"))
          val row = confusion(valid.withColumn("prediction", prediction(m, col("features"))))
            .collect().head
          ((m: Transformer), row)
        }(ec)
      }
      // finite await: a wedged MLlib fit must FAIL the run, not hang the
      // JVM forever (the pool is non-daemon); generous bound — the whole
      // roster fits in well under a minute at test scale
      futures.map { case (name, f) =>
        name -> scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration(20, "min"))
      }
    } catch {
      // one fit failed or timed out: interrupt the survivors instead of
      // letting them run their Spark jobs to completion behind the error
      case e: Throwable => pool.shutdownNow(); throw e
    } finally pool.shutdown()
    val runRows = fitted.flatMap { case (name, (_, row)) =>
      Seq("tn", "fp", "fn", "tp", "precision", "recall", "accuracy")
        .map(metric => (runId, name, metric, row.getAs[Any](metric).toString.toDouble, datasetVersion, n)) :+
        ((runId, name, "data_size", n.toDouble, datasetVersion, n))
    }
    val runs = runRows.toDF("run_id", "model_name", "metric", "value", "dataset_version", "n")
    (fitted.map { case (name, (m, _)) => name -> m }.toMap, runs)
  }

  /** Loader dispatch for the registry's model names (MLlib load is typed
    * per class, so the registry alone can't reconstruct a model). */
  def loadModel(name: String, path: String): Transformer = name match {
    case "random_forest"       => RandomForestClassificationModel.load(path)
    case "logistic_regression" => LogisticRegressionModel.load(path)
    case "linear_svc"          => LinearSVCModel.load(path)
    case "gaussian_nb"         => NaiveBayesModel.load(path)
    // the kernel tier (M3's RBF capability, SURVEY §2.10): RFF map
    // regenerated from its four scalars + the persisted LinearSVC
    case "rff_svc"             => new RffSvc.RffSvcTransformer(RffSvc.load(path))
    case other => throw new IllegalArgumentException(s"unknown registry model: $other")
  }

  /** Registry manifest (M6): name → saved path, written as a small parquet
    * table next to the models. */
  def writeRegistry(spark: SparkSession, modelDir: String, names: Seq[String]): Unit = {
    import spark.implicits._
    names.map(n => (n, s"$modelDir/$n")).toDF("model_name", "path")
      .coalesce(1).write.mode("overwrite").parquet(s"$modelDir/_registry")
  }

  /** `m`'s prediction over a vector column, as one column: MLlib's public
    * `PredictionModel.predict`, or the kernel tier's `svc.predict` on z(x).
    * No margin, probability or feature-map column is computed. Validation
    * and serving both score through this. */
  def prediction(m: Transformer, features: Column): Column = m match {
    case r: RffSvc.RffSvcTransformer => r.prediction(features)
    case p: PredictionModel[Vector @unchecked, _] => udf((v: Vector) => p.predict(v)).apply(features)
    case other => throw new IllegalArgumentException(s"not a prediction model: ${other.uid}")
  }

  /** Multi-model fan-out scoring (M7, src/main.py:150-158): `keep`, then one
    * `pred_<name>` column per model in name order, as ONE select over the
    * `features` column — not the reference's per-row loop. A projection, so
    * the result keeps `df`'s partitioning. */
  def scoreAll(df: DataFrame, fitted: Map[String, Transformer], keep: Column*): DataFrame =
    df.select(keep ++ fitted.toSeq.sortBy(_._1).map { case (name, m) =>
      prediction(m, col("features")).as(s"pred_$name")
    }: _*)
}
