package graft.ml

import org.apache.spark.ml.attribute.{AttributeGroup, NominalAttribute}
import org.apache.spark.ml.classification.{LinearSVC, LinearSVCModel}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector}
import org.apache.spark.ml.param.{Param, ParamMap}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Kernel (RBF) SVM via Random Fourier Features — closes the last semantic
  * deviation of the ML band (SURVEY.md §2.10 M3): the reference trains
  * sklearn's default RBF-kernel `SVC()` (/root/reference/src/main.py:101-104)
  * and MLlib has no kernel SVM, so LinearSVC alone loses every nonlinear
  * decision boundary. Rahimi & Recht's construction (NIPS 2007, "Random
  * Features for Large-Scale Kernel Machines") restores it natively: draw
  * W ~ N(0, 2γ)^{D×d} and b ~ U[0, 2π]^D once, map each input x to
  * z(x) = sqrt(2/D) · cos(Wx + b), and E[z(x)·z(y)] = exp(−γ‖x−y‖²) — a
  * LINEAR model on z approximates the kernel machine, which is exactly the
  * trade a 100 TB training set needs: kernel SVM is O(n²) in support
  * vectors, RFF+LinearSVC is one narrow featurization map and a linear fit.
  *
  * Spark-first shape: W and b (D×d doubles — a few hundred KB) are drawn
  * once per [[RffMap]] and shipped with the plan by reference, and z(x) is
  * one codegen'd Catalyst expression over `vector_to_array` — fully
  * distributed, no fitted state beyond the classifier. Determinism:
  * (seed, γ, D, d) regenerates W and b bit-exactly (java.util.Random's
  * sequence is part of its published contract), so persistence stores four
  * scalars, not the matrix.
  */
object RffSvc {

  /** The random feature map's parameters — everything needed to rebuild the
    * projection exactly. */
  final case class RffMap(inputDim: Int, numComponents: Int, gamma: Double, seed: Long) {

    /** W ~ N(0, 2γ)^{D×d} (flattened row-major) and b ~ U[0, 2π]^D, drawn
      * once per map from `seed`; every z(x) expression built from this map
      * holds these two arrays by reference. */
    @transient lazy val (w: Array[Double], b: Array[Double]) = {
      val rnd = new java.util.Random(seed)
      val sd = math.sqrt(2.0 * gamma)
      val w = Array.fill(numComponents * inputDim)(rnd.nextGaussian() * sd)
      val b = Array.fill(numComponents)(rnd.nextDouble() * 2.0 * math.Pi)
      (w, b)
    }

    /** z(x) over an `array<double>` column: for each (wᵢ, bᵢ),
      * sqrt(2/D)·cos(wᵢ·x + bᵢ) — as the codegen'd
      * [[graft.functions.RffTransformExpr]] kernel (D·d fused
      * multiply-adds per row in two primitive loops). The r16 composable
      * HOF form paid D·d interpreted lambda dispatches per row, which
      * took q50's roster fit from 4 s to 64 s at sf0.1 the moment the
      * kernel tier joined Trainer.models(); the kernel emits bit-identical
      * values (same accumulation order). */
    def transformArray(x: Column): Column =
      graft.functions.RffTransformExpr.rff(x, inputDim, numComponents, gamma, seed, w, b)

    /** features (VectorUDT) → rff_features (VectorUDT), ready for any MLlib
      * linear estimator. */
    def transform(df: DataFrame, inputCol: String = "features",
                  outputCol: String = "rff_features"): DataFrame =
      df.withColumn(outputCol, array_to_vector(transformArray(vector_to_array(col(inputCol)))))
  }

  /** A fitted RFF + LinearSVC pair scoring on the ORIGINAL feature column —
    * drop-in next to Trainer's linear models. */
  final case class RffSvcModel(rff: RffMap, svc: LinearSVCModel) {
    def transform(df: DataFrame, inputCol: String = "features"): DataFrame = {
      val t = new RffSvcTransformer(this)
      t.transform(df, t.featuresCol -> inputCol)
    }

    /** Registry round-trip: the classifier via MLlib persistence, the map as
      * its four defining scalars. */
    def save(path: String): Unit = {
      svc.write.overwrite().save(s"$path/svc")
      val spark = SparkSession.active
      import spark.implicits._
      Seq((rff.inputDim, rff.numComponents, rff.gamma, rff.seed))
        .toDF("input_dim", "num_components", "gamma", "seed")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/rff")
    }
  }

  /** MLlib-Model adapter: the registry's typed loader ([[Trainer.loadModel]])
    * hands the kernel model back through the same `Transformer` interface,
    * with the same column params, as the four linear-tier models (an empty
    * output column is not computed). z(x) goes straight into
    * LinearSVCModel's own `predictRaw`/`predict`, so no feature-map column
    * is projected. MLWritable so [[Trainer.trainAndEvaluate]]'s persistence
    * loop saves it like the linear models (the rff/ + svc/ layout [[load]]
    * reads). */
  final class RffSvcTransformer(val model: RffSvcModel,
                                override val uid: String = "graft_rff_svc")
      extends org.apache.spark.ml.Model[RffSvcTransformer]
      with org.apache.spark.ml.util.MLWritable {
    final val featuresCol = new Param[String](this, "featuresCol", "features column name")
    final val rawPredictionCol = new Param[String](this, "rawPredictionCol",
      "margin column name (empty: not computed)")
    final val predictionCol = new Param[String](this, "predictionCol",
      "prediction column name (empty: not computed)")
    setDefault(featuresCol -> "features", rawPredictionCol -> "rawPrediction",
      predictionCol -> "prediction")

    override def write: org.apache.spark.ml.util.MLWriter =
      new org.apache.spark.ml.util.MLWriter {
        override protected def saveImpl(path: String): Unit = model.save(path)
      }
    /** This model's prediction over a vector column, as one column:
      * `svc.predict` on z(x). [[Trainer.prediction]] scores the kernel tier
      * through it. */
    def prediction(features: Column): Column = {
      val svc = model.svc
      udf((v: Vector) => svc.predict(v)).apply(z(features))
    }
    private def z(features: Column): Column =
      array_to_vector(model.rff.transformArray(vector_to_array(features)))

    override def transform(ds: Dataset[_]): DataFrame = {
      val out = transformSchema(ds.schema)
      val svc = model.svc
      val threshold = svc.getThreshold
      val features = col($(featuresCol))
      val raw = $(rawPredictionCol)
      val pred = $(predictionCol)
      val withRaw =
        if (raw.isEmpty) ds.toDF()
        else ds.withColumn(raw,
          udf((v: Vector) => svc.predictRaw(v)).apply(z(features)).as(raw, out(raw).metadata))
      // with the margin present, predict from it, as MLlib's raw2prediction does
      if (pred.isEmpty) withRaw
      else withRaw.withColumn(pred,
        (if (raw.isEmpty) prediction(features)
         else udf((r: Vector) => if (r(1) > threshold) 1.0 else 0.0).apply(col(raw)))
          .as(pred, out(pred).metadata))
    }
    /** Appends MLlib's binary-classifier output fields, metadata included. */
    override def transformSchema(schema: StructType): StructType = {
      require(schema($(featuresCol)).dataType == SQLDataTypes.VectorType,
        s"RffSvcTransformer: column '${$(featuresCol)}' must hold vectors")
      val raw = Some($(rawPredictionCol)).filter(_.nonEmpty)
        .map(new AttributeGroup(_, 2).toStructField())
      val pred = Some($(predictionCol)).filter(_.nonEmpty)
        .map(NominalAttribute.defaultAttr.withName(_).withNumValues(2).toStructField())
      StructType(schema.fields ++ raw ++ pred)
    }
    override def copy(extra: ParamMap): RffSvcTransformer =
      copyValues(new RffSvcTransformer(model, uid), extra).setParent(parent)
  }

  def load(path: String): RffSvcModel = {
    val spark = SparkSession.active
    val r = spark.read.parquet(s"$path/rff").collect().head
    RffSvcModel(
      RffMap(r.getAs[Int]("input_dim"), r.getAs[Int]("num_components"),
        r.getAs[Double]("gamma"), r.getAs[Long]("seed")),
      LinearSVCModel.load(s"$path/svc"))
  }

  /** Fit: map the training features through z(x), fit LinearSVC on the
    * mapped column. D=256 components is the published sweet spot for
    * mid-dimensional inputs (error decays as O(1/√D)).
    *
    * One stats aggregate over the features replaces the old single-row dim
    * probe: it fails fast on an empty set, asserts the uniform-width
    * assumption `transformArray`'s zip_with would otherwise null-pad into
    * opaque downstream NPEs, and derives the default
    * γ = 1/(d·Var(X)) — sklearn's `gamma='scale'`, the default the
    * reference's `SVC()` actually trains with (src/main.py:101-104); an
    * explicit `gamma` wins. The derived γ is rounded to 8 significant
    * digits so distributed-summation order jitter cannot leak into the
    * persisted scalar. */
  def fit(train: DataFrame, inputCol: String = "features", gamma: Option[Double] = None,
          numComponents: Int = 256, seed: Long = 15, maxIter: Int = 15): RffSvcModel = {
    val arr = vector_to_array(col(inputCol))
    val stats = train.select(
      count(lit(1)).as("n"), min(size(arr)).as("dmin"), max(size(arr)).as("dmax"),
      sum(aggregate(arr, lit(0.0), (a, v) => a + v)).as("s1"),
      sum(aggregate(arr, lit(0.0), (a, v) => a + v * v)).as("s2")).collect().head
    require(stats.getLong(0) > 0, s"RffSvc.fit: empty training set (no rows in '$inputCol')")
    require(stats.getInt(1) == stats.getInt(2),
      s"RffSvc.fit: feature widths vary (${stats.getInt(1)}..${stats.getInt(2)}) — " +
        "the RFF projection assumes one uniform input width")
    val inputDim = stats.getInt(2)
    val g = gamma.getOrElse {
      val cnt = stats.getLong(0).toDouble * inputDim
      val mean = stats.getDouble(3) / cnt
      val variance = stats.getDouble(4) / cnt - mean * mean
      val raw = if (variance > 1e-12) 1.0 / (inputDim * variance) else 1.0 / inputDim
      BigDecimal(raw).round(new java.math.MathContext(8)).toDouble
    }
    val rff = RffMap(inputDim, numComponents, g, seed)
    val svc = new LinearSVC().setMaxIter(maxIter)
      .setFeaturesCol("rff_features")
      .fit(rff.transform(train, inputCol))
    RffSvcModel(rff, svc)
  }

  /** Estimator adapter: puts the kernel tier in [[Trainer.models]]'s uniform
    * fit → save → score loop beside the four linear estimators — the
    * reference trains all five classifiers in one loop and scores with every
    * one of them (src/main.py:91-114,150-158). */
  final class RffSvcEstimator(gamma: Option[Double] = None, numComponents: Int = 256,
                              seed: Long = 15, maxIter: Int = 15,
                              override val uid: String = "graft_rff_svc_est")
      extends org.apache.spark.ml.Estimator[RffSvcTransformer] {
    override def fit(ds: org.apache.spark.sql.Dataset[_]): RffSvcTransformer =
      new RffSvcTransformer(RffSvc.fit(ds.toDF(), gamma = gamma,
        numComponents = numComponents, seed = seed, maxIter = maxIter))
    override def transformSchema(schema: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType =
      schema
        .add("rawPrediction", org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
        .add("prediction", org.apache.spark.sql.types.DoubleType)
    override def copy(extra: org.apache.spark.ml.param.ParamMap): RffSvcEstimator =
      new RffSvcEstimator(gamma, numComponents, seed, maxIter, uid)
  }
}
