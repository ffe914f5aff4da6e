package graft.ml

import graft.SparkSpec
import graft.functions.RffTransformExpr
import java.nio.file.Files
import org.apache.spark.ml.classification.LinearSVC
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.functions.col
import scala.util.Random

/** The kernel-SVM capability gap, closed: the reference's default `SVC()` is
  * RBF-kernel (src/main.py:101-104) and can learn boundaries no linear model
  * can. The planted XOR signal is the canonical such boundary — every linear
  * separator is ~50% on it — so RFF+LinearSVC beating LinearSVC by a wide
  * margin here demonstrates the restored NONLINEAR capacity, not a tuning
  * difference. */
class RffSvcSpec extends SparkSpec {

  /** XOR clusters at (±1, ±1), label = 1 when the signs agree, σ=0.2 noise. */
  private def xorData(n: Int, seed: Int): Seq[(Double, Vector)] = {
    val rnd = new Random(seed)
    (0 until n).map { _ =>
      val sx = if (rnd.nextBoolean()) 1.0 else -1.0
      val sy = if (rnd.nextBoolean()) 1.0 else -1.0
      val x = sx + rnd.nextGaussian() * 0.2
      val y = sy + rnd.nextGaussian() * 0.2
      ((if (sx * sy > 0) 1.0 else 0.0), Vectors.dense(x, y))
    }
  }

  private def accuracy(preds: org.apache.spark.sql.DataFrame): Double =
    Trainer.confusion(preds).collect().head.getAs[Double]("accuracy")

  test("RFF + LinearSVC learns the XOR boundary a linear SVM cannot") {
    import spark.implicits._
    val train = xorData(400, seed = 1).toDF("label", "features")
    val valid = xorData(200, seed = 2).toDF("label", "features")

    val linear = new LinearSVC().setMaxIter(15).fit(train)
    val linAcc = accuracy(linear.transform(valid))

    val rff = RffSvc.fit(train, gamma = Some(1.0), numComponents = 64, seed = 15)
    val rffAcc = accuracy(rff.transform(valid))

    // the linear ceiling on XOR is ~0.75-0.8 (a line can cut off ONE corner
    // cluster, getting 3 of 4 right); only a nonlinear boundary clears 0.95
    assert(rffAcc > 0.95, s"RFF+LinearSVC accuracy $rffAcc on XOR")
    assert(linAcc < 0.9, s"sanity: a linear SVM cannot solve XOR, got $linAcc")
    assert(rffAcc > linAcc + 0.1,
      s"nonlinear capacity must show: rff $rffAcc vs linear $linAcc")
  }

  test("registry round-trip: saved RFF model reproduces predictions exactly") {
    import spark.implicits._
    val train = xorData(300, seed = 3).toDF("label", "features")
    val valid = xorData(100, seed = 4).toDF("label", "features")
    val model = RffSvc.fit(train, gamma = Some(1.0), numComponents = 64, seed = 15)
    val dir = Files.createTempDirectory("graft_rff").toString
    model.save(dir)
    val loaded = RffSvc.load(dir)
    assert(loaded.rff == model.rff, "the map's four scalars round-trip")
    val direct = model.transform(valid).select("prediction").collect().map(_.getDouble(0)).toSeq
    val replayed = loaded.transform(valid).select("prediction").collect().map(_.getDouble(0)).toSeq
    assert(replayed == direct, "W/b regeneration from (seed, gamma, D, d) is bit-exact")
    // and through the registry's typed-loader interface (Trainer dispatch)
    val asTransformer = Trainer.loadModel("rff_svc", dir)
    val viaRegistry = asTransformer.transform(valid)
      .select("prediction").collect().map(_.getDouble(0)).toSeq
    assert(viaRegistry == direct, "registry dispatch returns the same kernel model")
    assert(asTransformer.transformSchema(valid.schema).fieldNames.contains("prediction"))
  }

  test("copy(extra) honours the column params and leaves the model unchanged") {
    import spark.implicits._
    val train = xorData(200, seed = 5).toDF("label", "features")
    val valid = xorData(50, seed = 6).toDF("label", "features")
    val t = new RffSvc.RffSvcTransformer(
      RffSvc.fit(train, gamma = Some(1.0), numComponents = 32, seed = 15))
    def doubles(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c).collect().map(_.getDouble(0)).toSeq
    def margins(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c).collect().map(_.getAs[Vector](0).toArray.toSeq).toSeq

    val full = t.transform(valid)
    assert(full.columns.toSeq == Seq("label", "features", "rawPrediction", "prediction"))
    // the reference: MLlib's own transform over a materialised feature map
    val mllib = t.model.svc.transform(t.model.rff.transform(valid)).drop("rff_features")
    assert(full.schema == mllib.schema, "same fields, nullability and ML attributes")
    assert(full.collect().toSeq == mllib.collect().toSeq)

    val predOnly = t.copy(ParamMap(t.rawPredictionCol -> "", t.predictionCol -> "p"))
    assert(predOnly.uid == t.uid)
    val p = predOnly.transform(valid)
    assert(p.columns.toSeq == Seq("label", "features", "p"))
    assert(predOnly.transformSchema(valid.schema).fieldNames.toSeq == p.columns.toSeq)
    assert(doubles(p, "p") == doubles(full, "prediction"),
      "predict() on z(x) agrees with the prediction read off the margin")

    // transform(ds, paramMap) goes through copy, so the params take effect
    val rawOnly = t.transform(valid, ParamMap(t.rawPredictionCol -> "m", t.predictionCol -> ""))
    assert(rawOnly.columns.toSeq == Seq("label", "features", "m"))
    assert(margins(rawOnly, "m") == margins(full, "rawPrediction"))
    val moved = t.transform(valid.withColumnRenamed("features", "x"), t.featuresCol -> "x")
    assert(doubles(moved, "prediction") == doubles(full, "prediction"))

    assert(t.getOrDefault(t.featuresCol) == "features")
    assert(t.getOrDefault(t.rawPredictionCol) == "rawPrediction")
    assert(t.getOrDefault(t.predictionCol) == "prediction")
  }

  test("z(x) expressions from one map share its drawn W and b and agree bit for bit") {
    import spark.implicits._
    val map = RffSvc.RffMap(inputDim = 2, numComponents = 64, gamma = 1.0, seed = 15)
    val x = xorData(50, seed = 7).toDF("label", "features")
      .select(vector_to_array(col("features")).as("x"))
    // two independently built columns, each copied by analysis on its way
    // into a plan (optimisation folds this local input to a literal relation)
    val (df1, df2) = (x.select(map.transformArray(col("x")).as("z")),
      x.select(map.transformArray(col("x")).as("z")))
    def exprs(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.expressions.flatMap(_.collect { case e: RffTransformExpr => e })
    val built = Seq(df1, df2).flatMap(exprs)
    assert(built.size == 2)
    val e = built.head
    val copies = built ++ Seq(e.withNewChildren(e.children), e.clone(),
      e.makeCopy(e.productIterator.map(_.asInstanceOf[AnyRef]).toArray))
      .map(_.asInstanceOf[RffTransformExpr])
    assert(copies.forall(c => (c.w eq map.w) && (c.b eq map.b)), "one draw per map")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getSeq[Double](0).map(java.lang.Double.doubleToRawLongBits)).toSeq
    val z1 = rows(df1)
    assert(z1.size == 50 && z1.forall(_.size == 64))
    assert(rows(df2) == z1, "same map, same bits")
  }
}
