package graft.ml

import graft.SparkSpec
import java.nio.charset.Charset
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, StringType}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** End-to-end test of the reference pipeline shape (SURVEY.md §3.1-3.2) on a
  * generated Sentiment140-format CSV: headerless, latin-1, 6 columns, labels
  * {0,4}, with learnable word signal.
  */
class SentimentPipelineSpec extends SparkSpec {

  private val posWords = Seq("love", "great", "happy", "awesome", "best")
  private val negWords = Seq("hate", "awful", "sad", "terrible", "worst")
  private val fillers = Seq("today", "really", "just", "going", "weather", "coffee", "work")

  private def makeCsv(n: Int): String = {
    val rnd = new Random(42)
    val dir = Files.createTempDirectory("graft_s140").toString
    val path = s"$dir/tweets.csv"
    val rows = (0 until n).map { i =>
      val pos = i % 2 == 0
      val signal = (if (pos) posWords else negWords)(rnd.nextInt(5))
      val noise = Seq.fill(4)(fillers(rnd.nextInt(fillers.length))).mkString(" ")
      val sentiment = if (pos) 4 else 0
      // quoted tweet text with URL + punctuation to exercise the clean chain
      s"""$sentiment,$i,"Mon Apr 06 22:19:45 PDT 2009",NO_QUERY,user$i,"I $signal this! $noise http://t.co/x$i""""
    }
    Files.write(Paths.get(path), rows.mkString("\n").getBytes(Charset.forName("ISO-8859-1")))
    path
  }

  test("train entry point: balanced sample, 5 model metrics, learnable signal") {
    val csv = makeCsv(600)
    val modelDir = Files.createTempDirectory("graft_models").toString
    val trained = SentimentPipeline.train(spark, csv, total = 400, modelDir = Some(modelDir))

    // balanced sampler produced both classes (X1/X2)
    assert(trained.version.nonEmpty)
    val runs = trained.runs.collect()
    val models = runs.map(_.getAs[String]("model_name")).distinct.sorted
    assert(models.toSeq == Seq(
      "gaussian_nb", "linear_svc", "logistic_regression", "random_forest", "rff_svc"))
    // 8 metrics per model (tn/fp/fn/tp/precision/recall/accuracy/data_size)
    assert(runs.length == models.length * 8)
    // the word signal is learnable: logistic regression beats 0.8 accuracy
    val lrAcc = runs.find(r => r.getAs[String]("model_name") == "logistic_regression"
      && r.getAs[String]("metric") == "accuracy").get.getAs[Double]("value")
    assert(lrAcc > 0.8, s"logistic_regression accuracy $lrAcc")
    // confusion cells (tn, fp, fn, tp) and accuracy on this corpus, as the
    // full-output transform scores them: predict-only evaluation must
    // reproduce every cell
    def metric(m: String, k: String) = runs.find(r => r.getAs[String]("model_name") == m
      && r.getAs[String]("metric") == k).get.getAs[Double]("value")
    val cells = models.map(m => m ->
      Seq("tn", "fp", "fn", "tp", "accuracy", "data_size").map(metric(m, _))).toMap
    val perfect = Seq(40.0, 0.0, 0.0, 39.0, 1.0, 328.0)
    assert(cells == Map("gaussian_nb" -> perfect, "linear_svc" -> perfect,
      "logistic_regression" -> perfect, "rff_svc" -> perfect,
      "random_forest" -> Seq(40.0, 0.0, 32.0, 7.0, 0.594937, 328.0)), s"runs table: $cells")
    // M6: models + registry persisted
    assert(Files.exists(Paths.get(s"$modelDir/logistic_regression")))
    assert(Files.exists(Paths.get(s"$modelDir/_registry")))
    // M6 load-back: a fresh process would load by registry path and score
    val registry = spark.read.parquet(s"$modelDir/_registry").collect()
      .map(r => r.getAs[String]("model_name") -> r.getAs[String]("path")).toMap
    val loaded = org.apache.spark.ml.classification.LogisticRegressionModel
      .load(registry("logistic_regression"))
    val reScored = loaded.transform(
      trained.featurizer.transform(
        spark.createDataFrame(Seq(Tuple1("I love this awesome great day"))).toDF("tweet"), "tweet"))
    assert(reScored.select("prediction").collect().head.getDouble(0) == 1.0)
  }

  test("golden: balanced sampler reproduces the reference artifact shape") {
    // the reference's only committed output is data/tweets_1000.csv — 1000
    // rows, exactly 500 per class, sampler format (SURVEY §5 golden test)
    val csv = makeCsv(4000)
    val outDir = Files.createTempDirectory("graft_versioned").toString
    val (sampled, version) = SentimentPipeline.readAndFetchData(
      spark, csv, total = 1000, versionedDir = Some(outDir))
    val counts = sampled.groupBy("sentiment").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(0 -> 500L, 4 -> 500L), s"got $counts")
    // versioned sink: directory named by the content fingerprint, header on
    val back = spark.read.option("header", "true").csv(s"$outDir/$version")
    assert(back.columns.toSeq == Seq("sentiment", "tweet"),
      "sampler output format (no pandas index column — documented deviation)")
    assert(back.count() == 1000)
    // content-addressed: same inputs → same version id
    val (_, v2) = SentimentPipeline.readAndFetchData(spark, csv, total = 1000)
    assert(v2 == version)
  }

  test("full pipeline round-trip: fresh session loads from disk and scores identically") {
    import spark.implicits._
    val csv = makeCsv(300)
    val dir = Files.createTempDirectory("graft_roundtrip").toString
    val trained = SentimentPipeline.train(spark, csv, total = 200, modelDir = Some(dir))
    val texts = Seq("I love this awesome day", "I hate this terrible thing")
    val direct = SentimentPipeline.scoreBatch(texts.toDF("text"), "text", trained)
      .orderBy("tweet").collect().map(_.toSeq)
    // a fresh session stands in for a restarted process: nothing in-memory
    // survives; everything must come back from the model directory
    val fresh = spark.newSession()
    val loaded = SentimentPipeline.loadTrained(fresh, dir)
    assert(loaded.version == trained.version, "dataset version round-trips")
    assert(loaded.models.keySet == trained.models.keySet)
    val batch = fresh.createDataFrame(texts.map(Tuple1(_))).toDF("text")
    val replayed = SentimentPipeline.scoreBatch(batch, "text", loaded)
      .orderBy("tweet").collect().map(_.toSeq)
    assert(replayed.toSeq == direct.toSeq,
      "loaded featurizer + models reproduce in-memory predictions exactly")
  }

  test("streaming inference: files in, scored parquet out, checkpoint restart") {
    val csv = makeCsv(300)
    val trained = SentimentPipeline.train(spark, csv, total = 200)
    val inDir = Files.createTempDirectory("graft_stream_in").toString
    val outDir = Files.createTempDirectory("graft_stream_out").toString + "/scored"
    val ckDir = Files.createTempDirectory("graft_stream_ck").toString
    Files.write(Paths.get(s"$inDir/a.txt"), "I love this awesome day".getBytes)
    Files.write(Paths.get(s"$inDir/b.txt"), "I hate this terrible thing".getBytes)
    // maxFilesPerTrigger=1 => the two files arrive as two micro-batches
    SentimentPipeline.runStreamingInference(spark, inDir, trained, outDir, ckDir)
    // batch_id is a partition directory now (idempotent per-batch overwrite);
    // partition inference may narrow its type, so compare through a cast
    val first = spark.read.parquet(outDir)
      .withColumn("batch_id", org.apache.spark.sql.functions.col("batch_id").cast("long"))
      .collect()
    assert(first.length == 2)
    assert(first.map(_.getAs[Long]("batch_id")).distinct.length == 2, ">=2 micro-batches")
    val preds = first.map(r => r.getAs[String]("tweet") -> r.getAs[Double]("pred_logistic_regression")).toMap
    assert(preds("I love this awesome day") == 1.0 && preds("I hate this terrible thing") == 0.0)
    // restart against the SAME checkpoint: only the new file is scored
    Files.write(Paths.get(s"$inDir/c.txt"), "what a great happy best time".getBytes)
    SentimentPipeline.runStreamingInference(spark, inDir, trained, outDir, ckDir)
    val after = spark.read.parquet(outDir).collect()
    assert(after.length == 3, "checkpoint prevents rescoring already-seen files")
    assert(after.map(r => r.getAs[String]("tweet")).distinct.length == 3)
    // each micro-batch is scored as one partition: one file per batch_id
    val filesPerBatch = Files.list(Paths.get(outDir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("batch_id="))
      .map(p => p.getFileName.toString -> parquetFiles(p.toString).size).toMap
    assert(filesPerBatch.size == 3 && filesPerBatch.values.forall(_ == 1),
      s"parquet files per batch_id partition: $filesPerBatch")
  }

  private def parquetFiles(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))

  test("scoring job budget: one 15-text batch is one job, one task, one file") {
    import spark.implicits._
    val trained = SentimentPipeline.train(spark, makeCsv(300), total = 200)
    val batch = (0 until 15).map(i => s"I ${if (i % 2 == 0) "love" else "hate"} this $i").toDF("text")
    val sink = Files.createTempDirectory("graft_score_sink").toString + "/scored"
    // a first append outside the count: the sink exists, as on a later page
    SentimentPipeline.scoreBatch(batch, "text", trained).write.mode("append").parquet(sink)
    val filesBefore = parquetFiles(sink).size

    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    ColumnBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val scored = SentimentPipeline.scoreBatch(batch, "text", trained)
      ColumnBridge.drainListenerBus(sc)
      assert(jobs.get() == 0, s"building the scored DataFrame started ${jobs.get()} job(s)")
      scored.write.mode("append").parquet(sink)
      ColumnBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() == 1, s"score + append ran ${jobs.get()} jobs")
    assert(tasks.get() == 1, s"score + append ran ${tasks.get()} tasks")
    assert(parquetFiles(sink).size == filesBefore + 1, "one append, one parquet file")
  }

  test("word2vec featurizer: learned embedding trains, persists, reloads with exact parity") {
    import spark.implicits._
    val csv = makeCsv(300)
    val (sampled, _) = SentimentPipeline.readAndFetchData(spark, csv, total = 200)
    val w2v = Features.fitWord2Vec(sampled, "tweet", vectorSize = 16)
    val out = w2v.transform(sampled, "tweet")
    assert(out.schema("features").dataType.typeName == "vector")
    val vecs = out.select("features").limit(5).collect()
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](0))
    assert(vecs.forall(_.size == 16))
    assert(vecs.exists(_.toArray.exists(_ != 0.0)), "learned vectors are non-trivial")
    // disk round-trip through the SAME loader the registry uses; the kind is
    // recovered from the layout, and the transform is float-exact
    val dir = Files.createTempDirectory("graft_w2v").toString
    w2v.save(dir)
    val loaded = TextFeaturizer.load(dir)
    assert(loaded.isInstanceOf[Word2VecFeaturizer])
    val texts = Seq("I love this awesome day", "I hate this terrible thing").toDF("tweet")
    val direct = w2v.transform(texts, "tweet").select("features").collect()
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](0).toArray.toSeq)
    val replayed = loaded.transform(texts, "tweet").select("features").collect()
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](0).toArray.toSeq)
    assert(replayed.toSeq == direct.toSeq, "loaded embedding scores identically")
  }

  test("inference entry point: fan-out scoring adds one column per model") {
    import spark.implicits._
    val csv = makeCsv(300)
    val trained = SentimentPipeline.train(spark, csv, total = 200)
    val batch = Seq("I love this awesome day", "I hate this terrible thing")
      .toDF("text")
    val scored = SentimentPipeline.scoreBatch(batch, "text", trained)
    // output schema: tweet, then one double prediction per model, by name
    assert(scored.schema.map(f => f.name -> f.dataType) == ("tweet" -> StringType) +:
      Seq("gaussian_nb", "linear_svc", "logistic_regression", "random_forest", "rff_svc")
        .map(m => s"pred_$m" -> DoubleType))
    // plan shape: only predictions are computed, so no raw-score, probability
    // or RFF feature-map column appears anywhere in the analysed plan
    val names = scored.queryExecution.analyzed.collect { case node =>
      node.output.map(_.name) ++
        node.expressions.flatMap(_.collect { case n: NamedExpression => n.name })
    }.flatten.toSet
    assert(names.contains("features"), "the walk sees intermediate columns")
    assert(names.intersect(Set("rawPrediction", "probability", "rff_features")).isEmpty,
      s"plan names: $names")
    val rows = scored.collect()
    assert(rows.length == 2)
    // lr learned the signal: positive text → 1.0, negative → 0.0
    val lr = rows.map(r => r.getAs[String]("tweet") -> r.getAs[Double]("pred_logistic_regression")).toMap
    assert(lr("I love this awesome day") == 1.0)
    assert(lr("I hate this terrible thing") == 0.0)
  }

  test("predict-only scoring: each pred_<model> equals the unmodified model's prediction") {
    val csv = makeCsv(300)
    val (sampled, version) = SentimentPipeline.readAndFetchData(spark, csv, total = 200)
    val labeled = sampled.withColumn("label", when(col("sentiment") === 4, 1.0).otherwise(0.0))
    val batch = sampled.select(col("tweet").as("text"))
    val featurizers = Seq(
      "tfidf" -> Features.fit(labeled, "tweet"),
      "word2vec" -> Features.fitWord2Vec(labeled, "tweet", vectorSize = 16))
    for ((kind, featurizer) <- featurizers) {
      val featurized = featurizer.transform(labeled, "tweet").cache()
      val (models, runs) = Trainer.trainAndEvaluate(featurized, featurized, "parity", version)
      featurized.unpersist()
      val scored = SentimentPipeline.scoreBatch(batch, "text",
        SentimentPipeline.Trained(featurizer, models, runs, version)).collect()
      assert(scored.length == 200)
      val batchF = featurizer.transform(batch.withColumnRenamed("text", "tweet"), "tweet")
      for ((name, m) <- models) {
        val expected = m.transform(batchF).select("tweet", "prediction").collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        val got = scored.map(r => r.getAs[String]("tweet") -> r.getAs[Double](s"pred_$name")).toMap
        assert(got == expected, s"$kind / $name")
      }
    }
  }
}
