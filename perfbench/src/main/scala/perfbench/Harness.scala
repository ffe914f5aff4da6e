package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, when}

/** The JVM half of the benchmark (`run.py` is the other half): runs one
  * workload in one process and writes a JSON record of it.
  *
  * Arguments are `key=value` pairs:
  *   workload   catalog_warm | sentiment | profile
  *   out        result JSON path;  spans  span JSON-lines path (trace=1)
  *   trace      1 attaches the listener pair and records spans
  *   cores      local[N] and shuffle partitions
  * catalog:     names (comma list), data, passes, dump
  * sentiment:   csv, batches, batch_size, models
  * profile:     names, plan (comma list of kind:dir, kind = noop | dump)
  *
  * Every op runs on this one thread, each starting when the previous one
  * ended (a closed loop). The process's working directory is the run's own
  * fresh directory: the catalog writes its one-time layouts relative to it.
  */
object Harness {

  final case class Failure(op: String, cls: String, message: String)
  final case class Op(name: String, seconds: Double, cpu: Double, failure: Option[Failure])

  def failure(op: String, e: Throwable): Failure = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    Failure(op, e.getClass.getName,
      Option(e.getMessage).getOrElse("") +
        (if (root ne e) s" [cause ${root.getClass.getName}: ${root.getMessage}]" else ""))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tap = if (opt.getOrElse("trace", "0") == "1") Some(new Tap) else None
    tap.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val tracer = new Tracer(spark, tap)
    val record = try {
      opt("workload") match {
        case "catalog_warm" => catalog(spark, tracer, opt)
        case "sentiment" => sentiment(spark, tracer, opt)
        case "profile" => profile(spark, opt)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally spark.stop()
    opt.get("spans").foreach { p =>
      val lines = tracer.records(opt("workload")).map(Json.write)
      Files.write(Paths.get(p), lines.asJava, StandardCharsets.UTF_8)
    }
    Files.writeString(Paths.get(opt("out")), Json.write(record))
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Block-manager memory plus disk held by RDD blocks: memos, local
    * checkpoints and cached (including leaked) DataFrames. */
  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  /** Times `body` as the workload's timed section, after a full GC so that
    * the set-up's garbage is not collected on the clock. */
  private def timed(spark: SparkSession, tracer: Tracer)(body: => Unit): Map[String, Any] = {
    System.gc()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val c0 = cpuSeconds()
    val t0 = System.nanoTime()
    tracer.section("timed")(body)
    val wall = (System.nanoTime() - t0) / 1e9
    Map("setup_s" -> setupS, "wall_s" -> wall, "cpu_s" -> (cpuSeconds() - c0),
      "cached_mb" -> cachedMb(spark))
  }

  private def opRecords(ops: Seq[Op]): Seq[Map[String, Any]] = ops.map { o =>
    Map("name" -> o.name, "s" -> o.seconds, "cpu_s" -> o.cpu,
      "error" -> o.failure.map(f => Map("class" -> f.cls, "message" -> f.message)).orNull)
  }

  private def failures(fs: Seq[Failure]): Seq[Map[String, Any]] =
    fs.map(f => Map("op" -> f.op, "class" -> f.cls, "message" -> f.message))

  // --- catalog --------------------------------------------------------------

  private lazy val specs: Map[String, graft.QuerySpec] =
    graft.SparkEntry.specs.map(s => s.name -> s).toMap

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One catalog op: build the query, then write every row to `sink` (the
    * noop sink in timed ops). A pinned name missing from the registry fails. */
  private def catalogOp(spark: SparkSession, tracer: Tracer, name: String, dir: String,
                        sink: DataFrame => Unit = materialize): Op =
    tracer(s"op:$name") {
      val c0 = cpuSeconds()
      val t0 = System.nanoTime()
      val failed = specs.get(name) match {
        case None => Some(Failure(name, "MissingQuery", s"$name is not in SparkEntry.specs"))
        case Some(spec) =>
          try {
            sink(tracer("build")(spec.build(spark, dir)))
            None
          } catch { case e: Throwable => Some(failure(name, e)) }
      }
      Op(name, (System.nanoTime() - t0) / 1e9, cpuSeconds() - c0, failed)
    }

  /** Writes a query's result as parquet for the output check after the
    * run (as the repository's Verify does, minus its single-file coalesce:
    * the check reads every part file and sorts rows itself). */
  private def dumpTo(out: String, name: String)(df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$out/$name")

  /** Set-up is two untimed passes over the slice: the first touch (code
    * generation, JIT, memo builds, one-time layouts), which writes each
    * result for the output check, then a served pass that reads the memos
    * it built, as the timed passes do, and lets the JIT catch up. */
  private def catalog(spark: SparkSession, tracer: Tracer, opt: Map[String, String]): Map[String, Any] = {
    val names = opt("names").split(",").toSeq
    val data = opt("data")
    val (firstOps, servedOps) = tracer.section("setup") {
      (names.map(n => catalogOp(spark, tracer, n, data, dumpTo(opt("dump"), n))),
        names.map(n => catalogOp(spark, tracer, n, data)))
    }
    val setupOps = firstOps ++ servedOps
    val ops = ArrayBuffer[Op]()
    val times = timed(spark, tracer) {
      for (_ <- 1 to opt("passes").toInt; n <- names)
        ops += catalogOp(spark, tracer, n, data)
    }
    times ++ Map("ops" -> opRecords(ops.toSeq), "setup_ops" -> opRecords(setupOps),
      "setup_failures" -> failures(setupOps.flatMap(_.failure)),
      "check_failures" -> failures(firstOps.flatMap(_.failure)))
  }

  // --- sentiment --------------------------------------------------------------

  import graft.ml.SentimentPipeline

  private def sentiment(spark: SparkSession, tracer: Tracer, opt: Map[String, String]): Map[String, Any] = {
    import spark.implicits._
    val batchSize = opt("batch_size").toInt
    val texts = Files.readAllLines(Paths.get(opt("batches")), StandardCharsets.UTF_8).asScala.toSeq
    val batches = texts.grouped(batchSize).toSeq
    val models = Paths.get(opt("models")).toAbsolutePath.toString
    val sink = Paths.get("sink").toAbsolutePath.toString

    def scoreOp(trained: SentimentPipeline.Trained, batch: Seq[String], out: String): Op =
      tracer("op:batch") {
        val c0 = cpuSeconds()
        val t0 = System.nanoTime()
        val failed =
          try {
            tracer("ml.score") {
              SentimentPipeline.scoreBatch(batch.toDF("text"), "text", trained)
                .write.mode("append").parquet(out)
            }
            None
          } catch { case e: Throwable => Some(failure("batch", e)) }
        Op("batch", (System.nanoTime() - t0) / 1e9, cpuSeconds() - c0, failed)
      }

    // The set-up is the session start only: the timed section is the
    // paper's pipeline as one fresh training-and-scoring process runs it,
    // first touch of the ml code paths included.
    val ops = ArrayBuffer[Op]()
    var pipeline: Option[(SentimentPipeline.Trained, SentimentPipeline.Trained)] = None
    val times = timed(spark, tracer) {
      try {
        val trained = tracer("ml.train")(SentimentPipeline.train(spark, opt("csv"), total = 2000,
          modelDir = Some(models)))
        val loaded = tracer("ml.load")(SentimentPipeline.loadTrained(spark, models))
        batches.foreach(b => ops += scoreOp(loaded, b, sink))
        pipeline = Some((trained, loaded))
      } catch {
        case e: Throwable =>  // the batches that never ran fail with the cause
          val f = failure("pipeline", e)
          ops ++= batches.drop(ops.size).map(_ => Op("batch", 0.0, 0.0, Some(f)))
      }
    }

    // output checks, outside the timed section. The validation split is
    // re-derived through the same public calls and parameters train() uses
    // (sample of 2000, 80/20 split, seed 15), to size it independently. Not
    // cached, as in train(): randomSplit over a cached input assigns rows
    // differently.
    val checks = pipeline.map { case (trained, loaded) =>
      val (sampled, _) = SentimentPipeline.readAndFetchData(spark, opt("csv"), 2000)
      val (trainAlone, validAlone) = graft.operators.Sampling.trainValidSplit(
        sampled.withColumn("label", when(col("sentiment") === 4, 1.0).otherwise(0.0)), 0.8, seed = 15)
      val runs = trained.runs.collect().toSeq.map { r =>
        Map("model" -> r.getAs[String]("model_name"), "metric" -> r.getAs[String]("metric"),
          "value" -> r.getAs[Double]("value"), "n" -> r.getAs[Long]("n"))
      }
      val scored = spark.read.parquet(sink)
      val predCols = scored.columns.filter(_.startsWith("pred_")).toSeq
      Map("models_trained" -> trained.models.keys.toSeq.sorted,
        "models_loaded" -> loaded.models.keys.toSeq.sorted,
        "sample_total" -> 2000, "runs" -> runs,
        "valid_size" -> validAlone.count(), "train_size" -> trainAlone.count(),
        "texts_sent" -> batches.map(_.size).sum,
        "sink_rows" -> scored.count(),
        "complete_rows" -> scored.filter(predCols.map(col(_).isNotNull).reduce(_ && _)).count(),
        "pred_columns" -> predCols)
    }
    times ++ Map("ops" -> opRecords(ops.toSeq),
      "setup_failures" -> Seq.empty, "check_failures" -> Seq.empty,
      "sentiment" -> checks.orNull)
  }

  // --- profile ----------------------------------------------------------------

  /** Full-catalog passes for sizing and pinning slices: per query, seconds,
    * process CPU seconds, memo builds and the RDD storage held afterwards. */
  private def profile(spark: SparkSession, opt: Map[String, String]): Map[String, Any] = {
    val names = opt.get("names").map(_.split(",").toSeq).getOrElse(graft.SparkEntry.specs.map(_.name))
    val noTrace = new Tracer(spark, None)
    val modules = Seq(
      "Relational" -> graft.operators.Relational.all, "TextQueries" -> graft.operators.TextQueries.all,
      "PipelineQueries" -> graft.operators.PipelineQueries.all, "MlQueries" -> graft.ml.MlQueries.all,
      "EventQueries" -> graft.operators.EventQueries.all,
      "MultimodalQueries" -> graft.multimodal.MultimodalQueries.all,
      "Graph" -> graft.operators.Graph.all, "Bpe" -> graft.operators.Bpe.all)
    val passes = opt("plan").split(",").toSeq.map { step =>
      val Array(kind, dir) = step.split(":", 2)
      val rows = names.map { n =>
        val m0 = graft.SessionMemo.buildSeconds.size
        val c0 = cpuSeconds()
        val t0 = System.nanoTime()
        val err = kind match {
          case "noop" => catalogOp(spark, noTrace, n, dir).failure
          case "dump" => catalogOp(spark, noTrace, n, dir, dumpTo(opt("dump"), n)).failure
        }
        Map("name" -> n, "s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (cpuSeconds() - c0),
          "memo_labels" -> (graft.SessionMemo.buildSeconds.size - m0),
          "cached_mb" -> cachedMb(spark),
          "error" -> err.map(f => Map("class" -> f.cls, "message" -> f.message)).orNull)
      }
      Map("kind" -> kind, "dir" -> dir, "queries" -> rows)
    }
    Map("passes" -> passes,
      "modules" -> modules.map { case (m, qs) => Map("module" -> m, "names" -> qs.map(_.name)) },
      "oracle" -> graft.SparkEntry.oracleSql)
  }
}

/** Minimal JSON writer for the record types above. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
