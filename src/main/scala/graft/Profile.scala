package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Dev profiler: one record per query and pass, splitting the query's cost
  * into the layers the round notes argue from — wall time, the Spark jobs,
  * stages and tasks it ran (each job's duration and the driver gap before
  * it), bytes read, the analysis / optimization / planning phase times, and
  * the static plan's scan and exchange counts.
  *
  * {{{
  * runMain graft.Profile [--warm DIR] [--passes N] [--plan-only]
  *                       [--plans OUTDIR SUFFIX] <sfDir> [q1,q2,...]
  * }}}
  *
  *   - `--warm DIR`: one untimed pass over DIR first (codegen/JIT warm-up).
  *   - `--passes N`: timed passes over `sfDir` (default 1).
  *   - `--plan-only`: construct and plan each query, execute nothing.
  *   - `--plans OUTDIR SUFFIX`: on pass 1 write each query's formatted
  *     explain to `OUTDIR/<qNN>_<SUFFIX>.txt` (the plans/rNN evidence files).
  *
  * Queries run pass-major (every query once, then the next pass), like
  * [[Bench]]; the core count comes from [[LocalSession]]. Executed queries
  * go through the noop sink, so every output row is evaluated with zero
  * sink cost. Phase times, scans and exchanges describe the query's own,
  * never-executed QueryExecution: its physical plan is the static (pre-AQE)
  * plan that PlanSweepSpec pins.
  */
object Profile {

  final case class Job(id: Int, durS: Double, gapS: Double, stages: Int, tasks: Int)

  final case class Record(query: String, pass: Int, wallS: Double, jobs: Seq[Job],
                          stages: Int, tasks: Int, inputMb: Double,
                          analysisS: Double, optimizationS: Double, planningS: Double,
                          scans: Map[String, Int], exchanges: Int, error: Option[String]) {
    def jobSumS: Double = jobs.map(j => math.max(j.durS, 0)).sum
    def gapSumS: Double = jobs.map(j => math.max(j.gapS, 0)).sum

    def render: String = {
      val rescans = scans.filter(_._2 > 1).toSeq.sorted
        .map { case (t, n) => s"$t:$n" }.mkString(",")
      val head = f"[profile] $query pass=$pass wall=$wallS%.3fs jobs=${jobs.size} " +
        f"stages=$stages tasks=$tasks inputMB=$inputMb%.1f jobSum=$jobSumS%.3fs " +
        f"gapSum=$gapSumS%.3fs analysis=$analysisS%.3fs optimization=$optimizationS%.3fs " +
        f"planning=$planningS%.3fs scans=${scans.values.sum} exchanges=$exchanges" +
        (if (rescans.nonEmpty) s" rescans=$rescans" else "") +
        error.fold("")(e => s" error=$e")
      (head +: jobs.map(j => f"[profile]   job id=${j.id}%d dur=${j.durS}%.3fs " +
        f"gapBefore=${j.gapS}%.3fs stages=${j.stages}%d tasks=${j.tasks}%d")).mkString("\n")
    }
  }

  /** Job, stage and task events since the last [[reset]]. Add it to the
    * session's SparkContext once; [[profile]] drains the listener bus
    * before each reset and each read. */
  final class Recorder extends SparkListener {
    private final class J(val start: Long, var end: Long = -1L,
                          var stages: Int = 0, var tasks: Int = 0)
    private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, J]
    private val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]
    private var stages = 0
    private var tasks = 0
    private var inputBytes = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = new J(e.time)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      stages += 1
      tasks += info.numTasks
      inputBytes += info.taskMetrics.inputMetrics.bytesRead
      stageToJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += 1; j.tasks += info.numTasks
      }
    }

    def reset(): Unit = synchronized {
      jobs.clear(); stageToJob.clear(); stages = 0; tasks = 0; inputBytes = 0L
    }

    /** Jobs in start order; the first job's gap counts from `passStartMs`. */
    def snapshot(passStartMs: Long): (Seq[Job], Int, Int, Long) = synchronized {
      var prevEnd = passStartMs
      val js = jobs.toSeq.sortBy(_._2.start).map { case (id, j) =>
        val job = Job(id, (j.end - j.start) / 1e3, (j.start - prevEnd) / 1e3, j.stages, j.tasks)
        prevEnd = math.max(prevEnd, j.end)
        job
      }
      (js, stages, tasks, inputBytes)
    }
  }

  /** Static exchange count of a physical-plan string: the shuffles
    * PlanSweepSpec budgets per query. */
  def exchangeCount(plan: String): Int =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r.findAllIn(plan).length

  /** File scans per table (the scanned directory's name), subqueries and
    * AQE input plans included. */
  def scannedTables(plan: SparkPlan): Map[String, Int] = {
    def walk(p: SparkPlan): Seq[String] = {
      val self = p match {
        case f: FileSourceScanExec =>
          Seq(f.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?"))
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case _ => Nil
      }
      self ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    walk(plan).groupBy(identity).view.mapValues(_.size).toMap
  }

  /** Exception class and message, plus the root cause's when it differs. */
  def describe(e: Throwable): String = {
    def one(t: Throwable) = s"${t.getClass.getName}: ${t.getMessage}"
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(64).toSeq.last
    if (root eq e) one(e) else s"${one(e)} (root cause ${one(root)})"
  }

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in an oracle SQL string or an exception message
    * would otherwise make oracle_sql.json or bench.json unparseable. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Builds `query` (a key of [[SparkEntry.queries]]) over `dir` and, if
    * `execute`, runs it through the noop sink (otherwise plans it only),
    * recording what it cost. A failure of the query lands in `error`.
    * `recorder` must be attached to `spark`. */
  def profile(spark: SparkSession, recorder: Recorder, query: String, dir: String,
              pass: Int = 1, execute: Boolean = true,
              planFile: Option[Path] = None): Record = {
    def attempt[A](f: => A): Either[Throwable, A] =
      try Right(f) catch { case e: Throwable => Left(e) }
    val build = SparkEntry.queries(query)
    val sc = spark.sparkContext
    ColumnBridge.drainListenerBus(sc)
    recorder.reset()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val run = attempt {
      val df = build(spark, dir)
      if (execute) df.write.format("noop").mode("overwrite").save()
      else df.queryExecution.executedPlan
      df
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    ColumnBridge.drainListenerBus(sc)
    val (jobs, stages, tasks, inputBytes) = recorder.snapshot(startMs)
    val planned = run.flatMap { df =>
      attempt {
        val qe = df.queryExecution
        val plan = qe.executedPlan
        planFile.foreach(f => Files.write(f,
          qe.explainString(FormattedMode).getBytes(StandardCharsets.UTF_8)))
        (qe.tracker.phases.view.mapValues(_.durationMs / 1e3).toMap,
          scannedTables(plan), exchangeCount(plan.toString))
      }
    }
    val (phases, scans, exchanges) =
      planned.getOrElse((Map.empty[String, Double], Map.empty[String, Int], 0))
    def phaseS(name: String) = phases.getOrElse(name, 0.0)
    Record(query, pass, wallS, jobs, stages, tasks, inputBytes / 1e6,
      phaseS("analysis"), phaseS("optimization"), phaseS("planning"),
      scans, exchanges, planned.left.toOption.map(describe))
  }

  private val Usage = "usage: Profile [--warm DIR] [--passes N] [--plan-only] " +
    "[--plans OUTDIR SUFFIX] <sfDir> [q1,q2,...]"

  final case class Args(sfDir: String, queries: Seq[String], warm: Option[String] = None,
                        passes: Int = 1, execute: Boolean = true,
                        plans: Option[(String, String)] = None)

  def parse(args: List[String]): Args = {
    @scala.annotation.tailrec
    def go(rest: List[String], a: Args, positional: List[String]): (Args, List[String]) =
      rest match {
        case "--warm" :: dir :: t => go(t, a.copy(warm = Some(dir)), positional)
        case "--passes" :: n :: t if n.toIntOption.exists(_ >= 0) =>
          go(t, a.copy(passes = n.toInt), positional)
        case "--plan-only" :: t => go(t, a.copy(execute = false), positional)
        case "--plans" :: dir :: suffix :: t => go(t, a.copy(plans = Some(dir -> suffix)), positional)
        case opt :: _ if opt.startsWith("--") => throw new IllegalArgumentException(Usage)
        case p :: t => go(t, a, positional :+ p)
        case Nil => (a, positional)
      }
    go(args, Args("", Nil), Nil) match {
      case (a, List(sfDir)) => a.copy(sfDir = sfDir)
      case (a, List(sfDir, qs)) => a.copy(sfDir = sfDir, queries = qs.split(",").toSeq)
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toList)
    val unknown = a.queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val names = if (a.queries.isEmpty) SparkEntry.queries.keys.toSeq else a.queries
    val spark = LocalSession()
    val recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    a.plans.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    a.warm.foreach(w => names.foreach(n => profile(spark, recorder, n, w, 0, a.execute)))
    for (pass <- 1 to a.passes) {
      val records = names.map { n =>
        val planFile = a.plans.filter(_ => pass == 1)
          .map { case (dir, suffix) => Paths.get(dir, s"${n.takeWhile(_ != '_')}_$suffix.txt") }
        val r = profile(spark, recorder, n, a.sfDir, pass, a.execute, planFile)
        println(r.render)
        r
      }
      println(f"[profile] TOTAL pass=$pass queries=${records.size} " +
        f"wall=${records.map(_.wallS).sum}%.2fs jobs=${records.map(_.jobs.size).sum} " +
        f"jobSum=${records.map(_.jobSumS).sum}%.2fs gapSum=${records.map(_.gapSumS).sum}%.2fs " +
        f"analysis=${records.map(_.analysisS).sum}%.2fs " +
        f"optimization=${records.map(_.optimizationS).sum}%.2fs " +
        f"planning=${records.map(_.planningS).sum}%.2fs errors=${records.count(_.error.nonEmpty)}")
    }
    spark.stop()
  }
}
