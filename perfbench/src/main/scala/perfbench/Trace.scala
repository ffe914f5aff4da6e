package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener pair attached from outside the library: Spark scheduler events
  * (jobs, stages, task metrics) and finished query executions (Catalyst
  * phase times from `QueryExecution.tracker`). Counters are cumulative;
  * spans take differences. */
final class Tap extends SparkListener with QueryExecutionListener {
  import Tap._
  private val c = new Array[Double](Counters.length)
  private val openJobs = mutable.Map[Int, Long]()
  private val jobs = ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    openJobs(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    c(Jobs) += 1
    openJobs.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c(Stages) += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c(Tasks) += 1
    val m = e.taskMetrics
    if (m != null) {
      c(RunS) += m.executorRunTime / 1e3
      c(CpuS) += m.executorCpuTime / 1e9
      c(GcS) += m.jvmGCTime / 1e3
      c(InputB) += m.inputMetrics.bytesRead
      c(ShuffleReadB) += m.shuffleReadMetrics.totalBytesRead
      c(ShuffleWriteB) += m.shuffleWriteMetrics.bytesWritten
      c(SpillB) += m.memoryBytesSpilled + m.diskBytesSpilled
      c(OutputB) += m.outputMetrics.bytesWritten
    }
  }
  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    for ((phase, i) <- Seq("analysis" -> AnalysisS, "optimization" -> OptimizationS,
                           "planning" -> PlanningS))
      p.get(phase).foreach(s => c(i) += s.durationMs / 1e3)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  def counters: Array[Double] = synchronized(c.clone())
  def jobCount: Int = synchronized(jobs.size)
  def jobsFrom(i: Int): Seq[(Long, Long)] = synchronized(jobs.slice(i, jobs.size).toSeq)
}

object Tap {
  val Counters: Seq[String] = Seq("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
    "input_b", "shuffle_read_b", "shuffle_write_b", "spill_b", "output_b",
    "analysis_s", "optimization_s", "planning_s")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val RunS = 3; val CpuS = 4; val GcS = 5
  val InputB = 6; val ShuffleReadB = 7; val ShuffleWriteB = 8; val SpillB = 9
  val OutputB = 10; val AnalysisS = 11; val OptimizationS = 12; val PlanningS = 13
}

/** One traced interval. Counted spans (a section's direct children) carry
  * listener-counter deltas and the jobs that ended inside them; nested
  * spans carry only what can be attributed without draining the bus
  * mid-op: wall time and memo builds (their jobs are derived from the
  * counted ancestor's in [[Tracer.records]]). */
final case class Span(id: Int, name: String, parent: Int, wallS: Double,
                      startMs: Long, endMs: Long, counters: Option[Array[Double]],
                      jobs: Seq[(Long, Long)], memoBuilds: Int, memoBuildS: Double)

/** Span recorder. With no [[Tap]] it only runs the body: untraced runs pay
  * nothing. Spans nest on one client thread (the workloads are closed
  * loops); the bus is drained at the edges of counted spans only. */
final class Tracer(spark: SparkSession, tap: Option[Tap]) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[(Int, Boolean)] = Nil

  private def memoSnapshot(): Map[String, AnyRef] =
    graft.SessionMemo.buildSeconds
      .asInstanceOf[java.util.concurrent.ConcurrentHashMap[String, AnyRef]]
      .asScala.toMap

  /** A structural span (run, setup, timed) whose children are counted. */
  def section[T](name: String)(body: => T): T = open(name, counted = false, body)

  /** A span of work: counted when it is a section's direct child. */
  def apply[T](name: String)(body: => T): T =
    open(name, counted = stack.headOption.forall(!_._2), body)

  private def open[T](name: String, counted: Boolean, body: => T): T = tap match {
    case None => body
    case Some(t) =>
      if (counted) BusDrain(spark.sparkContext)
      val c0 = if (counted) t.counters else null
      val j0 = t.jobCount
      val m0 = memoSnapshot()
      val id = spans.size
      spans += null
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, counted) :: stack
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        if (counted) BusDrain(spark.sparkContext)
        val counters = if (counted) Some(t.counters.zip(c0).map { case (a, b) => a - b }) else None
        val m1 = memoSnapshot()
        val built = m1.filter { case (k, v) => m0.get(k).forall(_ ne v) }
        stack = stack.tail
        spans(id) = Span(id, name, parent, (t1 - t0) / 1e9, w0, w1, counters,
          if (counted) t.jobsFrom(j0) else Nil,
          built.size, built.values.map(_.asInstanceOf[java.lang.Double].doubleValue).sum)
      }
  }

  /** Counted spans list every job that ended inside them (their close
    * drained the bus). A nested span's jobs are those of its counted
    * ancestor that started inside the nested window. */
  def records(runId: String): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    def countedAncestor(x: Span): Option[Span] =
      if (x.counters.isDefined) Some(x)
      else if (x.parent < 0) None
      else countedAncestor(spans(x.parent))
    val jobs =
      if (s.counters.isDefined) s.jobs
      else countedAncestor(s).toSeq.flatMap(_.jobs)
        .filter { case (st, _) => st >= s.startMs && st <= s.endMs }
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> runId,
      "wall_s" -> s.wallS, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "jobs" -> jobs.map { case (a, b) => Seq(a, b) },
      "memo_builds" -> s.memoBuilds, "memo_build_s" -> s.memoBuildS,
      "counters" -> s.counters.map(c => Tap.Counters.zip(c).toMap).orNull)
  }
}
