package graft

import java.nio.file.Files

/** Pins the record [[Profile.profile]] builds per query and pass, and the
  * conf of the session [[LocalSession]] builds. */
class ProfileSpec extends SparkSpec {

  /** Three cheap queries whose PlanSweepSpec budgets are tight, so the
    * profiler's static exchange count must equal them exactly. */
  private val queries = Seq("q01_pricing_summary", "q02_scan_project_filter", "q03_join_broadcast")

  private def withRecorder[A](f: Profile.Recorder => A): A = {
    val recorder = new Profile.Recorder
    spark.sparkContext.addSparkListener(recorder)
    try f(recorder) finally spark.sparkContext.removeSparkListener(recorder)
  }

  test("factory-built session: UTC, shuffle partitions = cores, UI off") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("executed records: jobs, stages >= jobs, phases, scans and exchange budget") {
    withRecorder { recorder =>
      queries.foreach { q =>
        val r = Profile.profile(spark, recorder, q, sf, pass = 2)
        assert(r.error.isEmpty, r.render)
        assert(r.query == q && r.pass == 2)
        assert(r.wallS > 0)
        assert(r.jobs.nonEmpty, r.render)
        assert(r.stages >= r.jobs.size, r.render)
        assert(r.tasks >= r.stages, r.render)
        assert(r.jobs.forall(j => j.durS >= 0 && j.stages <= r.stages), r.render)
        assert(r.jobs.map(_.stages).sum <= r.stages, r.render)
        assert(r.inputMb > 0, r.render)
        assert(Seq(r.analysisS, r.optimizationS, r.planningS).forall(_ >= 0))
        assert(r.scans.values.sum >= 1, r.render)
        assert(r.exchanges == PlanSweepSpec.shuffleBudget(q), r.render)
        assert(r.render.linesIterator.size == 1 + r.jobs.size)
      }
    }
  }

  test("plan-only records start no job and count the same exchanges") {
    withRecorder { recorder =>
      queries.foreach { q =>
        val r = Profile.profile(spark, recorder, q, sf, execute = false)
        assert(r.error.isEmpty, r.render)
        assert(r.jobs.isEmpty && r.stages == 0 && r.tasks == 0, r.render)
        assert(r.exchanges == PlanSweepSpec.shuffleBudget(q), r.render)
      }
    }
  }

  test("plan files hold the formatted explain; failures land in the record") {
    val dir = Files.createTempDirectory("graft_profile_plans")
    withRecorder { recorder =>
      val file = dir.resolve("q01_t.txt")
      val r = Profile.profile(spark, recorder, queries.head, sf, execute = false,
        planFile = Some(file))
      assert(r.error.isEmpty)
      assert(Files.readString(file).startsWith("== Physical Plan =="))
      val bad = Profile.profile(spark, recorder, queries.head, "/nonexistent/graft_dir")
      assert(bad.error.exists(_.contains("Exception")), bad.render)
      assert(bad.exchanges == 0 && bad.scans.isEmpty)
    }
  }

  test("argument parser: options, positionals and usage errors") {
    val a = Profile.parse(List("--warm", "w", "--passes", "3", "--plan-only",
      "--plans", "out", "after", "sf", "q1,q2"))
    assert(a == Profile.Args("sf", Seq("q1", "q2"), Some("w"), 3, execute = false,
      Some("out" -> "after")))
    assert(Profile.parse(List("sf")) == Profile.Args("sf", Nil))
    Seq(Nil, List("--bogus", "sf"), List("--passes", "x", "sf"), List("a", "b", "c"))
      .foreach(args => intercept[IllegalArgumentException](Profile.parse(args)))
  }
}
