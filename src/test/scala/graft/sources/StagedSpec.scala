package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.{SessionMemo, SparkSpec}
import graft.operators.TextQueries
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** [[Staged]] layouts follow the session, not what an earlier JVM left on
  * disk. Runs on a private copy of sf0.001, so the dir tag, and with it
  * every staged path, belongs to this suite alone. The tests share one
  * session and run in order: the first two make each layout's first build
  * over a stale copy, the last two look at the second build and the
  * recorded build keys. */
class StagedSpec extends SparkSpec {

  private lazy val dir: String = {
    val copy = Files.createTempDirectory("graft_staged")
    Files.list(Paths.get(sf)).iterator().asScala
      .foreach(f => Files.copy(f, copy.resolve(f.getFileName)))
    copy.toString
  }
  private def root(name: String) = s"target/graft_${name}_${Staged.tag(dir)}"

  override def afterAll(): Unit = {
    (Seq("orc", "snap").map(root) :+ dir).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    super.afterAll()
  }

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.exceptAll(want).isEmpty, "rows the source does not have")
    assert(want.exceptAll(got).isEmpty, "source rows missing")
  }

  test("a stale ORC layout with its _SUCCESS is rewritten on the session's first build") {
    val docs = Tables.documents(spark, dir)
    Sinks.writeOrc(docs.limit(5), s"${root("orc")}/documents", targetFiles = 1)
    assert(new java.io.File(s"${root("orc")}/documents", "_SUCCESS").exists)
    sameRows(TextQueries.q82OrcRoundtrip.build(spark, dir),
      docs.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars")))
  }

  test("a partial snapshot log is rebuilt: q144 AS OF v1 reads the UPDATE generation") {
    val docs = Tables.documents(spark, dir)
    Sinks.writeSnapshot(docs, s"${root("snap")}/documents")
    assert(Sinks.committedVersions(s"${root("snap")}/documents") == Seq(0))
    val fr = col("lang") === "fr"
    val v1 = docs.select(col("doc_id"), col("text"), col("lang"),
      when(fr, lit("rev1")).otherwise(col("source")).as("source"),
      when(fr, col("n_chars") + 500).otherwise(col("n_chars")).as("n_chars"))
    assert(docs.filter(fr).count() > 0, "no 'fr' rows: the UPDATE generation is vacuous")
    sameRows(TextQueries.q144TimeTravel.build(spark, dir), v1)
    assert(Sinks.committedVersions(s"${root("snap")}/documents") == Seq(0, 1, 2))
  }

  /** Spark jobs started by `body`'s thread: tagged by job description, and
    * bounded by a sentinel job (the listener bus delivers in order). */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("__staged_second_build")
      try body finally sc.setJobDescription(null)
      sc.setJobDescription("__staged_sentinel")
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains("__staged_sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(25)
      assert(seen.contains("__staged_sentinel"), "listener never saw the sentinel job")
      seen.asScala.filterNot(_ == "__staged_sentinel").toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("a second build in the session starts no job and rewrites no file") {
    def stamps: Seq[String] = Seq("orc", "snap").flatMap { n =>
      Files.walk(Paths.get(root(n))).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map((p: Path) => s"$p@${Files.getLastModifiedTime(p).toMillis}")
    }.sorted
    val before = stamps
    assert(before.nonEmpty)
    // q82's ORC read infers its schema on the driver, so its build is
    // job-free; the snapshot readers' parquet schema inference runs a job
    // per read, so the snapshot log is checked by its files alone
    val jobs = jobsDuring(TextQueries.q82OrcRoundtrip.build(spark, dir))
    assert(jobs.isEmpty, s"second build ran ${jobs.size} job(s)")
    TextQueries.q145SnapshotDiff.build(spark, dir)
    assert(stamps == before)
  }

  test("each staged build is recorded as staged(<name>)") {
    assert(SessionMemo.buildSeconds.containsKey("staged(orc)"))
    assert(SessionMemo.buildSeconds.containsKey("staged(snap)"))
  }
}
