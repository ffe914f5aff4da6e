package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import scala.jdk.CollectionConverters._

/** Pins q51's "construction is job-free" contract: building the DataFrame —
  * including the Bloom sizing, which reads row counts from parquet footers
  * rather than running count() — must start ZERO Spark jobs. Every declared
  * query is supposed to be pure-lazy at construction; q51 was the one
  * exception until round 9.
  *
  * Method: job-start events are delivered async but FIFO, so a tagged
  * sentinel job ordered AFTER the construction bounds the wait — once the
  * sentinel's event arrives, any construction-started job's event would
  * already have arrived before it.
  */
class Q51ConstructionSpec extends SparkSpec {

  test("constructing q51's DataFrame triggers zero Spark jobs") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<untagged: " + js.stageInfos.map(_.name).mkString(" | ") + ">"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      def sentinel(tag: String): Unit = {
        sc.setJobDescription(tag)
        try spark.range(1).count() finally sc.setJobDescription(null)
        val deadline = System.currentTimeMillis() + 30000
        while (!seen.contains(tag) && System.currentTimeMillis() < deadline)
          Thread.sleep(25)
        assert(seen.contains(tag), s"listener never saw the $tag job")
      }
      // First-touch the documents table so Tables' schema cache is filled:
      // the one-time footer-only schema-inference job is Spark's own read
      // path, not q51's — afterwards every load of the path is job-free.
      Tables.documents(spark, sf)
      // Drain any event backlog from earlier suites sharing the session.
      sentinel("__q51_flush")
      seen.clear()

      val df = DedupQueries.q51ContaminationBloom.build(spark, sf)
      // Analysis-only touches (schema) are allowed; jobs are not.
      assert(df.columns.toSeq === Seq("doc_id", "n_sh", "n_hit", "contamination"))

      sentinel("__q51_after")
      val extra = seen.asScala.filterNot(_ == "__q51_after").toSeq
      assert(extra.isEmpty, s"q51 construction started Spark job(s): $extra")
    } finally sc.removeSparkListener(listener)
  }
}
