package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for graft's own mains and test suites: a
  * `local[cores]` session with one shuffle partition per core, UTC session
  * time, no UI and a generated-class cache sized for the full catalog.
  */
object LocalSession {

  /** Core count from `SPARK_GRAFT_CPUS` (default 4), read once per JVM. */
  lazy val defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the generated-class cache defaults to 100 entries; ~130 queries ×
      // several codegen units each evict EVERYTHING between passes, so
      // every pass re-runs Janino on every query (measured: q23 1.6→6.8 s,
      // q91 1.6→6.6 s as the query count crossed the cache size — compile
      // time, not execution). Static conf: must be set before the session.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
