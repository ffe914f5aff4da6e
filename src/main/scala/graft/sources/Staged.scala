package graft.sources

import org.apache.spark.sql.SparkSession

/** Derived on-disk layouts (format round-trips, z-ordered, partitioned and
  * compacted copies, the snapshot log, the sketch stream state, the
  * Word2Vec save), staged under `target/graft_<name>_<tag>` once per
  * (session, dir): the first call deletes that path and hands it to
  * `write`, later calls return it untouched. No file an earlier JVM left
  * decides whether to write, so a rewritten corpus or a partial earlier
  * write is rebuilt by the next session. Each build records its seconds as
  * `staged(<name>)`. `write` must not call `Staged`: it runs inside the
  * memo's `computeIfAbsent`, which fails on a nested update of its map. */
object Staged {

  private val memo = graft.SessionMemo[String]("staged")

  /** `dir` as a path- and identifier-safe suffix. */
  def tag(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  def apply(spark: SparkSession, dir: String, name: String)(write: String => Unit): String =
    memo(spark, dir, name) {
      val root = s"target/graft_${name}_${tag(dir)}"
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      write(root)
      root
    }
}
