package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table layout (SURVEY §4 / scale brief: "bucketing for co-located
  * joins"). Writing both fact tables bucketed by the join key lets every
  * subsequent join/aggregation on that key run WITHOUT an exchange — at
  * 100 TB this converts the recurring shuffle of a hot join into a one-time
  * layout cost.
  *
  * Spark-native bucketing (no Hive metastore): `bucketBy` + `saveAsTable`
  * registers the layout in the session catalog; readers pick it up
  * transparently.
  */
object Bucketing {

  /** Write `df` as a managed bucketed table (overwrites). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").bucketBy(numBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).format("parquet").saveAsTable(table)
  }

  /** Idempotent per-(session, dir) layout for q76: orders and lineitem from
    * `dir` written bucketed by their order key into the session warehouse,
    * once — repeat calls (Verify's build, the plan sweep, Bench's two timed
    * passes) find the catalog entries and skip the write, which is exactly
    * the production economics: one layout pass amortized over every
    * subsequent co-located join. Returns (ordersTable, lineitemTable).
    *
    * Each input is repartitioned to `numBuckets` on the key before the
    * write so every bucket is exactly ONE file — the layout under which
    * Spark trusts the per-bucket sortBy order and can elide the join's
    * sorts as well as its exchanges.
    *
    * The catalog is session-scoped but the warehouse directory outlives the
    * JVM, so a fresh session can find a stale table directory without a
    * catalog entry; the pre-delete below keeps the write path clean. */
  def ensureOrdersLineitemBucketed(spark: SparkSession, dir: String,
                                   numBuckets: Int = 8): (String, String) = {
    val tag = Staged.tag(dir)
    val specs = Seq(
      (s"b_orders$tag", Tables.orders(spark, dir), "o_orderkey"),
      (s"b_lineitem$tag", Tables.lineitem(spark, dir), "l_orderkey"))
    specs.foreach { case (table, df, key) =>
      if (!spark.catalog.tableExists(table)) {
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
        loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
        writeBucketed(df.repartition(numBuckets, org.apache.spark.sql.functions.col(key)),
          table, key, numBuckets, sortCol = Some(key))
      }
    }
    (specs(0)._1, specs(1)._1)
  }
}
