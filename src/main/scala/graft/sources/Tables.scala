package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed loaders for the driver test tables plus the reference-shaped
  * Sentiment140 CSV source.
  *
  * Parquet scans are the workhorse: Spark's vectorized parquet reader plus
  * Catalyst pushdown means a `filter`/`select` downstream of these loaders
  * reaches the scan (check `.explain`: `PushedFilters`, `ReadSchema`).
  * At 100 TB these same calls parallelize over file splits; nothing here
  * assumes single-node layout.
  */
object Tables {

  /** Per-JVM cache of inferred parquet schemas keyed by path. Spark runs a
    * (tiny, footer-only) job to infer a parquet schema at EVERY
    * `read.parquet` call; resolving each path once and passing the schema
    * explicitly afterwards keeps later DataFrame CONSTRUCTIONS job-free —
    * the catalog/metastore analog for the driver test tables, and at scale
    * exactly what a real deployment gets from its table catalog. Assumes a
    * path's schema is stable for the JVM's lifetime (true for the immutable
    * testdata). Nothing evicts an entry: a path rewritten with a new schema
    * needs a fresh JVM. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    normalizeNtz(spark.read.schema(schema).parquet(path))
  }

  /** One canonical temporal type for every loader, no matter which variant
    * the testdata writer produced (it has drifted across rounds: events.ts
    * has arrived as TIMESTAMP(NANOS), UTC-adjusted micros, and NTZ micros;
    * orders/lineitem dates are NTZ micros today). DuckDB — the correctness
    * oracle — reads parquet micros as a single TIMESTAMP type regardless of
    * UTC adjustment, while Spark 4 splits them into TIMESTAMP vs
    * TIMESTAMP_NTZ and several temporal functions (unix_micros among them)
    * reject the latter. The session TZ is pinned UTC repo-wide, so casting
    * NTZ to the session-zoned TIMESTAMP preserves every wall-clock instant
    * and downstream operators see one type. Top-level columns only — the
    * driver tables carry no nested timestamps. */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    val ntzCols = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    ntzCols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  def region(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "lineitem")
  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects. Read nanos as long (legacy conf) and convert
    * to a micros timestamp with integral division (nanos exceed 2^53 — double
    * division would lose precision). Oracle side mirrors this with
    * `CAST(ts AS TIMESTAMP)` (TIMESTAMP_NS → TIMESTAMP_US).
    *
    * NOTE: the legacy conf stays set on the session afterwards (it must be
    * live when the lazy scan executes, so it cannot be restored here) —
    * later nanos-parquet reads in the same session will also arrive as
    * longs rather than erroring.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    // the NTZ-micros variant is already normalized by load(); only the
    // nanos-as-long arrival needs table-specific handling here
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** The ten tables by name, each through its loader above: the
    * relations a [[graft.QuerySpec.sql]] text reads. */
  val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> region _, "nation" -> nation _, "customer" -> customer _,
    "supplier" -> supplier _, "part" -> part _, "orders" -> orders _,
    "lineitem" -> lineitem _, "events" -> events _, "documents" -> documents _,
    "embeddings" -> embeddings _)

  /** Exact row count of a parquet file/directory from FOOTER METADATA only —
    * no Spark job, no data scan. Each parquet footer records its file's row
    * count; summing them is pure driver-side metadata IO (the same footer
    * reads Spark's own planner performs), so callers can size structures
    * (e.g. a Bloom filter) while keeping DataFrame CONSTRUCTION job-free.
    * Cost is one small read per file — bounded by file count, never data
    * volume; at 100 TB this is the listing the scan planner already pays. */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    def leafFiles(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leafFiles)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st) else Nil
    leafFiles(fs.getFileStatus(root)).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Sentiment140 schema (reference: src/main.py:64-65 — headerless CSV,
    * columns assigned positionally). Explicit schema, never inferSchema:
    * at 100 TB an inference pass is a full extra scan.
    */
  val sentiment140Schema: StructType = StructType(Seq(
    StructField("sentiment", IntegerType),
    StructField("id", LongType),
    StructField("date", StringType),
    StructField("from", StringType),
    StructField("user", StringType),
    StructField("tweet", StringType)
  ))

  /** CSV scan matching the reference's read (src/main.py:64):
    * headerless, comma-delimited, latin-1.
    */
  def sentiment140(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(sentiment140Schema)
      .option("header", "false")
      .option("encoding", "ISO-8859-1")
      .csv(path)

  /** Schema-evolution-tolerant parquet read: union of all file schemas
    * (columns absent in older files arrive as nulls) — the data-lake
    * reality where a table's schema widens over time. */
  def readMergedParquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Versioned CSV sink (reference: src/main.py:71-73) — header on,
    * directory named by the dataset fingerprint.
    */
  def writeVersionedCsv(df: DataFrame, baseDir: String, version: String): String = {
    val path = s"$baseDir/$version"
    df.write.mode("overwrite").option("header", "true").csv(path)
    path
  }
}
