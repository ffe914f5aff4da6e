package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Sink-side layout control: at 100 TB the number and size of output files
  * is a first-order concern (a million 1 MB files kills the next scan's
  * planning; one 100 GB file kills parallelism).
  */
object Sinks {

  /** Write parquet Z-ORDERED on two long columns: rows range-partitioned
    * AND sorted by the Morton interleave of (colA, colB), so files tile the
    * two-dimensional key plane — BOTH columns get tight per-file and
    * per-row-group min/max statistics, and a scan filtering on EITHER one
    * prunes effectively. A plain sort clusters its leading column only; at
    * 100 TB the difference is reading one tile vs one full dimension slice.
    *
    * Both columns are first range-normalized to a common 16-bit scale from
    * one min/max aggregate — WITHOUT this the wider-ranged column owns all
    * the interleave's high bits and the key degenerates to a plain sort on
    * it (the classic z-order pitfall; the SinksSpec baseline demonstrates
    * it). The normalization pass is one tiny eager aggregate — acceptable
    * in a sink utility whose very next line is a full write action. NULLs
    * in either column z-key to NULL and range-partition first. */
  def writeParquetZOrdered(df: DataFrame, path: String, partitions: Int,
                           colA: String, colB: String): Unit = {
    import org.apache.spark.sql.functions._
    // fail fast, BEFORE the eager min/max aggregate below runs a Spark job —
    // zorderSortWrite re-checks, but by then a full scan has already burned
    require(!df.columns.contains("__zkey"),
      "input column '__zkey' collides with the reserved z-order key column")
    val mm = df.agg(
      min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).head()
    // scale in DOUBLE: long arithmetic would overflow the (col - lo) * 65535
    // product once the column range passes ~2^47, silently aliasing the
    // normalized values (layout-only damage — rows still written — but it
    // destroys exactly the clustering this sink exists for). Double keeps
    // ~52 significant bits, far more than the 16 the interleave consumes.
    def norm(c: String, lo: Long, hi: Long) =
      if (hi == lo) lit(0L)
      else ((col(c).cast("double") - lit(lo.toDouble)) * 65535.0 /
        (hi.toDouble - lo.toDouble)).cast("long")
    zorderSortWrite(df, path, partitions,
      norm(colA, mm.getLong(0), mm.getLong(1)),
      norm(colB, mm.getLong(2), mm.getLong(3)), dropCols = Nil)
  }

  /** Z-ordered write for STRING (dictionary) dims — the lang/source-typed
    * columns a text corpus actually filters on, which [[writeParquetZOrdered]]
    * can't take (`ZOrderKeyExpr` needs non-negative longs). Each column is
    * dictionary-coded by sorted-distinct rank (a broadcast-joined lookup;
    * the single-task rank window is bounded by DICTIONARY cardinality, the
    * defining property of a dictionary dim — tens to thousands of values,
    * never an id), codes are range-scaled to the common 16-bit plane, and
    * the Morton interleave + range-partitioned sort proceed exactly as the
    * long path. Sorted-rank coding (not hashing) is what makes per-file
    * min/max statistics MEANINGFUL on the coded order: lexicographically
    * adjacent values land in the same tile. NULL dictionary values code
    * like any other value (null-safe join, rank 0). Two tiny eager
    * aggregates (dictionaries + max codes) — same sink-utility contract as
    * the long path's min/max pass. */
  def writeParquetZOrderedDict(df: DataFrame, path: String, partitions: Int,
                               colA: String, colB: String): Unit = {
    import org.apache.spark.sql.functions._
    // reserved working columns: an input already carrying one would be
    // silently overwritten by the withColumn chain and then dropped from
    // the output (data loss) — same guard contract as saltedJoin's __salt
    Seq("__v", "__ca", "__cb", "__zkey").foreach { r =>
      require(!df.columns.contains(r),
        s"input column '$r' collides with a reserved z-order working column")
    }
    def dict(c: String, codeName: String) = {
      // ACCEPTED WindowExec warning: the window runs over the DISTINCT
      // dictionary values (the dict path exists for low-cardinality
      // columns), so single-partition execution is bounded by design
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
      df.select(col(c).as("__v")).distinct()
        .withColumn(codeName, (row_number().over(w) - 1).cast("long"))
    }
    val coded = df
      .join(broadcast(dict(colA, "__ca")), col(colA) <=> col("__v")).drop("__v")
      .join(broadcast(dict(colB, "__cb")), col(colB) <=> col("__v")).drop("__v")
    val mm = coded.agg(max(col("__ca")), max(col("__cb"))).head()
    def scale(c: String, hi: Long) =
      if (hi == 0L) lit(0L)
      else (col(c).cast("double") * 65535.0 / hi.toDouble).cast("long")
    zorderSortWrite(coded, path, partitions,
      scale("__ca", mm.getLong(0)), scale("__cb", mm.getLong(1)),
      dropCols = Seq("__ca", "__cb"))
  }

  /** Shared z-order tail: Morton key, range partition, in-file sort, write
    * — with the key and any working columns dropped from the output. */
  private def zorderSortWrite(df: DataFrame, path: String, partitions: Int,
                              keyA: org.apache.spark.sql.Column,
                              keyB: org.apache.spark.sql.Column,
                              dropCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    require(!df.columns.contains("__zkey"),
      "input column '__zkey' collides with the reserved z-order key column")
    val key = graft.functions.ZOrderKernel.zorderKey(keyA, keyB)
    df.withColumn("__zkey", key)
      .repartitionByRange(partitions, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .drop(dropCols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Hive-style directory-partitioned parquet write: one subdirectory per
    * `partitionCol` value (`lang=en/...`), the layout under which a filter
    * on that column prunes whole directories at PLANNING time (the scan's
    * `PartitionFilters`, before any task launches) — at 100 TB the
    * difference between listing one partition and footer-checking every
    * file in the corpus. Choose the partition column by cardinality:
    * tens-to-thousands of values (each becomes a directory the planner
    * lists), never an id.
    *
    * Writer parallelism is the explicit trade `tasksPerValue` names. The
    * naive unrepartitioned write emits tasks × values files (the
    * small-files explosion that kills the NEXT scan's planning); the
    * opposite extreme — one task per value — serializes a hot partition
    * (a dominant lang can be 40% of a corpus) through one writer. So rows
    * repartition on (partition value, deterministic spread of `spreadCol`
    * into `tasksPerValue` buckets): each value gets exactly
    * `tasksPerValue` writers and at most that many files. Size it to
    * hot-partition-bytes / target-file-size; 1 is right for dimension-
    * sized tables. `spreadCol` should be a stable per-row id so the
    * layout is reproducible run-to-run. */
  def writeParquetPartitioned(df: DataFrame, path: String,
                              partitionCol: String, spreadCol: Column,
                              tasksPerValue: Int = 1): Unit = {
    import org.apache.spark.sql.functions._
    require(tasksPerValue >= 1, s"tasksPerValue out of range: $tasksPerValue")
    df.repartition(col(partitionCol), pmod(xxhash64(spreadCol), lit(tasksPerValue)))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(path)
  }

  /** Dynamic partition overwrite into a [[writeParquetPartitioned]]-style
    * layout: replaces ONLY the partitions present in `patch`, leaving every
    * sibling partition's files byte-untouched — the partition-level MERGE
    * of nightly maintenance. When a delta aligns with the partitioning
    * (reprocess one day, re-score one source), this is the cheap upsert: IO
    * proportional to the patched partitions, no key join at all, where
    * static `mode("overwrite")` would drop the whole table and a keyed
    * MERGE (`Merge.upsert`) would read it. The mode rides a per-WRITE
    * option, not a session conf — builders stay side-effect-free. Same
    * writer-parallelism contract as the full writer (`tasksPerValue`
    * spread per patched value). */
  def overwritePartitionsDynamic(patch: DataFrame, path: String,
                                 partitionCol: String, spreadCol: Column,
                                 tasksPerValue: Int = 1): Unit = {
    import org.apache.spark.sql.functions._
    require(tasksPerValue >= 1, s"tasksPerValue out of range: $tasksPerValue")
    patch.repartition(col(partitionCol), pmod(xxhash64(spreadCol), lit(tasksPerValue)))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)
  }

  /** Small-file compaction — the third leg of table maintenance next to
    * the keyed MERGE (`Merge.upsert`) and the partition overwrite
    * ([[overwritePartitionsDynamic]]): rewrite a fragmented parquet
    * directory into size-derived files. Streaming sinks and per-task
    * writers accrete small files, and every later scan pays their
    * planning/footer cost; compaction is the nightly job that caps it.
    * The target file count comes from driver-side metadata IO (sum of
    * file lengths — no Spark job), and the rewrite uses `coalesce`, a
    * NARROW dependency: tasks concatenate input splits with zero
    * shuffle, which is the whole economics of compaction at 100 TB.
    * The rewrite lands in a temp directory first and swaps in only after
    * success, so a failed REWRITE leaves the original layout intact. The
    * final swap itself is two renames (`dir -> .precompact`,
    * `.compacting -> dir`) and is NOT atomic: if the second rename fails
    * the first is rolled back, but a process crash BETWEEN them leaves the
    * table directory absent with the data intact at `<path>.precompact` —
    * recover by renaming it back. A real lakehouse closes this window with
    * a manifest/table format; for a local maintenance utility the loud
    * failure plus the documented recovery path is the contract.
    * Returns the compacted file count. */
  def compactParquet(spark: SparkSession, path: String,
                     targetFileBytes: Long = 128L << 20): Int = {
    val dir = new java.io.File(path)
    // a Hive-partitioned layout (lang=…/ subdirectories) must not go
    // through this flat rewrite: the read would surface the partition
    // columns and the write would flatten the directory structure,
    // silently destroying the pruning layout; use
    // [[compactParquetPartitioned]] instead
    require(!dir.listFiles().exists(f => f.isDirectory && !isHiddenName(f.getName) &&
        f.getName.contains("=")),
      s"compactParquet on a partitioned layout: $path — use compactParquetPartitioned")
    val target = sizeTarget(dir, targetFileBytes)
    rewriteSwap(spark, dir,
      new java.io.File(path + ".compacting"),
      new java.io.File(path + ".precompact"), target)
  }

  /** Per-partition small-file compaction over a [[writeParquetPartitioned]]
    * layout — the maintenance leg the flat [[compactParquet]] refuses:
    * each `col=value` partition directory is itself a flat parquet
    * directory, so each gets the same metadata-IO sizing + narrow-coalesce
    * rewrite + temp-swap, INDEPENDENTLY, and the Hive directory structure
    * (the pruning layout) survives untouched. Partitions already at or
    * below their size-derived target file count are SKIPPED — files
    * byte-untouched, mtimes preserved — mirroring
    * [[overwritePartitionsDynamic]]'s touch-only-what-changed contract:
    * a nightly run over a mostly-cold table pays IO only for the
    * partitions that actually fragmented. Temp/backup directories are
    * dot-prefixed siblings inside the table root (`.lang=de.compacting`),
    * which Spark's file listing ignores — an in-flight or crashed
    * compaction never surfaces as a bogus partition to a concurrent
    * reader (an undotted `lang=de.compacting` sibling WOULD parse as
    * partition value `de.compacting`). Same non-atomic-swap contract and
    * `.precompact` recovery path as the flat rewrite, per partition.
    * Returns the per-partition resulting file count (skipped partitions
    * report their existing count). */
  def compactParquetPartitioned(spark: SparkSession, path: String,
                                targetFileBytes: Long = 128L << 20): Map[String, Int] = {
    val root = new java.io.File(path)
    // hidden (./_-prefixed) siblings are NOT partitions: Spark's listing
    // ignores them, and after a crash they are exactly the
    // `.lang=de.precompact` backup the documented recovery depends on —
    // enumerating them here would compact the backup itself
    val parts = root.listFiles().filter(f => f.isDirectory &&
      !isHiddenName(f.getName) && f.getName.contains("="))
    require(parts.nonEmpty,
      s"compactParquetPartitioned on a flat layout: $path — use compactParquet")
    parts.map { d =>
      // one level only: nested partitioning would need recursion and a
      // different basePath story — refuse loudly like the flat guard
      require(!d.listFiles().exists(f => f.isDirectory && !isHiddenName(f.getName) &&
          f.getName.contains("=")),
        s"nested partition layout under ${d.getName} — not supported")
      val target = sizeTarget(d, targetFileBytes)
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      val resulting =
        if (files <= target) files // already compact: byte-untouched
        else rewriteSwap(spark, d,
          new java.io.File(root, s".${d.getName}.compacting"),
          new java.io.File(root, s".${d.getName}.precompact"), target)
      d.getName -> resulting
    }.toMap
  }

  /** Names Spark's file listing skips (and this module's own temp/backup
    * convention uses): dot- or underscore-prefixed. */
  private def isHiddenName(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** Size-derived target file count from driver-side metadata IO (sum of
    * file lengths — no Spark job). */
  private def sizeTarget(dir: java.io.File, targetFileBytes: Long): Int = {
    val bytes = dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
  }

  /** Shared compaction tail: narrow-coalesce rewrite of `dir` into `tmp`,
    * then the two-rename swap (`dir -> old`, `tmp -> dir`) with rollback
    * of the first rename if the second fails. Returns the ACTUAL resulting
    * `.parquet` file count — `coalesce(target)` is a ceiling, not a
    * guarantee (a read with fewer partitions than `target` writes fewer
    * files), so reporting `target` would over-count. */
  private def rewriteSwap(spark: SparkSession, dir: java.io.File,
                          tmp: java.io.File, old: java.io.File,
                          target: Int): Int = {
    spark.read.parquet(dir.getPath).coalesce(target)
      .write.mode("overwrite").parquet(tmp.getPath)
    if (old.exists) old.listFiles().foreach(_.delete())
    require(dir.renameTo(old), s"compaction swap failed for $dir")
    if (!tmp.renameTo(dir)) {
      // roll the first rename back so the table never vanishes from `dir`
      // on a same-process failure (a crash between the renames still needs
      // the manual .precompact recovery documented above)
      val rolledBack = old.renameTo(dir)
      require(rolledBack, s"compaction swap AND rollback failed for $dir — recover from $old")
      throw new IllegalStateException(s"compaction swap failed for $dir — original layout restored")
    }
    old.listFiles().foreach(_.delete()); old.delete()
    dir.listFiles().count(_.getName.endsWith(".parquet"))
  }

  /** ORC sink (Spark's second built-in columnar format — Hive-ecosystem
    * interchange) with the SAME layout bounds as the parquet sized writer:
    * target file count plus a rows-per-file ceiling. Same pushdown/pruning
    * machinery as parquet: ORC stripes carry min/max statistics and the
    * scan reports `PushedFilters`. */
  def writeOrc(df: DataFrame, path: String, targetFiles: Int,
               maxRecordsPerFile: Long = 5000000L): Unit =
    df.repartition(targetFiles).write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .orc(path)

  /** ORC scan (lazy; filters/projection push into the stripe reader). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSON-lines sink — the interchange format for row-oriented export
    * (one JSON object per line, so files stay SPLITTABLE: a 10 GB file
    * still fans out over many tasks, unlike a single JSON array which
    * one task must parse end-to-end). Columnar formats beat it for
    * analytics; it exists for the boundary with systems that speak JSON. */
  def writeJsonLines(df: DataFrame, path: String, targetFiles: Int): Unit =
    df.repartition(targetFiles).write.mode("overwrite").json(path)

  /** JSON-lines scan with a CALLER-SUPPLIED schema — never inference:
    * schema inference on JSON is a full extra pass over the data (at
    * 100 TB, a second scan), and silently widens types from whatever the
    * sampled rows happened to contain. */
  def readJsonLines(spark: SparkSession, path: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Minimal snapshot log — the table-format commit protocol (Delta/Iceberg
    * shape) reduced to what a filesystem gives you: each snapshot is a
    * whole-table parquet write under `path/v=N`, made VISIBLE only by a
    * `_COMMITTED` marker written after the data lands. Readers list
    * committed versions only, so a crashed writer leaves an invisible
    * half-version that the next attempt overwrites — readers can never
    * observe a torn snapshot. (Real formats log deltas instead of
    * rewriting the table; the COMMIT-MARKER visibility rule — and the
    * time-travel read below — is the part this module models.)
    */
  def writeSnapshot(df: DataFrame, path: String): Int = {
    val next = committedVersions(path).lastOption.map(_ + 1).getOrElse(0)
    val vdir = new java.io.File(path, s"v=$next")
    df.write.mode("overwrite").parquet(vdir.getPath)
    require(new java.io.File(vdir, "_SUCCESS").exists, s"snapshot write failed: $vdir")
    new java.io.FileOutputStream(new java.io.File(vdir, "_COMMITTED")).close()
    next
  }

  /** Committed snapshot versions, ascending. Hidden siblings and
    * uncommitted (in-flight/crashed) version dirs are invisible. */
  def committedVersions(path: String): Seq[Int] = {
    val root = new java.io.File(path)
    Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && !isHiddenName(d.getName) &&
        d.getName.startsWith("v=") && new java.io.File(d, "_COMMITTED").exists)
      .map(_.getName.stripPrefix("v=").toInt)
      .sorted
  }

  /** Time-travel scan: the newest committed snapshot ≤ `asOf` (or the
    * latest when `asOf` is None). Version resolution is driver-side
    * metadata only; the read is an ordinary pruned parquet scan of ONE
    * version directory. */
  def readSnapshotAsOf(spark: SparkSession, path: String,
                       asOf: Option[Int] = None): DataFrame = {
    val versions = committedVersions(path)
    require(versions.nonEmpty, s"no committed snapshots under $path")
    val v = asOf match {
      case Some(n) =>
        val at = versions.filter(_ <= n)
        require(at.nonEmpty, s"no committed snapshot <= v$n under $path (have: $versions)")
        at.last
      case None => versions.last
    }
    spark.read.parquet(new java.io.File(path, s"v=$v").getPath)
  }
}
