package graft.sources

import graft.SparkSpec
import java.nio.file.Files

class SinksSpec extends SparkSpec {

  test("z-ordered layout clusters BOTH dimensions; plain sort only its leading column") {
    import org.apache.spark.sql.functions._
    val src = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey", "l_quantity")
    // avg per-file min/max spread of a column, as a fraction of its global spread
    def avgFileSpread(path: String, c: String): Double = {
      val global = src.agg((max(col(c)) - min(col(c))).cast("double")).head().getDouble(0)
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(((max(col(c)) - min(col(c))).cast("double") / global).as("fr"))
        .agg(avg(col("fr"))).head().getDouble(0)
    }
    val zout = Files.createTempDirectory("graft_z").toString + "/li"
    Sinks.writeParquetZOrdered(src, zout, partitions = 4, "l_partkey", "l_suppkey")
    val pout = Files.createTempDirectory("graft_p").toString + "/li"
    src.repartitionByRange(4, col("l_partkey")).sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(pout)
    // the round-trip is lossless
    assert(spark.read.parquet(zout).count() == src.count())
    // 4 z-tiles over a 2-D plane → each file spans ~half of EACH dimension
    // (a little more where range-partition cut points straddle quadrant
    // boundaries — the bound is loose for that, and still far below the
    // unclustered baseline's ~1.0)
    assert(avgFileSpread(zout, "l_partkey") <= 0.75,
      s"z-order should bound partkey per file: ${avgFileSpread(zout, "l_partkey")}")
    assert(avgFileSpread(zout, "l_suppkey") <= 0.75,
      s"z-order should bound suppkey per file: ${avgFileSpread(zout, "l_suppkey")}")
    // the single-column sort leaves the SECOND dimension unclustered — every
    // file spans (nearly) the whole suppkey range, so min/max stats on it
    // prune nothing; this gap is what z-ordering exists to close
    assert(avgFileSpread(pout, "l_suppkey") >= 0.9,
      s"plain partkey sort should NOT cluster suppkey: ${avgFileSpread(pout, "l_suppkey")}")
  }

  test("partitioned writer bounds files per partition value") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_part").toString + "/docs"
    val src = Tables.documents(spark, sf)
    Sinks.writeParquetPartitioned(src, out, "lang", spreadCol = col("doc_id"),
      tasksPerValue = 2)
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("lang="))
    assert(dirs.nonEmpty, "expected lang= partition directories")
    dirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      // exactly tasksPerValue writers per value → at most that many files
      // (fewer when a spread bucket is empty), never tasks × values
      assert(n >= 1 && n <= 2, s"${d.getName} has $n files")
    }
    assert(spark.read.parquet(out).count() == src.count())
  }

  test("dict z-order clusters BOTH string dims; a lang sort leaves source unclustered") {
    import org.apache.spark.sql.functions._
    val src = Tables.documents(spark, sf).select("doc_id", "lang", "source")
    // avg per-file distinct-value count of a dim, as a fraction of its
    // global cardinality — the string-dim analog of the numeric spread
    def avgFileDistinctFrac(path: String, c: String): Double = {
      val global = src.agg(countDistinct(col(c)).cast("double")).head().getDouble(0)
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((countDistinct(col(c)).cast("double") / global).as("fr"))
        .agg(avg(col("fr"))).head().getDouble(0)
    }
    val zout = Files.createTempDirectory("graft_zdict").toString + "/docs"
    Sinks.writeParquetZOrderedDict(src, zout, partitions = 4, "lang", "source")
    val back = spark.read.parquet(zout)
    // lossless, working columns dropped
    assert(back.count() == src.count())
    assert(back.columns.sorted.sameElements(src.columns.sorted),
      s"dict codes must not leak into the output: ${back.columns.mkString(",")}")
    // 4 z-tiles over the (5 lang × 20 source) code grid → each file spans
    // a bounded slice of EACH dictionary, not one full dimension
    assert(avgFileDistinctFrac(zout, "lang") <= 0.75,
      s"dict z-order should bound langs per file: ${avgFileDistinctFrac(zout, "lang")}")
    assert(avgFileDistinctFrac(zout, "source") <= 0.75,
      s"dict z-order should bound sources per file: ${avgFileDistinctFrac(zout, "source")}")
    // the single-column lang sort leaves source unclustered: every file
    // sees (nearly) the whole source dictionary
    val pout = Files.createTempDirectory("graft_zdictp").toString + "/docs"
    src.repartitionByRange(4, col("lang")).sortWithinPartitions("lang")
      .write.mode("overwrite").parquet(pout)
    assert(avgFileDistinctFrac(pout, "source") >= 0.9,
      s"plain lang sort should NOT cluster source: ${avgFileDistinctFrac(pout, "source")}")
  }

  test("ORC round-trip preserves schema and values; filters push into the scan") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_orc").toString + "/li"
    val src = Tables.lineitem(spark, sf)
    Sinks.writeOrc(src, out, targetFiles = 2)
    val back = Sinks.readOrc(spark, out)
    assert(back.schema == src.schema, "ORC round-trip keeps the exact schema")
    assert(back.count() == src.count())
    val filtered = back.filter(col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("l_quantity"),
      s"ORC scan must accept the pushed filter:\n$plan")
    assert(!plan.contains("l_extendedprice"), "unused columns pruned from the ORC read")
    assert(filtered.count() == src.filter(col("l_quantity") > 45).count())
  }

  test("dynamic partition overwrite replaces only the patched partition; static drops siblings") {
    import org.apache.spark.sql.functions.{col, lit}
    val docs = Tables.documents(spark, sf)
    def partitionFiles(root: String): Map[String, Seq[String]] =
      new java.io.File(root).listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().map(f => s"${f.getName}@${f.lastModified}").sorted.toSeq)
        .toMap
    val patch = docs.filter(col("lang") === "de").withColumn("source", lit("patched"))

    val dyn = Files.createTempDirectory("graft_dynow").toString + "/docs"
    Sinks.writeParquetPartitioned(docs, dyn, "lang", spreadCol = col("doc_id"))
    val before = partitionFiles(dyn)
    Sinks.overwritePartitionsDynamic(patch, dyn, "lang", spreadCol = col("doc_id"))
    val after = partitionFiles(dyn)
    assert((before - "lang=de") == (after - "lang=de"),
      "sibling partitions must be byte-untouched (names and mtimes)")
    assert(before("lang=de") != after("lang=de"), "patched partition replaced")
    val merged = spark.read.parquet(dyn)
    assert(merged.count() == docs.count())
    assert(merged.filter(col("lang") === "de" && col("source") =!= "patched").count() == 0)
    assert(merged.filter(col("lang") =!= "de" && col("source") === "patched").count() == 0)

    // compaction must REFUSE the partitioned layout instead of silently
    // flattening it (the read would surface partition columns and the
    // rewrite would destroy the pruning directories)
    val refused = intercept[IllegalArgumentException] {
      Sinks.compactParquet(spark, dyn, targetFileBytes = 1L << 20)
    }
    assert(refused.getMessage.contains("partitioned layout"))

    // the contrast that makes dynamic mode load-bearing: a STATIC overwrite
    // of the same patch drops every sibling partition
    val stat = Files.createTempDirectory("graft_statow").toString + "/docs"
    Sinks.writeParquetPartitioned(docs, stat, "lang", spreadCol = col("doc_id"))
    patch.repartition(col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(stat)
    assert(partitionFiles(stat).keySet == Set("lang=de"),
      "static overwrite truncates the table to the patch's partitions")
  }

  test("compaction collapses fragments via narrow coalesce, values intact, failure-safe swap") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_compact").toString + "/docs"
    val src = Tables.documents(spark, sf)
    src.repartition(32).write.mode("overwrite").parquet(out)
    def parquetFiles = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles.length == 32)
    // the compaction read must plan NO shuffle (coalesce is narrow)
    val plan = spark.read.parquet(out).coalesce(2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"coalesce must stay narrow:\n$plan")
    val n = Sinks.compactParquet(spark, out, targetFileBytes = 1L << 20)
    assert(parquetFiles.length == n && n < 32)
    assert(!new java.io.File(out + ".compacting").exists &&
      !new java.io.File(out + ".precompact").exists, "temp dirs cleaned up")
    val back = spark.read.parquet(out)
    assert(back.count() == src.count())
    assert(back.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(src.select("doc_id").collect().map(_.getLong(0)).sorted))
    assert(back.filter(col("n_chars") <= 0).count() ==
      src.filter(col("n_chars") <= 0).count())
  }

  test("partitioned compaction collapses per partition, skips compact ones, keeps the layout") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_cpart").toString + "/docs"
    val src = Tables.documents(spark, sf)
    // fragment via the NAIVE unaligned write (tasks × values files — the
    // explosion writeParquetPartitioned exists to avoid): 8 explicit spread
    // tasks, each writing one file into every lang directory it touches
    src.repartition(8, col("doc_id"))
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    def layout: Map[String, Seq[String]] = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang="))
      .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getName}@${f.lastModified}").sorted.toSeq).toMap
    val before = layout
    assert(before.nonEmpty && before.values.forall(_.size > 4),
      s"fragmentation step too tame: ${before.view.mapValues(_.size).toMap}")
    // each variant refuses the other's layout
    val e1 = intercept[IllegalArgumentException] {
      Sinks.compactParquet(spark, out, targetFileBytes = 1L << 20)
    }
    assert(e1.getMessage.contains("compactParquetPartitioned"))
    val flat = Files.createTempDirectory("graft_cflat").toString + "/docs"
    src.repartition(4).write.mode("overwrite").parquet(flat)
    val e2 = intercept[IllegalArgumentException] {
      Sinks.compactParquetPartitioned(spark, flat, targetFileBytes = 1L << 20)
    }
    assert(e2.getMessage.contains("flat layout"))

    val res = Sinks.compactParquetPartitioned(spark, out, targetFileBytes = 8L << 20)
    val after = layout
    assert(after.keySet == before.keySet, "partition directory set must survive")
    after.foreach { case (p, fs) =>
      assert(fs.size < before(p).size, s"$p did not collapse")
      assert(fs.size == res(p), s"$p: reported ${res(p)} files, found ${fs.size}")
    }
    // temp/backup dirs cleaned up (dot-prefixed siblings inside the root)
    assert(!new java.io.File(out).listFiles()
      .exists(f => f.getName.contains("compacting") || f.getName.contains("precompact")))
    // value-neutral, partition column still readable
    val back = spark.read.parquet(out)
    assert(back.count() == src.count())
    assert(back.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      == src.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    // a second pass skips every already-compact partition: names AND mtimes identical
    val res2 = Sinks.compactParquetPartitioned(spark, out, targetFileBytes = 8L << 20)
    assert(layout == after, "re-compaction must be byte-untouched")
    assert(res2 == res)
  }

  test("compaction leaves crash leftovers (hidden dirs) untouched and never enumerates them") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_chidden").toString + "/docs"
    val src = Tables.documents(spark, sf)
    src.repartition(8, col("doc_id"))
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    // first pass: collapse everything so the follow-up pass is all-skip —
    // the nightly-run shape in which a crashed predecessor's leftovers are
    // lying around next to partitions that need no work
    Sinks.compactParquetPartitioned(spark, out, targetFileBytes = 8L << 20)
    // simulate that crashed prior compaction: the backup dir a recovery
    // depends on, plus an in-flight temp — both hidden, both contain "="
    val leftover = new java.io.File(out, ".lang=de.precompact")
    val inflight = new java.io.File(out, ".lang=de.compacting")
    assert(leftover.mkdir() && inflight.mkdir())
    val marker = new java.io.File(leftover, "backup.parquet")
    Files.write(marker.toPath, Array[Byte](1, 2, 3))
    val markerM = marker.lastModified

    val res = Sinks.compactParquetPartitioned(spark, out, targetFileBytes = 8L << 20)
    assert(!res.keySet.exists(_.startsWith(".")),
      "hidden dirs must never be enumerated as partitions")
    assert(leftover.isDirectory && marker.exists && marker.length == 3 &&
      marker.lastModified == markerM,
      "a crash-recovery backup must survive a compaction pass byte-untouched")
    assert(inflight.isDirectory, "an in-flight temp dir is not this pass's to delete")

    // the flat guard must likewise ignore hidden dirs: a flat table with a
    // stale hidden "=" sibling is still a flat table
    val flat = Files.createTempDirectory("graft_fhidden").toString + "/docs"
    src.limit(10).coalesce(1).write.mode("overwrite").parquet(flat)
    assert(new java.io.File(flat, ".k=v.precompact").mkdir())
    Sinks.compactParquet(spark, flat, targetFileBytes = 1L << 20) // must not refuse
  }

  test("compaction reports the real file count when the read has fewer partitions than target") {
    val out = Files.createTempDirectory("graft_cfew").toString + "/docs"
    val src = Tables.documents(spark, sf).limit(200)
    src.coalesce(1).write.mode("overwrite").parquet(out)
    def files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
    val bytes = files.map(_.length).sum
    // size-derived target lands ~6, but the 1-file read packs into one
    // partition, so coalesce(6) can only write 1 file — the return value
    // must be the file count on disk, not the target ceiling
    val n = Sinks.compactParquet(spark, out, targetFileBytes = math.max(1L, bytes / 6))
    assert(n == files.length, s"reported $n files, found ${files.length}")
  }

  test("z-order writers refuse inputs that collide with reserved working columns") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_zguard").toString + "/t"
    // dict path reserves __v/__ca/__cb/__zkey; long path reserves __zkey
    for (bad <- Seq("__v", "__ca", "__cb", "__zkey")) {
      val df = Seq(("en", "web", 1L)).toDF("lang", "source", bad)
      val e = intercept[IllegalArgumentException] {
        Sinks.writeParquetZOrderedDict(df, out, 2, "lang", "source")
      }
      assert(e.getMessage.contains(bad))
    }
    val longBad = Seq((1L, 2L, 3L)).toDF("a", "b", "__zkey")
    // the long path's guard must fire BEFORE the eager min/max aggregate —
    // a guard that only trips inside zorderSortWrite has already burned a
    // full scan by the time it raises
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[IllegalArgumentException] {
        Sinks.writeParquetZOrdered(longBad, out, 2, "a", "b")
      }
      assert(e.getMessage.contains("__zkey"))
      Thread.sleep(300) // listener events post async; give any stray job time to surface
      assert(jobs.get() == 0, s"guard must fail fast, but ${jobs.get()} job(s) ran")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("snapshot log: versions commit in order and time travel resolves <= asOf") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_snap").toString + "/t"
    assert(Sinks.writeSnapshot(Seq((1, "a")).toDF("id", "v"), path) == 0)
    assert(Sinks.writeSnapshot(Seq((1, "b")).toDF("id", "v"), path) == 1)
    assert(Sinks.writeSnapshot(Seq((1, "c")).toDF("id", "v"), path) == 2)
    assert(Sinks.committedVersions(path) == Seq(0, 1, 2))
    assert(Sinks.readSnapshotAsOf(spark, path, Some(1))
      .select("v").as[String].head() == "b")
    // asOf between versions resolves DOWN; latest wins with no asOf
    assert(Sinks.readSnapshotAsOf(spark, path, Some(5))
      .select("v").as[String].head() == "c")
    assert(Sinks.readSnapshotAsOf(spark, path)
      .select("v").as[String].head() == "c")
    intercept[IllegalArgumentException](
      Sinks.readSnapshotAsOf(spark, path, Some(-1)))
  }

  test("snapshot log: an uncommitted (crashed) version is invisible and gets overwritten") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_snapc").toString + "/t"
    Sinks.writeSnapshot(Seq((1, "a")).toDF("id", "v"), path)
    // simulate a crash: v=1 data present, no _COMMITTED marker
    val torn = new java.io.File(path, "v=1")
    Seq((1, "TORN")).toDF("id", "v").write.parquet(torn.getPath)
    assert(Sinks.committedVersions(path) == Seq(0))
    assert(Sinks.readSnapshotAsOf(spark, path)
      .select("v").as[String].head() == "a")
    // the retry lands ON TOP of the torn dir and commits it
    assert(Sinks.writeSnapshot(Seq((1, "b")).toDF("id", "v"), path) == 1)
    assert(Sinks.readSnapshotAsOf(spark, path)
      .select("v").as[String].head() == "b")
  }
}
