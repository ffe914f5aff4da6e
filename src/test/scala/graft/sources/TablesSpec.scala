package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

class TablesSpec extends SparkSpec {

  test("CSV and JSON sinks round-trip hostile text (quotes, commas, newlines)") {
    // q86/q87 prove per-row losslessness on the (verified-clean) corpus;
    // this pins the GENERAL contract a 100 TB shard will eventually need:
    // separator, quote, escape, newline and non-ASCII content survive both
    // sinks. CSV needs multiLine on read-back once text embeds newlines —
    // which forfeits file splittability, so at scale newline-bearing text
    // belongs in parquet/JSON; this is the interchange fallback.
    import spark.implicits._
    val src = Seq(
      (1L, "plain"),
      (2L, "comma, separated"),
      (3L, "he said \"hi\" twice: \"hi\""),
      (4L, "line one\nline two\r\nline three"),
      (5L, "back\\slash, tab\tand 中文 éü")
    ).toDF("id", "text")
    val expect = src.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

    val csvBase = Files.createTempDirectory("graft_csv_hostile").toString
    Tables.writeVersionedCsv(src, csvBase, "v1")
    val csvBack = spark.read.schema(schema)
      .option("header", "true").option("multiLine", "true")
      .csv(s"$csvBase/v1")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(csvBack === expect, "CSV round-trip must preserve hostile text")

    val jsonPath = Files.createTempDirectory("graft_json_hostile").toString + "/t"
    Sinks.writeJsonLines(src, jsonPath, targetFiles = 2)
    val jsonBack = Sinks.readJsonLines(spark, jsonPath, schema)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(jsonBack === expect,
      "JSON-lines round-trip must preserve hostile text with no reader options")
  }

  test("event queries are NTZ-robust: a TIMESTAMP_NTZ ts yields identical results") {
    // The driver testdata's ts column has drifted between parquet
    // TIMESTAMP(NANOS) (read as long) and micros-without-UTC-adjustment
    // (inferred TIMESTAMP_NTZ by Spark 4). Tables.events must normalize every
    // variant to the session-zoned TIMESTAMP so temporal operators
    // (unix_micros in RangeJoin, window(), as-of) never see a type they
    // reject. This pins the NTZ variant end-to-end: rewrite events with an
    // NTZ ts and require bit-identical results from every event-band query.
    val dir = Files.createTempDirectory("graft_ntz").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"))
      Files.createSymbolicLink(Paths.get(s"$dir/$t.parquet"), Paths.get(s"$sf/$t.parquet"))
    Tables.events(spark, sf)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.parquet(s"$dir/events.parquet")
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType, "fixture must really be NTZ")
    assert(Tables.events(spark, dir).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType, "Tables.events must normalize NTZ")
    for (q <- Seq("q60_tumbling_window", "q61_session_window", "q62_asof_join",
                  "q63_sliding_window", "q65_range_join")) {
      val expect = graft.SparkEntry.queries(q)(spark, sf).collect().toSeq
        .sortBy(_.toString)
      val got = graft.SparkEntry.queries(q)(spark, dir).collect().toSeq
        .sortBy(_.toString)
      assert(got == expect, s"$q must be invariant to an NTZ ts column")
    }

    // ...and the OTHER drift direction for orders: today's testdata writes
    // o_orderdate as NTZ micros; a writer change to UTC-adjusted micros
    // (session-zoned TIMESTAMP) must be equally invisible to date queries
    val dir2 = Files.createTempDirectory("graft_ltz").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "lineitem", "events", "documents", "embeddings"))
      Files.createSymbolicLink(Paths.get(s"$dir2/$t.parquet"), Paths.get(s"$sf/$t.parquet"))
    Tables.orders(spark, sf)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .write.parquet(s"$dir2/orders.parquet")
    assert(Tables.orders(spark, dir2).schema("o_orderdate").dataType ==
      org.apache.spark.sql.types.TimestampType)
    for (q <- Seq("q11_dates_math", "q99_weekly_wow")) {
      val expect = graft.SparkEntry.queries(q)(spark, sf).collect().toSeq
        .sortBy(_.toString)
      val got = graft.SparkEntry.queries(q)(spark, dir2).collect().toSeq
        .sortBy(_.toString)
      assert(got == expect, s"$q must be invariant to the o_orderdate zone variant")
    }
  }

  test("mergeSchema read unions evolved parquet schemas") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$dir/batch1")
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2_added_later").write.parquet(s"$dir/batch2")
    val merged = Tables.readMergedParquet(spark, s"$dir/batch1", s"$dir/batch2")
    assert(merged.columns.sorted.toSeq == Seq("id", "v1", "v2_added_later"))
    val r1 = merged.filter(col("id") === 1).collect().head
    assert(r1.isNullAt(r1.fieldIndex("v2_added_later")), "old files null-fill new columns")
    assert(merged.count() == 2)
  }
}
