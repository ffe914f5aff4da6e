package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class QualitySpec extends SparkSpec {

  test("a pristine corpus passes the gate: every rule reports zero") {
    val docs = Tables.documents(spark, sf)
    val report = Quality.predicateReport(docs, Seq(
        "empty_text" -> (length(col("text")) === 0),
        "lang_unknown" -> !col("lang").isin("de", "en", "es", "fr", "zh"),
        "n_chars_negative" -> (col("n_chars") < 0)))
      .unionByName(Quality.duplicateKeyCount(docs, "doc_id", "dup_doc_id"))
      .unionByName(Quality.orphanCount(
        Tables.lineitem(spark, sf), Tables.orders(spark, sf),
        "l_orderkey", "o_orderkey", "orphan_lineitem"))
      .collect()
    assert(report.length == 5)
    report.foreach(r => assert(r.getAs[Long]("n_violations") == 0L,
      s"${r.getAs[String]("rule")} nonzero on clean data"))
  }

  test("planted orphans are counted; parent keys project before the anti join") {
    import spark.implicits._
    val child = Seq((1L, "a"), (2L, "b"), (99L, "orphan"), (98L, "orphan"))
      .toDF("fk", "payload")
    val parent = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("pk", "stuff")
    val row = Quality.orphanCount(child, parent, "fk", "pk", "orphans").collect().head
    assert(row.getAs[String]("rule") == "orphans")
    assert(row.getAs[Long]("n_violations") == 2L)
    // the join must not resolve against the parent's payload columns
    val plan = Quality.orphanCount(child, parent, "fk", "pk", "orphans")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("stuff"), s"parent payload should be pruned:\n$plan")
  }

  test("orphanCount works when child and parent share the key column NAME") {
    import spark.implicits._
    val child = Seq((1L, "a"), (9L, "x")).toDF("k", "payload")
    val parent = Seq((1L, "y")).toDF("k", "stuff")
    val row = Quality.orphanCount(child, parent, "k", "k", "orphans").collect().head
    assert(row.getAs[Long]("n_violations") == 1L)
  }

  test("NULL keys are not duplicates") {
    import spark.implicits._
    // one NULL-keyed row + distinct non-null keys: zero duplicates
    val lone = Seq(Some(1L), Some(2L), None).toDF("k")
    assert(Quality.duplicateKeyCount(lone, "k", "dup").collect()
      .head.getAs[Long]("n_violations") == 0L)
    // two NULLs + a genuinely duplicated key: 1 duplicate
    val mixed = Seq(Some(1L), Some(1L), None, None).toDF("k")
    assert(Quality.duplicateKeyCount(mixed, "k", "dup").collect()
      .head.getAs[Long]("n_violations") == 1L)
  }

  test("key rules read 0 (never NULL) over an EMPTY frame") {
    import spark.implicits._
    // a gate comparing n_violations == 0 on an empty table must see 0,
    // which count arithmetic gives where sum over zero rows yields NULL
    val empty = Seq.empty[Option[Long]].toDF("k")
    val dk = Quality.duplicateKeyCount(empty, "k", "dup").collect().head
    assert(!dk.isNullAt(dk.fieldIndex("n_violations")), "duplicateKeyCount NULL on empty")
    assert(dk.getAs[Long]("n_violations") == 0L)
  }

  test("volume-anomaly rule fences a planted dip; minTrailing gates early noise") {
    import spark.implicits._
    // flat 20-row days, a 30-row spike on day 2 (only ONE trailing period
    // — must be gated by minTrailing), a 5-row dip on day 8 (full trailing
    // history — must be fenced)
    val counts = Map(1 -> 20, 2 -> 30, 3 -> 20, 4 -> 20, 5 -> 20,
      6 -> 20, 7 -> 20, 8 -> 5, 9 -> 20, 10 -> 20)
    val df = counts.toSeq.flatMap { case (d, n) =>
      (0 until n).map(i => (java.sql.Date.valueOf(f"2024-01-$d%02d"), i))
    }.toDF("day", "i")
    val rep = Quality.volumeAnomalyReport(df, col("day")).collect()
      .map(r => r.getDate(0).toString -> r.getBoolean(r.fieldIndex("is_anomaly"))).toMap
    assert(rep.size == 10)
    assert(rep("2024-01-08"), "the planted dip day must be fenced")
    assert(!rep("2024-01-02"), "a deviation with <3 trailing periods must be gated")
    assert(rep.values.count(identity) == 1, s"exactly the dip flags: $rep")
  }

  test("predicateReport counts every rule independently in one pass") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "ok"), (3L, ""), (4L, "also")).toDF("id", "t")
    val out = Quality.predicateReport(df, Seq(
        "empty" -> (length(col("t")) === 0),
        "long" -> (length(col("t")) > 3)))
      .collect().map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations")).toMap
    assert(out == Map("empty" -> 2L, "long" -> 1L))
  }
}
