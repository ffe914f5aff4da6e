package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MergeSpec extends SparkSpec {

  test("upsert: updates win, unmatched targets pass through, new keys append") {
    import spark.implicits._
    val target = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "n")
    val updates = Seq((2L, "B", 99L), (4L, "d", 40L)).toDF("id", "v", "n")
    val out = Merge.upsert(target, updates, "id")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "a", 10L),   // passthrough
      (2L, "B", 99L),   // update wins
      (3L, "c", 30L),   // passthrough
      (4L, "d", 40L)))  // append
  }

  test("upsert anti join broadcasts the delta's key projection") {
    val target = spark.range(0, 10000).select(col("id"), (col("id") % 7).as("n"))
    val updates = spark.range(0, 100).select(col("id"), lit(-1L).as("n"))
    val plan = Merge.upsert(target, updates, "id")
      .queryExecution.executedPlan.toString
    // the corpus side must not shuffle: the batch-sized delta key set
    // builds a broadcast anti join
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected a broadcast anti join:\n$plan")
  }

  test("scd2Apply: closes current generation, appends, passes history through") {
    import spark.implicits._
    val d = java.sql.Date.valueOf(_: String)
    // key 1: two generations (closed + current) AND in delta → close+append
    // key 2: current only, NOT in delta → untouched
    // key 3: brand-new key in delta → plain insert
    val hist = Seq(
      (1L, "v1", d("2018-01-01"), Option(d("2019-12-31")), false),
      (1L, "v2", d("2020-01-01"), Option.empty[java.sql.Date], true),
      (2L, "w1", d("2020-01-01"), Option.empty[java.sql.Date], true)
    ).toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val delta = Seq((1L, "v3", d("2024-06-01")), (3L, "x1", d("2024-06-01")))
      .toDF("k", "attr", "eff")
    val out = Merge.scd2Apply(hist, delta, "k", "eff")
      .orderBy("k", "valid_from").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("attr"),
        Option(r.getAs[java.sql.Date]("valid_to")).map(_.toString).orNull,
        r.getAs[Boolean]("is_current")))
    assert(out.toSeq === Seq(
      (1L, "v1", "2019-12-31", false),            // prior generation untouched
      (1L, "v2", "2024-05-31", false),            // closed at effective − 1
      (1L, "v3", null, true),                     // new current generation
      (2L, "w1", null, true),                     // key not in delta: untouched
      (3L, "x1", null, true)),                    // new key: plain insert
      s"got: ${out.toSeq}")
    // exactly one current row per key, always
    val cur = out.filter(_._4).map(_._1)
    assert(cur.toSeq.sorted === cur.distinct.toSeq.sorted)
  }
}
