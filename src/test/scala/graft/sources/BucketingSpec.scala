package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {

  test("same-bucketed join plans without a shuffle exchange") {
    val orders = Tables.orders(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    Bucketing.writeBucketed(
      orders.withColumnRenamed("o_orderkey", "okey"), "b_orders", "okey", 4)
    Bucketing.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "okey"), "b_lineitem", "okey", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      // force a non-broadcast join: otherwise BroadcastHashJoin would hide
      // the exchange regardless of bucketing and the assertion is vacuous
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "okey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"broadcast disabled, expected a shuffle-family join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      // results still correct
      val n = joined.count()
      val expected = lineitem.join(orders, col("l_orderkey") === col("o_orderkey")).count()
      assert(n == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
