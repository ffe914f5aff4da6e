package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  test("approx_count_distinct within 5% of exact (A5)") {
    val o = Tables.orders(spark, sf)
    val row = o.agg(
      countDistinct(col("o_custkey")).as("exact"),
      approx_count_distinct(col("o_custkey"), 0.02).as("approx")).collect().head
    val exact = row.getAs[Long]("exact").toDouble
    val approx = row.getAs[Long]("approx").toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("filter and projection are pushed into the parquet scan") {
    val plan = Relational.q02ScanProjectFilter.build(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(l_quantity,45"), s"pushdown missing:\n$plan")
    assert(!plan.contains("l_partkey"), "unused columns pruned from ReadSchema")
  }

  test("dimension joins broadcast; fact-fact join shuffles") {
    val star = Relational.q03JoinBroadcast.build(spark, sf)
      .queryExecution.executedPlan.toString
    assert(star.contains("BroadcastHashJoin"), s"star join should broadcast dims:\n$star")
    val ff = Relational.q04JoinSortMerge.build(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ff.contains("SortMergeJoin") || ff.contains("ShuffledHashJoin") ||
      ff.contains("BroadcastHashJoin"), // AQE may broadcast at tiny SF
      s"fact join plan unexpected:\n$ff")
  }

  test("q46 six-table join: dims broadcast, date filter pushed, no product") {
    val plan = Relational.q46RegionalRevenue.build(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"nation/region must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"theta condition must fold into the supplier equi-join:\n$plan")
    assert(plan.contains("o_orderdate") && plan.contains("PushedFilters:"),
      s"date filter must reach the orders scan:\n$plan")
  }

  test("no forced broadcast of unbounded relations (q27 vocabulary, knn neighbors)") {
    // q27: the document-frequency table is the corpus vocabulary — only the
    // 1-row n_docs scalar may carry a broadcast hint
    val q27 = TextQueries.q27TokenRarity.build(spark, sf).queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(q27).length == 1,
      s"q27 must not force-broadcast the vocabulary table:\n$q27")
    // knn: the neighbors relation is k·|queries| with unbounded |queries| —
    // only bruteForceTopK's documented bounded query side may carry a hint
    val emb = Tables.embeddings(spark, sf)
    val knn = Knn.classify(emb.filter(col("vec_id") % 25 === 0), emb, k = 5)
      .queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(knn).length == 1,
      s"knn must not force-broadcast the neighbors relation:\n$knn")
  }

  /** Reference Levenshtein (two-row DP) — the independent mirror for q93. */
  private def lev(a: String, b: String): Int = {
    var prev = (0 to b.length).toArray
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }

  test("q93: pair set equals an independent driver-side Levenshtein over the dictionary") {
    val rows = Relational.q93FuzzyNamePairs.build(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (na, nb, d) = (r.getAs[String]("name_a"), r.getAs[String]("name_b"), r.getAs[Long]("dist"))
      assert(na < nb, "pairs must be canonically ordered (a < b)")
      assert(d >= 1 && d <= 3, s"distance out of declared band: $d")
      assert(lev(na, nb) == d, s"engine distance disagrees with reference DP for ($na, $nb)")
      assert(r.getAs[Long]("n_a") > 0 && r.getAs[Long]("n_b") > 0)
    }
    // completeness: every dictionary pair within distance 3 is present
    val names = Tables.part(spark, sf).select("p_name").distinct()
      .collect().map(_.getString(0)).sorted
    val expected = (for {
      a <- names; b <- names if a < b && lev(a, b) <= 3
    } yield (a, b)).toSet
    val got = rows.map(r => (r.getAs[String]("name_a"), r.getAs[String]("name_b"))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("q95: cumulative counts are a complete monotone cover ending at share 1.0") {
    val rows = Relational.q95PriceHistogram.build(spark, sf).orderBy("bucket").collect()
    assert(rows.nonEmpty)
    val total = Tables.orders(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == total, "buckets partition the table")
    val cums = rows.map(_.getAs[Long]("cum_orders"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a < b }, "cum strictly increasing")
    assert(cums.last == total)
    assert(rows.last.getAs[Double]("cum_share") == 1.0, "exact integer ratio: last share is exactly 1.0")
    rows.foreach { r =>
      assert(r.getAs[Double]("hi") - r.getAs[Double]("lo") == 25000.0)
    }
  }

  test("q97: diff classifies exactly the planted bands; unchanged rows are silent") {
    val rows = Relational.q97TableDiff.build(spark, sf).collect()
    val byChange = rows.groupBy(_.getAs[String]("change"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).sorted.toSeq).toMap
    assert(byChange("removed") == (0L until 100L), "old-only band 0-99")
    assert(byChange("changed") == (200L until 300L), "patched band 200-299")
    assert(byChange("added") == (300L until 400L), "new-only band 300-399")
    // the unchanged overlap (100-199) must NOT appear — fingerprint equality
    assert(!rows.exists(r => r.getAs[Long]("doc_id") >= 100 && r.getAs[Long]("doc_id") < 200))
  }

  test("q99: growth ratio is exactly (rev - prev) / prev; first week genuinely NULL") {
    val rows = Relational.q99WeeklyWow.build(spark, sf).orderBy("week").collect()
    assert(rows.length > 50, "multi-year corpus yields a real weekly series")
    assert(rows.head.isNullAt(rows.head.fieldIndex("prev_revenue")) &&
      rows.head.isNullAt(rows.head.fieldIndex("wow")), "no prior week for the first row")
    rows.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur.getAs[Double]("prev_revenue") == prev.getAs[Double]("revenue"),
        "lag carries the prior week's revenue")
      val expected = (cur.getAs[Double]("revenue") - cur.getAs[Double]("prev_revenue")) /
        cur.getAs[Double]("prev_revenue")
      assert(cur.getAs[Double]("wow") == expected, "wow is the exact IEEE ratio")
    }
  }

  test("q101: exact-sum correlation agrees with Spark's native corr/covar_samp") {
    val rows = Relational.q101Correlation.build(spark, sf).collect()
    val native = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_discount")).as("c"),
        covar_samp(col("l_quantity"), col("l_discount")).as("cv"))
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("c"), r.getAs[Double]("cv"))).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (c, cv) = native(r.getAs[String]("l_returnflag"))
      // native Welford streaming is partition-order-dependent — agreement is
      // statistical (1e-9 relative), exactness is the decimal-sum form's claim
      assert(math.abs(r.getAs[Double]("corr_qty_disc") - c) < 1e-9 * math.max(1, math.abs(c)))
      assert(math.abs(r.getAs[Double]("cov_qty_disc") - cv) < 1e-9 * math.max(1, math.abs(cv)))
      assert(math.abs(r.getAs[Double]("corr_qty_disc")) <= 1.0, "Pearson r in [-1, 1]")
    }
  }

  test("q108: shares sum to 1 per region; rank 1 holds the region max") {
    val rows = Relational.q108RevenueShare.build(spark, sf).collect()
    rows.groupBy(_.getAs[String]("r_name")).foreach { case (region, members) =>
      val shareSum = members.map(_.getAs[Double]("region_share")).sum
      assert(math.abs(shareSum - 1.0) < 1e-12, s"$region shares sum to $shareSum")
      val top = members.minBy(_.getAs[Long]("region_rank"))
      assert(top.getAs[Long]("region_rank") == 1L)
      assert(top.getAs[Double]("revenue") == members.map(_.getAs[Double]("revenue")).max)
    }
  }

  test("q109 gap cells and q110 runs partition the same set") {
    val gaps = Relational.q109DensifyGaps.build(spark, sf).collect()
      .groupBy(_.getAs[String]("n_name")).view.mapValues(_.length.toLong).toMap
    val runs = Relational.q110LongestGap.build(spark, sf).collect()
    runs.foreach { r =>
      val nation = r.getAs[String]("n_name")
      assert(r.getAs[Long]("longest_run_weeks") >= 1)
      // runs are a partition of that nation's gap cells — their count can't
      // exceed the cells, and the longest run can't either
      assert(r.getAs[Long]("longest_run_weeks") <= gaps.getOrElse(nation, 0L))
      assert(r.getAs[Long]("n_runs") <= gaps.getOrElse(nation, 0L))
    }
    // every nation with gaps appears in the runs report and vice versa
    assert(runs.map(_.getAs[String]("n_name")).toSet == gaps.keySet)
  }

  test("q96: disjoint grouping sets = both marginals + grand total, nothing else") {
    val orders = Tables.orders(spark, sf)
    val rows = Relational.q96GroupingSets.build(spark, sf).collect()
    val nStatus = orders.select("o_orderstatus").distinct().count()
    val nPrio = orders.select("o_orderpriority").distinct().count()
    assert(rows.length == nStatus + nPrio + 1, "no (status, priority) cross cells")
    val grand = rows.filter(r =>
      r.getAs[String]("status") == "ALL" && r.getAs[String]("priority") == "ALL")
    assert(grand.length == 1 && grand.head.getAs[Long]("n_orders") == orders.count())
    // status marginals match a direct groupBy
    val direct = orders.groupBy("o_orderstatus").count().collect()
      .map(r => r.getAs[String]("o_orderstatus") -> r.getAs[Long]("count")).toMap
    rows.filter(r => r.getAs[String]("priority") == "ALL" && r.getAs[String]("status") != "ALL")
      .foreach { r =>
        assert(r.getAs[Long]("n_orders") == direct(r.getAs[String]("status")))
      }
  }
}
