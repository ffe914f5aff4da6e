package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The striped prefix-sum contract: value-identical to the plain
  * low-cardinality window, with no data-sized window keyed by the bare
  * partition column anywhere in the plan (the q12 sampler recipe — identity
  * spec + plan-shape assert — applied to the window family).
  */
class StripedWindowSpec extends SparkSpec {

  test("runningSum matches the plain window (inclusive and exclusive)") {
    val t = Tables.documents(spark, sf).select(col("doc_id"), col("lang"), col("n_chars"))
    val striped = StripedWindow.withRangeStripe(t, "doc_id", 4)
    def windowed(includeCurrent: Boolean): Map[Long, Long] = {
      val hi = if (includeCurrent) Window.currentRow else -1L
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, hi)
      t.withColumn("cum", coalesce(sum(col("n_chars")).over(w), lit(0L)))
        .select("doc_id", "cum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    for (inc <- Seq(true, false)) {
      val got = StripedWindow.runningSum(striped, Seq("lang"), Seq(col("doc_id")),
          col("n_chars"), "cum", includeCurrent = inc)
        .select("doc_id", "cum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === windowed(inc), s"includeCurrent=$inc")
    }
  }

  test("runningSum is layout-independent (same result after repartition)") {
    // Both passes (striped window + stripe totals) and the min/max cut
    // aggregate must agree under ANY physical layout — min/max merges are
    // commutative and the stripe is a pure function of the order key, so a
    // repartitioned input yields the identical cumulative values.
    val t = Tables.documents(spark, sf).select(col("doc_id"), col("lang"), col("n_chars"))
    def run(df: DataFrame): Map[Long, Long] =
      StripedWindow.runningSum(StripedWindow.withRangeStripe(df, "doc_id", 4),
          Seq("lang"), Seq(col("doc_id")), col("n_chars"), "cum", includeCurrent = true)
        .select("doc_id", "cum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(t) === run(t.repartition(13)))
  }

  test("stripe collapse: heavily-tied stripe key stays correct") {
    // Degenerate documented at StripedWindow.withRangeStripe: a
    // low-resolution stripe key (3 distinct values, 8 requested stripes)
    // collapses most cut points onto the same value, so nearly all rows land
    // in one or two stripes. Parallelism degrades; correctness must not.
    // The order is (tied, doc_id) — a total order the plain window can
    // reproduce — and the stripe is a function of `tied` alone, monotone in
    // the lexicographic order, so the identity contract still applies.
    val t = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (col("doc_id") % 3).as("tied"))
    val striped = StripedWindow.withRangeStripe(t, "tied", 8)
    val w = Window.partitionBy("lang").orderBy("tied", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = t.withColumn("cum", sum(col("n_chars")).over(w))
      .select("doc_id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = StripedWindow.runningSum(striped, Seq("lang"),
        Seq(col("tied"), col("doc_id")), col("n_chars"), "cum", includeCurrent = true)
      .select("doc_id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  private def oldQ36(dir: String): DataFrame = {
    val nTok = graft.functions.Exprs.asLong(
      size(filter(split(col("text"), "\\s+"), x => x =!= "")))
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), nTok.as("n_tok"))
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        floor(col("cum_before") / 512.0).as("pack_id"))
  }

  private def oldQ52(dir: String): DataFrame = {
    val toks = filter(split(lower(col("text")), "\\W+"), t => t =!= "")
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(toks).cast("long").as("n_toks"))
      .withColumn("cum_tokens", sum(col("n_toks")).over(w))
      .filter(col("cum_tokens") <= 600)
  }

  private def oldQ55(dir: String): DataFrame = {
    val toks = filter(split(lower(col("text")), "\\W+"), t => t =!= "")
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), size(toks).cast("long").as("n_toks"))
    val q = t.agg(
      expr("percentile(n_toks, 0.25)").as("q1"),
      expr("percentile(n_toks, 0.5)").as("q2"),
      expr("percentile(n_toks, 0.75)").as("q3"))
    val bucket = (lit(1) +
      (col("n_toks") > col("q1")).cast("int") +
      (col("n_toks") > col("q2")).cast("int") +
      (col("n_toks") > col("q3")).cast("int")).cast("long")
    val rn = row_number().over(
      Window.partitionBy("bucket").orderBy("n_toks", "doc_id")).cast("long")
    t.crossJoin(broadcast(q))
      .select(col("doc_id"), col("n_toks"), bucket.as("bucket"))
      .withColumn("rn", rn)
      .select(col("doc_id"), col("n_toks"), col("bucket"), col("rn"),
        ((col("rn") - 1) * 4 + col("bucket")).as("pos"))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toVector).toVector.sortBy(_.mkString("|"))

  test("q36 striped pack is row-identical to the per-lang window form") {
    assert(rows(CorpusQueries.q36SequencePack.build(spark, sf)) === rows(oldQ36(sf)))
  }

  test("q52 striped mixture is row-identical to the per-source window form") {
    assert(rows(CorpusQueries.q52DataMixture.build(spark, sf)) === rows(oldQ52(sf)))
  }

  test("q55 striped curriculum is row-identical to the per-bucket rank form") {
    assert(rows(CorpusQueries.q55Curriculum.build(spark, sf)) === rows(oldQ55(sf)))
  }

  test("q36/q52/q55 plans: no data-sized window keyed by the bare column") {
    // Inspect the optimized logical plan's Window operators directly (not a
    // regex over the plan string — bracket-bearing expression toStrings
    // would mis-split a line parse). Every Window must either PARTITION by
    // __stripe (the data pass — its parallelism is |keys| × stripes) or
    // ORDER by __stripe (the offset scan over the |keys| × stripes totals
    // table). A window partitioned by the bare low-cardinality key over row
    // data — the 100×-scale killer this family escaped — matches neither
    // and fails.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    for (q <- Seq(CorpusQueries.q36SequencePack, CorpusQueries.q52DataMixture,
        CorpusQueries.q55Curriculum)) {
      val plan = q.build(spark, sf).queryExecution.optimizedPlan
      val windows = plan.collect { case w: LogicalWindow => w }
      assert(windows.nonEmpty, s"${q.name}: expected Window operators in plan:\n$plan")
      def names(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
        exprs.flatMap(_.references.map(_.name))
      val striped = windows.count(w => names(w.partitionSpec).contains(StripedWindow.StripeCol))
      assert(striped >= 1, s"${q.name}: no window partitioned by __stripe:\n$plan")
      val bad = windows.filter(w =>
        !names(w.partitionSpec).contains(StripedWindow.StripeCol) &&
          !names(w.orderSpec).contains(StripedWindow.StripeCol))
      assert(bad.isEmpty,
        s"${q.name}: window keyed by bare column over row data: $bad\n$plan")
    }
  }
}
