package graft.functions

import graft.SparkSpec
import graft.operators.DedupQueries
import org.apache.spark.sql.functions._

class BloomFilterSpec extends SparkSpec {
  import spark.implicits._

  test("no false negatives: every inserted key probes true") {
    val keys = (0 until 1000).map(i => s"key_$i")
    val df = keys.toDF("k")
    val mBits = BloomFilterOps.pickMBits(keys.size)
    val bits = BloomFilterOps.buildBloom(df, "k", mBits)
    val hits = df.filter(BloomFilterOps.mightContain(bits, mBits, 6, col("k"))).count()
    assert(hits === keys.size, "a bloom filter must never drop a member")
  }

  test("false-positive rate on disjoint keys stays near theoretical") {
    val inserted = (0 until 2000).map(i => s"in_$i").toDF("k")
    val mBits = BloomFilterOps.pickMBits(2000)
    val bits = BloomFilterOps.buildBloom(inserted, "k", mBits)
    val probes = (0 until 20000).map(i => s"out_$i").toDF("k")
    val fp = probes.filter(BloomFilterOps.mightContain(bits, mBits, 6, col("k"))).count()
    // 12 bits/key, k=6 → theoretical fp ≈ 0.3%; allow a generous 2% bound
    assert(fp < 400, s"false-positive rate too high: $fp / 20000")
  }

  test("lazy path (bloomAgg + mightContainIn) agrees with the literal path") {
    val keys = (0 until 500).map(i => s"key_$i")
    val df = keys.toDF("k")
    val mBits = BloomFilterOps.pickMBits(keys.size)
    val bits = BloomFilterOps.buildBloom(df, "k", mBits)
    val bloom = df.agg(BloomFilterOps.bloomAgg(col("k"), mBits).as("__bloom"))
    val probes = ((0 until 500).map(i => s"key_$i") ++
      (0 until 2000).map(i => s"miss_$i")).toDF("k")
    val viaLazy = probes.crossJoin(broadcast(bloom))
      .filter(BloomFilterOps.mightContainIn(col("__bloom"), mBits, 6, col("k")))
      .select("k").collect().map(_.getString(0)).toSet
    val viaLiteral = probes
      .filter(BloomFilterOps.mightContain(bits, mBits, 6, col("k")))
      .select("k").collect().map(_.getString(0)).toSet
    assert(viaLazy === viaLiteral, "column-borne and literal bitsets must probe identically")
    assert(keys.toSet.subsetOf(viaLazy), "no false negatives on the lazy path")
  }

  test("bloom build is layout-independent (bit OR commutes across partials)") {
    val keys = (0 until 3000).map(i => s"key_$i")
    val df = keys.toDF("k")
    val mBits = BloomFilterOps.pickMBits(keys.size)
    val base = BloomFilterOps.buildBloom(df, "k", mBits)
    val shuffled = BloomFilterOps.buildBloom(df.repartition(13), "k", mBits)
    val single = BloomFilterOps.buildBloom(df.repartition(1), "k", mBits)
    assert(base.toSeq === shuffled.toSeq, "13-way layout must yield the identical bitset")
    assert(base.toSeq === single.toSeq, "single partition must yield the identical bitset")
  }

  test("empty build side: aggregate yields the zero bitset, every probe false") {
    val empty = Seq.empty[String].toDF("k")
    val mBits = 1 << 14
    // global TypedImperativeAggregate over zero rows must eval the initial
    // buffer (all-zeros array), not null — the probe side then sees an
    // empty SET, not a crash
    val bloom = empty.agg(BloomFilterOps.bloomAgg(col("k"), mBits).as("__bloom"))
    val survivors = Seq("a", "b", "c").toDF("k")
      .crossJoin(broadcast(bloom))
      .filter(BloomFilterOps.mightContainIn(col("__bloom"), mBits, 6, col("k")))
      .count()
    assert(survivors === 0L, "an empty bloom set must reject every probe")
  }

  test("pickMBits: power of two, floored, capped") {
    assert(BloomFilterOps.pickMBits(0) === (1 << 14))
    assert(BloomFilterOps.pickMBits(10000) === 131072) // 120k bits → next pow2
    assert(Integer.bitCount(BloomFilterOps.pickMBits(123456789L)) === 1)
    assert(BloomFilterOps.pickMBits(Long.MaxValue / 16) === (1 << 26))
  }

  test("q51 (bloom-prefiltered) is row-for-row identical to q38 (exact join)") {
    val exact = DedupQueries.q38Contamination.build(spark, sf)
      .collect().map(_.toSeq).toSeq
    val bloom = DedupQueries.q51ContaminationBloom.build(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(bloom === exact, "the exact verify join must cancel every false positive")
  }

  test("interpreted eval matches codegen for probe and build hashes") {
    val df = Seq("alpha", "beta", "", "δ unicode").toDF("k")
    val mBits = 1 << 14
    val bits = BloomFilterOps.buildBloom(df, "k", mBits)
    val expr = BloomMightContainExpr(bits, mBits, 6,
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.StringType, nullable = true))
    // interpreted path: eval the expression against a one-column row
    val viaEval = Seq("alpha", "beta", "", "δ unicode", "missing").map { s =>
      expr.eval(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        .asInstanceOf[Boolean]
    }
    assert(viaEval.take(4).forall(identity), "members must probe true interpreted")
    // codegen path through a real filter
    val viaCodegen = Seq("alpha", "beta", "", "δ unicode", "missing").toDF("k")
      .filter(BloomFilterOps.mightContain(bits, mBits, 6, col("k")))
      .collect().map(_.getString(0)).toSet
    assert(Set("alpha", "beta", "", "δ unicode").subsetOf(viaCodegen))
    assert(viaEval.zip(Seq("alpha", "beta", "", "δ unicode", "missing"))
      .forall { case (e, s) => e === viaCodegen.contains(s) },
      "eval and codegen must agree probe-for-probe")
  }
}
