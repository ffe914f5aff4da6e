package graft

import graft.functions.{PorterStemmer, TextFns}
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based invariants (SURVEY §5.3). Spark-level properties batch a
  * generated corpus through ONE DataFrame pass per property — not one job
  * per case.
  */
class PropertiesSpec extends SparkSpec {

  /** scalatestplus isn't in the offline cache; drive scalacheck directly. */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  import spark.implicits._

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString).suchThat(_.nonEmpty)
  private val text = Gen.listOf(Gen.oneOf(word, Gen.oneOf(TextFns.EnglishStopwords)))
    .map(_.mkString(" "))

  test("stemmer: total, never lengthens, stable on arbitrary strings") {
    samples(Gen.asciiPrintableStr, 300).foreach { w =>
      val s = PorterStemmer.stem(w)
      assert(s != null)
      assert(PorterStemmer.stem(w) == s, "deterministic")
    }
    samples(word, 300).foreach { w =>
      assert(PorterStemmer.stem(w).length <= math.max(w.length, 3))
    }
  }

  test("encode/pad/mask invariants over a generated corpus") {
    val corpus = Gen.listOfN(200, text).sample.getOrElse(Nil)
    val df = corpus.toDF("text")
    val toks = TextFns.cleanTokens(col("text"))
    val padded = TextFns.padIds(TextFns.encodeTokens(toks, 1000), 30)
    val rows = df.select(
      padded.as("ids"), TextFns.attentionMask(padded).as("mask"), size(toks).as("n"))
      .collect()
    rows.foreach { r =>
      val ids = r.getSeq[Long](0)
      val mask = r.getSeq[Int](1)
      assert(ids.length == 30 && mask.length == 30, "pad to exactly 30 always")
      assert(ids.forall(i => i >= 0 && i < 1000), "ids bounded by vocab")
      assert(mask.forall(m => m == 0 || m == 1))
      mask.zip(ids).foreach { case (m, i) => if (m == 1) assert(i != 0L, "mask 1 → non-pad id") }
      // everything past the real tokens is padding
      val n = math.min(r.getAs[Int]("n"), 30)
      assert(mask.drop(n).forall(_ == 0))
    }
  }

  test("shingle count equals max(0, tokens - n + 1) before dedup") {
    val corpus = Gen.listOfN(100, text).sample.getOrElse(Nil)
    val df = corpus.toDF("text")
    val nToks = size(filter(split(lower(col("text")), "\\W+"), t => t =!= ""))
    val rows = df.select(nToks.as("n"), size(Dedup.shingles(col("text"), 3)).as("s")).collect()
    rows.foreach { r =>
      val n = r.getInt(0); val s = r.getInt(1)
      assert(s <= math.max(0, n - 2), "distinct shingles never exceed raw count")
      if (n >= 3) assert(s >= 1)
    }
  }

  test("range join ≡ naive inequality join over random windows and data") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(7)
    // three random window configurations, including look-back and asymmetric
    val windows = Seq((0L, 300L), (-450L, 450L), (-900L, -60L))
    val base = 1704100000000000L
    val events = (0 until 400).map { i =>
      (i.toLong, (rnd.nextInt(4)).toLong,
        new java.sql.Timestamp((base + rnd.nextInt(7200) * 1000000L) / 1000))
    }.toDF("event_id", "user_id", "ts")
    val left = events.filter(col("event_id") % 4 === 0).select("event_id", "user_id", "ts")
    val right = events.select(col("user_id"), col("ts"), col("event_id").as("rid"))
    windows.foreach { case (lo, hi) =>
      val binned = RangeJoin.rangeJoin(left, right, Seq("user_id"), "ts", "ts", lo, hi, Seq("rid"))
        .select("event_id", "r_rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val naive = left.as("l").join(right.as("r"),
          col("l.user_id") === col("r.user_id") &&
            col("r.ts") >= col("l.ts") + expr(s"INTERVAL ${lo} SECONDS") &&
            col("r.ts") <= col("l.ts") + expr(s"INTERVAL ${hi} SECONDS"))
        .select(col("l.event_id"), col("r.rid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(binned == naive, s"window [$lo,$hi]: binned=${binned.size} naive=${naive.size}")
      assert(naive.nonEmpty, s"window [$lo,$hi] fixture must produce matches")
    }
  }

  test("bloom position kernel ≡ exact BigInt modulus for any hashes") {
    // BloomProbe.position uses Java WRAPPING arithmetic: (h1 + i·h2) wraps
    // mod 2^64, then & (m−1) takes mod m. Because m is a power of two,
    // m divides 2^64 and (a mod 2^64) mod m = a mod m EXACTLY — the wrap
    // never corrupts the probe sequence. Pin that argument against an
    // arbitrary-precision model over full-range (including negative) hashes.
    import graft.functions.BloomProbe
    val two64 = BigInt(1) << 64
    val hashes = samples(Gen.chooseNum(Long.MinValue, Long.MaxValue), 200)
    for (m <- Seq(64, 1 << 14, 1 << 26); h1 <- hashes.take(50); h2 <- hashes.drop(50).take(50); i <- 0 until 6) {
      val exact = (((BigInt(h1) + i * BigInt(h2)) mod two64) mod BigInt(m)).toInt
      assert(BloomProbe.position(m, i, h1, h2) === exact,
        s"m=$m i=$i h1=$h1 h2=$h2")
    }
  }

  test("stopword filter is a subsequence preserving non-stopwords") {
    val docs = samples(Gen.listOfN(30, Gen.oneOf(word, Gen.oneOf(TextFns.EnglishStopwords))), 40)
      .map(_.mkString(" "))
    val outs = docs.toDF("text")
      .select(TextFns.cleanTokens(col("text"))).collect().map(_.getSeq[String](0))
    outs.foreach(out => assert(out.forall(t => !TextFns.EnglishStopwords.contains(t))))
  }
}
