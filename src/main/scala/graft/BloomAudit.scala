package graft

import org.apache.spark.sql.functions._

import graft.functions.BloomFilterOps
import graft.operators.Dedup
import graft.sources.Tables

/** Dev utility: measure the shuffle-volume win of the q51 bloom prefilter
  * over the plain q38 contamination join — the operator's entire reason to
  * exist is shuffle reduction, so the claim should be a measured number,
  * not an assertion. `runMain graft.BloomAudit [sfDir]` prints, for the
  * shared train/eval shingle workload:
  *
  *   - probe rows:   eval shingles that q38 sends into the shuffle join
  *   - survivors:    eval shingles that pass the bloom and reach q51's join
  *   - true hits:    shingles actually present in the train set (the floor
  *                   any no-false-negative prefilter can reach)
  *
  * so `1 - survivors/probe` is the realized shuffle cut and
  * `survivors - hits` the false-positive overhead.
  */
object BloomAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = LocalSession()

    val docs = Tables.documents(spark, sfDir)
    val sh = Dedup.shingles(col("text"), 3)
    val ev = docs.filter(col("source") === "src0")
      .select(col("doc_id"), explode(sh).as("sh")).persist()
    val trDocs = docs.filter(col("source") =!= "src0")
    val tr = trDocs.select(explode(sh).as("sh")).distinct().persist()
    try {
      def timed[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[bloom]   $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
      }
      val nTrain = timed("count train")(tr.count())
      // The EXACT filter q51 builds: sized from the footer-metadata
      // docs-count × 256 overestimate (DedupQueries.q51ContaminationBloom),
      // not from the distinct-shingle count — so the FP/shuffle-cut numbers
      // printed here are measurements of the shipped configuration.
      // (Inserting distinct vs raw shingles yields an identical filter;
      // inserts are idempotent.)
      val mBits = BloomFilterOps.pickMBits(
        Tables.parquetRowCount(spark, s"$sfDir/documents.parquet") * 256)
      val bits = timed("build bloom")(BloomFilterOps.buildBloom(tr, "sh", mBits))
      val probeRows = timed("count probe")(ev.count())
      val survivors = timed("probe pass")(
        ev.filter(BloomFilterOps.mightContain(bits, mBits, 6, col("sh"))).count())
      val hits = timed("exact semi join")(ev.join(tr, Seq("sh"), "left_semi").count())
      val cut = 1.0 - survivors.toDouble / probeRows
      println(f"[bloom] sf=$sfDir trainShingles=$nTrain mBits=$mBits (${mBits / 8192} KiB)")
      println(f"[bloom] probeRows=$probeRows survivors=$survivors trueHits=$hits " +
        f"falsePositives=${survivors - hits} shuffleCut=${cut * 100}%.1f%%")
    } finally {
      ev.unpersist(blocking = false)
      tr.unpersist(blocking = false)
      spark.stop()
    }
  }
}
