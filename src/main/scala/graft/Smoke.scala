package graft

/** Mimics the driver's smoke check: SparkEntry.entry(spark) must return >0
  * rows on sf0.001 under a plain local session (no graft extensions and no
  * state left by other queries).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "PASS" else "FAIL"))
    spark.stop()
  }
}
