package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (time-travel) join: for each left row, the most recent right row
  * with `right.ts <= left.ts` per key — an operator Spark has no built-in
  * for (SURVEY §2.8 custom-operator band; DuckDB verifies via native
  * ASOF JOIN).
  *
  * Implementation is the union-window form, NOT a range join: both sides are
  * tagged and unioned, then one window pass per key carries the latest right
  * attributes forward (`last(..., ignoreNulls)`). Cost = one hash shuffle on
  * the key + one sort per partition — linear at 100 TB, where a range-
  * condition join would explode to |L|×|R| per key.
  */
object AsOfJoin {

  /** @param rightValCols right columns carried to the matched left rows,
    *                     emitted as `asof_<name>`. */
  def asOf(left: DataFrame, right: DataFrame, keyCols: Seq[String],
           leftTs: String, rightTs: String, rightValCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
    val lAll = rightValCols.foldLeft(l)((d, c) => d.withColumn(s"__rv_$c", lit(null).cast(right.schema(c).dataType)))
    val r0 = right.select(keyCols.map(col) ++ Seq(col(rightTs).as("__ts")) ++
      rightValCols.map(c => col(c).as(s"__rv_$c")): _*)
      .withColumn("__side", lit(0))
    val rAll = leftCols.filterNot(keyCols.contains).foldLeft(r0)((d, c) =>
      d.withColumn(c, lit(null).cast(left.schema(c).dataType)))
    val unioned = lAll.unionByName(rAll.select(lAll.columns.toIndexedSeq.map(col): _*))
    // right rows (side 0) sort before left rows at equal ts → ties match,
    // i.e. right.ts <= left.ts inclusive, exactly DuckDB's ASOF semantics.
    // The value columns join the sort key so two right rows sharing
    // (key, ts) resolve deterministically (toward the larger value tuple)
    // instead of by partition order.
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(Seq(col("__ts"), col("__side")) ++ rightValCols.map(c => col(s"__rv_$c")): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Carry the matched right row as ONE struct (non-null exactly for right
    // rows): per-column last(..., ignoreNulls) would conflate a genuine NULL
    // right value with "no right row here" and fall back to an OLDER right
    // row — and different value columns could then come from different
    // rows. The struct is never null for a right row, so every asof_* field
    // (including real NULLs) comes from the single most recent right row.
    val rvStruct = struct(col("__ts").as("__rts") +:
      rightValCols.map(c => col(s"__rv_$c").as(c)): _*)
    val carried = unioned.withColumn("__match",
      last(when(col("__side") === 0, rvStruct), ignoreNulls = true).over(w))
    carried.filter(col("__side") === 1)
      .select(leftCols.map(col) ++ Seq(col("__match.__rts").as("asof_ts")) ++
        rightValCols.map(c => col(s"__match.$c").as(s"asof_$c")): _*)
  }
}
