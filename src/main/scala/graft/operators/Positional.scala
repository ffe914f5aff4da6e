package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Positional operators (SURVEY.md §2.5 F5): the reference zips parallel
  * arrays by position (`self.train_df[index]` with `self.text_df[index]`,
  * src/main.py:151-152). The rebuild keeps columns in ONE DataFrame so a
  * positional join is never needed — but when an external positional
  * contract is forced, these are the safe forms.
  *
  * `monotonically_increasing_id` is NOT a row number (it jumps between
  * partitions); the correct option is a window row_number over an
  * explicit order (one shuffle), deterministic under any partitioning.
  */
object Positional {

  /** Stable 0-based row index by an explicit sort order — deterministic
    * under any partitioning (what the oracle needs). */
  def withRowIndexOrdered(df: DataFrame, orderCols: Seq[String],
                          indexCol: String = "row_idx"): DataFrame = {
    val w = Window.orderBy(orderCols.map(col): _*)
    df.withColumn(indexCol, row_number().over(w).cast(LongType) - 1)
  }

  /** Positional join of two frames by their explicit sort orders. */
  def zipByPosition(a: DataFrame, aOrder: Seq[String],
                    b: DataFrame, bOrder: Seq[String]): DataFrame =
    withRowIndexOrdered(a, aOrder).join(withRowIndexOrdered(b, bOrder), "row_idx")
}
