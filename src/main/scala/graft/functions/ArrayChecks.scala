package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Element checks shared by the array kernels' per-row functions. */
private[functions] object ArrayChecks {

  /** True when any of the first `n` elements of `a` is null. */
  def hasNullElement(a: ArrayData, n: Int): Boolean = {
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }
}
