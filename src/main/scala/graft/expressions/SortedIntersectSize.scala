package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** Native kernel: set-intersection size over two SORTED long arrays —
  * one merge pass, no per-row hash-set construction. `array_intersect`
  * builds an OpenHashSet per evaluation — on a verification join running
  * millions of pairs of ~2k-element signature sets, the merge is the
  * right algorithm (the arrays are produced sorted once upstream).
  * Duplicate values are counted once (set semantics, matching
  * `array_intersect`); null elements are skipped; a null array yields
  * null.
  */
object SortedIntersectSize {

  /** Merge-count of common distinct values in two ascending arrays. */
  def merge(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    var havePrev = false; var prev = 0L
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val va = a.getLong(i); val vb = b.getLong(j)
        if (va < vb) i += 1
        else if (va > vb) j += 1
        else {
          if (!havePrev || va != prev) { n += 1; prev = va; havePrev = true }
          i += 1; j += 1
        }
      }
    }
    n
  }

  /** Column-API entry point — both arrays MUST be sorted ascending
    * (e.g. via sort_array). */
  def sorted_intersect_size(a: Column, b: Column): Column =
    Shim.kernel(this, "merge", IntegerType,
      Seq(ArrayType(LongType), ArrayType(LongType)))(a, b)
}
