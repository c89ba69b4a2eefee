package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** Native kernel: all `k` min-hashes of a base-hash array in ONE pass —
  * the Column formulation (`array_min(transform(...))` per signature)
  * re-traverses the array once per hash function.
  *
  * The affine family is the fixed portable one the DuckDB oracles mirror:
  * `min_i(((h & Mask) * a(i) + b(i)) mod P)`. Inputs are the full 60-bit
  * portable hashes ([[PortableHashArray]]); the 30-bit mask is applied
  * HERE, so one shared hash array serves both minhashing and
  * low-collision set verification, and every product stays far below 2^63
  * (no overflow on any engine). An empty or null input yields null
  * (matching `array_min(empty) = null` per signature in the Column form).
  */
object MinHashSignature {

  /** 30-bit base-hash mask: keeps every affine product < 2^63 with room. */
  val Mask: Long = (1L << 30) - 1
  /** Prime just above 2^30. */
  val P: Long = 1073741827L
  def a(i: Int): Long = 2L * i + 104723L
  def b(i: Int): Long = 15485863L * (i + 1)

  /** One pass over the hashes, all k mins tracked simultaneously.
    * Null elements are skipped; no surviving element → null (parity with
    * array_min over an empty array). */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val h = arr.getLong(i) & Mask
        var j = 0
        while (j < k) {
          val m = (h * a(j) + b(j)) % P
          if (m < mins(j)) mins(j) = m
          j += 1
        }
      }
      i += 1
    }
    if (any) new GenericArrayData(mins) else null
  }

  /** Column-API entry point. */
  def minhash_signature(hashes: Column, k: Int): Column = {
    require(k >= 1 && k <= 64, s"k in [1,64], got $k")
    Shim.kernel(this, "compute", ArrayType(LongType, containsNull = false),
      Seq(ArrayType(LongType), IntegerType), returnNullable = true)(
      hashes, lit(k))
  }
}
