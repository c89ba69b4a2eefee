package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel: the portable 60-bit md5 hash of every element of a
  * string array, in one pass.
  *
  * Value semantics are EXACTLY `conv(substring(md5(x), 1, 15), 16, 10)
  * ::long & mask` — the cross-engine hash every dedup oracle mirrors as
  * `('0x' || substr(md5(x),1,15))::UBIGINT` — but computed straight from
  * the digest bytes (first 15 hex digits = the top 60 bits of the first 8
  * bytes), skipping the hex-string materialization and base-16 reparse the
  * Column chain pays per element. The digest instance is reused via a
  * ThreadLocal — no per-row allocation. Null elements hash to null.
  */
object PortableHashArray {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** 60-bit hash of one UTF8 string: top 60 bits of the first 8 digest
    * bytes == the first 15 hex digits of md5 as an unsigned value. */
  def hashOne(s: UTF8String, mask: Long): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    val top = ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
      ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
      ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
    (top >>> 4) & mask
  }

  def hashAll(arr: ArrayData, mask: Long): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        out(i) = hashOne(arr.getUTF8String(i), mask)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point; `mask = -1L >>> 4` (60 bits) for the raw
    * portable hash, [[MinHashSignature.Mask]] for the minhash base. */
  def portable_hash_array(strings: Column, mask: Long): Column =
    Shim.kernel(this, "hashAll", ArrayType(LongType),
      Seq(ArrayType(StringType), LongType))(strings, lit(mask))
}
