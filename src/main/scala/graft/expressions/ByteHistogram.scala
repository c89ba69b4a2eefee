package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** Native kernel: histogram of byte values of a binary column into `bins`
  * equal-width buckets (bucket = (b & 0xFF) / (256/bins)).
  *
  * This is the feature-extraction kernel of the multimodal column surface
  * (SURVEY.md §2.11 X3): decode/featurize steps over opaque media bytes run
  * per-row inside whole-stage codegen — one tight primitive loop, no UDF
  * boxing, no Row allocation. The true media decoders (image/audio) are
  * deliberately stubbed behind [[graft.ext.Multimodal]] (no codec
  * libraries ship offline); this kernel is the real Spark-side plumbing
  * they plug into.
  */
object ByteHistogram {

  def histogram(bytes: Array[Byte], bins: Int): ArrayData = {
    val width = 256 / bins
    val counts = new Array[Long](bins)
    var i = 0
    while (i < bytes.length) {
      counts((bytes(i) & 0xFF) / width) += 1
      i += 1
    }
    new GenericArrayData(counts)
  }

  /** Column-API entry point. */
  def byte_histogram(c: Column, bins: Int = 16): Column = {
    require(bins > 0 && 256 % bins == 0, s"bins must divide 256, got $bins")
    Shim.kernel(this, "histogram", ArrayType(LongType, containsNull = false),
      Seq(BinaryType, IntegerType))(c, lit(bins))
  }
}
