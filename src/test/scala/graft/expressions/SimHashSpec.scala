package graft.expressions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.SparkSpec

/** The one-pass native simhash must agree with a direct Scala reference
  * (per-bit majority vote) on arbitrary hash arrays; the portable hash
  * and minhash kernels with their Column chains. Every case runs on both
  * eval paths. */
class SimHashSpec extends SparkSpec {
  import spark.implicits._

  private def reference(hs: Seq[Long], nBits: Int): Long = {
    val votes = Array.fill(nBits)(0L)
    hs.foreach { h =>
      (0 until nBits).foreach { j =>
        votes(j) += ((h >>> j) & 1L) * 2L - 1L
      }
    }
    (0 until nBits).map(j => if (votes(j) > 0) 1L << j else 0L).sum
  }

  test("matches the per-bit majority-vote reference (property)") {
    val hashGen = Gen.chooseNum(0L, (1L << 60) - 1)
    val arrGen = Gen.listOf(hashGen)
    val samples = Gen.listOfN(200, arrGen).sample.get
    for (nBits <- Seq(1, 32, 60)) bothEvalPaths {
      val got = samples.toDF("hs")
        .select(SimHashFromHashes.simhash(col("hs"), nBits))
        .collect().map(_.getLong(0))
      samples.zip(got).foreach { case (hs, g) =>
        assert(g == reference(hs, nBits), s"nBits=$nBits hs=$hs")
      }
    }
  }

  test("empty array votes all-negative (zero); null array is null") {
    bothEvalPaths {
      val df = Seq(Some(Seq.empty[Long]), None).toDF("hs")
        .select(SimHashFromHashes.simhash(col("hs"), 60).as("s"))
      val rows = df.collect()
      assert(rows(0).getLong(0) == 0L)
      assert(rows(1).isNullAt(0))
    }
    // out-of-range literal parameters throw when the Column is built
    val n = intercept[IllegalArgumentException](
      SimHashFromHashes.simhash(col("hs"), 61))
    assert(n.getMessage.contains("carries 60 usable bits"))
    val k = intercept[IllegalArgumentException](
      MinHashSignature.minhash_signature(col("hs"), 0))
    assert(k.getMessage.contains("k in [1,64], got 0"))
  }

  test("PortableHashArray equals the conv(md5) column chain (property)") {
    val strGen = Gen.listOf(Gen.alphaNumStr.suchThat(_.nonEmpty))
    val samples = Gen.listOfN(100, strGen).sample.get
    bothEvalPaths {
      val df = samples.toDF("toks").select(
        PortableHashArray.portable_hash_array(col("toks"), -1L >>> 4).as("fast"),
        transform(col("toks"), t => graft.ext.TextOps.hash64(t)).as("ref"))
      df.collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1))
      }
    }
  }

  test("MinHashSignature equals the per-signature column folds (property)") {
    val hashGen = Gen.chooseNum(0L, (1L << 60) - 1)
    val samples = Gen.listOfN(100, Gen.nonEmptyListOf(hashGen)).sample.get
    val k = 6
    val sig = MinHashSignature.minhash_signature(col("hs"), k)
    val refs = (0 until k).map { i =>
      array_min(transform(col("hs"), h =>
        (h.bitwiseAND(lit(MinHashSignature.Mask)) * lit(MinHashSignature.a(i))
          + lit(MinHashSignature.b(i))) % lit(MinHashSignature.P)))
        .as(s"r$i")
    }
    bothEvalPaths {
      val df = samples.toDF("hs").select(sig.as("fast") +: refs: _*)
      df.collect().foreach { r =>
        val fast = r.getSeq[Long](0)
        (0 until k).foreach(i => assert(fast(i) == r.getLong(i + 1)))
      }
    }
  }
}
