package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Round-3 training-data operators: directed containment, sliding-window
  * chunking invariants, int8 quantization bounds, triangle counting. */
class TrainPrepSpec extends SparkSpec {
  import spark.implicits._

  test("containmentPairs: subset doc scores 1.0 toward superset, not back") {
    val docs = Seq(
      (1L, Seq("a", "b", "c")),           // contained in doc 2
      (2L, Seq("a", "b", "c", "d", "e")),
      (3L, Seq("x", "y", "z"))            // disjoint
    ).toDF("id", "s")
    val got = Dedup.containmentPairs(docs, "id", col("s"), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 1→2 fully contained; 2→1 only 3/5 = 0.6 (below threshold); 3 nowhere
    assert(got == Set((1L, 2L, 1.0)))
  }

  test("containmentPairs is direction-sensitive below 1.0") {
    val docs = Seq(
      (1L, Seq("a", "b")),
      (2L, Seq("a", "b", "c", "d"))
    ).toDF("id", "s")
    val got = Dedup.containmentPairs(docs, "id", col("s"), threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(got((2L, 1L)) == 0.5)
  }

  test("sliding chunks: count = ceil(n/stride), full coverage, window bound") {
    val text = (1 to 137).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = df
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(25))).as("start"))
      .select(col("start"),
        slice(col("toks"), col("start") + 1, lit(50)).as("chunk"))
      .collect()
    assert(chunks.length == 6) // ceil(137/25)
    val sizes = chunks.map(_.getSeq[String](1).size)
    assert(sizes.forall(_ <= 50))
    // strides cover every token: last chunk starts at 125, ends at 137
    assert(chunks.map(_.getInt(0)).toSeq.sorted == Seq(0, 25, 50, 75, 100, 125))
    assert(sizes.sum >= 137) // overlap means total >= n
  }

  test("int8 quantization: codes within [-127, 127], max|v| hits ±127") {
    val df = Seq((1L, Array(0.5f, -2.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = df
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q", transform(col("v"),
        x => floor(x * (lit(127.0) / col("maxabs")) + lit(0.5))))
      .head().getSeq[Long](3)
    assert(q.forall(c => c >= -127 && c <= 127))
    assert(q(1) == -127) // the max-magnitude component saturates exactly
    assert(q(3) == 0)
  }

  test("int8 quantization: reconstruction error bounded by maxabs/254") {
    // floor(x·scale + 0.5) with scale = 127/max|v| keeps every component
    // within half a quantization step: |v − q/scale| ≤ max|v|/254.
    val gen = org.scalacheck.Gen.listOfN(16,
      org.scalacheck.Gen.choose(-10.0f, 10.0f))
    val vecs = org.scalacheck.Gen.listOfN(50, gen).sample.get
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
    val df = vecs.toDF("vec_id", "embedding")
    val rows = df
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .filter(col("maxabs") > 0)
      .withColumn("q", transform(col("v"),
        x => floor(x * (lit(127.0) / col("maxabs")) + lit(0.5))))
      .select(col("v"), col("maxabs"), col("q"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](0)
      val maxabs = r.getDouble(1)
      val q = r.getSeq[Long](2)
      val scale = 127.0 / maxabs
      v.zip(q).foreach { case (x, c) =>
        assert(math.abs(x - c / scale) <= maxabs / 254.0 + 1e-9,
          s"component $x reconstructs to ${c / scale} (maxabs $maxabs)")
        assert(c >= -127 && c <= 127)
      }
    }
  }

  test("triangle count: one triangle plus a dangling edge counts 1") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val tri = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .count()
    assert(tri == 1L)
  }

  test("degenerate inputs: short docs, empty edge sets, tiny chunks") {
    // shingles3 on 0/1/2/3 tokens: empty until 3, then exactly one 3-gram
    val sh = Seq("", "a", "a b", "a b c").toDF("text")
      .select(Dedup.shingles3(split(trim(col("text")), "\\s+")).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(sh(1).isEmpty && sh(2).isEmpty)
    assert(sh(3) == Seq("a b c"))
    // containment over docs whose shingle sets are empty: no pairs, no throw
    val tiny = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(tiny, "doc_id",
      array_distinct(Dedup.shingles3(split(trim(col("text")), "\\s+"))), 0.5)
    assert(pairs.count() == 0)
    // connected components over an empty edge list: empty result, no throw
    val noEdges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(noEdges, "id_a", "id_b",
      rounds = 2).count() == 0)
    // chunking a single-token doc: one chunk of one token
    val one = Seq(Seq("tok")).toDF("toks")
      .select(explode(sequence(lit(0), size(col("toks")) - 1, lit(25)))
        .as("start"), col("toks"))
      .select(slice(col("toks"), col("start") + 1, lit(50)).as("chunk"))
      .collect()
    assert(one.length == 1 && one.head.getSeq[String](0) == Seq("tok"))
  }

  test("mixture sampling: rate-100 sources keep everything, hash is stable") {
    val df = (0L to 99L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    def kept() = df.filter(
      pmod(TextOps.hash64(concat_ws(":", col("source"),
        col("doc_id").cast("string"))), lit(100)) < lit(100))
      .count()
    assert(kept() == 100) // rate 100 keeps all
    val r50 = df.filter(
      pmod(TextOps.hash64(concat_ws(":", col("source"),
        col("doc_id").cast("string"))), lit(100)) < lit(50)).count()
    val r50again = df.filter(
      pmod(TextOps.hash64(concat_ws(":", col("source"),
        col("doc_id").cast("string"))), lit(100)) < lit(50)).count()
    assert(r50 == r50again) // deterministic, not rand()
    assert(r50 > 20 && r50 < 80) // hash actually spreads
  }
}
