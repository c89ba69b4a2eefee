package graft.expressions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.SparkSpec

/** sorted_intersect_size must agree with size(array_intersect) on sorted
  * inputs, including duplicates (set semantics) and empties, on both
  * eval paths. */
class SortedIntersectSpec extends SparkSpec {
  import spark.implicits._

  test("matches size(array_intersect) on random sorted arrays (property)") {
    val arrGen = Gen.listOf(Gen.chooseNum(0L, 40L)).map(_.sorted)
    val cases = Gen.listOfN(300, Gen.zip(arrGen, arrGen)).sample.get
    bothEvalPaths {
      val df = cases.toDF("a", "b")
        .select(
          SortedIntersectSize.sorted_intersect_size(col("a"), col("b")).as("m"),
          size(array_intersect(col("a"), col("b"))).as("ref"))
      df.collect().foreach { r =>
        assert(r.getInt(0) == math.max(r.getInt(1), 0),
          s"merge=${r.getInt(0)} ref=${r.getInt(1)}")
      }
    }
  }

  test("null array yields null; null elements are skipped") {
    bothEvalPaths {
      val df = Seq(
        (Some(Seq(1L, 2L, 3L)), None: Option[Seq[Long]]),
        (Some(Seq(1L, 2L)), Some(Seq(2L, 3L)))).toDF("a", "b")
        .select(SortedIntersectSize.sorted_intersect_size(col("a"), col("b")).as("m"))
      val rows = df.collect()
      assert(rows(0).isNullAt(0))
      assert(rows(1).getInt(0) == 1)
    }
  }
}
