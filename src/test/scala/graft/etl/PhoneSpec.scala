package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.SparkSpec

/** Branch-exhaustive table for Phone.normalized against ground truth derived
  * from the reference algorithm (/root/reference/insert.py:28-67; see
  * FIXTURES.md A4). Every construction branch, every override ordering, and
  * the validity reduction are pinned. */
class PhoneSpec extends SparkSpec {

  // (input, expected) — expected null means "not a possible number".
  val cases: Seq[(String, String)] = Seq(
    // 3-part split → +1 (insert.py:43-45)
    "555-123-4567" -> "+1 555-123-4567",
    // punctuation cleanup (insert.py:34-35)
    "(555)123.4567" -> "+1 555-123-4567",
    // 4-part with 001 / +1 prefix (insert.py:46-47)
    "001-555-123-4567" -> "+1 555-123-4567",
    "+1-555-123-4567" -> "+1 555-123-4567",
    // raw 10-digit (insert.py:49-50)
    "5551234567" -> "+1 555-123-4567",
    // 9-digit French grouping (insert.py:52-54)
    "123456789" -> "+33 1 23 45 67 89",
    // leading 0 → falls through every branch → ""
    "0551234567" -> null,
    "0123456789" -> null,
    // extension split + re-attach (insert.py:37-38,57-58)
    "555-123-4567x890" -> "+1 555-123-4567x890",
    // the len-10-INCLUDING-extension subtlety (insert.py:49 measures the
    // whole cleaned string): "123-456x78" is length 10 → US format applied
    // to raw chars incl 'x' → fails validity
    "123-456x78" -> null,
    // 3 short parts construct "+1 12-34-56" → 6 NSN digits → impossible
    "12-34-56" -> null,
    "+1-12-34-56" -> null,
    // 9 chars INCLUDING separators hits the FR branch on raw chars
    "001-1-2-3" -> null,
    // space survives cleaning; digits still count (reference keeps it too)
    "555.123.4567 x890" -> "+1 555-123-4567 x890",
    // extension-only / multi-x inputs construct "x..." → not international
    "9876543210x1" -> null,
    "12x34x56" -> null,
    "123456789x7" -> null,
    "123x" -> null,
    // 8 digits: no branch matches
    "98765432" -> null,
    "" -> null,
    "garbage" -> null,
    // null input (reference stringifies NaN → "nan" → None; same result)
    (null: String) -> null
  )

  /** The branch table's inputs, in order, plus a row index. */
  def branchInputs = {
    val schema = StructType(Seq(StructField("i", IntegerType, nullable = false),
      StructField("phone", StringType, nullable = true)))
    val rows = cases.zipWithIndex.map { case ((in, _), i) => Row(i, in) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("phone normalization matches the reference branch table") {
    // into a new column and in place; column order kept either way
    val into = Phone.normalized(branchInputs, "phone", "intl")
    assert(into.columns.toSeq == Seq("i", "phone", "intl"))
    val inPlace = Phone.normalized(branchInputs, "phone", "phone")
    assert(inPlace.columns.toSeq == Seq("i", "phone"))
    for (got <- Seq(into.select("intl"), inPlace.select("phone"))) {
      val out = got.collect().map(_.getString(0))
      cases.zip(out).foreach { case ((in, want), g) =>
        assert(g == want, s"input=$in got=$g want=$want")
      }
    }
  }

  test("output invariant: null or international with 11 pre-extension digits") {
    val schema = StructType(Seq(StructField("phone", StringType, nullable = true)))
    // pseudo-random garbage inputs; deterministic seed
    val rng = new scala.util.Random(42)
    val alphabet = "0123456789-.()x+ abz"
    val inputs = Seq.fill(300)(
      (0 until rng.nextInt(16)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(inputs.map(Row(_)), 2), schema)
    val got = Phone.normalized(df, "phone", "phone").collect()
      .map(_.getString(0))
    got.filter(_ != null).foreach { s =>
      assert(s.startsWith("+1 ") || s.startsWith("+33 "), s)
      assert(s.split("x")(0).count(_.isDigit) == 11, s)
    }
  }

  test("is_possible_number validates NSN lengths beyond +1/+33") {
    val cases = Seq(
      // UK: possible NSN lengths {7, 9, 10}
      "+44 20 7946 0958" -> true,   // 10 (London)
      "+44 7946 09581"   -> true,   // 9
      "+44 1234567"      -> true,   // 7
      "+44 12345678"     -> false,  // 8 is not a UK length
      // DE: variable-length plan 6..11
      "+49 30 123456"    -> true,   // 8
      "+49 151 23456789" -> true,   // 11
      "+49 12345"        -> false,  // 5 < minimum
      // known fixed-length plans
      "+33 1 23 45 67 89" -> true,
      "+33 1 23 45 67"    -> false,
      "+1 555-013-4567"   -> true,
      "+1 555-0134"       -> false,
      // unlisted calling code: ITU E.164 envelope (NSN>=4, CC+NSN<=15)
      "+358 9 123456"     -> true,
      "+358 123"          -> false,
      // not an international string at all
      "5550134567"        -> false,
      "" -> false)
    import spark.implicits._
    val df = cases.map(_._1).toDF("s")
    val got = df.select(Phone.isPossibleNumber(col("s"))).collect()
      .map(_.getBoolean(0))
    cases.zip(got).foreach { case ((in, want), g) =>
      assert(g == want, s"input=$in got=$g want=$want")
    }
  }
}
