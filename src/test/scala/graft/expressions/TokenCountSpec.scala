package graft.expressions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.SparkSpec

/** The native token_count state machine must agree with the regex it
  * replaces — `[a-z]+|[A-Z]+|[0-9]|[^A-Za-z0-9\s]` — on any input, on
  * both eval paths. */
class TokenCountSpec extends SparkSpec {
  import spark.implicits._

  private val pattern = "[a-z]+|[A-Z]+|[0-9]|[^A-Za-z0-9\\s]"

  test("agrees with regexp_count on random strings (property)") {
    val charGen = Gen.frequency(
      6 -> Gen.alphaLowerChar, 3 -> Gen.alphaUpperChar,
      2 -> Gen.numChar, 3 -> Gen.const(' '),
      1 -> Gen.oneOf('\t', '\n', '\r'),
      2 -> Gen.oneOf('.', ',', '-', '#', 'é', 'ü', '中'))
    val strGen = Gen.listOf(charGen).map(_.mkString)
    val samples = Gen.listOfN(300, strGen).sample.get
    bothEvalPaths {
      val df = samples.toDF("t")
        .select(col("t"),
          TokenCount.token_count(col("t")).as("native"),
          regexp_count(col("t"), lit(pattern)).as("regex"))
      val mismatches = df.filter(col("native") =!= col("regex")).collect()
      assert(mismatches.isEmpty,
        mismatches.take(5).map(_.toString).mkString("\n"))
    }
  }

  test("edge cases: empty, null, runs, digits, astral code points") {
    bothEvalPaths {
      val df = Seq(Some(""), None, Some("abcDEF12 !"), Some("a b"),
          Some("😀x"))
        .toDF("t")
        .select(TokenCount.token_count(col("t")).as("n"),
          regexp_count(col("t"), lit(pattern)).as("r"))
      df.collect().foreach { row =>
        assert(row.isNullAt(0) == row.isNullAt(1))
        if (!row.isNullAt(0)) assert(row.getInt(0) == row.getInt(1), row.toString)
      }
      // known values: "abcDEF12 !" = abc + DEF + 1 + 2 + ! = 5
      val n = Seq("abcDEF12 !").toDF("t")
        .select(TokenCount.token_count(col("t"))).head.getInt(0)
      assert(n == 5)
    }
  }

  test("SQL registration exposes token_count") {
    graft.GraftFunctions.register(spark)
    val got = spark.sql("SELECT token_count('hello, World 42')").head.getInt(0)
    // hello + , + W + orld... regex: [a-z]+ 'hello' | ',' | 'W' | 'orld' | 4 | 2
    assert(got == 6)
    // a non-string input is implicitly cast ("42" = two digit tokens);
    // an array cannot be, and fails analysis
    assert(spark.sql("SELECT token_count(42)").head().getInt(0) == 2)
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT token_count(array('a'))"))
  }
}
