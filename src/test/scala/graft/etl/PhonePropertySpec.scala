package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import graft.SparkSpec

/** Property-based coverage promised in SURVEY §5.3: the phone normalizer
  * never throws and always produces the documented invariant; surrogate
  * ids are stable; dedup is idempotent; union conserves rows.
  *
  * Generators produce one batch of inputs and the property is checked over
  * the whole DataFrame at once (per-case Spark jobs would be minutes). */
class PhonePropertySpec extends SparkSpec {
  import spark.implicits._

  private val phoneAlphabet: Gen[Char] =
    Gen.frequency(
      (10, Gen.numChar),
      (4, Gen.oneOf('-', '.', '(', ')', 'x', '+', ' ')),
      (1, Gen.alphaChar))

  private val phoneGen: Gen[String] =
    Gen.chooseNum(0, 20).flatMap(n => Gen.stringOfN(n, phoneAlphabet))

  test("phone normalizer: total function with the international invariant") {
    val inputs = Gen.listOfN(500, phoneGen).sample.get
    val schema = StructType(Seq(StructField("p", StringType, nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(inputs.map(Row(_)), 4), schema)
    // never throws:
    val out = Phone.normalized(df, "p", "n").collect()
    out.foreach { r =>
      Option(r.getString(1)).foreach { s =>
        assert(s.startsWith("+1 ") || s.startsWith("+33 "),
          s"input=${r.getString(0)} out=$s")
        assert(s.split("x")(0).count(_.isDigit) == 11,
          s"input=${r.getString(0)} out=$s")
      }
    }
  }

  test("surrogate ids: permutation-sensitive, re-run stable, 64 hex chars") {
    val keys = Gen.listOfN(200,
      Gen.zip(Gen.alphaStr, Gen.option(Gen.alphaNumStr))).sample.get
    val df = keys.toDF("a", "b")
    val once = df.select(Identity.surrogateId(col("a"), col("b")).as("id"))
      .collect().map(_.getString(0))
    val twice = df.select(Identity.surrogateId(col("a"), col("b")).as("id"))
      .collect().map(_.getString(0))
    assert(once.sameElements(twice))
    once.foreach(id => assert(id.length == 64 && id.forall("0123456789abcdef".contains(_))))
    // swapped argument order must not collide (sentinel separator works)
    val swapped = df.select(Identity.surrogateId(col("b"), col("a")).as("id"))
      .collect().map(_.getString(0))
    keys.indices.filter(i => keys(i)._2.exists(_ != keys(i)._1)).foreach { i =>
      assert(once(i) != swapped(i), s"collision at $i: ${keys(i)}")
    }
  }

  test("dedupFirst is idempotent and union conserves row counts") {
    val rows = Gen.listOfN(300,
      Gen.zip(Gen.chooseNum(0, 20), Gen.chooseNum(0, 1000))).sample.get
    val df = rows.toDF("k", "v")
    val d1 = Identity.dedupFirst(df, Seq("k"), Seq(col("v")))
    val d2 = Identity.dedupFirst(d1, Seq("k"), Seq(col("v")))
    assert(d1.collect().toSet == d2.collect().toSet)
    assert(df.unionByName(df).count() == 2 * df.count())
  }
}
