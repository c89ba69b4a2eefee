package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Property-based coverage promised in SURVEY §5.3: the phone normalizer
  * never throws and always produces the documented invariant; surrogate
  * ids are stable; dedup is idempotent; union conserves rows.
  *
  * Generators produce one batch of inputs and the property is checked over
  * the whole DataFrame at once (per-case Spark jobs would be minutes).
  *
  * The native phone kernel is pinned row for row to [[Model]], the Column
  * chain of Spark built-ins it replaced. */
class PhonePropertySpec extends SparkSpec {
  import spark.implicits._

  /** The scaladoc steps of [[Phone]] as a pure Column chain: split,
    * get, substring, translate and a map-literal bit test. */
  private object Model {
    /** Digit count via the `translate` char-map. */
    def digitCount(c: Column): Column =
      length(c) - length(translate(c, "0123456789", ""))

    /** The lengths table as one map-literal column of bitmasks (bit L
      * set ⇔ NSN length L possible). */
    val NsnLengthMask: Column =
      map(Phone.NsnLengths.toSeq.flatMap { case (c, lens) =>
        Seq(lit(c), lit(lens.map(l => 1L << l).sum))
      }: _*)

    def isPossibleNumber(intl: Column): Column = {
      val beforeExt = substring_index(intl, "x", 1)
      val firstTok = substring_index(beforeExt, " ", 1)
      val cc = substring(firstTok, 2, 3)
      val ccOk = firstTok.startsWith("+") &&
        length(firstTok).between(2, 4) &&
        digitCount(cc) === length(cc) &&
        length(beforeExt) > length(firstTok)
      val nsn = digitCount(beforeExt) - length(cc)
      val mask = element_at(NsnLengthMask, cc)
      // floor(mask / 2^nsn) is exact in double for mask < 2^16, nsn ≥ 0
      val lenOk = when(mask.isNotNull,
        floor(mask.cast("double") /
          pow(lit(2.0), greatest(nsn, lit(0)).cast("double")))
          .cast("long") % 2 === 1 && nsn >= 0)
        .otherwise(nsn >= 4 && nsn + length(cc) <= 15)
      ccOk && lenOk
    }

    /** Steps 1-7, before the step-8 gate. */
    def candidate(phoneRaw: Column): Column = {
      val cleaned  = translate(phoneRaw.cast("string"), ".)(", "--")
      val extParts = split(cleaned, "x")
      val base     = get(extParts, lit(0))
      val hasExt   = size(extParts) > 1
      val ext      = coalesce(get(extParts, lit(1)), lit(""))
      val parts = split(base, "-")
      val p = (i: Int) => get(parts, lit(i))
      val us3  = concat(lit("+1 "), base)
      val us4  = concat(lit("+1 "), p(1), lit("-"), p(2), lit("-"), p(3))
      val us10 = concat(lit("+1 "),
        substring(cleaned, 1, 3), lit("-"),
        substring(cleaned, 4, 3), lit("-"),
        substring(cleaned, 7, 4))
      val fr9 = concat(lit("+33 "),
        substring(cleaned, 1, 1), lit(" "),
        substring(cleaned, 2, 2), lit(" "),
        substring(cleaned, 4, 2), lit(" "),
        substring(cleaned, 6, 2), lit(" "),
        substring(cleaned, 8, 2))
      val intl =
        when(length(cleaned) === 9, fr9)
          .when(length(cleaned) === 10 && !cleaned.startsWith("0"), us10)
          .when(size(parts) === 3, us3)
          .when(size(parts) === 4 && (p(0) === "001" || p(0) === "+1"), us4)
          .otherwise(lit(""))
      when(hasExt, concat(intl, lit("x"), ext)).otherwise(intl)
    }

    /** The candidate bound to `out`, then gated in place. */
    def normalized(df: DataFrame, in: String, out: String): DataFrame =
      df.withColumn(out, candidate(col(in)))
        .withColumn(out, when(isPossibleNumber(col(out)), col(out)))
  }

  /** Phone-shaped characters, plus letters, non-ASCII (one an Arabic-Indic
    * digit) and non-BMP (one a mathematical digit). */
  private val kernelAlphabet: Gen[String] =
    Gen.frequency(
      (12, Gen.numChar.map(_.toString)),
      (6, Gen.oneOf("-", ".", "(", ")", "x", "+", " ")),
      (2, Gen.alphaChar.map(_.toString)),
      (1, Gen.oneOf("X", "é", "中", "\u0663")),
      (1, Gen.oneOf("\uD83D\uDE00", "\uD835\uDFD7")))

  /** Free strings, and the reference formats with up to three random
    * edits (so every branch and its near misses are hit); 2% null. */
  private val kernelInput: Gen[String] = {
    val d = (n: Int) => Gen.listOfN(n, Gen.numChar).map(_.mkString)
    val free = Gen.chooseNum(0, 22).flatMap(n =>
      Gen.listOfN(n, kernelAlphabet).map(_.mkString))
    val shaped = Gen.oneOf(
      for (a <- d(3); b <- d(3); c <- d(4)) yield s"$a-$b-$c",
      for (a <- d(3); b <- d(3); c <- d(4)) yield s"($a)$b.$c",
      for (a <- d(3); b <- d(3); c <- d(4); p <- Gen.oneOf("001", "+1", "01"))
        yield s"$p-$a-$b-$c",
      d(10), d(9), d(8), d(11),
      for (a <- d(3); b <- d(3); c <- d(4); e <- d(3)) yield s"$a-$b-${c}x$e",
      for (a <- d(9); e <- d(2)) yield s"${a}x$e")
    val edited = for {
      s <- shaped
      edits <- Gen.listOfN(3, Gen.zip(Gen.chooseNum(0, 3),
        Gen.chooseNum(0, 30), kernelAlphabet))
      n <- Gen.chooseNum(0, 3)
    } yield edits.take(n).foldLeft(s) { case (acc, (op, at, c)) =>
      val i = at % (acc.length + 1)
      op match {
        case 0 => acc.patch(i, c, 0)   // insert
        case 1 => acc.patch(i, "", 1)  // delete
        case 2 => acc.patch(i, c, 1)   // replace
        case _ => acc + "x" + c        // another extension
      }
    }
    Gen.frequency((2, Gen.const(null: String)), (49, free), (49, edited))
  }

  /** `"+CC rest"`: a listed or random calling code, then mostly digits. */
  private val possibleInput: Gen[String] = for {
    cc <- Gen.frequency((3, Gen.oneOf(Phone.NsnLengths.keys.toSeq)),
      (2, Gen.chooseNum(0, 4).flatMap(n =>
        Gen.listOfN(n, kernelAlphabet).map(_.mkString))))
    rest <- Gen.chooseNum(0, 16).flatMap(n => Gen.listOfN(n,
      Gen.frequency((6, Gen.numChar.map(_.toString)), (1, kernelAlphabet))))
  } yield s"+$cc ${rest.mkString}"

  /** `inputs` as a 4-partition frame (not a local relation, so the
    * projection runs in the executed plan, not folded by the optimizer). */
  private def frame(inputs: Seq[String]): DataFrame = {
    val schema = StructType(Seq(StructField("i", IntegerType, nullable = false),
      StructField("p", StringType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      inputs.zipWithIndex.map { case (p, i) => Row(i, p) }, 4), schema)
  }

  private def usesCodegen(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])

  test("native kernel agrees with the Column chain on 20,000 inputs, both eval paths") {
    val sample = (g: Gen[String]) => Gen.listOfN(20000, g)
      .pureApply(Gen.Parameters.default, Seed(20260101L))
    val inputs = sample(kernelInput)
    val plusCc = sample(possibleInput)
    assert(inputs.count(_ == null) > 100)
    // defs: a Dataset keeps the physical plan of its first action, so
    // each eval path needs frames planned under its own settings
    def normalized = Model.normalized(Phone.normalized(frame(inputs), "p", "k"), "p", "m")
    // step 8 alone, over the model's ungated candidates and "+CC …" strings
    def possible = frame(inputs).select(Model.candidate(col("p")).as("c"))
      .unionByName(frame(plusCc).select(col("p").as("c")))
      .select(col("c"), Phone.isPossibleNumber(col("c")).as("k"),
        Model.isPossibleNumber(col("c")).as("m"))
    for (codegen <- Seq(true, false)) evalPath(codegen) {
      for ((what, df) <- Seq("normalized" -> normalized, "possible" -> possible)) {
        // compared after collect(): a filter on k <=> m would inline the
        // whole model chain into one method past the JVM's 64 KB limit
        assert(usesCodegen(df) == codegen, s"$what codegen=$codegen")
        val bad = df.collect().filterNot(r => r.getAs[Any]("k") == r.getAs[Any]("m"))
        assert(bad.isEmpty, s"$what codegen=$codegen: ${bad.length} differ, e.g. " +
          bad.take(5).mkString("; "))
      }
    }
    // the comparison reaches every branch: both regions, extensions, NULLs
    val out = normalized.select("k").collect().map(_.getString(0)).toSeq
    val reached = Map(
      "+1" -> out.count(s => s != null && s.startsWith("+1 ")),
      "+33" -> out.count(s => s != null && s.startsWith("+33 ")),
      "ext" -> out.count(s => s != null && s.contains("x")),
      "null" -> out.count(_ == null),
      "possible" -> possible.filter(col("k")).count().toInt)
    val floor = Map("+1" -> 1000, "+33" -> 300, "ext" -> 100, "null" -> 5000,
      "possible" -> 4000)
    assert(floor.forall { case (k, n) => reached(k) > n }, reached)
  }

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
