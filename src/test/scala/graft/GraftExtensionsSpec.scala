package graft

import org.apache.spark.sql.functions._

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("byte_histogram is callable from SQL after registration") {
    GraftFunctions.register(spark)
    Seq("abc").toDF("t").createOrReplaceTempView("ext_t")
    val r = spark.sql(
      "SELECT byte_histogram(encode(t, 'UTF-8'), 16) AS h FROM ext_t")
      .head().getSeq[Long](0)
    assert(r.sum == 3 && r(6) == 3)
    val r2 = spark.sql(
      "SELECT byte_histogram(encode(t, 'UTF-8')) AS h FROM ext_t")
      .head().getSeq[Long](0)
    assert(r2.sum == 3)
    // bins out of range throws the entry point's message; a type Spark
    // cannot implicitly cast to BINARY fails analysis
    val bad = intercept[Exception](spark.sql(
      "SELECT byte_histogram(encode(t, 'UTF-8'), 7) AS h FROM ext_t"))
    assert(Iterator.iterate[Throwable](bad)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage)
        .contains("bins must divide 256, got 7")), bad)
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT byte_histogram(array(1)) AS h FROM ext_t"))
  }

  test("ngrams generator: lazy UDTF from SQL and the Column API") {
    GraftFunctions.register(spark)
    Seq(("a", "the quick brown fox"), ("b", "hi")).toDF("id", "t")
      .createOrReplaceTempView("ext_ng")
    val rows = spark.sql(
      "SELECT id, pos, ngram FROM ext_ng LATERAL VIEW ngrams(t, 2) AS pos, ngram ORDER BY id, pos")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      ("a", 0, "the quick"), ("a", 1, "quick brown"), ("a", 2, "brown fox")))
    // doc shorter than n yields no rows, not an error; trigram via Column API
    val tri = Seq("one two three four").toDF("t")
      .select(graft.expressions.NGramsGenerator.ngrams(col("t"), 3)
        .as(Seq("pos", "ngram")))
      .collect().map(_.getString(1))
    assert(tri.toSeq == Seq("one two three", "two three four"))
  }

  test("observe(): pipeline metrics piggyback on the action, no second pass") {
    // The Observation API is how a production pipeline collects row/null/
    // sum counters WITHOUT a second scan: metrics are aggregated by the
    // same job that runs the action. Contract pinned here: the observed
    // values equal a separate aggregation's, and they arrive after one
    // action only.
    import org.apache.spark.sql.Observation
    import spark.implicits._
    val df = (1L to 100L).toDF("v")
      .withColumn("grp", col("v") % 3)
    val obs = Observation("audit")
    val observed = df.observe(obs,
      count(lit(1)).as("n"),
      sum(col("v")).as("total"),
      sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_g0"))
    observed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("n") == 100L)
    assert(m("total") == 5050L)
    assert(m("n_g0") == 33L)
  }
}
