package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import graft.SparkSpec

/** Banded is pinned once, here: every variant equals the naive single
  * global window, and the plan keeps the scale shape (the only window
  * with no partition key runs over the band census; the fine window is
  * hash-partitioned by keys + band). */
class BandedSpec extends SparkSpec {
  import spark.implicits._

  // band = v div 10: ties within a band (3,3), equal values on both sides
  // of a band edge (9,9 | 10,10), an empty band 2 between bands 1 and 3
  private val full = Seq(
      (1L, "x", 0L), (2L, "y", 3L), (3L, "x", 3L), (4L, "y", 9L),
      (5L, "x", 9L), (6L, "y", 10L), (7L, "x", 10L), (8L, "x", 15L),
      (9L, "y", 31L), (10L, "x", 35L), (11L, "y", 35L))
    .toDF("id", "k", "v")
    .withColumn("x", (col("id") * 7) % 5 + 1)
    .withColumn("xd", col("x").cast("decimal(38,0)"))
    .withColumn("band", expr("v div 10"))
  private val inputs = Seq("full" -> full, "one row" -> full.limit(1),
    "empty" -> full.limit(0))

  private def byId(df: DataFrame, cols: Seq[String]): Map[Long, Seq[Any]] =
    df.select((col("id") +: cols.map(col)): _*).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap

  test("running and rowNumber equal the naive single-window forms") {
    for ((what, df) <- inputs; agg <- Seq(Banded.Sum, Banded.Max);
         inclusive <- Seq(false, true); descending <- Seq(false, true);
         keys <- Seq(Nil, Seq("k"))) {
      val order = Seq(if (descending) col("v").desc else col("v").asc,
        col("id"))
      val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding,
          if (inclusive) Window.currentRow else -1L)
      val values = if (agg == Banded.Sum) Seq("x", "xd") else Seq("x")
      def naive(v: String): Column = agg match {
        case Banded.Max => max(v).over(w)
        case Banded.Sum if inclusive => sum(v).over(w)
        case Banded.Sum =>
          coalesce(sum(v).over(w), lit(0).cast(df.schema(v).dataType))
      }
      val outs = values.map(v => s"r_$v")
      val got = Banded.running(df, Seq("v", "id"), values.zip(outs), keys,
        inclusive = inclusive, descending = descending, agg = agg)
      val want = df.select((col("id") +: values.zip(outs).map {
        case (v, o) => naive(v).as(o) }): _*)
      assert(got.schema.map(_.dataType) ==
        df.schema.map(_.dataType) ++ want.schema.tail.map(_.dataType))
      assert(byId(got, outs) == byId(want, outs),
        s"$what agg=$agg inclusive=$inclusive desc=$descending keys=$keys")
    }
    for ((what, df) <- inputs; bands <- Seq(Seq("band"), Seq("band", "k"))) {
      val naive = row_number().over(
        Window.orderBy((bands ++ Seq("v", "id")).map(col): _*)).cast("long")
      val got = Banded.rowNumber(df, Seq("v", "id"), "rn", bands)
      assert(byId(got, Seq("rn")) ==
        byId(df.withColumn("rn", naive), Seq("rn")), s"$what bands=$bands")
    }
  }

  test("only the band census is windowed without a partition key") {
    def names(es: Seq[Expression]) = es.flatMap(_.references.map(_.name))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val forms = Seq(Nil, Seq("k")).map(keys => (keys,
        Banded.running(full, Seq("v", "id"), Seq("x" -> "rx"), keys))) :+
      (Nil, Banded.rowNumber(full, Seq("v", "id"), "rn"))
    try for ((keys, df) <- forms) {
      val plan: SparkPlan = df.queryExecution.executedPlan
      val clue = s"keys=$keys:\n$plan"
      val wins = plan.collect { case w: WindowExec => w }
      assert(wins.size == 2, clue)
      // the census window: partitioned by the keys alone (no partition
      // key at all without keys), over the per-band aggregate
      val census = wins.filter(w => names(w.partitionSpec) == keys)
      assert(census.size == 1, clue)
      assert(census.head.collectFirst { case a: HashAggregateExec =>
        names(a.groupingExpressions) }.contains(keys :+ "band"), clue)
      val unkeyed = wins.count(_.partitionSpec.isEmpty)
      assert(unkeyed == (if (keys.isEmpty) 1 else 0), clue)
      // the fine window: hash-partitioned by keys + band
      val fine = wins.filter(w => names(w.partitionSpec) == keys :+ "band")
      assert(fine.size == 1, clue)
      assert(fine.head.collectFirst { case e: ShuffleExchangeExec =>
        e.outputPartitioning }.exists {
        case h: HashPartitioning => names(h.expressions) == keys :+ "band"
        case _ => false
      }, clue)
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.size == 1,
        clue)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }
}
