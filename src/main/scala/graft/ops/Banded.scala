package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global running aggregates and row numbers without a global sort.
  *
  * The textbook form is ONE window ordered over the whole input with no
  * partition key — WindowExec moves every row to a single partition. The
  * banded form splits it in two: rows carry a `band` column, a coarsening
  * of the leading order column (every band's values sort wholly before
  * the next band's, so equal values never straddle a band edge). Then
  *
  *   global prefix(row) = offset(band) + prefix of the row within its band
  *
  * where the offset is the EXCLUSIVE running aggregate over the band
  * census (one row per band: the only window with no partition key, sized
  * by the value domain, never by the row count), broadcast back, and the
  * in-band prefix is a window partitioned by band. Both parts are exact,
  * re-associated pieces of the single-window result.
  *
  * `keys` (optional) run ahead of the band: each key gets its own prefix,
  * and the census window is then partitioned by them too. `descending`
  * orders the bands and the leading order column high to low; tie-break
  * order columns stay ascending.
  */
object Banded {

  /** How the offset and the in-band prefix combine. */
  sealed trait Agg
  /** `off + prefix`; an empty exclusive prefix counts as zero. */
  case object Sum extends Agg
  /** `greatest(off, prefix)`; NULL only when both parts are (no
    * coalesce, so the first row's exclusive max stays NULL). */
  case object Max extends Agg

  /** `df` plus, per `value -> out` pair, the running `agg` of `value` in
    * the global order `keys`, `order` (inclusive of the current row or
    * not). The offsets are joined first and the in-band window runs over
    * the joined rows. */
  def running(df: DataFrame, order: Seq[String],
              values: Seq[(String, String)], keys: Seq[String] = Nil,
              inclusive: Boolean = false, descending: Boolean = false,
              agg: Agg = Sum): DataFrame = {
    val f: Column => Column = agg match { case Sum => sum; case Max => max }
    val bands = Seq("band")
    val off = offsets(df, keys, bands, descending,
      values.map { case (v, _) => f(col(v)) }, agg)
    val lead = if (descending) col(order.head).desc else col(order.head)
    val w = Window.partitionBy((keys ++ bands).map(col): _*)
      .orderBy(lead +: order.tail.map(col): _*)
      .rowsBetween(Window.unboundedPreceding,
        if (inclusive) Window.currentRow else -1L)
    df.join(broadcast(off), keys ++ bands)
      .select(df.columns.toSeq.map(col) ++ values.zipWithIndex.map {
        case ((v, out), i) =>
          val (o, in) = (col(s"__off$i"), f(col(v)).over(w))
          (agg match {
            case Max => greatest(o, in)
            case Sum if inclusive => o + in
            case Sum => o + coalesce(in, zero(off, s"__off$i"))
          }).as(out)
      }: _*)
  }

  /** `df` plus `as`: the 1-based global row number in `bands`, `order`
    * (row_number within the band, then the offset joined on). Several
    * `bands` columns form one lexicographic band. */
  def rowNumber(df: DataFrame, order: Seq[String], as: String,
                bands: Seq[String] = Seq("band")): DataFrame = {
    val off = offsets(df, Nil, bands, descending = false,
      Seq(count(lit(1))), Sum)
    val w = Window.partitionBy(bands.map(col): _*).orderBy(order.map(col): _*)
    df.withColumn("__rin", row_number().over(w).cast("long"))
      .join(broadcast(off), bands)
      .select(df.columns.toSeq.map(col) :+
        (col("__off0") + col("__rin")).as(as): _*)
  }

  /** The band census — one row per (keys, bands) with each `census`
    * aggregate — and `__off<i>`: the exclusive running `agg` of census
    * column i over the bands in order, within each key. */
  private def offsets(df: DataFrame, keys: Seq[String], bands: Seq[String],
                      descending: Boolean, census: Seq[Column],
                      agg: Agg): DataFrame = {
    val kb = (keys ++ bands).map(col)
    val named = census.zipWithIndex.map { case (c, i) => c.as(s"__bt$i") }
    val tot = df.groupBy(kb: _*).agg(named.head, named.tail: _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(bands.map(b => if (descending) col(b).desc else col(b).asc): _*)
      .rowsBetween(Window.unboundedPreceding, -1L)
    tot.select(kb ++ census.indices.map { i =>
      val bt = col(s"__bt$i")
      (agg match {
        case Sum => coalesce(sum(bt).over(w), zero(tot, s"__bt$i"))
        case Max => max(bt).over(w)
      }).as(s"__off$i")
    }: _*)
  }

  /** Zero of `c`'s own type (BIGINT or DECIMAL(38,0) in practice). */
  private def zero(df: DataFrame, c: String): Column =
    lit(0).cast(df.schema(c).dataType)
}
