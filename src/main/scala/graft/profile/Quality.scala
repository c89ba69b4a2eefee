package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling operators.
  *
  * Re-expresses the reference's profiling surface
  * (`/root/reference/data_analysis.py:5-94`) as single-pass Spark
  * aggregations:
  *   - per-column null counts (`data_analysis.py:14,19,24`)
  *   - distinct values (`data_analysis.py:47,58,81`)
  *   - duplicate audits under pandas `keep=False` / `keep='first'`
  *     semantics (`data_analysis.py:56-79`)
  *   - the cross-file "common people" probe loop
  *     (`data_analysis.py:86-94`), which is semantically a left-semi join.
  *
  * Scale notes: every operator here is scan → partial agg → final agg with
  * at most one shuffle on the audit keys; none collects to the driver. The
  * null-count scan aggregates all columns in ONE pass (vs the reference's
  * one pass per column family). Duplicate audits shuffle on the key subset
  * — at 100 TB a skewed key set is handled by AQE skew handling since the
  * grouping is a plain hash aggregate with map-side partial aggregation.
  */
object Quality {

  /** A1: one row, one column per input column, value = count of NULLs.
    * Single scan, map-side partial aggregation, no shuffle of raw rows. */
  def nullCounts(df: DataFrame): DataFrame = {
    val aggs = df.columns.toIndexedSeq.map(c => count(when(col(c).isNull, 1)).as(c))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** A2: distinct values of one column (hash aggregate). */
  def distinctValues(df: DataFrame, c: String): DataFrame =
    df.select(c).distinct()

  /** A5: pandas `duplicated(subset=keys, keep=False)` marks EVERY member of
    * a group with >1 rows; this returns that marked-row count as one row.
    * = SUM(cnt) over groups with cnt > 1. */
  def duplicateRowsKeepFalse(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1)
      .agg(coalesce(sum("count"), lit(0L)).as("dup_rows"))

  /** A6: pandas `duplicated(subset=keys)` (keep='first') marks all-but-first
    * of each group. = SUM(cnt - 1) over groups. */
  def duplicateRowsKeepFirst(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).count()
      .agg(coalesce(sum(col("count") - 1), lit(0L)).as("dup_rows"))

  /** Uniqueness audit used by the reference's `is_unique`
    * (`data_analysis.py:34-41`): (verdict, marked-row count). */
  def uniquenessAudit(df: DataFrame, keys: Seq[String]): (Boolean, Long) = {
    val n = duplicateRowsKeepFalse(df, keys).head().getLong(0)
    (n == 0, n)
  }

  /** J1/A7: the reference's O(n·m) probe loop (`data_analysis.py:86-94`)
    * counts left rows with at least one right match on `keys` — exactly a
    * LEFT SEMI join. Broadcast the right side when it is a small dim. */
  def semiJoinCount(left: DataFrame, right: DataFrame, keys: Seq[String],
                    broadcastRight: Boolean = false): DataFrame = {
    val r = if (broadcastRight) broadcast(right) else right
    left.join(r, keys, "left_semi").agg(count(lit(1)).as("n_matched"))
  }

  /** Generic table profile: one output row per column with null count,
    * distinct cardinality, and min/max (string-rendered for type
    * uniformity). The reference's whole `data_analysis.py` generalized to
    * any table, in ONE pass over the data (single wide aggregate — no
    * per-column scans). */
  def profileTable(df: DataFrame): DataFrame = {
    val aggs = df.columns.toIndexedSeq.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"__n_$c"),
        countDistinct(col(c)).as(s"__d_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val perCol = df.columns.toIndexedSeq.map { c =>
      struct(lit(c).as("column"), col(s"__n_$c").as("nulls"),
        col(s"__d_$c").as("n_distinct"), col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"))
    }
    wide.select(explode(array(perCol: _*)).as("p")).select("p.*")
  }
}
