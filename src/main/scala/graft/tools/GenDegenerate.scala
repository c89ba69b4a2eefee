package graft.tools

import org.apache.spark.sql.SparkSession

/** Degenerate-input fixtures (the r13 verdict's missing evidence class):
  * production partitions are sometimes EMPTY (a tenant with no data yet,
  * a date range before go-live) or nearly so, and six data points of
  * well-formed fixtures cannot witness the classic failure modes there —
  * `.head()` on an empty aggregate, argmax-of-nothing, division by a
  * zero count, a `require(nonEmpty)` inside a shared-stage builder.
  *
  *  - `empty` mode writes every harness table with the base fixture's
  *    exact schema and ZERO rows (`limit 0` — the scan still plans,
  *    prunes and codegens; only the data is absent).
  *  - `one` mode writes exactly ONE row per table, the primary-key
  *    minimum (`orderBy(pk).limit(1)` — deterministic, so the DuckDB
  *    oracle sees the identical byte content). Referential integrity is
  *    NOT arranged: the lineitem row's order key need not match the one
  *    orders row, exactly like a sliver partition in production — joins
  *    legitimately go empty and every operator must still return a
  *    well-defined result.
  *
  * Dev/stress tool like [[GenScale]]: the driver's correctness gates
  * stay pinned to the read-only /root/testdata fixtures.
  *
  * Usage: runMain graft.tools.GenDegenerate <baseDir> <outDir> <empty|one>
  */
object GenDegenerate {

  /** (table, primary-key column) — the deterministic `one`-mode pick. */
  val tables: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  def main(args: Array[String]): Unit = {
    val Array(base, out, mode) = args
    require(mode == "empty" || mode == "one",
      s"[gendegenerate] mode must be empty|one, got: $mode")
    val spark = graft.Session("graft-gendegenerate")
    try generate(spark, base, out, mode) finally spark.stop()
  }

  def generate(spark: SparkSession, base: String, out: String,
               mode: String): Unit =
    tables.foreach { case (t, pk) =>
      val df = spark.read.parquet(s"$base/$t.parquet")
      // total order: the pk alone is not unique for lineitem (l_orderkey
      // repeats per line), so tie-break by every remaining column — two
      // regenerations must emit byte-identical fixtures
      val order = (pk +: df.columns.filterNot(_ == pk).toSeq)
        .map(org.apache.spark.sql.functions.col)
      val slice =
        if (mode == "empty") df.limit(0)
        else df.orderBy(order: _*).limit(1)
      // one part file per table: both engines read a deterministic layout
      slice.coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[gendegenerate] wrote $t ($mode)")
    }
}
