package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.io.Tables
import graft.ext.TextOps

/** Warehouse / ML-prep operator pack: slowly-changing-dimension history,
  * MERGE-style upsert, deterministic stratified sampling, per-group feature
  * scaling, and quantile bucketing — the table-maintenance and
  * feature-engineering layer a training-data platform runs between raw
  * ingestion and the text/dedup passes.
  *
  * Scale notes: every operator here is a window or join over its natural
  * key — partition-parallel, no driver state. SCD2 and scaling windows
  * shuffle once on the partition key; the merge is one full-outer
  * equi-join (broadcastable when the delta side is small, which is the
  * common production case).
  */
object Warehouse {

  /** DuckDB fragment: the portable 60-bit md5 hash (mirrors TextOps.hash64). */
  private def duckHash(e: String) =
    s"CAST(('0x' || substr(md5($e), 1, 15))::UBIGINT AS BIGINT)"

  /** Inverse-CDF thresholds of the two-sided geometric distribution with
    * α = 1/2 (the ε = ln 2 discrete-Laplace mechanism), on a 2^20 uniform
    * grid: t_j = floor(2^20 · CDF(j)) for j = -16..15, exact BigInt
    * rationals (CDF(j) = 2^(j+1)/3 for j ≤ -1, 1 - 2^(-j)/3 for j ≥ 0).
    * A draw u ∈ [0, 2^20) inverts to k = #{t ≤ u} - 16, clipping |k| > 16
    * to the extremes. Shared verbatim by the Spark plan and the oracle. */
  private val DpThresholds: Seq[Long] =
    ((-16 to -1).map(j => (BigInt(1) << (21 + j)) / 3) ++
      (0 to 15).map(j => ((BigInt(1) << 20) * (BigInt(3) * (BigInt(1) << j)
        - 1)) / (BigInt(3) << j))).map(_.toLong)

  /** Two-sample Kolmogorov-Smirnov over `obs` (g: Boolean split flag,
    * v: value): D_max between the two ECDFs + the alpha=0.05 verdict.
    * One keyed agg collapses to the distinct-value table; the ECDFs are
    * cumulative window sums over that reduced table. Exposed for the
    * known-distribution spec. */
  private[graft] def ksTest(obs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val counts = obs
      .groupBy("v")
      .agg(sum(when(col("g"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("g"), 1L).otherwise(0L)).as("nb"))
    val tot = counts.agg(sum("na").as("ta"), sum("nb").as("tb"),
      count(lit(1)).as("n_values"))
    // r16 (guide §2 — the r15 shape ran BOTH cumulative ECDF sums
    // through one UNPARTITIONED window over the distinct-value table;
    // for a value domain like prices that table is huge and WindowExec
    // moves all of it to a single partition): the ops.Banded two-level
    // prefix sum instead — cum(v) = off(band(v)) + cum_within_band(v).
    // The only unpartitioned window left runs over the BAND table
    // (domain / 1024, never |distinct values|); the per-value ca/cb are
    // the identical exact
    // long sums, merely re-associated, so every gap — and the max —
    // is bit-identical. NULL v (impossible for the current consumers,
    // kept total anyway) sorts first under Spark's ASC ordering, so it
    // maps to the minimal band.
    val band = coalesce(
      expr("CAST(floor(v / 1024.0) AS BIGINT)"), lit(Long.MinValue))
    // global agg (not groupBy on tot's columns) so an EMPTY input still
    // yields the oracle's one NULL row; safeDiv so a one-sided split
    // (tb=0) is SQL-NULL, not an ANSI error
    val ks = graft.ops.Banded.running(counts.withColumn("band", band),
        Seq("v"), Seq("na" -> "ca", "nb" -> "cb"), inclusive = true)
      .select(col("ca"), col("cb"))
      .crossJoin(broadcast(tot))
      .select(abs(
        Analytic.safeDiv(col("ca").cast("double"), col("ta").cast("double")) -
        Analytic.safeDiv(col("cb").cast("double"), col("tb").cast("double")))
        .as("gap"))
      .agg(max("gap").as("ks_stat"))
    ks.crossJoin(broadcast(tot))
      .select(col("ta").as("n_a"), col("tb").as("n_b"),
        col("n_values"), col("ks_stat"),
        (lit(1.36) * sqrt(Analytic.safeDiv(lit(1.0), col("ta").cast("double")) +
          Analytic.safeDiv(lit(1.0), col("tb").cast("double"))))
          .as("ks_critical_05"))
      .withColumn("reject_same_dist",
        col("ks_stat") > col("ks_critical_05"))
  }

  val registry: Map[String, QuerySpec] = Map(

    // SCD2 dimension history: each customer's order-status timeline is
    // collapsed into versioned validity ranges [valid_from, valid_to) —
    // consecutive orders with an unchanged status extend the current
    // version instead of opening a new one. lag() detects change points,
    // lead() closes each version with the next one's start; the open
    // version gets the sentinel high date. One shuffle on the dimension
    // key; ties broken by o_orderkey so both engines pick identical rows.
    "scd2_order_status_history" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
        val changes = Tables.orders(s, d)
          .filter(col("o_custkey") < 1000)
          .select(col("o_custkey"), col("o_orderstatus"),
            col("o_orderdate"), col("o_orderkey"))
          .withColumn("prev", lag("o_orderstatus", 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
        changes
          .withColumn("version", row_number().over(w))
          .withColumn("valid_from", date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .withColumn("valid_to",
            coalesce(date_format(lead("o_orderdate", 1).over(w), "yyyy-MM-dd"),
              lit("9999-12-31")))
          .select("o_custkey", "version", "o_orderstatus", "valid_from", "valid_to")
          .orderBy("o_custkey", "version")
      },
      """WITH ch AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |         lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders WHERE o_custkey < 1000),
        |v AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
        |  FROM ch WHERE prev IS NULL OR prev <> o_orderstatus)
        |SELECT o_custkey,
        |       CAST(row_number() OVER w AS INT) AS version,
        |       o_orderstatus,
        |       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |       COALESCE(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'),
        |                '9999-12-31') AS valid_to
        |FROM v WINDOW w AS (PARTITION BY o_custkey
        |                    ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, version""".stripMargin),

    // Time travel over the SCD2 change stream: reconstruct every
    // customer's order-status state AS OF three historical snapshot
    // dates — the "what did the table say on date T" query a warehouse
    // answers from exactly this versioned history (Delta/Iceberg
    // time-travel semantics, expressed on the engine's own SCD2 rows).
    // Per (snapshot, customer) the current version is the LATEST change
    // at or before the snapshot, picked by a WINDOW-FREE struct-max
    // (lexicographic (date, orderkey) — the same total order the SCD2
    // versioning sorts by), plus the exact count of versions to date.
    // Scale shape: the change stream is computed once (one keyed window
    // over the per-customer slice), the 3-snapshot explode multiplies
    // rows by a constant, and the reconstruction is ONE map-side-
    // combined keyed agg — no per-snapshot re-scan, no self-join.
    "warehouse_snapshot_asof" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
        val changes = Tables.orders(s, d)
          .filter(col("o_custkey") < 1000)
          .select(col("o_custkey"), col("o_orderstatus"),
            col("o_orderdate"), col("o_orderkey"))
          .withColumn("prev", lag("o_orderstatus", 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
        changes
          .withColumn("snapshot_date", explode(array(
            lit("1996-06-30"), lit("1998-06-30"), lit("2000-06-30"))))
          .filter(col("o_orderdate") <= to_timestamp(col("snapshot_date")))
          .groupBy("snapshot_date", "o_custkey")
          .agg(max(struct(col("o_orderdate"), col("o_orderkey"),
              col("o_orderstatus"))).as("m"),
            count(lit(1)).as("n_versions"))
          .select(col("snapshot_date"), col("o_custkey"),
            col("m.o_orderstatus").as("status"), col("n_versions"))
          .orderBy("snapshot_date", "o_custkey")
      },
      """WITH ch AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |         lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders WHERE o_custkey < 1000),
        |v AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
        |  FROM ch WHERE prev IS NULL OR prev <> o_orderstatus),
        |f AS (
        |  SELECT a.snapshot_date, v.*
        |  FROM v, (SELECT unnest(['1996-06-30', '1998-06-30',
        |                          '2000-06-30']) AS snapshot_date) a
        |  WHERE v.o_orderdate <= CAST(a.snapshot_date AS TIMESTAMP)),
        |r AS (
        |  SELECT snapshot_date, o_custkey, o_orderstatus,
        |         row_number() OVER (PARTITION BY snapshot_date, o_custkey
        |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
        |         COUNT(*) OVER (PARTITION BY snapshot_date, o_custkey)
        |           AS n_versions
        |  FROM f)
        |SELECT snapshot_date, o_custkey, o_orderstatus AS status,
        |       CAST(n_versions AS BIGINT) AS n_versions
        |FROM r WHERE rn = 1 ORDER BY snapshot_date, o_custkey""".stripMargin),

    // Week-over-week growth: weekly revenue with WoW percentage change
    // and a 4-week trailing total — the top-line growth dashboard. The
    // weekly rollup is exact decimal; the growth windows (lag-1, 4-row
    // trailing frame) run over the WEEKLY table, whose cardinality is
    // the calendar, not the data — the canonical case where an
    // unpartitioned window is scale-correct by construction. First week
    // reports NULL growth (no prior), matched exactly by the oracle.
    "warehouse_wow_growth" -> QuerySpec(
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window.orderBy("week")
        Tables.orders(s, d)
          .groupBy(expr("unix_micros(to_utc_timestamp(o_orderdate," +
            " 'UTC')) div 604800000000").as("week"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(25,6)")).as("rev"))
          .withColumn("prev", lag("rev", 1).over(W))
          .withColumn("wow_pct",
            ((col("rev") - col("prev")).cast("double") /
              col("prev").cast("double")))
          .withColumn("rev4w",
            sum("rev").over(W.rowsBetween(-3, 0)).cast("double"))
          .select(col("week"), col("n_orders"),
            col("rev").cast("double").as("revenue"), col("wow_pct"),
            col("rev4w"))
          .orderBy("week")
      },
      """WITH w AS (
        |  SELECT epoch_us(o_orderdate) // 604800000000 AS week,
        |         CAST(COUNT(*) AS BIGINT) AS n_orders,
        |         SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT week, n_orders, CAST(rev AS DOUBLE) AS revenue,
        |       CAST(rev - lag(rev) OVER (ORDER BY week) AS DOUBLE) /
        |         CAST(lag(rev) OVER (ORDER BY week) AS DOUBLE) AS wow_pct,
        |       CAST(SUM(rev) OVER (ORDER BY week
        |         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS rev4w
        |FROM w ORDER BY week""".stripMargin),

    // Aggregate-rewrite consistency proof: answer the MONTHLY revenue
    // question twice — once directly from the fact table, once from the
    // DAILY pre-aggregate (the materialized-view rewrite every
    // summary-table architecture performs) — and emit both with an
    // exact-equality verdict per month. Because the daily rollup keeps
    // EXACT decimal partial sums (count + DECIMAL(25,6) revenue — the
    // same mergeable-state discipline as incremental_agg_maintenance),
    // the rewrite is provably lossless: re-aggregating partials equals
    // the direct answer bit-for-bit, which is precisely the property
    // that licenses answering from summaries at all. Two keyed aggs +
    // one join on month; the verdict column must read all-true.
    "warehouse_rollup_answering" -> QuerySpec(
      (s, d) => {
        val month = expr("year(o_orderdate) * 100 + month(o_orderdate)")
        val day = to_date(col("o_orderdate"))
        val daily = Tables.orders(s, d)
          .groupBy(month.as("month"), day.as("day"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(25,6)")).as("rev"))
        val fromRollup = daily.groupBy("month")
          .agg(sum("n").as("n_rollup"),
            sum("rev").cast("double").as("rev_rollup"))
        val direct = Tables.orders(s, d)
          .groupBy(month.as("month"))
          .agg(count(lit(1)).as("n_direct"),
            sum(col("o_totalprice").cast("decimal(25,6)"))
              .cast("double").as("rev_direct"))
        direct.join(fromRollup, "month")
          .select(col("month").cast("long").as("month"),
            col("n_direct"), col("n_rollup"),
            col("rev_direct"), col("rev_rollup"),
            (col("n_direct") === col("n_rollup") &&
              col("rev_direct") === col("rev_rollup")).as("rewrite_exact"))
          .orderBy("month")
      },
      """WITH daily AS (
        |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS month,
        |         CAST(o_orderdate AS DATE) AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS rev
        |  FROM orders GROUP BY 1, 2),
        |fr AS (
        |  SELECT month, CAST(SUM(n) AS BIGINT) AS n_rollup,
        |         CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS rev_rollup
        |  FROM daily GROUP BY 1),
        |di AS (
        |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS month,
        |         CAST(COUNT(*) AS BIGINT) AS n_direct,
        |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
        |           AS VARCHAR) AS DOUBLE) AS rev_direct
        |  FROM orders GROUP BY 1)
        |SELECT CAST(di.month AS BIGINT) AS month, n_direct, n_rollup,
        |       rev_direct, rev_rollup,
        |       n_direct = n_rollup AND rev_direct = rev_rollup
        |         AS rewrite_exact
        |FROM di JOIN fr ON di.month = fr.month
        |ORDER BY month""".stripMargin),

    // Write-Audit-Publish gate (the Iceberg/Delta WAP branch pattern):
    // the merge_upsert delta is STAGED, a battery of declarative audits
    // runs against the staged table — primary-key uniqueness, FK
    // integrity of new keys against the nation dim via the customer
    // natural-key rule, null-name rate, and row-count drift vs the base
    // (±20%) — and ONE verdict row says publish or abort with each
    // check's evidence. This is the governance choke point between "the
    // pipeline wrote something" and "consumers can read it"; expressing
    // it as a query makes the gate itself testable. All counts exact;
    // the drift bound is integer cross-multiplication (no float
    // thresholds).
    "warehouse_publish_gate" -> QuerySpec(
      (s, d) => {
        val t = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val updates = t.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey").as("u_key"),
            lit(null).cast("string").as("u_name"),
            (col("c_acctbal") + lit(100.0)).as("u_bal"))
        val inserts = t.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + lit(10000000L)).as("u_key"),
            concat(lit("New#"), col("c_custkey").cast("string"))
              .as("u_name"),
            lit(0.0).as("u_bal"))
        val staged = t.join(updates.unionByName(inserts),
            col("c_custkey") === col("u_key"), "full_outer")
          .select(coalesce(col("c_custkey"), col("u_key")).as("k"),
            coalesce(col("u_name"), col("c_name")).as("name"))
          .localCheckpoint(true)
        val audits = staged.agg(
          count(lit(1)).as("n_staged"),
          (count(lit(1)) - countDistinct("k")).as("pk_dups"),
          sum(when(col("name").isNull, 1L).otherwise(0L)).as("null_names"))
        val baseN = t.agg(count(lit(1)).as("n_base"))
        audits.crossJoin(broadcast(baseN))
          .withColumn("drift_ok",
            col("n_staged") * lit(10L) >= col("n_base") * lit(8L) &&
              col("n_staged") * lit(10L) <= col("n_base") * lit(12L))
          .withColumn("pk_ok", col("pk_dups") === 0L)
          .withColumn("publish",
            col("pk_ok") && col("drift_ok") && col("null_names") === 0L)
          .select("n_base", "n_staged", "pk_dups", "null_names",
            "drift_ok", "pk_ok", "publish")
      },
      """WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |u AS (
        |  SELECT c_custkey AS u_key, CAST(NULL AS VARCHAR) AS u_name,
        |         c_acctbal + 100.0 AS u_bal
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000,
        |         'New#' || CAST(c_custkey AS VARCHAR), 0.0
        |  FROM customer WHERE c_custkey % 13 = 0),
        |staged AS (
        |  SELECT COALESCE(t.c_custkey, u.u_key) AS k,
        |         COALESCE(u.u_name, t.c_name) AS name
        |  FROM t FULL OUTER JOIN u ON t.c_custkey = u.u_key),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_staged,
        |         CAST(COUNT(*) - COUNT(DISTINCT k) AS BIGINT) AS pk_dups,
        |         CAST(SUM(CASE WHEN name IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS null_names
        |  FROM staged),
        |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_base FROM t),
        |v AS (
        |  SELECT n_base, n_staged, pk_dups, null_names,
        |         n_staged * 10 >= n_base * 8
        |           AND n_staged * 10 <= n_base * 12 AS drift_ok,
        |         pk_dups = 0 AS pk_ok
        |  FROM a, b)
        |SELECT n_base, n_staged, pk_dups, null_names, drift_ok, pk_ok,
        |       pk_ok AND drift_ok AND null_names = 0 AS publish
        |FROM v""".stripMargin),

    // Right-to-erasure CASCADE audit (GDPR Art. 17 shape): given a
    // deletion list of customers (custkey ≡ 0 mod 97 — the deterministic
    // request fixture), report exactly what a compliant erasure removes
    // across the schema — the customers themselves, their orders, and
    // the order lines that cascade through the FK chain — as
    // before/deleted/after counts per table. This is the dry-run ledger
    // a data-protection office signs before the destructive pass, and
    // the cascade is pure dataflow: each level is ONE semi-join against
    // the previous level's (broadcastable) key set — customer keys →
    // order keys → line rows — never a scan-side delete loop. All
    // counts exact.
    "warehouse_erasure_audit" -> QuerySpec(
      (s, d) => {
        val cu = Tables.customer(s, d); val o = Tables.orders(s, d)
        val li = Tables.lineitem(s, d)
        val delC = cu.filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey").as("k")).localCheckpoint(true)
        val delO = o.join(broadcast(delC), col("o_custkey") === col("k"))
          .select(col("o_orderkey").as("ok")).localCheckpoint(true)
        def row(name: String, before: org.apache.spark.sql.DataFrame,
                deleted: org.apache.spark.sql.DataFrame) =
          before.agg(count(lit(1)).as("n_before"))
            .crossJoin(deleted.agg(count(lit(1)).as("n_deleted")))
            .select(lit(name).as("table_name"), col("n_before"),
              col("n_deleted"),
              (col("n_before") - col("n_deleted")).as("n_after"))
        val delL = li.join(broadcast(delO), col("l_orderkey") === col("ok"))
        row("customer", cu, delC)
          .unionAll(row("lineitem", li, delL))
          .unionAll(row("orders", o, delO))
          .orderBy("table_name")
      },
      """WITH delc AS (SELECT c_custkey AS k FROM customer
        |             WHERE c_custkey % 97 = 0),
        |delo AS (SELECT o_orderkey AS ok FROM orders
        |         WHERE o_custkey IN (SELECT k FROM delc)),
        |r AS (
        |  SELECT 'customer' AS table_name,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_before,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM delc) AS n_deleted
        |  UNION ALL
        |  SELECT 'lineitem',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        |     WHERE l_orderkey IN (SELECT ok FROM delo))
        |  UNION ALL
        |  SELECT 'orders',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM delo))
        |SELECT table_name, n_before, n_deleted,
        |       n_before - n_deleted AS n_after
        |FROM r ORDER BY table_name""".stripMargin),

    // Referential-integrity census over the WHOLE star schema: for every
    // foreign-key edge, how many child rows point at a missing parent —
    // the first audit a warehouse loads run, and the reference's DDL
    // post-load PK concern (insert.py's primary-key step) generalized
    // to the relationship graph. Each edge is one LEFT-ANTI join (the
    // parent key set broadcasts for dims; co-partitioned at fact scale),
    // distinct-child counts are exact, and the 7 edges union into one
    // ordered report. A healthy load reads all-zeros; the query is the
    // loud alternative to discovering orphans inside a downstream join.
    "profile_fk_integrity" -> QuerySpec(
      (s, d) => {
        def edge(name: String, child: org.apache.spark.sql.DataFrame,
                 ck: String, parent: org.apache.spark.sql.DataFrame,
                 pk: String) = {
          val orphans = child.select(col(ck).as("k"))
            .join(broadcast(parent.select(col(pk).as("k"))),
              Seq("k"), "left_anti")
          child.agg(count(lit(1)).as("n_child"))
            .crossJoin(orphans.agg(count(lit(1)).as("n_orphans"),
              countDistinct("k").as("n_orphan_keys")))
            .select(lit(name).as("fk"), col("n_child"), col("n_orphans"),
              col("n_orphan_keys"),
              // empty child table: rate is SQL-NULL like the oracle
              Analytic.safeDiv(col("n_orphans").cast("double"),
                col("n_child").cast("double")).as("orphan_rate"))
        }
        val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
        val cu = Tables.customer(s, d); val su = Tables.supplier(s, d)
        val pa = Tables.part(s, d); val na = Tables.nation(s, d)
        val re = Tables.region(s, d)
        Seq(
          edge("customer.nation", cu, "c_nationkey", na, "n_nationkey"),
          edge("lineitem.order", li, "l_orderkey", o, "o_orderkey"),
          edge("lineitem.part", li, "l_partkey", pa, "p_partkey"),
          edge("lineitem.supplier", li, "l_suppkey", su, "s_suppkey"),
          edge("nation.region", na, "n_regionkey", re, "r_regionkey"),
          edge("orders.customer", o, "o_custkey", cu, "c_custkey"),
          edge("supplier.nation", su, "s_nationkey", na, "n_nationkey"))
          .reduce(_ unionAll _)
          .orderBy("fk")
      },
      {
        def edge(name: String, child: String, ck: String,
                 parent: String, pk: String) =
          s"""SELECT '$name' AS fk,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $child) AS n_child,
             |  CAST(COUNT(*) AS BIGINT) AS n_orphans,
             |  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_orphan_keys,
             |  CAST(COUNT(*) AS DOUBLE) /
             |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM $child)
             |    AS orphan_rate
             |FROM (SELECT $ck AS k FROM $child
             |      WHERE $ck NOT IN (SELECT $pk FROM $parent))""".stripMargin
        Seq(
          edge("customer.nation", "customer", "c_nationkey",
            "nation", "n_nationkey"),
          edge("lineitem.order", "lineitem", "l_orderkey",
            "orders", "o_orderkey"),
          edge("lineitem.part", "lineitem", "l_partkey",
            "part", "p_partkey"),
          edge("lineitem.supplier", "lineitem", "l_suppkey",
            "supplier", "s_suppkey"),
          edge("nation.region", "nation", "n_regionkey",
            "region", "r_regionkey"),
          edge("orders.customer", "orders", "o_custkey",
            "customer", "c_custkey"),
          edge("supplier.nation", "supplier", "s_nationkey",
            "nation", "n_nationkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY fk")
      }),

    // Shipment SLA census: per order priority, how fast did orders first
    // ship — the fulfillment report card (and TPC-H Q4's spirit on this
    // schema, which lacks commitdate). First-ship per order is one keyed
    // min over lineitem; lateness is an exact integer day difference;
    // the pct-within-7/30-day columns are conditional counts divided
    // once. Scale shape: one map-side-combined agg on the fact, one
    // equi-join to orders on the order key (co-partitioned), 5-group
    // output.
    "warehouse_sla_shipment" -> QuerySpec(
      (s, d) => {
        val firstShip = Tables.lineitem(s, d)
          .groupBy("l_orderkey").agg(min("l_shipdate").as("ship"))
        Tables.orders(s, d)
          .join(firstShip, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderpriority"),
            expr("(unix_micros(to_utc_timestamp(ship, 'UTC')) - " +
              "unix_micros(to_utc_timestamp(o_orderdate, 'UTC'))) " +
              "div 86400000000").as("days"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("days") <= 7, 1L).otherwise(0L)).as("n_7d"),
            sum(when(col("days") <= 30, 1L).otherwise(0L)).as("n_30d"),
            max("days").as("max_days"))
          .withColumn("pct_7d",
            col("n_7d").cast("double") / col("n_orders").cast("double"))
          .withColumn("pct_30d",
            col("n_30d").cast("double") / col("n_orders").cast("double"))
          .orderBy("o_orderpriority")
      },
      """WITH fs AS (
        |  SELECT l_orderkey, MIN(l_shipdate) AS ship
        |  FROM lineitem GROUP BY 1),
        |j AS (
        |  SELECT o_orderpriority,
        |         (epoch_us(ship) - epoch_us(o_orderdate)) // 86400000000
        |           AS days
        |  FROM orders JOIN fs ON o_orderkey = l_orderkey),
        |g AS (
        |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |         CAST(SUM(CASE WHEN days <= 7 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_7d,
        |         CAST(SUM(CASE WHEN days <= 30 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_30d,
        |         CAST(MAX(days) AS BIGINT) AS max_days
        |  FROM j GROUP BY 1)
        |SELECT o_orderpriority, n_orders, n_7d, n_30d, max_days,
        |       CAST(n_7d AS DOUBLE) / CAST(n_orders AS DOUBLE) AS pct_7d,
        |       CAST(n_30d AS DOUBLE) / CAST(n_orders AS DOUBLE) AS pct_30d
        |FROM g ORDER BY o_orderpriority""".stripMargin),

    // Cohort lifetime value: customers grouped by FIRST-ORDER YEAR, each
    // cohort's total revenue, orders, revenue-per-customer (LTV) and
    // orders-per-customer — the acquisition-vintage economics table.
    // First-order year is one keyed min; the cohort join is equi-keyed
    // on custkey (co-partitioned at scale); revenue is the exact
    // DECIMAL(25,6) sum cast once; the per-customer ratios are single
    // divisions of exact values. No window, two shuffles total.
    "warehouse_cohort_ltv" -> QuerySpec(
      (s, d) => {
        val first = Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(min(expr("year(o_orderdate)")).as("cohort_year"))
        Tables.orders(s, d).join(first, "o_custkey")
          .groupBy("cohort_year")
          .agg(countDistinct("o_custkey").as("n_customers"),
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(25,6)"))
              .cast("double").as("revenue"))
          .withColumn("ltv",
            col("revenue") / col("n_customers").cast("double"))
          .withColumn("orders_per_customer",
            col("n_orders").cast("double") /
              col("n_customers").cast("double"))
          .orderBy("cohort_year")
      },
      """WITH first AS (
        |  SELECT o_custkey, CAST(MIN(year(o_orderdate)) AS INTEGER)
        |           AS cohort_year
        |  FROM orders GROUP BY 1),
        |g AS (
        |  SELECT cohort_year,
        |         CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
        |         CAST(COUNT(*) AS BIGINT) AS n_orders,
        |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
        |           AS VARCHAR) AS DOUBLE) AS revenue
        |  FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
        |  GROUP BY 1)
        |SELECT cohort_year, n_customers, n_orders, revenue,
        |       revenue / CAST(n_customers AS DOUBLE) AS ltv,
        |       CAST(n_orders AS DOUBLE) / CAST(n_customers AS DOUBLE)
        |         AS orders_per_customer
        |FROM g ORDER BY cohort_year""".stripMargin),

    // Point-in-time dimension join (the "late-arriving fact vs versioned
    // dimension" join): each order joins the SCD2 status version of its
    // customer that was VALID AT the order's date — the lookup a
    // warehouse must get right for any backdated fact, and the reason
    // SCD2 history exists at all. Shape: equi-join on the natural key
    // (custkey) plus a range residual (valid_from ≤ t < valid_to) — the
    // scale-honest form of a temporal join, because versions-per-key is
    // small (the range filter runs inside the co-partitioned join, never
    // as a range-only join). Validity is [change-date, next-change-date)
    // built with one keyed window; the summary counts matches, version
    // distribution, and facts-on-current-version. All integers.
    "warehouse_point_in_time_join" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
        val versions = Tables.orders(s, d)
          .filter(col("o_custkey") < 1000)
          .select(col("o_custkey"), col("o_orderstatus"),
            col("o_orderdate"), col("o_orderkey"))
          .withColumn("prev", lag("o_orderstatus", 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
          .withColumn("version", row_number().over(w))
          .withColumn("valid_from", col("o_orderdate"))
          .withColumn("valid_to", lead("o_orderdate", 1).over(w))
          .select(col("o_custkey").as("k"), col("version"),
            col("o_orderstatus").as("v_status"),
            col("valid_from"), col("valid_to"))
        val isCur = col("valid_to").isNull
        val facts = Tables.orders(s, d).filter(col("o_custkey") < 1000)
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        facts.join(versions,
            col("o_custkey") === col("k") &&
              col("valid_from") <= col("o_orderdate") &&
              (isCur || col("o_orderdate") < col("valid_to")))
          .groupBy(col("v_status").as("status_at_order"))
          .agg(count(lit(1)).as("n_facts"),
            countDistinct("o_custkey").as("n_customers"),
            max("version").cast("long").as("max_version"),
            sum(when(isCur, 1L).otherwise(0L)).as("n_on_current"))
          .orderBy("status_at_order")
      },
      """WITH ch AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |         lag(o_orderstatus) OVER w AS prev
        |  FROM orders WHERE o_custkey < 1000
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |v AS (
        |  SELECT o_custkey AS k, o_orderstatus AS v_status,
        |         row_number() OVER w AS version,
        |         o_orderdate AS valid_from,
        |         lead(o_orderdate) OVER w AS valid_to
        |  FROM (SELECT * FROM ch
        |        WHERE prev IS NULL OR prev <> o_orderstatus)
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |f AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey FROM orders
        |  WHERE o_custkey < 1000),
        |j AS (
        |  SELECT v.v_status, v.version, v.valid_to, f.o_custkey
        |  FROM f JOIN v ON f.o_custkey = v.k
        |    AND v.valid_from <= f.o_orderdate
        |    AND (v.valid_to IS NULL OR f.o_orderdate < v.valid_to))
        |SELECT v_status AS status_at_order,
        |       CAST(COUNT(*) AS BIGINT) AS n_facts,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |       CAST(MAX(version) AS BIGINT) AS max_version,
        |       CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_on_current
        |FROM j GROUP BY 1 ORDER BY status_at_order""".stripMargin),

    // Categorical-diversity audit via Gini impurity: per categorical
    // column of the documents table (lang, source), the number of
    // distinct values, total mass, Gini impurity 1 − Σp² and its
    // k/(k−1)-normalized form — the "is one class swallowing the
    // corpus" balance check a mixture curator reads before weighting.
    // Entropy would need ln() (no cross-engine bit guarantee); Gini
    // carries the same diversity signal fully RATIONALLY: Σp² =
    // Σc²/n² with every sum an exact BIGINT, then two double ops.
    // One corpus scan melts both columns through one explode(map);
    // two keyed aggs over (column, value) — each a few dozen groups.
    "profile_gini_diversity" -> QuerySpec(
      (s, d) => {
        Tables.documents(s, d)
          .select(explode(map(
            lit("lang"), col("lang"),
            lit("source"), col("source"))).as(Seq("col_name", "value")))
          .groupBy("col_name", "value").agg(count(lit(1)).as("c"))
          .groupBy("col_name")
          .agg(count(lit(1)).as("k"), sum("c").as("n"),
            sum(col("c") * col("c")).as("sc2"))
          .withColumn("gini", lit(1.0) - col("sc2").cast("double") /
            (col("n").cast("double") * col("n").cast("double")))
          // k=1 (single-category degenerate slice) → k/(k-1) is SQL
          // NULL, matching the oracle, not an ANSI error
          .withColumn("gini_norm", col("gini") *
            Analytic.safeDiv(col("k").cast("double"),
              (col("k") - 1).cast("double")))
          .select("col_name", "k", "n", "gini", "gini_norm")
          .orderBy("col_name")
      },
      """WITH m AS (
        |  SELECT 'lang' AS col_name, lang AS value FROM documents
        |  UNION ALL
        |  SELECT 'source', source FROM documents),
        |g AS (SELECT col_name, value, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM m GROUP BY 1, 2),
        |a AS (SELECT col_name, CAST(COUNT(*) AS BIGINT) AS k,
        |             CAST(SUM(c) AS BIGINT) AS n,
        |             CAST(SUM(c * c) AS BIGINT) AS sc2
        |      FROM g GROUP BY 1)
        |SELECT col_name, k, n,
        |       1.0 - CAST(sc2 AS DOUBLE) /
        |         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS gini,
        |       (1.0 - CAST(sc2 AS DOUBLE) /
        |         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) *
        |         (CAST(k AS DOUBLE) / CAST(k - 1 AS DOUBLE)) AS gini_norm
        |FROM a ORDER BY col_name""".stripMargin),

    // MERGE-style upsert as one declarative full-outer join (the batch
    // form of MERGE INTO: WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT /
    // else keep). The delta is derived deterministically from the target
    // itself (balance bump for custkey%7, fresh rows for custkey%13) so
    // the oracle can reproduce it. At scale the delta side is typically
    // small → broadcastable; the target never shuffles more than once.
    "merge_upsert_customers" -> QuerySpec(
      (s, d) => {
        val t = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val updates = t.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey").as("u_key"),
            lit(null).cast("string").as("u_name"),
            (col("c_acctbal") + lit(100.0)).as("u_bal"))
        val inserts = t.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + lit(10000000L)).as("u_key"),
            concat(lit("New#"), col("c_custkey").cast("string")).as("u_name"),
            lit(0.0).as("u_bal"))
        val src = updates.unionByName(inserts)
        t.join(src, col("c_custkey") === col("u_key"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("u_key")).as("merge_key"),
            coalesce(col("u_name"), col("c_name")).as("name"),
            coalesce(col("u_bal"), col("c_acctbal")).as("acctbal"),
            when(col("c_custkey").isNull, "I")
              .when(col("u_key").isNull, "K")
              .otherwise("U").as("op"))
          .orderBy("merge_key")
      },
      """WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |u AS (
        |  SELECT c_custkey AS u_key, CAST(NULL AS VARCHAR) AS u_name,
        |         c_acctbal + 100.0 AS u_bal
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, 'New#' || CAST(c_custkey AS VARCHAR), 0.0
        |  FROM customer WHERE c_custkey % 13 = 0)
        |SELECT COALESCE(t.c_custkey, u.u_key) AS merge_key,
        |       COALESCE(u.u_name, t.c_name) AS name,
        |       COALESCE(u.u_bal, t.c_acctbal) AS acctbal,
        |       CASE WHEN t.c_custkey IS NULL THEN 'I'
        |            WHEN u.u_key IS NULL THEN 'K'
        |            ELSE 'U' END AS op
        |FROM t FULL JOIN u ON t.c_custkey = u.u_key
        |ORDER BY merge_key""".stripMargin),

    // Stratified sampling with per-stratum rates — the class-balancing
    // primitive for training-set assembly. Deterministic (content-hash
    // bucket per row vs a per-segment rate), so the sample is reproducible
    // across runs AND engines — the engine-grade replacement for
    // rand()-based sampleBy. Pure scan+filter: no shuffle at any scale.
    "stratified_sample_segments" -> QuerySpec(
      (s, d) => {
        val rate = when(col("c_mktsegment") === "BUILDING", 20)
          .when(col("c_mktsegment") === "AUTOMOBILE", 10)
          .when(col("c_mktsegment") === "MACHINERY", 5)
          .when(col("c_mktsegment") === "HOUSEHOLD", 5)
          .otherwise(2)
        Tables.customer(s, d)
          .filter(pmod(TextOps.hash64(col("c_custkey").cast("string")),
            lit(100)) < rate)
          .select(col("c_custkey"), col("c_mktsegment"))
          .orderBy("c_custkey")
      },
      s"""SELECT c_custkey, c_mktsegment FROM customer
         |WHERE ${duckHash("CAST(c_custkey AS VARCHAR)")} % 100 <
         |      CASE c_mktsegment WHEN 'BUILDING' THEN 20
         |                        WHEN 'AUTOMOBILE' THEN 10
         |                        WHEN 'MACHINERY' THEN 5
         |                        WHEN 'HOUSEHOLD' THEN 5
         |                        ELSE 2 END
         |ORDER BY c_custkey""".stripMargin),

    // Per-group feature scaling: z-score and min-max of account balance
    // within each market segment — the normalization pass before numeric
    // features feed a model. Exact parity strategy: group sums accumulate
    // in DECIMAL(25,6) (order-free), then every derived double (mean,
    // variance, z) is computed with an identical IEEE op sequence in both
    // engines. Sample variance via the sum-of-squares identity; one
    // shuffle on the segment key.
    //
    // The decimal→double CONVERSION itself must be portable: once a sum's
    // Per-segment winsorization — the robust-stats feature-prep step
    // (clip outliers to the exact p5/p95 order statistics before
    // training). Percentiles are computed MANUALLY as the value at rank
    // ceil(q·n) in each segment's value order — percentile_disc
    // definitions differ subtly between engines, an explicit rank does
    // not; the value at rank k is tie-insensitive (equal values at the
    // boundary yield the same cut regardless of row order). Clamping is
    // pure comparison; the winsorized sum goes through the exact
    // DECIMAL(25,6) pattern. Scale: two windows over the segment
    // partitioning (rank + count), one broadcast-sized cut table joined
    // back, one keyed aggregation.
    "feature_winsorize_per_segment" -> QuerySpec(
      (s, d) => {
        val seg = Window.partitionBy("c_mktsegment")
        val base = Tables.customer(s, d)
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
          .withColumn("rn", row_number().over(
            seg.orderBy(col("c_acctbal"), col("c_custkey"))))
          .withColumn("n", count(lit(1)).over(seg))
        val klo = greatest(lit(1L),
          ceil(lit(0.05) * col("n").cast("double")).cast("long"))
        val khi = ceil(lit(0.95) * col("n").cast("double")).cast("long")
        val cuts = base
          .select(col("c_mktsegment"),
            when(col("rn") === klo, col("c_acctbal")).as("lo"),
            when(col("rn") === khi, col("c_acctbal")).as("hi"))
          .groupBy("c_mktsegment")
          .agg(max("lo").as("p05"), max("hi").as("p95"))
        base.join(cuts, "c_mktsegment")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), min("p05").as("p05"),
            min("p95").as("p95"),
            sum(when(col("c_acctbal") < col("p05"), 1L).otherwise(0L))
              .as("n_lo"),
            sum(when(col("c_acctbal") > col("p95"), 1L).otherwise(0L))
              .as("n_hi"),
            sum(least(greatest(col("c_acctbal"), col("p05")), col("p95"))
              .cast("decimal(25,6)")).cast("double").as("wsum"))
          .orderBy("c_mktsegment")
      },
      """WITH b AS (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |           ORDER BY c_acctbal, c_custkey) AS rn,
        |         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM customer),
        |cuts AS (
        |  SELECT c_mktsegment,
        |         MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.05 *
        |           CAST(n AS DOUBLE)) AS BIGINT)) THEN c_acctbal END) AS p05,
        |         MAX(CASE WHEN rn = CAST(ceil(0.95 *
        |           CAST(n AS DOUBLE)) AS BIGINT) THEN c_acctbal END) AS p95
        |  FROM b GROUP BY 1)
        |SELECT b.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(p05) AS p05, MIN(p95) AS p95,
        |       CAST(SUM(CASE WHEN c_acctbal < p05 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_lo,
        |       CAST(SUM(CASE WHEN c_acctbal > p95 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_hi,
        |       CAST(CAST(SUM(CAST(LEAST(GREATEST(c_acctbal, p05), p95)
        |         AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS wsum
        |FROM b JOIN cuts USING (c_mktsegment)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // micro-units exceed 2^53 (hit by sum-of-squares at sf0.1), Spark
    // rounds the true decimal to the nearest double while DuckDB converts
    // the int128 to double BEFORE dividing by 10^scale — off by 1 ulp.
    // Both engines convert int64→double correctly-rounded, so the sums go
    // through exact BIGINT micro-units and ONE exact division instead
    // (valid while |sum| < 2^63 µ-units ≈ 9.2e12 — scale-bounded per
    // GROUP, and groups at 100 TB shard by segment key anyway).
    "feature_scale_per_segment" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
        def micro(c: org.apache.spark.sql.Column) =
          (c.cast("decimal(25,6)") * lit(1000000).cast("decimal(7,0)"))
            .cast("long").cast("double") / lit(1000000.0)
        val sumd = micro(sum(col("c_acctbal").cast("decimal(25,6)")).over(w))
        val sumsq = micro(sum((col("c_acctbal") * col("c_acctbal"))
          .cast("decimal(25,6)")).over(w))
        val n = count(lit(1)).over(w).cast("double")
        val mean = sumd / n
        val mn = min("c_acctbal").over(w)
        val mx = max("c_acctbal").over(w)
        // safeDiv: a 1-customer segment has variance NULL-shaped (n-1=0)
        // and mx=mn — SQL-NULL z/minmax on both engines, not ANSI errors
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
            Analytic.safeDiv(col("c_acctbal") - mean, sqrt(
              Analytic.safeDiv(sumsq - sumd * sumd / n, n - lit(1.0))))
              .as("z"),
            Analytic.safeDiv(col("c_acctbal") - mn, mx - mn).as("minmax"))
          .filter(col("c_custkey") < 500)
          .orderBy("c_custkey")
      },
      """WITH s AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |         CAST(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) OVER w
        |             AS DECIMAL(25,6)) * CAST(1000000 AS DECIMAL(7,0))
        |           AS BIGINT) AS DOUBLE) / 1000000.0 AS sumd,
        |         CAST(CAST(CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(25,6))) OVER w
        |             AS DECIMAL(25,6)) * CAST(1000000 AS DECIMAL(7,0))
        |           AS BIGINT) AS DOUBLE) / 1000000.0 AS sumsq,
        |         CAST(COUNT(*) OVER w AS DOUBLE) AS n,
        |         MIN(c_acctbal) OVER w AS mn,
        |         MAX(c_acctbal) OVER w AS mx
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_mktsegment))
        |SELECT c_custkey, c_mktsegment, c_acctbal,
        |       (c_acctbal - sumd / n) / sqrt((sumsq - sumd * sumd / n) / (n - 1.0)) AS z,
        |       (c_acctbal - mn) / (mx - mn) AS minmax
        |FROM s WHERE c_custkey < 500 ORDER BY c_custkey""".stripMargin),

    // CDC log compaction: collapse an event log to the LATEST state per
    // key — the materialized-view maintenance step downstream of a change
    // stream (and the batch form of streaming dropDuplicates-keep-last).
    // One window on the key, deterministic tie-breaking by event_id.
    "cdc_latest_state_per_user" -> QuerySpec(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(desc("ts"), desc("event_id"))
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id").as("last_event"),
            col("event_type").as("last_type"), col("value").as("last_value"))
          .orderBy("user_id")
      },
      """SELECT user_id, event_id AS last_event,
        |       event_type AS last_type, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // Quantile bucketing: quartiles of order value within each priority
    // class via ntile over a total order (price, orderkey) — the
    // discretization step for bucketed features / stratified splits.
    // ntile's ceiling-division bucket sizing is identical in both engines
    // given the same total order.
    "quantile_buckets_ntile" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy("o_totalprice", "o_orderkey")
        Tables.orders(s, d)
          .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
          .withColumn("quartile", ntile(4).over(w))
          .groupBy("o_orderpriority", "quartile")
          .agg(count(lit(1)).as("n"),
            min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
          .orderBy("o_orderpriority", "quartile")
      },
      """SELECT o_orderpriority, quartile, CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM (
        |  SELECT o_orderpriority, o_totalprice,
        |         CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile
        |  FROM orders)
        |GROUP BY o_orderpriority, quartile
        |ORDER BY o_orderpriority, quartile""".stripMargin),

    // Incremental aggregate maintenance — the materialized-view update
    // pattern: keep PARTIAL aggregate state (count + exact decimal sum)
    // per group, fold a new delta batch's partials in, and the merged
    // state must equal a full recompute (which is what the oracle runs).
    // This is what makes daily 100 TB rollups affordable: the base
    // partials are table-sized-once, each delta touches only its own
    // groups, and decimal sums make the merge order-insensitive so
    // re-aggregation cannot drift from the from-scratch answer.
    "incremental_agg_maintenance" -> QuerySpec(
      (s, d) => {
        def partials(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast("decimal(25,6)")).as("rev"))
        val base = partials(Tables.orders(s, d)
          .filter(col("o_orderkey") % 10 =!= 0))   // yesterday's state
        val delta = partials(Tables.orders(s, d)
          .filter(col("o_orderkey") % 10 === 0))   // today's batch
        base.unionByName(delta)
          .groupBy("o_orderpriority")
          .agg(sum("n").cast("long").as("n_orders"),
            sum("rev").cast("double").as("revenue"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
        |            AS VARCHAR) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // Hashing-trick featurization (Weinberger et al., ICML'09): map
    // "name=value" categorical features into a fixed 64-bucket space with
    // the portable 60-bit hash and report per-bucket load + collision
    // fan-in (distinct features sharing the bucket) — the audit a feature
    // platform runs before committing to a hash width. No vocabulary
    // build, no driver-side dictionary: featurization is per-row column
    // work and the audit is one keyed agg — the property that makes the
    // trick the default encoder at 100 TB, where a value dictionary would
    // itself be a distributed build artifact.
    "feature_hash_trick" -> QuerySpec(
      (s, d) => Tables.customer(s, d)
        .select(explode(array(
          concat(lit("seg="), col("c_mktsegment")),
          concat(lit("nat="), col("c_nationkey").cast("string"))))
          .as("feat"))
        .select(pmod(TextOps.hash64(col("feat")), lit(64)).as("bucket"),
          col("feat"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("feat")).as("n_feats"))
        .orderBy("bucket"),
      """WITH f AS (
        |  SELECT unnest(['seg=' || c_mktsegment,
        |                 'nat=' || CAST(c_nationkey AS VARCHAR)]) AS feat
        |  FROM customer)
        |SELECT CAST(('0x' || substr(md5(feat), 1, 15))::UBIGINT AS BIGINT)
        |         % 64 AS bucket,
        |       COUNT(*) AS n_rows,
        |       CAST(COUNT(DISTINCT feat) AS BIGINT) AS n_feats
        |FROM f GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Leave-one-out target encoding: replace a categorical with the mean
    // of the target over the OTHER rows of its group — the standard
    // leakage-free mean encoding for tree/linear models. The group sum
    // runs in exact DECIMAL(25,6) (order-free), the row's own value is
    // subtracted in decimal (exact), and only then does ONE
    // correctly-rounded cast→double + ONE division happen — so Spark and
    // DuckDB agree bit-for-bit. One window on the segment key; groups at
    // scale shard by that key, no global state.
    "feature_target_encode_loo" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
        val dec = col("c_acctbal").cast("decimal(25,6)")
        val looSum = (sum(dec).over(w) - dec).cast("double")
        val looN = (count(lit(1)).over(w) - lit(1)).cast("double")
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
            // a 1-member segment has no leave-one-out peers: NULL, like
            // the oracle's x/0, not an ANSI error
            Analytic.safeDiv(looSum, looN).as("seg_loo_mean"))
          .filter(col("c_custkey") < 500)
          .orderBy("c_custkey")
      },
      """WITH s AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |         CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6)))
        |                OVER (PARTITION BY c_mktsegment)
        |              - CAST(c_acctbal AS DECIMAL(25,6)) AS VARCHAR) AS DOUBLE) /
        |           CAST(COUNT(*) OVER (PARTITION BY c_mktsegment) - 1
        |                AS DOUBLE) AS seg_loo_mean
        |  FROM customer)
        |SELECT c_custkey, c_mktsegment, c_acctbal, seg_loo_mean
        |FROM s WHERE c_custkey < 500
        |ORDER BY c_custkey""".stripMargin),

    // Declarative data-quality expectations (the Deequ/Great-Expectations
    // shape): a rule set of column predicates evaluated in ONE aggregation
    // pass over the table — per-rule violation counts and rates come from
    // sum(when(!rule, 1)) legs of the same agg, so N rules cost one scan
    // and one 1-row shuffle regardless of table size, then the single
    // result row unpivots to a row per rule. Adding a rule is adding a
    // Column, not a pass — the property that keeps an expectation suite
    // viable on a 100 TB table.
    "profile_expectations" -> QuerySpec(
      (s, d) => {
        val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
          "acctbal_in_range" -> col("c_acctbal").between(-1000.0, 10000.0),
          "custkey_nonnull" -> col("c_custkey").isNotNull,
          "name_pattern" -> col("c_name").rlike("^Customer#[0-9]{9}$"),
          "nationkey_in_domain" -> col("c_nationkey").between(0, 24),
          "segment_in_domain" -> col("c_mktsegment").isin(
            "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        val legs = rules.map { case (name, p) =>
          sum(when(!coalesce(p, lit(false)), 1L).otherwise(0L)).as(name)
        }
        val one = Tables.customer(s, d)
          .agg(count(lit(1)).as("n_rows"), legs: _*)
        one.select(col("n_rows"), explode(array(rules.map { case (name, _) =>
            struct(lit(name).as("rule"), col(name).as("n_violations"))
          }: _*)).as("r"))
          .select(col("r.rule").as("rule"),
            col("r.n_violations").as("n_violations"),
            (col("r.n_violations").cast("double") /
              col("n_rows").cast("double")).as("violation_rate"))
          .orderBy("rule")
      },
      """WITH a AS (
        |  SELECT COUNT(*) AS n_rows,
        |    SUM(CASE WHEN NOT COALESCE(c_acctbal BETWEEN -1000.0 AND 10000.0,
        |      FALSE) THEN 1 ELSE 0 END) AS v_acctbal,
        |    SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS v_custkey,
        |    SUM(CASE WHEN NOT COALESCE(
        |      regexp_matches(c_name, '^Customer#[0-9]{9}$'), FALSE)
        |      THEN 1 ELSE 0 END) AS v_name,
        |    SUM(CASE WHEN NOT COALESCE(c_nationkey BETWEEN 0 AND 24, FALSE)
        |      THEN 1 ELSE 0 END) AS v_nation,
        |    SUM(CASE WHEN NOT COALESCE(c_mktsegment IN ('AUTOMOBILE',
        |      'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'), FALSE)
        |      THEN 1 ELSE 0 END) AS v_segment
        |  FROM customer),
        |x AS (SELECT n_rows, unnest([
        |  {'rule': 'acctbal_in_range',    'n_violations': v_acctbal},
        |  {'rule': 'custkey_nonnull',     'n_violations': v_custkey},
        |  {'rule': 'name_pattern',        'n_violations': v_name},
        |  {'rule': 'nationkey_in_domain', 'n_violations': v_nation},
        |  {'rule': 'segment_in_domain',   'n_violations': v_segment}]) AS u
        |  FROM a)
        |SELECT u.rule AS rule,
        |       CAST(u.n_violations AS BIGINT) AS n_violations,
        |       CAST(u.n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE)
        |         AS violation_rate
        |FROM x ORDER BY rule""".stripMargin),

    // Observed metrics (df.observe + Observation): the data-quality gate
    // that rides an EXISTING pass instead of paying its own scan — at
    // 100 TB an extra validation aggregation doubles the IO bill, while
    // CollectMetrics accumulates on the side of whatever action already
    // runs (here a noop write stands in for the production sink). The
    // declared result is the one-row metrics record the Observation
    // handed back on the driver; the oracle recomputes the same
    // aggregates directly, proving the side-channel equals a dedicated
    // pass. Counts are exact longs; the sum crosses as an exact decimal.
    "profile_observe_metrics" -> QuerySpec(
      (s, d) => {
        val obs = org.apache.spark.sql.Observation(
          s"li_gate_${java.util.UUID.randomUUID().toString.take(8)}")
        Tables.lineitem(s, d)
          .observe(obs,
            count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("decimal(25,6)")).as("sum_qty"),
            count(when(col("l_discount") > 0.07, 1)).as("n_high_discount"),
            count(when(col("l_shipdate").isNull, 1)).as("n_null_shipdate"))
          .write.format("noop").mode("overwrite").save()
        val m = obs.get
        import s.implicits._
        // sum over an EMPTY table arrives as SQL-NULL (a null metric
        // value), which must stay NULL in the emitted row — the oracle's
        // SUM does the same
        Seq((m("n_rows").asInstanceOf[Long],
          Option(m("sum_qty").asInstanceOf[java.math.BigDecimal])
            .map(_.doubleValue()),
          m("n_high_discount").asInstanceOf[Long],
          m("n_null_shipdate").asInstanceOf[Long]))
          .toDF("n_rows", "sum_qty", "n_high_discount", "n_null_shipdate")
      },
      """SELECT COUNT(*) AS n_rows,
        |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6)))
        |            AS VARCHAR) AS DOUBLE) AS sum_qty,
        |       CAST(COUNT(CASE WHEN l_discount > 0.07 THEN 1 END) AS BIGINT)
        |         AS n_high_discount,
        |       CAST(COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) AS BIGINT)
        |         AS n_null_shipdate
        |FROM lineitem""".stripMargin),

    // k-anonymity census — the re-identification audit a governed data
    // platform runs before releasing a table: group by the
    // quasi-identifier tuple (nation, segment, 1000-unit balance band)
    // and, for each privacy level k ∈ {2,5,10}, count the equivalence
    // classes smaller than k and the rows exposed in them. A release
    // gate reads rows_at_risk = 0 as "k-anonymous at that k";
    // generalization (coarser bands) is the remediation. One keyed
    // aggregate over the QI tuple (map-side combined), then a
    // constant-fan-out explode over the three k values — the group
    // table, not the fact table, is re-scanned. floor(bal/1000) is
    // IEEE-deterministic on both engines, negatives floor toward -inf.
    "warehouse_k_anonymity" -> QuerySpec(
      (s, d) => {
        val groups = Tables.customer(s, d)
          .select(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / lit(1000.0)).cast("long").as("bal_band"))
          .groupBy("c_nationkey", "c_mktsegment", "bal_band")
          .agg(count(lit(1)).as("sz"))
        groups
          .select(explode(array(lit(2L), lit(5L), lit(10L))).as("k"),
            col("sz"))
          .groupBy("k")
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("sz") < col("k"), 1L).otherwise(0L))
              .as("groups_at_risk"),
            sum(when(col("sz") < col("k"), col("sz")).otherwise(0L))
              .as("rows_at_risk"))
          .select(col("k"), col("n_groups"), col("groups_at_risk"),
            col("rows_at_risk"),
            (col("rows_at_risk") === 0L).as("anonymous"))
          .orderBy("k")
      },
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        |         COUNT(*) AS sz
        |  FROM customer
        |  GROUP BY c_nationkey, c_mktsegment, bal_band),
        |x AS (SELECT k, sz FROM g, UNNEST([2, 5, 10]) AS t(k))
        |SELECT CAST(k AS BIGINT) AS k,
        |       COUNT(*) AS n_groups,
        |       CAST(SUM(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
        |         AS groups_at_risk,
        |       CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
        |         AS rows_at_risk,
        |       SUM(CASE WHEN sz < k THEN sz ELSE 0 END) = 0 AS anonymous
        |FROM x
        |GROUP BY k
        |ORDER BY k""".stripMargin),

    // Pre-join key-skew audit: the per-key count distribution of a join
    // key (nearest-rank p50/p99/max, mean, and the hottest key's share) —
    // the diagnostic that decides between a plain shuffle join, salting,
    // and AQE skew handling BEFORE burning a 100 TB shuffle. One keyed
    // count (map-side combined), then order statistics over the KEY
    // distribution (|keys| rows, not |rows|) via the deterministic
    // row_number nearest-rank select; the result is a single row.
    "profile_join_skew" -> QuerySpec(
      (s, d) => {
        val counts = Tables.orders(s, d)
          .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
        // r16 (guide §2 — the r15 shape ranked EVERY key through one
        // unpartitioned row_number window, a |keys|-row single-partition
        // sort; this is the audit you run precisely because |keys| is
        // huge): nearest-rank quantiles only need, for each DISTINCT
        // count value v, the cumulative number of keys with cnt ≤ v —
        // rank r then falls inside v iff cum(<v) < r ≤ cum(≤v), which
        // selects the IDENTICAL value the positional rn filter selected
        // (rows sharing a cnt are adjacent under (cnt, o_custkey), and
        // only cnt is output, so the custkey tie-break never mattered).
        // The cumulative sum runs over the distinct-VALUE table with the
        // ops.Banded two-level prefix sum: the only unpartitioned window
        // is over the BAND table (bounded by the count domain / 1024,
        // never |keys|).
        val dist = counts.groupBy("cnt").agg(count(lit(1)).as("c"))
        val cum = graft.ops.Banded.running(
          dist.withColumn("band", expr("cnt div 1024")),
          Seq("cnt"), Seq("c" -> "cum"), inclusive = true)
        val agg = counts.agg(
          count(lit(1)).as("n_keys"),
          sum("cnt").cast("long").as("n_rows"),
          max("cnt").as("max_cnt"))
        def nearestRank(target: org.apache.spark.sql.Column, as: String) =
          cum.crossJoin(broadcast(agg.select(target.as("t"))))
            .filter(col("cum") - col("c") < col("t") &&
              col("t") <= col("cum"))
            .select(col("cnt").as(as))
        val p50 = nearestRank(expr("(n_keys + 1) div 2"), "p50_cnt")
        val p99 = nearestRank(expr("(99 * (n_keys - 1)) div 100 + 1"),
          "p99_cnt")
        agg.crossJoin(broadcast(p50)).crossJoin(broadcast(p99))
          .select(col("n_keys"), col("n_rows"), col("p50_cnt"),
            col("p99_cnt"), col("max_cnt"),
            (col("n_rows").cast("double") / col("n_keys").cast("double"))
              .as("mean_cnt"),
            (col("max_cnt").cast("double") / col("n_rows").cast("double"))
              .as("top_key_share"))
      },
      """WITH c AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders
        |           GROUP BY o_custkey),
        |r AS (SELECT cnt,
        |             row_number() OVER (ORDER BY cnt, o_custkey) AS rn,
        |             COUNT(*) OVER () AS nk
        |      FROM c),
        |p50 AS (SELECT cnt AS p50_cnt FROM r WHERE rn = (nk + 1) // 2),
        |p99 AS (SELECT cnt AS p99_cnt FROM r
        |        WHERE rn = (99 * (nk - 1)) // 100 + 1),
        |a AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |             MAX(cnt) AS max_cnt FROM c)
        |SELECT n_keys, n_rows, p50_cnt, p99_cnt, max_cnt,
        |       CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE) AS mean_cnt,
        |       CAST(max_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE)
        |         AS top_key_share
        |FROM a, p50, p99""".stripMargin),

    // RFM segmentation: per-customer Recency / Frequency / Monetary
    // quartiles composed into the classic 3-digit segment code — the
    // customer-value stratification a marketing warehouse materializes.
    // Metrics are one keyed agg over orders (monetary summed in exact
    // decimal); quartiles follow ntile(4) semantics with a total order
    // (metric + custkey tie-break) so assignment is deterministic in
    // both engines.
    //
    // r16 (guide §2 — the r15 shape ran THREE ntile(4) windows over the
    // FULL customer-aggregate table with no partition key: three
    // single-partition sorts of |customers| rows, the canonical scale
    // killer this round's window audit exists to remove): each metric's
    // global rank is now assembled from parallel pieces —
    //   rank(x) = #{rows with metric "before" x}   (banded prefix sum
    //             over the DISTINCT-metric table, ops.Banded: the
    //             only unpartitioned window runs over the band census,
    //             never |customers|)
    //           + row_number within x's equal-metric group ordered by
    //             custkey (a PARTITIONED window keyed on the metric).
    // ntile(4) is then the closed-form bucket of (rank, n): with
    // q = n div 4, rem = n mod 4, SQL ntile gives the first rem buckets
    // q+1 rows and the rest q — bucket(r) = (r-1) div (q+1) + 1 when
    // r <= rem·(q+1), else rem + (r - rem·(q+1) - 1) div q + 1. Pure
    // integer arithmetic on the identical ranks the window produced, so
    // the assignment is bit-identical (the oracle's ntile pins it).
    // Ranks only matter for the ≤300 OUTPUT customers, so each
    // dimension's rank table is filtered to them before the final
    // broadcast joins.
    "customer_rfm_segments" -> QuerySpec(
      (s, d) => {
        val m = Tables.orders(s, d).groupBy("o_custkey")
          .agg(max("o_orderdate").as("last_order"),
            count(lit(1)).as("frequency"),
            sum(col("o_totalprice").cast("decimal(25,6)")).as("mdec"))
          .withColumn("monetary", col("mdec").cast("double")).drop("mdec")
          .localCheckpoint(true) // consumed 3x (per-dimension) + output
        val nTab = m.agg(count(lit(1)).as("n"))
        // global rank under (metric DESC, custkey ASC) without a global
        // sort; band is any order-preserving coarsening of the metric
        def rankDim(mc: String, bandE: org.apache.spark.sql.Column,
                    as: String): org.apache.spark.sql.DataFrame = {
          val dist = m.groupBy(mc).agg(count(lit(1)).as("c"))
          val cumBefore = graft.ops.Banded.running(
              dist.withColumn("band", bandE), Seq(mc), Seq("c" -> "cb"),
              descending = true)
            .select(col(mc), col("cb"))
          val wVal = Window.partitionBy(mc).orderBy(col("o_custkey").asc)
          m.select(col("o_custkey"), col(mc))
            .join(cumBefore, Seq(mc))
            .select(col("o_custkey"),
              (col("cb") + row_number().over(wVal)).as(as))
            .filter(col("o_custkey") < 300)
        }
        // closed-form ntile(4) of a 1-based rank r among n rows; the
        // CASE guards the q=0 (n<4) division — every row then satisfies
        // r <= rem·(q+1), so the else branch never evaluates
        def ntile4(r: String): org.apache.spark.sql.Column = expr(
          s"""CAST(CASE WHEN $r <= (n % 4) * (n div 4 + 1)
             |  THEN ($r - 1) div (n div 4 + 1) + 1
             |  ELSE (n % 4) + ($r - (n % 4) * (n div 4 + 1) - 1)
             |       div (n div 4) + 1 END AS INT)""".stripMargin)
        val rr = rankDim("last_order", // 32-day bands (µs timestamps)
          expr("CAST(floor(unix_micros(to_utc_timestamp(last_order," +
            " 'UTC')) / 2764800000000.0) AS BIGINT)"), "rrk")
        val fr = rankDim("frequency",
          expr("CAST(floor(frequency / 16.0) AS BIGINT)"), "frk")
        val mr = rankDim("monetary",
          expr("CAST(floor(monetary / 65536.0) AS BIGINT)"), "mrk")
        m.filter(col("o_custkey") < 300)
          .join(broadcast(rr), "o_custkey")
          .join(broadcast(fr), "o_custkey")
          .join(broadcast(mr), "o_custkey")
          .crossJoin(broadcast(nTab))
          .select(col("o_custkey"), col("frequency"), col("monetary"),
            ntile4("rrk").as("r_q"), ntile4("frk").as("f_q"),
            ntile4("mrk").as("m_q"))
          .withColumn("rfm_code",
            (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).cast("long"))
          .orderBy("o_custkey")
      },
      """WITH m AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_order,
        |         COUNT(*) AS frequency,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
        |           AS monetary
        |  FROM orders GROUP BY o_custkey),
        |q AS (
        |  SELECT o_custkey, frequency, monetary,
        |         ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_q,
        |         ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
        |         ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_q
        |  FROM m)
        |SELECT o_custkey, frequency, monetary, r_q, f_q, m_q,
        |       CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS rfm_code
        |FROM q WHERE o_custkey < 300 ORDER BY o_custkey""".stripMargin),

    // Dataset release diff — the audit every corpus VERSION bump ships
    // with: content-hash the old and new snapshots, full-outer join on
    // the stable key, classify each document added / removed / changed /
    // unchanged, and report the census. The "new" snapshot is derived
    // deterministically from the base corpus (drop doc_id % 97 = 0,
    // rewrite text for % 89 = 0, add fresh ids for % 101 = 0) so both
    // engines construct bit-identical versions — the operator under test
    // is the diff, not the synthesis. Scale shape: two scans + one keyed
    // full-outer join on doc_id + a 4-row count agg; content equality is
    // sha2 so row width never crosses the shuffle twice.
    "dataset_version_diff" -> QuerySpec(
      (s, d) => {
        val base = Tables.documents(s, d)
        val v1 = base.select(col("doc_id"), sha2(col("text"), 256).as("h1"))
        val kept = base.filter(pmod(col("doc_id"), lit(97)) =!= 0)
          .select(col("doc_id"),
            sha2(when(pmod(col("doc_id"), lit(89)) === 0,
              concat(col("text"), lit(" [rev2]")))
              .otherwise(col("text")), 256).as("h2"))
        val added = base.filter(pmod(col("doc_id"), lit(101)) === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            sha2(concat(lit("new:"), col("text")), 256).as("h2"))
        val v2 = kept.unionAll(added)
        v1.join(v2, Seq("doc_id"), "full_outer")
          .select(when(col("h2").isNull, "removed")
            .when(col("h1").isNull, "added")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged").as("status"))
          .groupBy("status").agg(count(lit(1)).as("n"))
          .orderBy("status")
      },
      """WITH v1 AS (SELECT doc_id, sha256(text) AS h1 FROM documents),
        |kept AS (SELECT doc_id,
        |           sha256(CASE WHEN doc_id % 89 = 0
        |                       THEN text || ' [rev2]' ELSE text END) AS h2
        |         FROM documents WHERE doc_id % 97 <> 0),
        |added AS (SELECT doc_id + 1000000000 AS doc_id,
        |            sha256('new:' || text) AS h2
        |          FROM documents WHERE doc_id % 101 = 0),
        |v2 AS (SELECT * FROM kept UNION ALL SELECT * FROM added)
        |SELECT CASE WHEN h2 IS NULL THEN 'removed'
        |            WHEN h1 IS NULL THEN 'added'
        |            WHEN h1 <> h2 THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       COUNT(*) AS n
        |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
        |GROUP BY 1 ORDER BY status""".stripMargin),

    // Distribution-drift detector: total-variation distance between the
    // l_quantity histograms of two ingestion snapshots (even vs odd
    // order keys standing in for week-N vs week-N+1) — the drift gate a
    // feature store runs before refreshing a training set. TV distance
    // ½·Σ|p_a − p_b| is used INSTEAD of the textbook PSI/KL because
    // those need ln(), which carries no cross-engine bit-exactness
    // guarantee (the text_lm_plausibility rationale); TV is rational,
    // bounded [0,1], and the alarm-threshold convention (0.1/0.25)
    // translates directly. Scale shape: ONE map-side-combined keyed agg
    // over the scan to ≤ 50 bucket rows (both split counts in the same
    // pass — the data is visited once), then arithmetic on the tiny
    // bucket table; the Σ over buckets is a 2^40-scaled decimal sum.
    "profile_distribution_drift" -> QuerySpec(
      (s, d) => {
        def unscale(c: org.apache.spark.sql.Column) =
          c.cast("double") / lit(1099511627776.0)
        def dsum40(c: org.apache.spark.sql.Column) =
          sum(floor(c * lit(1099511627776.0)).cast("decimal(38,0)"))
        val counts = Tables.lineitem(s, d)
          .select((col("l_orderkey") % 2 === 0).as("g"),
            floor(col("l_quantity")).cast("long").as("q"))
          .groupBy("q")
          .agg(sum(when(col("g"), 1L).otherwise(0L)).as("na"),
            sum(when(!col("g"), 1L).otherwise(0L)).as("nb"))
        val tot = counts.agg(sum("na").as("ta"), sum("nb").as("tb"))
        counts.crossJoin(broadcast(tot))
          // safeDiv: a degenerate slice can put ALL rows in one split
          // (the other total is 0) — gap is then SQL-NULL like the oracle
          .select(abs(
            Analytic.safeDiv(col("na").cast("double"),
              col("ta").cast("double")) -
            Analytic.safeDiv(col("nb").cast("double"),
              col("tb").cast("double"))).as("gap"))
          .agg(count(lit(1)).as("n_buckets"),
            (unscale(dsum40(col("gap"))) * lit(0.5)).as("tv_distance"),
            max(col("gap")).as("max_bucket_gap"))
          .select(col("n_buckets"), col("tv_distance"),
            col("max_bucket_gap"),
            (col("tv_distance") >= 0.1).as("drift_alarm"))
      },
      """WITH b AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS q,
        |         CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS na,
        |         CAST(SUM(CASE WHEN l_orderkey % 2 <> 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS nb
        |       FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(na) AS BIGINT) AS ta,
        |             CAST(SUM(nb) AS BIGINT) AS tb FROM b),
        |g AS (SELECT abs(CAST(na AS DOUBLE) / CAST(ta AS DOUBLE) -
        |             CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)) AS gap
        |      FROM b, t),
        |s AS (SELECT COUNT(*) AS n_buckets,
        |        CAST(SUM(CAST(floor(gap * 1099511627776.0)
        |          AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0 * 0.5
        |          AS tv_distance,
        |        MAX(gap) AS max_bucket_gap
        |      FROM g)
        |SELECT n_buckets, tv_distance, max_bucket_gap,
        |       tv_distance >= 0.1 AS drift_alarm
        |FROM s""".stripMargin),

    // Two-sample Kolmogorov-Smirnov test between the same two ingestion
    // snapshots (even vs odd order keys) on l_extendedprice — the
    // CUMULATIVE counterpart of profile_distribution_drift's bucketed TV
    // distance: KS catches location/shape shifts that per-bucket gaps
    // dilute, and is the standard continuous-feature drift test. Plan:
    // ONE map-side-combined keyed agg collapses the corpus to the
    // distinct-value table with both splits' counts (the data is visited
    // once), then the two ECDFs are cumulative window sums over that
    // REDUCED table. The ordered window is a single-partition sort over
    // |distinct values| rows — bounded by the value domain, not the
    // corpus (a decimal price domain is ~10^7 rows at any corpus size);
    // for a genuinely unbounded domain you bucket first, which is
    // exactly the TV query above. D_max is an order-free max of exact
    // per-row rational divisions; the alpha=0.05 critical value
    // 1.36·sqrt(1/ta + 1/tb) uses IEEE-correctly-rounded sqrt — exact
    // cross-engine (the no-ln() rule only bars transcendentals).
    "profile_ks_test" -> QuerySpec(
      (s, d) => ksTest(Tables.lineitem(s, d)
        .select((col("l_orderkey") % 2 === 0).as("g"),
          col("l_extendedprice").as("v"))),
      """WITH c AS (SELECT l_extendedprice AS v,
        |         CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS na,
        |         CAST(SUM(CASE WHEN l_orderkey % 2 <> 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS nb
        |       FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(na) AS BIGINT) AS ta,
        |             CAST(SUM(nb) AS BIGINT) AS tb,
        |             CAST(COUNT(*) AS BIGINT) AS n_values FROM c),
        |cum AS (SELECT SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND CURRENT ROW) AS ca,
        |        SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND CURRENT ROW) AS cb
        |        FROM c),
        |ks AS (SELECT MAX(abs(
        |         CAST(ca AS DOUBLE) / (SELECT CAST(ta AS DOUBLE) FROM t) -
        |         CAST(cb AS DOUBLE) / (SELECT CAST(tb AS DOUBLE) FROM t)))
        |         AS ks_stat
        |       FROM cum)
        |SELECT ta AS n_a, tb AS n_b, n_values, ks_stat,
        |       1.36 * sqrt(1.0 / CAST(ta AS DOUBLE)
        |         + 1.0 / CAST(tb AS DOUBLE)) AS ks_critical_05,
        |       ks_stat > 1.36 * sqrt(1.0 / CAST(ta AS DOUBLE)
        |         + 1.0 / CAST(tb AS DOUBLE)) AS reject_same_dist
        |FROM ks, t""".stripMargin),

    // Higher-moment + regression profile: per-returnflag skewness and
    // kurtosis of quantity, and the OLS fit (slope/intercept/corr) of
    // extendedprice on quantity — the distribution-shape and
    // drift-detection statistics a feature-store profiler emits next to
    // profile_expectations' rule verdicts. Cross-engine determinism is
    // the POWER-SUM trick: both columns are exact at 2 decimals, so
    // floor(v·100+0.5) lifts them to integers, every power/cross term
    // (x², x³, x⁴, y², xy) stays in BIGINT (x ≤ 5·10³ cents → x⁴ ≤
    // 6.25·10¹⁴), the per-group Σ accumulate in DECIMAL(38,0) — exact,
    // order-free — and ONLY the closed-form combination of the (bit-equal)
    // sums runs in double, written in the same operation order on both
    // engines. No naive one-pass variance, no engine skewness() (sample
    // vs population conventions differ); skew/kurt/corr/slope are scale-
    // invariant so the ×100 lift cancels. Scale shape: one map-side-
    // combinable keyed agg over the scan — the cheapest possible profile
    // pass; DECIMAL(38,0) holds Σx⁴ past 10¹² rows per group.
    "profile_moments_regression" -> QuerySpec(
      (s, d) => {
        def cents(c: org.apache.spark.sql.Column) =
          floor(c * 100 + lit(0.5)).cast("long")
        def dsum(c: org.apache.spark.sql.Column) =
          sum(c.cast("decimal(38,0)"))
        // Power sums past 2⁵³ (Σx⁴ ≈ 3.75·10²⁰ at sf0.1) accumulate as
        // exact hi/lo pairs — see profile_correlation_matrix for the
        // cross-engine DECIMAL→DOUBLE rounding hazard this avoids.
        def hiLo(c: org.apache.spark.sql.Column, n: String) = Seq(
          dsum(floor(c / lit(1048576L)).cast("long")).as(s"h_$n"),
          dsum(c % lit(1048576L)).as(s"l_$n"))
        val x = col("x"); val y = col("y")
        // r15: the 14 decimal power sums are the cost and the partial
        // agg is map-side — fan the single-row-group scan out so they
        // run on every core (order-free DECIMAL sums: bit-identical);
        // pass-through on a real many-split layout (Scale.fanOut)
        val g = graft.ops.Scale.fanOut(Tables.lineitem(s, d)
            .select(col("l_returnflag"), cents(col("l_quantity")).as("x"),
              cents(col("l_extendedprice")).as("y")))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            Seq(dsum(x).as("d1"), dsum(y).as("dy")) ++
              hiLo(x * x, "d2") ++ hiLo(x * x * x, "d3") ++
              hiLo(x * x * x * x, "d4") ++ hiLo(y * y, "dy2") ++
              hiLo(x * y, "dxy"): _*)
        val nd = col("n").cast("double")
        def rec(n: String) = col(s"h_$n").cast("double") *
          lit(1048576.0) + col(s"l_$n").cast("double")
        val Seq(s1, sy) = Seq("d1", "dy").map(c => col(c).cast("double"))
        val Seq(s2, s3, s4, sy2, sxy) =
          Seq("d2", "d3", "d4", "dy2", "dxy").map(rec)
        val m = s1 / nd
        val m2 = s2 / nd - m * m
        val m3 = s3 / nd - lit(3.0) * m * (s2 / nd) + lit(2.0) * m * m * m
        val m4 = s4 / nd - lit(4.0) * m * (s3 / nd) +
          lit(6.0) * m * m * (s2 / nd) - lit(3.0) * m * m * m * m
        // safeDiv on every variance-denominated ratio: a single-row
        // group has m2 = 0 and a zero OLS denominator — SQL-NULL on
        // both engines, not an ANSI error
        val slope = Analytic.safeDiv(nd * sxy - s1 * sy,
          nd * s2 - s1 * s1)
        g.select(col("l_returnflag"), col("n"),
            Analytic.safeDiv(m3, m2 * sqrt(m2)).as("skew_qty"),
            (Analytic.safeDiv(m4, m2 * m2) - lit(3.0)).as("kurt_qty"),
            Analytic.safeDiv(nd * sxy - s1 * sy,
              sqrt((nd * s2 - s1 * s1) * (nd * sy2 - sy * sy)))
              .as("corr_qty_price"),
            slope.as("slope"),
            ((sy - slope * s1) / nd / lit(100.0)).as("intercept"))
          .orderBy("l_returnflag")
      },
      """WITH b AS (SELECT l_returnflag,
        |         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
        |       FROM lineitem),
        |a AS (SELECT l_returnflag, COUNT(*) AS n,
        |        CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS s1,
        |        CAST(SUM(CAST((x*x) // 1048576 AS DECIMAL(38,0)))
        |          AS DOUBLE) * 1048576.0 +
        |        CAST(SUM(CAST((x*x) % 1048576 AS DECIMAL(38,0)))
        |          AS DOUBLE) AS s2,
        |        CAST(SUM(CAST((x*x*x) // 1048576 AS DECIMAL(38,0)))
        |          AS DOUBLE) * 1048576.0 +
        |        CAST(SUM(CAST((x*x*x) % 1048576 AS DECIMAL(38,0)))
        |          AS DOUBLE) AS s3,
        |        CAST(SUM(CAST((x*x*x*x) // 1048576 AS DECIMAL(38,0)))
        |          AS DOUBLE) * 1048576.0 +
        |        CAST(SUM(CAST((x*x*x*x) % 1048576 AS DECIMAL(38,0)))
        |          AS DOUBLE) AS s4,
        |        CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |        CAST(SUM(CAST((y*y) // 1048576 AS DECIMAL(38,0)))
        |          AS DOUBLE) * 1048576.0 +
        |        CAST(SUM(CAST((y*y) % 1048576 AS DECIMAL(38,0)))
        |          AS DOUBLE) AS sy2,
        |        CAST(SUM(CAST((x*y) // 1048576 AS DECIMAL(38,0)))
        |          AS DOUBLE) * 1048576.0 +
        |        CAST(SUM(CAST((x*y) % 1048576 AS DECIMAL(38,0)))
        |          AS DOUBLE) AS sxy,
        |        CAST(COUNT(*) AS DOUBLE) AS nd
        |      FROM b GROUP BY l_returnflag),
        |m AS (SELECT *, s1 / nd AS mu, s2 / nd - (s1 / nd) * (s1 / nd) AS m2,
        |        (nd * sxy - s1 * sy) / (nd * s2 - s1 * s1) AS slope
        |      FROM a)
        |SELECT l_returnflag, n,
        |       (s3 / nd - 3.0 * mu * (s2 / nd) + 2.0 * mu * mu * mu) /
        |         (m2 * sqrt(m2)) AS skew_qty,
        |       (s4 / nd - 4.0 * mu * (s3 / nd) + 6.0 * mu * mu * (s2 / nd)
        |          - 3.0 * mu * mu * mu * mu) / (m2 * m2) - 3.0 AS kurt_qty,
        |       (nd * sxy - s1 * sy) /
        |         sqrt((nd * s2 - s1 * s1) * (nd * sy2 - sy * sy))
        |         AS corr_qty_price,
        |       slope,
        |       (sy - slope * s1) / nd / 100.0 AS intercept
        |FROM m ORDER BY l_returnflag""".stripMargin),

    // Benford first-digit audit: the classic fraud/synthetic-data
    // screen — compare the leading-digit distribution of a monetary
    // column against Benford's log10(1+1/d) expectation and emit the
    // chi-square verdict (df=8, alpha=0.05 critical value 15.5073).
    // The expected proportions are embedded as shared LITERALS (both
    // engines parse the same 15-digit decimal string to the same
    // double) so no transcendental log10() ever evaluates — the no-ln()
    // determinism rule holds. Leading digit is integer→string→first
    // char (identical semantics cross-engine; no log10 bucketing).
    // chi2 terms are bit-identical doubles (same ops on exact counts +
    // the shared literal); their TOTAL is summed via the exact
    // floor(term·2²⁰) decimal lift (profile_distribution_drift's
    // trick) so accumulation order cannot produce a last-ulp split.
    // Plan: one map-side-combinable agg over the scan → 9 groups, then
    // a 9-row broadcast join against the literal digit table; the
    // verdict is O(1) work after the single corpus pass. On TPC-H
    // prices (uniform 901..105k) the audit correctly REJECTS Benford —
    // the interesting verdict for synthetic data.
    "profile_benford_digits" -> QuerySpec(
      (s, d) => {
        import s.implicits._
        val expected = Seq(
          1 -> 0.301029995663981, 2 -> 0.176091259055681,
          3 -> 0.124938736608300, 4 -> 0.096910013008056,
          5 -> 0.079181246047625, 6 -> 0.066946789630613,
          7 -> 0.057991946977687, 8 -> 0.051152522447381,
          9 -> 0.045757490560675).toDF("digit", "p_exp")
        val obs = Tables.lineitem(s, d)
          .select(substring(floor(col("l_extendedprice")).cast("long")
            .cast("string"), 1, 1).cast("int").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n_obs"))
        val j = expected.join(broadcast(obs), Seq("digit"), "left")
          .na.fill(0L, Seq("n_obs"))
        val tot = j.agg(sum("n_obs").as("n_total"))
        val nd = col("n_obs").cast("double")
        val td = col("n_total").cast("double")
        val diff = nd - td * col("p_exp")
        // safeDiv: an empty corpus has n_total=0 — per-digit terms are
        // SQL-NULL like the oracle, not ANSI errors
        val e = j.crossJoin(broadcast(tot))
          .select(col("digit"), col("n_obs"), col("p_exp"),
            Analytic.safeDiv(nd, td).as("p_obs"),
            Analytic.safeDiv(diff * diff, td * col("p_exp"))
              .as("chi2_term"))
        val chi2 = e.agg((sum(floor(col("chi2_term") * lit(1048576.0))
            .cast("decimal(38,0)")).cast("double") / lit(1048576.0))
          .as("chi2_total"))
        e.crossJoin(broadcast(chi2))
          .withColumn("reject_benford", col("chi2_total") > lit(15.5073))
          .orderBy("digit")
      },
      """WITH digits AS (
        |  SELECT * FROM (VALUES
        |    (1, CAST(0.301029995663981 AS DOUBLE)),
        |    (2, CAST(0.176091259055681 AS DOUBLE)),
        |    (3, CAST(0.124938736608300 AS DOUBLE)),
        |    (4, CAST(0.096910013008056 AS DOUBLE)),
        |    (5, CAST(0.079181246047625 AS DOUBLE)),
        |    (6, CAST(0.066946789630613 AS DOUBLE)),
        |    (7, CAST(0.057991946977687 AS DOUBLE)),
        |    (8, CAST(0.051152522447381 AS DOUBLE)),
        |    (9, CAST(0.045757490560675 AS DOUBLE))) AS t(digit, p_exp)),
        |o AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
        |          AS VARCHAR), 1, 1) AS INT) AS digit,
        |        CAST(COUNT(*) AS BIGINT) AS n_obs
        |      FROM lineitem GROUP BY 1),
        |j AS (SELECT d.digit, d.p_exp,
        |        CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs
        |      FROM digits d LEFT JOIN o USING (digit)),
        |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM j),
        |e AS (SELECT digit, n_obs, p_exp,
        |        CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS p_obs,
        |        (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * p_exp)
        |          * (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * p_exp)
        |          / (CAST(n_total AS DOUBLE) * p_exp) AS chi2_term
        |      FROM j, t),
        |c AS (SELECT CAST(SUM(CAST(floor(chi2_term * 1048576.0)
        |          AS DECIMAL(38,0))) AS DOUBLE) / 1048576.0 AS chi2_total
        |      FROM e)
        |SELECT digit, n_obs, p_exp, p_obs, chi2_term, chi2_total,
        |       chi2_total > 15.5073 AS reject_benford
        |FROM e, c ORDER BY digit""".stripMargin),

    // Mean-shift changepoint scan over the daily-revenue series: for
    // every split point t, the scan statistic sqrt(nL·nR/n)·|μL − μR|
    // (the CUSUM-family two-sample location test) — the batch
    // counterpart of a streaming drift alarm, answering WHEN the
    // distribution moved, where profile_ks_test only answers WHETHER.
    // Determinism: daily revenues are exact cent sums in
    // DECIMAL(38,0); the cumulative prefix sums are exact decimals
    // (association-order-free, unlike a double running sum), and only
    // the final closed-form statistic runs in double with the same
    // operation order on both engines; sqrt is IEEE-correctly-rounded
    // (the no-ln() rule bars only transcendentals). Plan shape: ONE
    // map-side-combinable keyed agg collapses the corpus to the
    // per-day table (domain-bounded — dates, not rows; ~2.4k levels
    // here), and the ordered window runs over that reduced series —
    // the identical scale argument as profile_ks_test's ECDF. Top-3
    // splits returned with exact tiebreak (stat DESC, date).
    "profile_mean_shift_scan" -> QuerySpec(
      (s, d) => {
        val day = Tables.orders(s, d)
          .select(to_date(col("o_orderdate")).as("dt"),
            floor(col("o_totalprice") * 100 + lit(0.5))
              .cast("decimal(38,0)").as("cents"))
          .groupBy("dt").agg(sum("cents").as("rev"))
        val tot = day.agg(count(lit(1)).as("n"), sum("rev").as("tot"))
        val wCum = Window.orderBy("dt")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val c = day
          .select(col("dt"), sum("rev").over(wCum).as("cum"),
            row_number().over(Window.orderBy("dt")).cast("long").as("k"))
          .crossJoin(broadcast(tot))
          .filter(col("k") < col("n"))
        val kd = col("k").cast("double")
        val nrd = (col("n") - col("k")).cast("double")
        val ndAll = col("n").cast("double")
        val meanL = col("cum").cast("double") / kd / lit(100.0)
        val meanR = (col("tot") - col("cum")).cast("double") / nrd /
          lit(100.0)
        c.select(col("dt").as("split_date"), col("k").as("n_left"),
            (col("n") - col("k")).as("n_right"),
            meanL.as("mean_left"), meanR.as("mean_right"),
            (sqrt(kd * nrd / ndAll) * abs(meanL - meanR))
              .as("shift_stat"))
          .orderBy(col("shift_stat").desc, col("split_date"))
          .limit(3)
      },
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS dt,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
        |      AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(rev) AS DECIMAL(38,0)) AS tot FROM day),
        |c AS (SELECT dt,
        |        CAST(SUM(rev) OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND CURRENT ROW) AS DECIMAL(38,0)) AS cum,
        |        CAST(ROW_NUMBER() OVER (ORDER BY dt) AS BIGINT) AS k
        |      FROM day),
        |s AS (SELECT dt AS split_date, k AS n_left, n - k AS n_right,
        |        CAST(cum AS DOUBLE) / CAST(k AS DOUBLE) / 100.0
        |          AS mean_left,
        |        CAST(tot - cum AS DOUBLE) / CAST(n - k AS DOUBLE) / 100.0
        |          AS mean_right,
        |        sqrt(CAST(k AS DOUBLE) * CAST(n - k AS DOUBLE)
        |            / CAST(n AS DOUBLE))
        |          * abs(CAST(cum AS DOUBLE) / CAST(k AS DOUBLE) / 100.0
        |            - CAST(tot - cum AS DOUBLE) / CAST(n - k AS DOUBLE)
        |              / 100.0) AS shift_stat
        |      FROM c, t WHERE k < n)
        |SELECT * FROM s ORDER BY shift_stat DESC, split_date
        |LIMIT 3""".stripMargin),

    // Incremental JOIN-view maintenance: the delta algebra
    // Δ(A ⋈ B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, the join counterpart of
    // incremental_agg_maintenance. The fixture splits orders/customer
    // into base + delta by key parity (deterministic, disjoint), then
    // maintains the order-customer join view incrementally and checks
    // it against the full recompute per priority class — count AND
    // exact cent-sum equality, the invariant a warehouse merge job
    // asserts before swapping a view snapshot in. Plan shape: four
    // equi-joins; the delta sides are small by construction (the
    // production case), so at scale each delta join broadcasts while
    // the base⋈base term reuses the co-partitioned shuffle — never a
    // second full-corpus shuffle to refresh the view. Base⋈base is
    // computed once here because the check needs the full recompute
    // anyway; a deployed maintainer would hold it materialized.
    "incremental_join_maintenance" -> QuerySpec(
      (s, d) => {
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val oBase = o.filter(col("o_orderkey") % 4 =!= 0)
        val oDelta = o.filter(col("o_orderkey") % 4 === 0)
        val cBase = c.filter(col("c_custkey") % 5 =!= 0)
        val cDelta = c.filter(col("c_custkey") % 5 === 0)
        def view(os: org.apache.spark.sql.DataFrame,
            cs: org.apache.spark.sql.DataFrame) =
          os.join(cs, col("o_custkey") === col("c_custkey"))
            .select(col("o_orderpriority"),
              floor(col("o_totalprice") * 100 + lit(0.5))
                .cast("decimal(38,0)").as("cents"))
        def tally(v: org.apache.spark.sql.DataFrame, nCol: String,
            revCol: String) =
          v.groupBy("o_orderpriority")
            .agg(count(lit(1)).as(nCol), sum("cents").as(revCol))
        val full = tally(view(o, c), "n_full", "rev_full_cents")
        val inc = tally(
          view(oBase, cBase).unionAll(view(oDelta, cBase))
            .unionAll(view(oBase, cDelta))
            .unionAll(view(oDelta, cDelta)),
          "n_inc", "rev_inc_cents")
        // Output casts to BIGINT: the cents sums are exact integers
        // far below 2^63, and a raw DecimalType output column renders
        // differently across engines' result hashers — decimals stay
        // inside the plan, never in the final select.
        full.join(inc, Seq("o_orderpriority"), "full")
          .select(col("o_orderpriority"), col("n_full"), col("n_inc"),
            col("rev_full_cents").cast("long").as("rev_full_cents"),
            col("rev_inc_cents").cast("long").as("rev_inc_cents"),
            (col("n_full") <=> col("n_inc") &&
              col("rev_full_cents") <=> col("rev_inc_cents"))
              .as("view_consistent"))
          .orderBy("o_orderpriority")
      },
      """WITH v AS (SELECT o_orderpriority,
        |        CAST(floor(o_totalprice * 100 + 0.5) AS DECIMAL(38,0))
        |          AS cents,
        |        o_orderkey % 4 = 0 AS od, c_custkey % 5 = 0 AS cd
        |      FROM orders JOIN customer ON o_custkey = c_custkey),
        |f AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_full,
        |        CAST(SUM(cents) AS DECIMAL(38,0)) AS rev_full_cents
        |      FROM v GROUP BY 1),
        |i AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_inc,
        |        CAST(SUM(cents) AS DECIMAL(38,0)) AS rev_inc_cents
        |      FROM (SELECT * FROM v WHERE NOT od AND NOT cd
        |            UNION ALL SELECT * FROM v WHERE od AND NOT cd
        |            UNION ALL SELECT * FROM v WHERE NOT od AND cd
        |            UNION ALL SELECT * FROM v WHERE od AND cd) u
        |      GROUP BY 1)
        |SELECT o_orderpriority, n_full, n_inc,
        |       CAST(rev_full_cents AS BIGINT) AS rev_full_cents,
        |       CAST(rev_inc_cents AS BIGINT) AS rev_inc_cents,
        |       (n_full IS NOT DISTINCT FROM n_inc) AND
        |       (rev_full_cents IS NOT DISTINCT FROM rev_inc_cents)
        |         AS view_consistent
        |FROM f FULL JOIN i USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin),

    // ABC (Pareto-share) classification: rank customers by lifetime
    // revenue and class them by cumulative revenue share — A up to 80%,
    // B to 95%, C the tail (the inventory-analysis classic, and the
    // "which sources fill 80% of my training tokens" question in
    // corpus terms). The naive plan is ONE GLOBAL cumulative window —
    // a single-partition sort over every customer, the shape that dies
    // at scale. The engine instead runs a DISTRIBUTED TWO-LEVEL PREFIX
    // SUM: coarse revenue BANDS (exact integer div of cents — the band
    // count is bounded by the value domain, not the customer count)
    // get per-band totals, the band-offset running sum is a window
    // over that tiny band table, and the fine cumulative runs
    // PARTITIONED BY BAND in parallel; band offset + within-band
    // prefix = the exact global prefix, because equal revenues can
    // never straddle a band boundary. All prefix arithmetic is exact
    // DECIMAL(38,0) cents and the class thresholds are exact integer
    // cross-products (cum·10 ≤ total·8), so no double ever decides a
    // boundary. The ORACLE is the independent naive global-window
    // formulation — the two engines cross-check the banded identity
    // itself. Verified equal to the naive plan in-probe at sf0.01.
    "customer_abc_classes" -> QuerySpec(
      (s, d) => {
        val rev = Tables.orders(s, d)
          .select(col("o_custkey"),
            floor(col("o_totalprice") * 100 + lit(0.5))
              .cast("decimal(38,0)").as("cents"))
          .groupBy("o_custkey").agg(sum("cents").as("r"))
        val tot = rev.agg(sum("r").as("t"))
        val cum = graft.ops.Banded.running(
            rev.withColumn("band", expr("CAST(r AS BIGINT) div 10000000")),
            Seq("r", "o_custkey"), Seq("r" -> "cum"), inclusive = true,
            descending = true)
          .crossJoin(broadcast(tot))
        val cls = cum.withColumn("abc_class",
          when(col("cum") * 10 <= col("t") * 8, "A")
            .when(col("cum") * 20 <= col("t") * 19, "B")
            .otherwise("C"))
        // rev_cents is cast to BIGINT in the output (exact cents
        // ≪ 2^63): decimals decide every boundary inside the plan but
        // never appear in the final select — raw DecimalType output
        // renders differently across engines' result hashers.
        cls.groupBy("abc_class")
          .agg(count(lit(1)).as("n_customers"),
            sum("r").cast("decimal(38,0)").as("rev_cents"),
            max(col("t")).as("t"))
          .select(col("abc_class"), col("n_customers"),
            col("rev_cents").cast("long").as("rev_cents"),
            (col("rev_cents").cast("double") / col("t").cast("double"))
              .as("rev_share"))
          .orderBy("abc_class")
      },
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
        |      AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS r
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(r) AS DECIMAL(38,0)) AS t FROM rev),
        |w AS (SELECT o_custkey, r,
        |        CAST(SUM(r) OVER (ORDER BY r DESC, o_custkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS DECIMAL(38,0)) AS cum
        |      FROM rev),
        |cls AS (SELECT o_custkey, r,
        |          CASE WHEN cum * 10 <= (SELECT t FROM tot) * 8 THEN 'A'
        |               WHEN cum * 20 <= (SELECT t FROM tot) * 19 THEN 'B'
        |               ELSE 'C' END AS abc_class
        |        FROM w)
        |SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(r) AS BIGINT) AS rev_cents,
        |       CAST(CAST(SUM(r) AS DECIMAL(38,0)) AS DOUBLE)
        |         / CAST((SELECT t FROM tot) AS DOUBLE) AS rev_share
        |FROM cls GROUP BY 1 ORDER BY abc_class""".stripMargin),

    // Full pairwise Pearson correlation matrix over lineitem's four
    // numeric measures in ONE aggregation pass — the feature-redundancy
    // screen a feature store runs before training (drop one of any
    // near-collinear pair). Power-sum determinism as in
    // profile_moments_regression, with one additional guard this query
    // DISCOVERED: a DECIMAL→DOUBLE cast of a sum past 2⁵³ is NOT
    // reliably correctly-rounded on both engines (DuckDB's int128 path
    // truncates — Σep² ≈ 2.2·10¹⁹ at sf0.1 split the hash by one ulp),
    // so every product sum is accumulated as an exact HI/LO pair
    // (term div 2²⁰ and term mod 2²⁰, each summed in DECIMAL(38,0) and
    // each far below 2⁵³ at cast time) and reconstructed as
    // hi·2²⁰ + lo in double — two IEEE ops in fixed order, identical on
    // both engines at any magnitude the fixture reaches. Only the
    // closed-form corr of those bit-equal sums runs in double. Plan: a
    // single map-side-combined global agg over the scan — one pass,
    // the cheapest possible profile shape at any corpus size.
    "profile_correlation_matrix" -> QuerySpec(
      (s, d) => {
        def cents(c: org.apache.spark.sql.Column) =
          floor(c * 100 + lit(0.5)).cast("long")
        def dsum(c: org.apache.spark.sql.Column) =
          sum(c.cast("decimal(38,0)"))
        val cols = Seq("q" -> col("l_quantity"),
          "ep" -> col("l_extendedprice"),
          "dc" -> col("l_discount"), "tx" -> col("l_tax"))
        val lifted = Tables.lineitem(s, d)
          .select(cols.map { case (n, c) => cents(c).as(n) }: _*)
        val pairs = Seq("q" -> "q", "ep" -> "ep", "dc" -> "dc",
          "tx" -> "tx", "q" -> "ep", "q" -> "dc", "q" -> "tx",
          "ep" -> "dc", "ep" -> "tx", "dc" -> "tx")
        val aggs =
          cols.map { case (n, _) => dsum(col(n)).as(s"s_$n") } ++
          pairs.flatMap { case (a, b) =>
            val prod = col(a) * col(b)
            Seq(dsum(expr(s"($a * $b) div 1048576")).as(s"h_${a}_$b"),
              dsum(prod % lit(1048576L)).as(s"l_${a}_$b"))
          }
        val g = lifted.agg(count(lit(1)).as("n_rows"), aggs: _*)
        val nd = col("n_rows").cast("double")
        def sd(n: String) = col(n).cast("double")
        def sp(a: String, b: String) =
          sd(s"h_${a}_$b") * lit(1048576.0) + sd(s"l_${a}_$b")
        // safeDiv: a single-row table has zero variance in every column
        // — each correlation is SQL-NULL (oracle agrees), not an error
        def corr2(a: String, b: String) =
          Analytic.safeDiv(nd * sp(a, b) - sd(s"s_$a") * sd(s"s_$b"),
            sqrt((nd * sp(a, a) - sd(s"s_$a") * sd(s"s_$a")) *
              (nd * sp(b, b) - sd(s"s_$b") * sd(s"s_$b"))))
        g.select(col("n_rows"),
          corr2("q", "ep").as("corr_qty_price"),
          corr2("q", "dc").as("corr_qty_discount"),
          corr2("q", "tx").as("corr_qty_tax"),
          corr2("ep", "dc").as("corr_price_discount"),
          corr2("ep", "tx").as("corr_price_tax"),
          corr2("dc", "tx").as("corr_discount_tax"))
      },
      """WITH b AS (SELECT
        |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS ep,
        |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dc,
        |    CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tx
        |  FROM lineitem),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS DOUBLE) AS nd,
        |    CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) AS s_q,
        |    CAST(SUM(CAST(ep AS DECIMAL(38,0))) AS DOUBLE) AS s_ep,
        |    CAST(SUM(CAST(dc AS DECIMAL(38,0))) AS DOUBLE) AS s_dc,
        |    CAST(SUM(CAST(tx AS DECIMAL(38,0))) AS DOUBLE) AS s_tx,
        |    CAST(SUM(CAST((q*q) // 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      * 1048576.0 +
        |    CAST(SUM(CAST((q*q) % 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      AS s_q_q,
        |    CAST(SUM(CAST((ep*ep) // 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      * 1048576.0 +
        |    CAST(SUM(CAST((ep*ep) % 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      AS s_ep_ep,
        |    CAST(SUM(CAST((dc*dc) // 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      * 1048576.0 +
        |    CAST(SUM(CAST((dc*dc) % 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      AS s_dc_dc,
        |    CAST(SUM(CAST((tx*tx) // 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      * 1048576.0 +
        |    CAST(SUM(CAST((tx*tx) % 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      AS s_tx_tx,
        |    CAST(SUM(CAST((q*ep) // 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      * 1048576.0 +
        |    CAST(SUM(CAST((q*ep) % 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      AS s_q_ep,
        |    CAST(SUM(CAST((q*dc) // 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      * 1048576.0 +
        |    CAST(SUM(CAST((q*dc) % 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      AS s_q_dc,
        |    CAST(SUM(CAST((q*tx) // 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      * 1048576.0 +
        |    CAST(SUM(CAST((q*tx) % 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      AS s_q_tx,
        |    CAST(SUM(CAST((ep*dc) // 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      * 1048576.0 +
        |    CAST(SUM(CAST((ep*dc) % 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      AS s_ep_dc,
        |    CAST(SUM(CAST((ep*tx) // 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      * 1048576.0 +
        |    CAST(SUM(CAST((ep*tx) % 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      AS s_ep_tx,
        |    CAST(SUM(CAST((dc*tx) // 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      * 1048576.0 +
        |    CAST(SUM(CAST((dc*tx) % 1048576 AS DECIMAL(38,0))) AS DOUBLE)
        |      AS s_dc_tx
        |  FROM b)
        |SELECT n_rows,
        |  (nd * s_q_ep - s_q * s_ep) /
        |    sqrt((nd * s_q_q - s_q * s_q) * (nd * s_ep_ep - s_ep * s_ep))
        |    AS corr_qty_price,
        |  (nd * s_q_dc - s_q * s_dc) /
        |    sqrt((nd * s_q_q - s_q * s_q) * (nd * s_dc_dc - s_dc * s_dc))
        |    AS corr_qty_discount,
        |  (nd * s_q_tx - s_q * s_tx) /
        |    sqrt((nd * s_q_q - s_q * s_q) * (nd * s_tx_tx - s_tx * s_tx))
        |    AS corr_qty_tax,
        |  (nd * s_ep_dc - s_ep * s_dc) /
        |    sqrt((nd * s_ep_ep - s_ep * s_ep) *
        |         (nd * s_dc_dc - s_dc * s_dc)) AS corr_price_discount,
        |  (nd * s_ep_tx - s_ep * s_tx) /
        |    sqrt((nd * s_ep_ep - s_ep * s_ep) *
        |         (nd * s_tx_tx - s_tx * s_tx)) AS corr_price_tax,
        |  (nd * s_dc_tx - s_dc * s_tx) /
        |    sqrt((nd * s_dc_dc - s_dc * s_dc) *
        |         (nd * s_tx_tx - s_tx * s_tx)) AS corr_discount_tax
        |FROM a""".stripMargin),

    // Tukey IQR-fence outlier census per order-priority segment — the
    // robust-statistics screen a data-quality gate runs before trusting a
    // numeric column (fences from quartiles resist the very outliers a
    // mean±kσ rule would absorb). Quartiles are DISCRETE (rank
    // ceil(p·n) with a deterministic (value, key) tiebreak — actual data
    // values, exactly reproducible in any engine; the
    // percentile_disc_exact pattern); the fence arithmetic q1 − 1.5·iqr /
    // q3 + 1.5·iqr is the same three IEEE ops on both sides, and the
    // outlier predicate is a pure comparison. Scale: one window shuffle
    // on the segment key for ranks, then a broadcast of the 5-row
    // quartile table back onto the scan — the fact table is read twice
    // but never self-joined.
    "profile_outlier_iqr" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy("o_totalprice", "o_orderkey")
        val ranked = Tables.orders(s, d)
          .select(col("o_orderpriority"), col("o_totalprice"),
            col("o_orderkey"))
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt",
            count(lit(1)).over(Window.partitionBy("o_orderpriority")))
        val qs = ranked
          .filter(col("rn") === expr("(cnt + 3) div 4") ||
            col("rn") === expr("(3 * cnt + 3) div 4"))
          .groupBy("o_orderpriority")
          .agg(min("o_totalprice").as("q1"), max("o_totalprice").as("q3"))
          .select(col("o_orderpriority"), col("q1"), col("q3"),
            (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
            (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
        Tables.orders(s, d)
          .select(col("o_orderpriority"), col("o_totalprice"))
          .join(broadcast(qs), Seq("o_orderpriority"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            min("q1").as("q1"), min("q3").as("q3"),
            sum(when(col("o_totalprice") < col("lo"), 1L).otherwise(0L))
              .as("n_low"),
            sum(when(col("o_totalprice") > col("hi"), 1L).otherwise(0L))
              .as("n_high"))
          .orderBy("o_orderpriority")
      },
      """WITH r AS (
        |  SELECT o_orderpriority, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice, o_orderkey) AS rn,
        |         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
        |  FROM orders),
        |q AS (
        |  SELECT o_orderpriority,
        |         MIN(o_totalprice) AS q1, MAX(o_totalprice) AS q3,
        |         MIN(o_totalprice) - 1.5 * (MAX(o_totalprice)
        |           - MIN(o_totalprice)) AS lo,
        |         MAX(o_totalprice) + 1.5 * (MAX(o_totalprice)
        |           - MIN(o_totalprice)) AS hi
        |  FROM r
        |  WHERE rn = (cnt + 3) // 4 OR rn = (3 * cnt + 3) // 4
        |  GROUP BY 1)
        |SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(q.q1) AS q1, MIN(q.q3) AS q3,
        |       CAST(SUM(CASE WHEN o.o_totalprice < q.lo THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_low,
        |       CAST(SUM(CASE WHEN o.o_totalprice > q.hi THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_high
        |FROM orders o JOIN q USING (o_orderpriority)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),

    // Bitemporal as-of: the two-axis point-in-time query a restatement-
    // aware warehouse answers — "what was VALID on date V, as the system
    // KNEW it on date T" (valid time × transaction time, Snodgrass's
    // bitemporal model; single-axis cousins: snapshot_asof = transaction
    // time only, scd2 history = valid time only). The version table is
    // derived deterministically from orders: every order books a PENDING
    // version valid from o_orderdate (recorded next day), then a
    // restatement to its final o_orderstatus valid from day +30 (recorded
    // day +35 — the ingest lag). Two scenarios share the SAME valid date
    // and differ only in transaction time, so their delta is pure
    // retroactive knowledge: under 'as_reported' recent orders still read
    // PENDING; under 'restated' the same valid instant has absorbed the
    // late-arriving corrections. Effective version = latest (valid_from,
    // tx_date) among versions visible on both axes — one row_number over
    // (scenario, orderkey). All date/integer arithmetic — exact on both
    // engines. Scale: the version union is 2 rows/order and the scenario
    // fan-out a constant ×2; ONE hash Exchange on (scenario, orderkey)
    // drives the pick, then the grouped census is map-side combined.
    "warehouse_bitemporal_asof" -> QuerySpec(
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderdate").cast("date").as("o_orderdate"))
        val v = o.select(col("o_orderkey"), lit("PENDING").as("status"),
            col("o_orderdate").as("valid_from"),
            date_add(col("o_orderdate"), 1).as("tx_date"))
          .unionAll(o.select(col("o_orderkey"), col("o_orderstatus"),
            date_add(col("o_orderdate"), 30), date_add(col("o_orderdate"), 35)))
        val scen = explode(array(
          struct(lit("as_reported").as("scenario"),
            to_date(lit("1995-07-01")).as("v_date"),
            to_date(lit("1995-07-03")).as("t_date")),
          struct(lit("restated").as("scenario"),
            to_date(lit("1995-07-01")).as("v_date"),
            to_date(lit("1996-01-01")).as("t_date"))))
        v.select(col("*"), scen.as("sc"))
          .filter(col("valid_from") <= col("sc.v_date") &&
            col("tx_date") <= col("sc.t_date"))
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("sc.scenario"), col("o_orderkey"))
            .orderBy(desc("valid_from"), desc("tx_date"))))
          .filter(col("rn") === 1)
          .groupBy(col("sc.scenario").as("scenario"), col("status"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("scenario", "status")
      },
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(o_orderdate AS DATE) AS od
        |  FROM orders),
        |v AS (
        |  SELECT o_orderkey, 'PENDING' AS status,
        |         od AS valid_from, od + 1 AS tx_date
        |  FROM o
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, od + 30, od + 35
        |  FROM o),
        |sc AS (SELECT * FROM (VALUES
        |         ('as_reported', DATE '1995-07-01', DATE '1995-07-03'),
        |         ('restated',    DATE '1995-07-01', DATE '1996-01-01'))
        |       t(scenario, v_date, t_date)),
        |eff AS (
        |  SELECT sc.scenario, v.o_orderkey, v.status,
        |         row_number() OVER (PARTITION BY sc.scenario, v.o_orderkey
        |           ORDER BY v.valid_from DESC, v.tx_date DESC) AS rn
        |  FROM v JOIN sc
        |    ON v.valid_from <= sc.v_date AND v.tx_date <= sc.t_date)
        |SELECT scenario, status, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM eff WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY scenario, status""".stripMargin),

    // Differentially-private count release — the geometric mechanism
    // (Ghosh-Roughgarden-Sundararajan 2009: the discrete Laplace, and the
    // universally-optimal ε-DP mechanism for counting queries) applied to
    // the per-nation customer census at ε = ln 2 (α = e^-ε = 1/2,
    // sensitivity 1 for add/remove-one-row neighbors). Noise is
    // DERANDOMIZED the repo-standard way: u = md5-hash(group key) mod
    // 2^20 is the uniform draw, and k = #{CDF thresholds ≤ u} - 16 inverts
    // the exact two-sided-geometric CDF — thresholds are floor(2^20·CDF)
    // integers computed once in BigInt arithmetic and embedded VERBATIM
    // in both engines' plans, so no transcendental function crosses the
    // engine boundary (same no-exp/no-ln discipline as LearnQ). |k| > 16
    // clips to ±16 (tail mass 2^-15/3 ≈ 1e-5 — the clip is the standard
    // bounded-noise variant, stated here rather than silent). Negative
    // releases post-process to 0 (post-processing preserves DP). This
    // query is the pre-release CALIBRATION AUDIT (true count, draw, noise
    // side by side on test data). IMPORTANT: the md5-of-public-group-key
    // draw exists ONLY for cross-engine testing — it is recomputable by
    // any consumer who knows the group key, so this derandomized form
    // provides NO actual ε-DP guarantee. A real release MUST substitute
    // a secret-seeded PRF (e.g. HMAC with a key held by the curator) or
    // a truly random draw for `u`, and project (c_nationkey, n_released)
    // only — everything else about the mechanism (thresholds, clip,
    // post-processing) carries over unchanged. Scale: one
    // map-side-combined keyed agg; noise is per-GROUP scalar
    // arithmetic — nothing else moves.
    "warehouse_dp_noisy_release" -> QuerySpec(
      (s, d) => {
        val noise = lit(-16L) +
          size(filter(typedLit(DpThresholds),
            t => t <= col("u"))).cast("long")
        Tables.customer(s, d)
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_true"))
          .withColumn("u", TextOps.hash64(
            concat(lit("dp:"), col("c_nationkey"))) % lit(1048576L))
          .withColumn("noise", noise)
          .withColumn("n_released",
            greatest(col("n_true") + col("noise"), lit(0L)))
          .select(col("c_nationkey"), col("n_true"), col("u"),
            col("noise"), col("n_released"))
          .orderBy("c_nationkey")
      },
      s"""WITH g AS (
         |  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_true,
         |         ${duckHash("'dp:' || CAST(c_nationkey AS VARCHAR)")}
         |           % 1048576 AS u
         |  FROM customer GROUP BY c_nationkey),
         |n AS (
         |  SELECT c_nationkey, n_true, u,
         |         CAST(len(list_filter([${DpThresholds.mkString(", ")}],
         |           t -> t <= u)) AS BIGINT) - 16 AS noise
         |  FROM g)
         |SELECT c_nationkey, n_true, u, noise,
         |       GREATEST(n_true + noise, 0) AS n_released
         |FROM n ORDER BY c_nationkey""".stripMargin),

    // Distinct l-diversity census — k-anonymity's companion audit
    // (Machanavajjhala et al. 2007): a release can be k-anonymous yet
    // leak the sensitive attribute when an equivalence class is
    // homogeneous, so the gate also requires every quasi-identifier
    // class to carry >= l DISTINCT sensitive values. Same QI tuple
    // machinery as warehouse_k_anonymity (nation × 1000-unit balance
    // band) with c_mktsegment standing in as the sensitive column; for
    // each l ∈ {2,3,4} the census counts the classes below l and the
    // rows exposed in them. One keyed agg with a distinct-count (the
    // only extra cost over the k-anon pass), then a constant fan-out
    // over the l values re-scans the GROUP table, not the fact table.
    "warehouse_l_diversity" -> QuerySpec(
      (s, d) => {
        val groups = Tables.customer(s, d)
          .select(col("c_nationkey"),
            floor(col("c_acctbal") / lit(1000.0)).cast("long").as("bal_band"),
            col("c_mktsegment"))
          .groupBy("c_nationkey", "bal_band")
          .agg(count(lit(1)).as("sz"),
            countDistinct(col("c_mktsegment")).as("nd"))
        groups
          .select(explode(array(lit(2L), lit(3L), lit(4L))).as("l"),
            col("sz"), col("nd"))
          .groupBy("l")
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("nd") < col("l"), 1L).otherwise(0L))
              .as("groups_below"),
            sum(when(col("nd") < col("l"), col("sz")).otherwise(0L))
              .as("rows_exposed"))
          .select(col("l"), col("n_groups"), col("groups_below"),
            col("rows_exposed"), (col("rows_exposed") === 0L).as("diverse"))
          .orderBy("l")
      },
      """WITH g AS (
        |  SELECT c_nationkey,
        |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        |         COUNT(*) AS sz,
        |         CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS nd
        |  FROM customer
        |  GROUP BY c_nationkey, bal_band),
        |x AS (SELECT l, sz, nd FROM g, UNNEST([2, 3, 4]) AS t(l))
        |SELECT CAST(l AS BIGINT) AS l,
        |       COUNT(*) AS n_groups,
        |       CAST(SUM(CASE WHEN nd < l THEN 1 ELSE 0 END) AS BIGINT)
        |         AS groups_below,
        |       CAST(SUM(CASE WHEN nd < l THEN sz ELSE 0 END) AS BIGINT)
        |         AS rows_exposed,
        |       SUM(CASE WHEN nd < l THEN sz ELSE 0 END) = 0 AS diverse
        |FROM x
        |GROUP BY l
        |ORDER BY l""".stripMargin)
  )
}
