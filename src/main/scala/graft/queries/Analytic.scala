package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.io.Tables

/** Analytic operator pack: window functions, grouping sets, set operations,
  * subqueries, multi-way joins, scalar function surface, JSON extraction,
  * higher-order array functions, and the SQL front-end (SURVEY.md §2.8 and
  * the "not present in reference → extended surface" rows).
  */
object Analytic {

  /** Per-session monitors serializing the recursive-CTE valve window
    * (weak keys: a discarded session must not be pinned by its lock). */
  private[queries] val cteValveLocks:
      java.util.Map[org.apache.spark.sql.SparkSession, Object] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, Object])

  private def dsum(c: String) =
    sum(col(c).cast("decimal(25,6)")).cast("double")

  /** SQL-NULL division: x/0 → NULL, matching DuckDB (and disarming
    * Spark's ANSI DIVIDE_BY_ZERO on degenerate inputs — a zero variance
    * or empty group is a legal input, not a crash). Identical to plain
    * division whenever the divisor is nonzero, so real-fixture hashes
    * are untouched. */
  private[queries] def safeDiv(num: org.apache.spark.sql.Column,
                               den: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(den =!= lit(0.0), num / den)

  private val BootB = 64

  /** floor(2^20 · CDF_Poisson(1)(j)) for j = 0..7 — the inverse-CDF grid
    * of the Poisson-bootstrap weight. Computed ONCE here at class init
    * (the only exp() in the pipeline runs on the driver; both engines
    * consume the resulting integer literals verbatim, same discipline as
    * Warehouse.DpThresholds). A draw u ∈ [0, 2^20) maps to weight
    * w = #{t ≤ u} ∈ 0..8; the tail clips at 8 (residual mass ≈ 1.1e-6). */
  private val PoissonThresholds: Seq[Long] = {
    var p = math.exp(-1.0)
    var cdf = 0.0
    (0 to 7).map { k =>
      if (k > 0) p /= k
      cdf += p
      // bound: cdf in (0, 1], so floor(cdf * 2^20) <= 2^20 << 2^63.
      math.floor(cdf * 1048576.0).toLong
    }
  }

  /** Tie-averaged DOUBLED rank per distinct value of `vcol` (a LongType
    * column): dr(v) = 2·(#values below v) + count(v) + 1, so average
    * ranks with .5 ties stay integral. The count of values below is a
    * [[graft.ops.Banded]] exclusive running sum over bands of width
    * `bandWidth`. Input: one row per distinct value with its count —
    * callers groupBy first, so this stage is distinct-sized. Exposed
    * private[graft] so PhysicalPlanSpec can pin the shape. */
  private[graft] def doubledRankTable(
      distinctCounts: org.apache.spark.sql.DataFrame,
      vcol: String, bandWidth: Long): org.apache.spark.sql.DataFrame =
    graft.ops.Banded.running(
        distinctCounts.withColumn("band", expr(s"$vcol div $bandWidth")),
        Seq(vcol), Seq("c" -> "below"))
      .select(col(vcol),
        (lit(2L) * col("below") + col("c") + lit(1L)).as("dr"))

  /** Poisson-bootstrap replicate means over (o_orderkey, o_totalprice):
    * the B/2-fold expansion does 32 md5s per order (each 128-bit digest
    * funds TWO independent 60-bit draws — hex 1-15 for replicate g, hex
    * 17-31 for g+B/2), CPU-heavy per-row work that a one-row-group
    * fixture would pin to a single core (the Scale.fanOut contract).
    * Exposed private[graft] so PhysicalPlanSpec can assert the shape the
    * comment claims: ONE map-side-combined agg straight off the
    * expansion — partial+final HashAggregate around the single
    * hash(b) Exchange, no Window, no join. */
  private[graft] def bootstrapReplicates(
      o: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.ops.Scale.fanOut(o)
      .select(col("o_orderkey"), col("o_totalprice"),
        explode(array((0 until BootB / 2).map(lit(_)): _*)).as("g"))
      .withColumn("h",
        md5(concat_ws(":", col("o_orderkey"), col("g"))))
      .select(col("o_totalprice"), col("g"),
        posexplode(array(
          conv(substring(col("h"), 1, 15), 16, 10).cast("long")
            % lit(1048576L),
          conv(substring(col("h"), 17, 15), 16, 10).cast("long")
            % lit(1048576L))).as(Seq("half", "u")))
      .withColumn("b", col("g") + lit(BootB / 2) * col("half"))
      // r15: count-of-thresholds-below as a codegen sum of comparisons —
      // identical to size(filter(thresholds, t <= u)) (thresholds are a
      // static 9-element list; the HOF filter evaluated its lambda
      // interpreted on every one of the B·|orders| expanded rows)
      .withColumn("w",
        PoissonThresholds.map(t =>
            when(lit(t) <= col("u"), 1L).otherwise(0L))
          .reduce(_ + _))
      .groupBy("b")
      .agg(sum((col("w").cast("double") * col("o_totalprice"))
          .cast("decimal(25,6)")).as("s"),
        sum("w").as("n"))
      .select(col("b"),
        // safeDiv: a degenerate corpus can give a replicate all-zero
        // Poisson weights (sum(w)=0) — its mean is SQL-NULL, as the
        // oracle's x/0 evaluates, not an ANSI error
        safeDiv(col("s").cast("double"), col("n").cast("double")).as("m"))

  val registry: Map[String, QuerySpec] = Map(

    // Market-basket association rules over order contents: for every part
    // pair co-occurring in >= 2 orders, support / confidence(a->b) /
    // lift, top 20 by lift — the classic affinity-mining op behind
    // "frequently bought together". Scale shape: the pair census IS
    // GraphQ's shared support-carrying co-purchase stage (one order-key
    // self-join per session — the shuffle is keyed by order, pair
    // cardinality bounded per order by (items/order)², never
    // all-parts²), consumed here as a filter; per-part order counts
    // BROADCAST (|parts| rows) for the rational support/confidence/lift
    // arithmetic; the cut is a TakeOrdered top-20, never a global sort.
    // Lift = n_both·n_orders / (n_a·n_b): integer products, ONE double
    // division on each engine, ties broken on the pair ids.
    "basket_association_rules" -> QuerySpec(
      (s, d) => {
        val po = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val nOrders = po.agg(countDistinct("ok").as("n_orders"))
        val pc = po.groupBy(col("pk")).agg(count(lit(1)).as("n"))
        // n_both(pa, pb) = distinct orders containing both = the SHARED
        // co-purchase stage's support column (GraphQ builds it once per
        // session off the raw lineitem self-join; countDistinct dedups
        // repeated (order, part) rows exactly like the DISTINCT basket
        // table here) — keep the canonical pa < pb half.
        val pairs = GraphQ.coPurchaseSupportEdges(s, d)
          .filter(col("src") < col("dst") && col("support") >= 2)
          .select(col("src").as("pa"), col("dst").as("pb"),
            col("support").as("n_both"))
        pairs
          .join(broadcast(pc.select(col("pk").as("pa"), col("n").as("na"))),
            "pa")
          .join(broadcast(pc.select(col("pk").as("pb"), col("n").as("nb"))),
            "pb")
          .crossJoin(broadcast(nOrders))
          .select(col("pa"), col("pb"), col("n_both"),
            (col("n_both").cast("double") / col("n_orders").cast("double"))
              .as("support"),
            (col("n_both").cast("double") / col("na").cast("double"))
              .as("confidence"),
            ((col("n_both") * col("n_orders")).cast("double") /
              (col("na") * col("nb")).cast("double")).as("lift"))
          .orderBy(desc("lift"), asc("pa"), asc("pb"))
          .limit(20)
      },
      """WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders
        |      FROM po),
        |pc AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM po
        |       GROUP BY 1),
        |pairs AS (SELECT a.pk AS pa, b.pk AS pb,
        |            CAST(COUNT(*) AS BIGINT) AS n_both
        |          FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
        |          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT p.pa, p.pb, p.n_both,
        |       CAST(p.n_both AS DOUBLE) / CAST(n.n_orders AS DOUBLE)
        |         AS support,
        |       CAST(p.n_both AS DOUBLE) / CAST(ca.n AS DOUBLE)
        |         AS confidence,
        |       CAST(p.n_both * n.n_orders AS DOUBLE)
        |         / CAST(ca.n * cb.n AS DOUBLE) AS lift
        |FROM pairs p JOIN pc ca ON p.pa = ca.pk
        |             JOIN pc cb ON p.pb = cb.pk
        |             CROSS JOIN n
        |ORDER BY lift DESC, pa, pb LIMIT 20""".stripMargin),

    // Window ranking: top-2 orders per customer. row_number under a total
    // order → deterministic; single shuffle on the partition key.
    "window_topn_per_customer" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rn")
      },
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2
        |ORDER BY o_custkey, rn""".stripMargin),

    // Running (cumulative) sum per supplier — frame-based window agg with
    // an exact decimal accumulator for hash-stable doubles.
    "window_running_sum" -> QuerySpec(
      (s, d) => {
        // The WINDOW order carries (l_partkey, l_quantity) tiebreakers:
        // the synthetic lineitem holds duplicate (l_orderkey,
        // l_linenumber, l_shipdate) rows distinguished only by supplier
        // — separate partitions at every uniform fixture, but the
        // .sf2hot celebrity fold lands both twins in the HOT partition,
        // where an untied window order makes the running prefix an
        // engine coin flip (caught by the full .sf2hot sweep: a
        // quantity-18 row on either side of the probe). With the
        // tiebreak, equal-in-all-keys twins are value-identical rows —
        // either order emits the same multiset.
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber",
            "l_partkey", "l_quantity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.lineitem(s, d)
          .filter(col("l_suppkey") < 10)
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            sum(col("l_quantity").cast("decimal(25,6)")).over(w)
              .cast("double").as("running_qty"))
          // running_qty is the final OUTPUT tiebreaker: rows duplicating
          // (l_orderkey, l_linenumber) differ by l_shipdate and so carry
          // DISTINCT running sums (quantities >= 1 make the prefix sum
          // strictly increasing within a partition).
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber",
            "running_qty")
      },
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) OVER (
        |         PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |                  l_partkey, l_quantity
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS running_qty
        |FROM lineitem WHERE l_suppkey < 10
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""".stripMargin),

    // lag/lead over event streams keyed by user — the sessionization
    // primitive. Ordered by event_id (ts is ns-precision in the parquet;
    // Spark truncates to µs, so ts can't be an order key for parity).
    "window_lag_lead" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables.events(s, d)
          .filter(col("user_id") < 10)
          .select(col("user_id"), col("event_id"),
            lag("value", 1).over(w).as("prev_value"),
            lead("event_type", 1).over(w).as("next_type"))
          .orderBy("user_id", "event_id")
      },
      """SELECT user_id, event_id,
        |       lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
        |       lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type
        |FROM events WHERE user_id < 10
        |ORDER BY user_id, event_id""".stripMargin),

    // ROLLUP grouping sets; null group markers coalesced to a sentinel so
    // both engines sort identically.
    "rollup_revenue" -> QuerySpec(
      // r15: fan out the narrow projection (single-split fixture scan
      // pins the 3x-expanded rollup partials to one core otherwise)
      (s, d) => graft.ops.Scale.fanOut(Tables.lineitem(s, d)
          .select("l_returnflag", "l_linestatus", "l_extendedprice"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_extendedprice").as("revenue"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("status"),
          col("revenue"), col("n"))
        .orderBy("flag", "status"),
      """SELECT coalesce(l_returnflag, '(all)') AS flag,
        |       coalesce(l_linestatus, '(all)') AS status,
        |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6)))
        |            AS VARCHAR) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |HAVING COUNT(*) > 0
        |ORDER BY flag, status""".stripMargin),

    // CUBE — all grouping-set combinations.
    "cube_orders" -> QuerySpec(
      (s, d) => Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"))
        .orderBy("status", "priority"),
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |       coalesce(o_orderpriority, '(all)') AS priority,
        |       COUNT(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |HAVING COUNT(*) > 0
        |ORDER BY status, priority""".stripMargin),

    // INTERSECT / EXCEPT set semantics (distinct, like SQL).
    "intersect_except" -> QuerySpec(
      (s, d) => {
        val brandsSmall = Tables.part(s, d).filter(col("p_size") <= 10)
          .select("p_brand")
        val brandsBig = Tables.part(s, d).filter(col("p_size") >= 40)
          .select("p_brand")
        val both = brandsSmall.intersect(brandsBig)
          .withColumn("op", lit("intersect"))
        val onlySmall = brandsSmall.except(brandsBig)
          .withColumn("op", lit("except"))
        both.unionByName(onlySmall).orderBy("op", "p_brand")
      },
      """SELECT * FROM (
        |  SELECT p_brand, 'intersect' AS op FROM
        |    (SELECT p_brand FROM part WHERE p_size <= 10
        |     INTERSECT SELECT p_brand FROM part WHERE p_size >= 40)
        |  UNION ALL
        |  SELECT p_brand, 'except' AS op FROM
        |    (SELECT p_brand FROM part WHERE p_size <= 10
        |     EXCEPT SELECT p_brand FROM part WHERE p_size >= 40)
        |) ORDER BY op, p_brand""".stripMargin),

    // Three-way dimension join (region ⋈ nation ⋈ customer) — a broadcast
    // chain: both dims are tiny, so no shuffle of the fact side.
    "join_three_way" -> QuerySpec(
      (s, d) => {
        val r = broadcast(Tables.region(s, d))
        val n = broadcast(Tables.nation(s, d))
        Tables.customer(s, d)
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name").agg(
            count(lit(1)).as("n_customers"),
            dsum("c_acctbal").as("total_bal"))
          .orderBy("r_name")
      },
      """SELECT r_name, COUNT(*) AS n_customers,
        |       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6)))
        |            AS VARCHAR) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // FULL OUTER join with both-sided null production.
    "join_full_outer" -> QuerySpec(
      (s, d) => {
        val lowCust = Tables.customer(s, d).filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey").as("k"), col("c_name"))
        val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
          .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_big"))
        lowCust.join(bigOrders, Seq("k"), "full_outer")
          .select(col("k"), col("c_name"), col("n_big"))
          .orderBy(asc_nulls_first("k"), asc_nulls_first("c_name"))
      },
      """SELECT k, c_name, n_big FROM
        |  (SELECT c_custkey AS k, c_name FROM customer WHERE c_custkey % 3 = 0) c
        |  FULL OUTER JOIN
        |  (SELECT o_custkey AS k, COUNT(*) AS n_big FROM orders
        |   WHERE o_totalprice > 400000.0 GROUP BY o_custkey) o
        |  USING (k)
        |ORDER BY k NULLS FIRST, c_name NULLS FIRST""".stripMargin),

    // CROSS join (small × small).
    "cross_join_region_status" -> QuerySpec(
      (s, d) => Tables.region(s, d).select("r_name")
        .crossJoin(Tables.orders(s, d).select("o_orderstatus").distinct())
        .orderBy("r_name", "o_orderstatus"),
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, o_orderstatus""".stripMargin),

    // Grouped aggregation + HAVING + exact COUNT(DISTINCT).
    "having_distinct_count" -> QuerySpec(
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n"))
        .filter(col("n") > 100)
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag HAVING COUNT(*) > 100
        |ORDER BY l_returnflag""".stripMargin),

    // ORDER BY ... LIMIT ... OFFSET pagination under a total order.
    "limit_offset_page" -> QuerySpec(
      (s, d) => Tables.part(s, d)
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
        .offset(20).limit(10),
      "SELECT p_partkey, p_name FROM part ORDER BY p_partkey LIMIT 10 OFFSET 20"),

    // Deterministic pseudo-random sampling (F5/O1 parity): hash-ordered
    // top-5. rand(seed) is engine-specific; sha2 order is portable.
    "deterministic_sample" -> QuerySpec(
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          sha2(col("o_orderkey").cast("string"), 256).as("h"))
        .orderBy("h").limit(5),
      """SELECT o_orderkey, o_orderpriority, sha256(CAST(o_orderkey AS VARCHAR)) AS h
        |FROM orders ORDER BY h LIMIT 5""".stripMargin),

    // String scalar-function surface over part names.
    "string_functions" -> QuerySpec(
      (s, d) => Tables.part(s, d)
        .select(col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          substring(col("p_name"), 1, 5).as("sub"),
          length(col("p_name")).cast("long").as("len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("cat"),
          trim(lit("  pad  ")).as("trimmed"),
          regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("first_word"),
          replace(col("p_brand"), lit("Brand"), lit("B")).as("repl"))
        .orderBy("p_partkey"),
      """SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
        |       p_name[1:5] AS sub, CAST(length(p_name) AS BIGINT) AS len,
        |       concat_ws('|', p_brand, p_type) AS cat,
        |       trim('  pad  ') AS trimmed,
        |       coalesce(regexp_extract(p_type, '^([A-Z]+)', 1), '') AS first_word,
        |       replace(p_brand, 'Brand', 'B') AS repl
        |FROM part ORDER BY p_partkey""".stripMargin),

    // Remaining ranking/navigation window functions: cumulative
    // distribution (exact integer ratio → identical IEEE division both
    // engines) and nth_value over the full frame.
    "window_dist_nth" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(desc("c_acctbal"), asc("c_custkey"))
        val wf = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        Tables.customer(s, d)
          .filter(col("c_custkey") < 500)
          .select(col("c_mktsegment"), col("c_custkey"),
            cume_dist().over(w).as("cd"),
            nth_value(col("c_custkey"), 3).over(wf).as("third_richest"))
          .orderBy("c_mktsegment", "c_custkey")
      },
      """SELECT c_mktsegment, c_custkey,
        |       cume_dist() OVER w AS cd,
        |       nth_value(c_custkey, 3) OVER (w ROWS BETWEEN UNBOUNDED
        |         PRECEDING AND UNBOUNDED FOLLOWING) AS third_richest
        |FROM customer WHERE c_custkey < 500
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin),

    // Exact math scalar surface (IEEE-exact ops only — no libm drift).
    "math_functions" -> QuerySpec(
      (s, d) => Tables.customer(s, d)
        .select(col("c_custkey"),
          abs(col("c_acctbal")).as("abs_bal"),
          round(col("c_custkey") / 7.0, 2).as("round_div"),
          floor(col("c_acctbal")).cast("double").as("floor_bal"),
          ceil(col("c_acctbal")).cast("double").as("ceil_bal"),
          pmod(col("c_custkey"), lit(97)).as("mod_key"),
          greatest(col("c_acctbal"), lit(0.0)).as("pos_bal"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, abs(c_acctbal) AS abs_bal,
        |       round(c_custkey / 7.0, 2) AS round_div,
        |       CAST(floor(c_acctbal) AS DOUBLE) AS floor_bal,
        |       CAST(ceil(c_acctbal) AS DOUBLE) AS ceil_bal,
        |       c_custkey % 97 AS mod_key,
        |       greatest(c_acctbal, 0.0) AS pos_bal
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // X3 — JSON extraction from the events props column.
    "json_extract_props" -> QuerySpec(
      (s, d) => Tables.events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k"),
      """SELECT CAST(props->>'k' AS INT) AS k, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin),

    // X3 — higher-order array functions over the embedding vectors:
    // sequential left-fold sum (order-identical in both engines) and
    // element transform.
    "array_higher_order" -> QuerySpec(
      (s, d) => Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double")).as("vec_sum"),
          get(transform(col("embedding"),
            x => x.cast("double") * x.cast("double")), lit(0)).as("first_sq"))
        .orderBy("vec_id"),
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |       list_reduce(list_prepend(0.0, list_transform(embedding,
        |         x -> CAST(x AS DOUBLE))), (a, b) -> a + b) AS vec_sum,
        |       CAST(embedding[1] AS DOUBLE) * CAST(embedding[1] AS DOUBLE) AS first_sq
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // The full ranking-function family over one window: rank, dense_rank,
    // percent_rank, ntile, first/last value with an explicit frame.
    "window_rank_variants" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(desc("c_acctbal"), asc("c_custkey"))
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.customer(s, d)
          .filter(col("c_custkey") < 500)
          .select(col("c_mktsegment"), col("c_custkey"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            percent_rank().over(w).as("prnk"),
            ntile(4).over(w).as("quartile"),
            first(col("c_custkey")).over(wf).as("richest"),
            last(col("c_custkey")).over(wf).as("poorest"))
          .orderBy("c_mktsegment", "rnk")
      },
      """SELECT c_mktsegment, c_custkey,
        |       rank() OVER w AS rnk,
        |       dense_rank() OVER w AS drnk,
        |       percent_rank() OVER w AS prnk,
        |       ntile(4) OVER w AS quartile,
        |       first_value(c_custkey) OVER wf AS richest,
        |       last_value(c_custkey) OVER wf AS poorest
        |FROM customer WHERE c_custkey < 500
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal DESC, c_custkey),
        |       wf AS (PARTITION BY c_mktsegment
        |              ORDER BY c_acctbal DESC, c_custkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_mktsegment, rnk""".stripMargin),

    // Fuzzy matching by edit distance (the entity-resolution primitive the
    // reference's exact natural-key match can't express): close name pairs
    // within a blocking stripe. levenshtein is exact-integer in both
    // engines.
    // Blocked fuzzy match over the FULL customer table (no id-range
    // sample): each name is banded on three 2-char slices of its numeric
    // suffix (chars 13-18 of 'Customer#000000042'); a pair within <= 2
    // edits of that suffix shares at least one exact band
    // (pigeonhole), so candidates come from an equi-join on the band key —
    // never an all-pairs self-join. TPC-H names share a constant prefix,
    // so high-order bands collapse into corpus-sized buckets: those are
    // suppressed (bucket > cap), the same hot-bucket guard the MinHash-LSH
    // path uses. Candidates are DISTINCT'd, then verified with exact
    // levenshtein. The oracle mirrors the identical blocking.
    "fuzzy_match_levenshtein" -> QuerySpec(
      (s, d) => {
        val c = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        // The hot-bucket cap SCALES with the corpus (r11, sf1 sweep
        // lesson): a fixed 400 suppressed nearly every band at 150k
        // names, silently collapsing recall. cap = max(400, 2n/75)
        // keeps the cap at exactly 400 on every driver fixture
        // (n = 1.5k/15k at sf0.01/0.1 — results unchanged) and grows it
        // proportionally past that (4000 at the sf1 probe), so the
        // suppressed fraction of buckets — the documented recall
        // tradeoff — stays roughly constant as the corpus grows. One
        // scalar count() action, driver-bounded. Oracle mirrors the
        // same greatest() arithmetic.
        val cap = math.max(400L, c.count() * 2 / 75)
        val banded = c.select(col("id"), col("name"),
          posexplode(array((0 until 3).map(k =>
            substring(col("name"), 13 + 2 * k, 2)): _*)).as(Seq("band", "bv")))
        // Hot-bucket suppression via a DOMAIN-BOUNDED census (band values
        // are 2-char substrings, so |bands|x|values| is tiny) broadcast
        // back as a semi-filter — not a corpus-wide window, which would
        // exchange AND sort every banded row just to count its bucket.
        // kept is probed by BOTH self-join sides, so land it once
        // (AQE does not stage-cache duplicated subtrees across the join).
        val census = banded.groupBy("band", "bv")
          .agg(count(lit(1)).as("bsz"))
          .filter(col("bsz") <= cap)
        // The compared 9-char suffix is precomputed PER ROW before the
        // checkpoint (r11): leaving substring(name) in the post-join
        // select re-evaluates it per PAIR inside the join's emit loop —
        // 2x per candidate instead of once per banded row (the
        // deferred-evaluation hazard only a per-stage timing shows) —
        // and the checkpoint gets narrower too (9 chars vs the full
        // name).
        // r15: land the banded table PARTITIONED BY THE BLOCK KEY at
        // session parallelism — the single-row-group customer scan
        // otherwise leaves the whole verify self-join (the levenshtein
        // loop over ~2.4M candidates at sf0.1) on ONE core (JobProbe:
        // par=0.9 at 32 cpus), and AQE's size-based coalescing keeps it
        // there because the shuffled bytes are tiny. Hash-partitioning
        // by (band, bv) is also the production layout for a blocked
        // matcher; both self-join sides read the same checkpointed
        // partitioning, so the join adds no further exchange.
        val kept = banded
          .join(broadcast(census.select("band", "bv")), Seq("band", "bv"))
          .select(col("id"), col("band"), col("bv"),
            substring(col("name"), 10, 9).as("sfx"))
          .repartition(s.sparkContext.defaultParallelism,
            col("band"), col("bv"))
          .localCheckpoint(true)
        // Verify BEFORE dedup: the levenshtein filter shrinks the set far
        // more than a candidate-level DISTINCT would, so the (mandatory)
        // dedup of pairs matched by two bands shuffles narrow rows only.
        // Verification cost per pair is cut two exact ways: the shared
        // 9-char prefix is stripped (edit distance is invariant under a
        // common prefix), and the thresholded levenshtein runs a banded
        // DP with early exit instead of the full O(len²) matrix
        // (measured 13s → ~2s over 2.36M candidates at sf0.1). Radius 1
        // (3 bands keep pigeonhole completeness up to distance 2): the
        // dist<=2 variant's result on this corpus is 1.56M pairs — its
        // 8-15s bench time was dominated by sinking/sorting that result,
        // GC-variance, not the match itself.
        kept.as("a").join(kept.as("b"),
            col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            levenshtein(col("a.sfx"), col("b.sfx"), 1).as("dist"))
          .filter(col("dist") >= 0)
          .distinct()
          .orderBy("id_a", "id_b")
      },
      """WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        |b AS (SELECT id, name, k, substring(name, 13 + 2*k, 2) AS bv
        |      FROM c CROSS JOIN (SELECT unnest([0, 1, 2]) AS k)),
        |kept AS (SELECT * FROM (
        |    SELECT id, name, k, bv,
        |           COUNT(*) OVER (PARTITION BY k, bv) AS bsz FROM b)
        |  WHERE bsz <= greatest(400, (SELECT COUNT(*) * 2 // 75 FROM c)))
        |SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
        |       CAST(levenshtein(substring(a.name, 10, 9),
        |                        substring(b2.name, 10, 9)) AS INT) AS dist
        |FROM kept a JOIN kept b2
        |  ON a.k = b2.k AND a.bv = b2.bv AND a.id < b2.id
        |WHERE levenshtein(substring(a.name, 10, 9),
        |                  substring(b2.name, 10, 9)) <= 1
        |ORDER BY id_a, id_b""".stripMargin),

    // Generator / table-valued surface (X4): explode with ordinality over
    // an array column — each document row expands to (row, index, token).
    "generator_posexplode" -> QuerySpec(
      (s, d) => Tables.documents(s, d)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"),
          posexplode(slice(graft.ext.TextOps.tokens(col("text")), 1, 5))
            .as(Seq("pos", "token")))
        .orderBy("doc_id", "pos"),
      """SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token
        |FROM (SELECT doc_id, string_split(trim(text), ' ')[1:5] AS toks
        |      FROM documents WHERE doc_id < 20),
        |     LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)
        |ORDER BY doc_id, pos""".stripMargin),

    // MapType surface (X3): JSON props parsed into a map, keys extracted.
    "map_from_json" -> QuerySpec(
      (s, d) => Tables.events(s, d)
        .select(col("event_id"),
          array_join(sort_array(map_keys(
            from_json(col("props"), lit("map<string,int>")))), ",").as("ks"),
          from_json(col("props"), lit("map<string,int>")).getItem("k").as("k_val"))
        .filter(col("event_id") < 100)
        .orderBy("event_id"),
      """SELECT event_id,
        |       array_to_string(list_sort(json_keys(props)), ',') AS ks,
        |       CAST(props->>'k' AS INT) AS k_val
        |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin),

    // Range (band) join: fact rows matched to a value-band dimension via
    // BETWEEN — Spark plans broadcast nested-loop for the tiny band table
    // (the right 100 TB plan: bands broadcast, fact side never moves).
    "range_band_join" -> QuerySpec(
      (s, d) => {
        val bands = s.createDataFrame(Seq(
          ("low", 0.0, 100000.0),
          ("mid", 100000.0, 300000.0),
          ("high", 300000.0, 1e9)
        )).toDF("band", "lo", "hi")
        Tables.orders(s, d)
          .join(broadcast(bands),
            col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
          .groupBy("band").agg(count(lit(1)).as("n"))
          .orderBy("band")
      },
      """SELECT band, COUNT(*) AS n FROM orders
        |JOIN (VALUES ('low', 0.0, 100000.0), ('mid', 100000.0, 300000.0),
        |             ('high', 300000.0, 1e9)) AS bands(band, lo, hi)
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin),

    // Array aggregation (collect per group) with a deterministic in-array
    // sort — the grouped-list primitive training pipelines use for
    // document packing.
    "array_agg_per_group" -> QuerySpec(
      (s, d) => Tables.nation(s, d)
        .groupBy("n_regionkey")
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy("n_regionkey"),
      """SELECT n_regionkey,
        |       array_to_string(list_sort(list(n_name)), ',') AS nations,
        |       COUNT(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),

    // PIVOT: long → wide with a fixed column set (statuses), counts.
    // Oracle phrases it as conditional aggregation (portable form).
    "pivot_status_counts" -> QuerySpec(
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        |       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        |       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // UNPIVOT (melt): wide → long.
    "unpivot_customer_metrics" -> QuerySpec(
      (s, d) => Tables.customer(s, d)
        .select(col("c_custkey"),
          col("c_acctbal").as("acctbal"),
          col("c_nationkey").cast("double").as("nationkey"))
        .unpivot(Array(col("c_custkey")),
          Array(col("acctbal"), col("nationkey")), "metric", "value")
        .orderBy("c_custkey", "metric"),
      """SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
        |UNION ALL
        |SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
        |ORDER BY c_custkey, metric""".stripMargin),

    // Array-function surface over token arrays: membership, overlap,
    // slicing, set difference, flattening.
    "array_functions" -> QuerySpec(
      (s, d) => {
        val toks = graft.ext.TextOps.tokens(col("text"))
        Tables.documents(s, d)
          .filter(col("doc_id") < 100)
          .select(col("doc_id"),
            array_contains(toks, "spark").as("has_spark"),
            arrays_overlap(toks, array(lit("join"), lit("merge"))).as("has_join_or_merge"),
            array_join(slice(toks, 1, 3), ",").as("first3"),
            array_join(array_remove(slice(toks, 1, 5), "the"), ",").as("first5_no_the"),
            size(flatten(array(slice(toks, 1, 2), slice(toks, 3, 2))))
              .cast("long").as("flat_size"))
          .orderBy("doc_id")
      },
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |           FROM documents WHERE doc_id < 100)
        |SELECT doc_id,
        |       list_contains(toks, 'spark') AS has_spark,
        |       list_has_any(toks, ['join', 'merge']) AS has_join_or_merge,
        |       array_to_string(toks[1:3], ',') AS first3,
        |       array_to_string(list_filter(toks[1:5], x -> x <> 'the'), ',') AS first5_no_the,
        |       CAST(len(flatten([toks[1:2], toks[3:4]])) AS BIGINT) AS flat_size
        |FROM t ORDER BY doc_id""".stripMargin),

    // Map higher-order functions — transform_keys / map_filter /
    // map_zip_with over typed metadata maps (the map-column analogue of
    // the array HOF surface). The oracle mirrors the SEMANTICS directly
    // (the maps are built from known columns, so the surviving entries
    // are expressible as plain string logic) — no reliance on any shared
    // map-rendering order: entries render sorted.
    "map_higher_order" -> QuerySpec(
      (s, d) => {
        val m1 = map(lit("seg"), col("c_mktsegment"),
          lit("nat"), col("c_nationkey").cast("string"))
        val m2 = map(lit("seg"), lit("S"), lit("nat"), lit("N"))
        val upperKeys = transform_keys(m1, (k, _) => upper(k))
        val onlySeg = map_filter(m1, (k, _) => k === "seg")
        val zipped = map_zip_with(m1, m2,
          (_, v1, v2) => concat(v2, lit(":"), v1))
        def render(m: org.apache.spark.sql.Column) =
          array_join(sort_array(transform(map_entries(m),
            e => concat(e.getField("key"), lit("="), e.getField("value")))),
            ",")
        Tables.customer(s, d)
          .filter(col("c_custkey") < 200)
          .select(col("c_custkey"),
            render(upperKeys).as("upper_keys"),
            render(onlySeg).as("only_seg"),
            render(zipped).as("zipped"))
          .orderBy("c_custkey")
      },
      """SELECT c_custkey,
        |       'NAT=' || CAST(c_nationkey AS VARCHAR) ||
        |         ',SEG=' || c_mktsegment AS upper_keys,
        |       'seg=' || c_mktsegment AS only_seg,
        |       'nat=N:' || CAST(c_nationkey AS VARCHAR) ||
        |         ',seg=S:' || c_mktsegment AS zipped
        |FROM customer WHERE c_custkey < 200
        |ORDER BY c_custkey""".stripMargin),

    // Array SET algebra (union/except/intersect) — sizes projected, not
    // element lists, because the two engines' dedup functions make no
    // shared ordering promise; set CARDINALITY is order-free and pins the
    // same semantics (Spark's array_* return distinct elements).
    "array_set_ops" -> QuerySpec(
      (s, d) => {
        val toks = graft.ext.TextOps.tokens(col("text"))
        val a = slice(toks, 1, 10)
        val b = slice(toks, 6, 10)
        Tables.documents(s, d)
          .filter(col("doc_id") < 100)
          .select(col("doc_id"),
            size(array_distinct(a)).cast("long").as("n_a"),
            size(array_union(a, b)).cast("long").as("n_union"),
            size(array_except(a, b)).cast("long").as("n_except"),
            size(array_intersect(a, b)).cast("long").as("n_intersect"))
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS toks
        |  FROM documents WHERE doc_id < 100),
        |ab AS (SELECT doc_id, toks[1:10] AS a, toks[6:15] AS b FROM t)
        |SELECT doc_id,
        |  CAST(len(list_distinct(a)) AS BIGINT) AS n_a,
        |  CAST(len(list_distinct(list_concat(a, b))) AS BIGINT) AS n_union,
        |  CAST(len(list_distinct(list_filter(a,
        |    x -> NOT list_contains(b, x)))) AS BIGINT) AS n_except,
        |  CAST(len(list_distinct(list_filter(a,
        |    x -> list_contains(b, x)))) AS BIGINT) AS n_intersect
        |FROM ab ORDER BY doc_id""".stripMargin),

    // explode_outer — the null-preserving generator: rows with EMPTY
    // arrays survive as a single null-element row (a plain explode would
    // silently drop them — the classic lost-document bug when a pipeline
    // explodes extracted entities). DuckDB has no outer unnest, so the
    // oracle unions the empties back with NULL; null ordering pinned
    // NULLS FIRST on both sides.
    "generator_explode_outer" -> QuerySpec(
      (s, d) => {
        val toks = graft.ext.TextOps.tokens(col("text"))
        Tables.documents(s, d)
          .filter(col("doc_id") < 100)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, array().cast("array<string>"))
              .otherwise(slice(toks, 1, 2)).as("arr"))
          .select(col("doc_id"), explode_outer(col("arr")).as("tok"))
          .orderBy(asc("doc_id"), asc_nulls_first("tok"))
      },
      """WITH t AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN []
        |              ELSE string_split(trim(text), ' ')[1:2] END AS arr
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id, tok FROM (
        |  SELECT doc_id, unnest(arr) AS tok FROM t
        |  UNION ALL
        |  SELECT doc_id, NULL FROM t WHERE len(arr) = 0)
        |ORDER BY doc_id, tok NULLS FIRST""".stripMargin),

    // Funnel conversion: users whose first 'view' is later followed by a
    // 'purchase' (event-time funnel over the events stream).
    "funnel_view_to_purchase" -> QuerySpec(
      (s, d) => {
        val e = Tables.events(s, d) // ts as epoch-ns long: exact comparisons
        val firstView = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("first_view_ts"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"))
        firstView.join(purchases,
            Seq("user_id"), "left")
          .groupBy("user_id", "first_view_ts")
          .agg(max(when(col("p_ts") >= col("first_view_ts"), 1).otherwise(0))
            .cast("long").as("converted"))
          .groupBy("converted").agg(count(lit(1)).as("n_users"))
          .orderBy("converted")
      },
      """WITH fv AS (
        |  SELECT user_id, MIN(epoch_ns(ts)) AS first_view_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |conv AS (
        |  SELECT fv.user_id,
        |         MAX(CASE WHEN p.ts IS NOT NULL
        |                   AND epoch_ns(p.ts) >= fv.first_view_ts
        |                  THEN 1 ELSE 0 END) AS converted
        |  FROM fv LEFT JOIN (SELECT user_id, ts FROM events
        |                     WHERE event_type = 'purchase') p
        |    USING (user_id)
        |  GROUP BY fv.user_id)
        |SELECT CAST(converted AS BIGINT) AS converted, COUNT(*) AS n_users
        |FROM conv GROUP BY converted ORDER BY converted""".stripMargin),

    // Date/interval arithmetic surface (C-family beyond parsing): shifts,
    // truncation, day diffs, epoch extraction — all exact integers or
    // formatted strings.
    "date_arithmetic" -> QuerySpec(
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus_30d"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          datediff(lit("1999-01-01").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("days_to_1999"),
          year(col("o_orderdate")).cast("long").as("yr"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        |       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
        |       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT) AS days_to_1999,
        |       CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Explicit GROUPING SETS with grouping() markers distinguishing
    // aggregated-out columns from genuine NULL group values.
    "grouping_sets_explicit" -> QuerySpec(
      (s, d) => Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_prio"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("g_status"), col("g_prio"))
        .orderBy("status", "priority"),
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |       coalesce(o_orderpriority, '(all)') AS priority,
        |       COUNT(*) AS n,
        |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |HAVING COUNT(*) > 0
        |ORDER BY status, priority""".stripMargin),

    // Correlated scalar subquery through the SQL front-end: each order's
    // price as a ratio of its customer's average (decimal-exact avg).
    "scalar_subquery_ratio" -> QuerySpec(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_orders_sq")
        s.sql("""
          SELECT o_orderkey,
                 o_totalprice /
                   (SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
                           / COUNT(*)
                    FROM v_orders_sq i
                    WHERE i.o_custkey = o.o_custkey) AS ratio_to_cust_avg
          FROM v_orders_sq o
          WHERE o_orderkey < 500
          ORDER BY o_orderkey""")
      },
      """SELECT o_orderkey,
        |       o_totalprice /
        |         (SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
        |                 / COUNT(*)
        |          FROM orders i WHERE i.o_custkey = o.o_custkey) AS ratio_to_cust_avg
        |FROM orders o WHERE o_orderkey < 500
        |ORDER BY o_orderkey""".stripMargin),

    // Null-safe equality (<=> / IS NOT DISTINCT FROM) — the join/compare
    // semantics NULL-heavy conformance pipelines need.
    "null_safe_equality" -> QuerySpec(
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("O")).as("a"),
          nullif(col("o_orderpriority"), lit("5-LOW")).as("b"))
        .select(col("o_orderkey"),
          (col("a") <=> col("b")).as("ab_same"),
          (col("a") <=> lit(null)).as("a_is_null"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        |       NULLIF(o_orderstatus,'O') IS NOT DISTINCT FROM NULLIF(o_orderpriority,'5-LOW') AS ab_same,
        |       NULLIF(o_orderstatus,'O') IS NOT DISTINCT FROM NULL AS a_is_null
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // SQL front-end: the engine accepts ANSI SQL over registered views
    // (TPC-H Q3 shape — join + filter + grouped topk).
    "sql_frontend_q3" -> QuerySpec(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT o_orderkey,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
          FROM v_customer JOIN v_orders ON c_custkey = o_custkey
                          JOIN v_lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
          GROUP BY o_orderkey
          ORDER BY revenue DESC, o_orderkey
          LIMIT 10""")
      },
      """SELECT o_orderkey,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin),

    // The CBO catalog-statistics path run FOR REAL, not just as spec
    // evidence (r10 directive #5): the three inputs land as ANALYZE'd
    // managed tables (Writers.statsTable: rowCount + per-column
    // NDV/min/max), cost-based optimization and DP join reorder run ON
    // for this plan, and the body plan-asserts the two decisions the
    // statistics earn — (a) the DP reorderer moves the selective
    // mktsegment dim join innermost although the WRITTEN order joins
    // the two fact tables first, and (b) the filtered dim's
    // stats-estimated size lands under the 1 MiB broadcast threshold so
    // the dim join is a BroadcastHashJoin. This is the exact decision
    // chain a 100 TB warehouse leans on: without column stats a
    // filter's size estimate equals its child's and the selective dim
    // neither reorders nor broadcasts (proven with the same tables and
    // threshold in PhysicalPlanSpec's CBO case). CBO only PICKS the
    // plan — values are stats-independent — so the DuckDB oracle is the
    // plain 3-table join over the raw parquet. Confs are
    // saved/restored so the session's other plans are untouched.
    "sql_frontend_cbo_stats_chain" -> QuerySpec(
      (s, d) => {
        graft.io.Writers.statsTable(
          Tables.lineitem(s, d).select("l_orderkey", "l_quantity"),
          "cbo_li", Seq("l_orderkey", "l_quantity"))
        graft.io.Writers.statsTable(
          Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          "cbo_ord", Seq("o_orderkey", "o_custkey"))
        graft.io.Writers.statsTable(
          Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
          "cbo_cust", Seq("c_custkey", "c_mktsegment"))
        val cboConfs = Seq(
          "spark.sql.cbo.enabled" -> "true",
          "spark.sql.cbo.joinReorder.enabled" -> "true")
        val thrKey = "spark.sql.autoBroadcastJoinThreshold"
        val prev = (cboConfs.map(_._1) :+ thrKey)
          .map(k => k -> s.conf.getOption(k))
        cboConfs.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          // The broadcast threshold is derived from the dim's OWN
          // stats-based estimate (2x headroom) so the assertion is
          // scale-proof — a fixed byte threshold fails once the fixture
          // grows (the sf1 stress sweep lesson). The stats-vs-no-stats
          // FLIP at one threshold is PhysicalPlanSpec's job; here the
          // contract is that catalog stats DRIVE the decision at any sf.
          val dimEst = s.table("cbo_cust")
            .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
            .queryExecution.optimizedPlan.stats.sizeInBytes
          s.conf.set(thrKey, (dimEst * 2).toString)
          val df = s.sql("""
            SELECT c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
            FROM cbo_li JOIN cbo_ord ON l_orderkey = o_orderkey
                        JOIN cbo_cust ON o_custkey = c_custkey
            WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment""")
          // Forcing these inside the conf window pins the CBO plan: the
          // returned DataFrame reuses this QueryExecution's lazy vals.
          val joins = df.queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }
          require(joins.size == 2, s"expected 2 joins, got ${joins.size}")
          val innermost = joins.last.output.map(_.name)
          require(innermost.exists(_.startsWith("c_")) &&
            !innermost.exists(_.startsWith("l_")),
            "CBO join reorder should run orders x filtered customers " +
              s"innermost; innermost output: ${innermost.mkString(", ")}")
          val phys = df.queryExecution.sparkPlan.toString
          require(phys.contains("BroadcastHashJoin"),
            "stats-estimated dim should broadcast under 2x its own " +
              s"estimate ($dimEst B):\n$phys")
          // Materialize NOW (2-row result): the managed tables are
          // dropped below, and DROP deletes a managed table's files —
          // a lazily-executed plan over them would read deleted paths.
          // The final orderBy re-states the result's total order above
          // the checkpoint scan (2 rows; the ORDER-BY audit is static).
          df.localCheckpoint(true).orderBy("c_mktsegment")
        } finally {
          prev.foreach {
            case (k, Some(v)) => s.conf.set(k, v)
            case (k, None)    => s.conf.unset(k)
          }
          // No warehouse leftovers (the r10-advice hygiene rule the
          // spec cleanups follow): these are per-run scratch tables.
          Seq("cbo_li", "cbo_ord", "cbo_cust")
            .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        }
      },
      """SELECT c_mktsegment,
        |       CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |              JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),

    // TPC-H Q6 (forecast-revenue change) through the SQL frontend: the
    // canonical scan-dominated query — one tight filter over the fact
    // table, one unconditional agg, zero joins. The plan to demand at
    // scale: filters pushed to the parquet scan, ReadSchema pruned to 4
    // columns, a single partial+final agg, no exchange wider than one
    // row. Revenue accumulates in exact DECIMAL(25,6) (the discrete
    // cent/percent domain is exact at scale 6) cast back to double.
    "sql_frontend_q6" -> QuerySpec(
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
                 COUNT(*) AS n_lines
          FROM v_lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
            AND l_discount BETWEEN 0.05 AND 0.07
            AND l_quantity < 24""")
      },
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6)))
        |            AS VARCHAR) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    // TPC-H Q12 (shipping-mode priority audit) through the SQL frontend,
    // adapted to this schema: the harness lineitem has no
    // l_shipmode/commitdate, so the grouping dimension is l_returnflag
    // and the late-shipment predicate is a one-year l_shipdate slice —
    // preserving Q12's shape: fact⋈dim equi-join, CASE-bucketed priority
    // counts, tiny grouped output. Scale plan: the shipdate filter
    // prunes lineitem at the scan (pushed to parquet), the join shuffles
    // once on orderkey, and the CASE counts are map-side-combined.
    "sql_frontend_q12" -> QuerySpec(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT l_returnflag,
                 SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 ELSE 0 END) AS high_line_count,
                 SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                          THEN 1 ELSE 0 END) AS low_line_count
          FROM v_orders JOIN v_lineitem ON o_orderkey = l_orderkey
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY l_returnflag
          ORDER BY l_returnflag""")
      },
      """SELECT l_returnflag,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // TPC-H Q9 (product-type profit) through the SQL frontend, adapted:
    // this schema has no partsupp/supplycost, so "profit" is the
    // discounted revenue MINUS a retail-price-based cost proxy
    // (quantity · p_retailprice · 0.9), grouped by supplier nation and
    // order year for parts whose name contains a color token — Q9's
    // exact join tree (part + supplier + lineitem + orders + nation)
    // and its name-LIKE predicate. Exact DECIMAL arithmetic end to end;
    // the LIKE filter prunes part BEFORE the fact join (broadcast), and
    // the (nation, year) output aggregates map-side.
    "sql_frontend_q9" -> QuerySpec(
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("v_part")
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT n_name AS nation, year(o_orderdate) AS o_year,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(25,6))
                   - CAST(l_quantity * p_retailprice * 0.9
                     AS DECIMAL(25,6))) AS DOUBLE) AS profit,
                 COUNT(*) AS n_lines
          FROM v_lineitem
          JOIN v_part ON p_partkey = l_partkey
          JOIN v_supplier ON s_suppkey = l_suppkey
          JOIN v_orders ON o_orderkey = l_orderkey
          JOIN v_nation ON n_nationkey = s_nationkey
          WHERE p_name LIKE '%red%'
          GROUP BY n_name, year(o_orderdate)
          ORDER BY nation, o_year""")
      },
      """SELECT n_name AS nation,
        |       CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |           AS DECIMAL(25,6))
        |         - CAST(l_quantity * p_retailprice * 0.9
        |           AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS profit,
        |       COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation, o_year""".stripMargin),

    // TPC-H Q7 (volume shipping) through the SQL frontend: bilateral
    // trade — revenue flowing between supplier nation 1 and customer
    // nation 2 (both directions), by ship year, over a two-year slice.
    // The full 6-table Q7 join tree on this schema: lineitem ⋈ supplier
    // ⋈ orders ⋈ customer + two nation-dim joins, with the
    // cross-nation-pair disjunction applied AFTER the dims resolve.
    // Scale plan: the shipdate slice prunes the fact scan, both nation
    // dims BROADCAST, supplier and customer broadcast at these sizes
    // (co-partitioned joins at full scale), and the 4-group output
    // aggregates map-side. Revenue is the exact DECIMAL discount sum.
    "sql_frontend_q7" -> QuerySpec(
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 year(l_shipdate) AS l_year,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
                 COUNT(*) AS n_lines
          FROM v_lineitem
          JOIN v_supplier ON s_suppkey = l_suppkey
          JOIN v_orders ON o_orderkey = l_orderkey
          JOIN v_customer ON c_custkey = o_custkey
          JOIN v_nation n1 ON n1.n_nationkey = s_nationkey
          JOIN v_nation n2 ON n2.n_nationkey = c_nationkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
          ORDER BY supp_nation, cust_nation, l_year""")
      },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |         AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // TPC-H Q10 (returned-item reporting) through the SQL frontend,
    // adapted to this schema's columns: customers ranked by revenue
    // lost to returns in one quarter — a 4-table join (fact +
    // customer + nation dims), grouped on the customer grain, top-20.
    // The scale plan: the o_orderdate quarter filter prunes orders
    // BEFORE the lineitem join, nation broadcasts, and the top-20 is a
    // TakeOrdered, never a global sort.
    "sql_frontend_q10" -> QuerySpec(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        s.sql("""
          SELECT c_custkey, c_name,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
                 c_acctbal, n_name
          FROM v_customer JOIN v_orders ON c_custkey = o_custkey
                          JOIN v_lineitem ON l_orderkey = o_orderkey
                          JOIN v_nation ON c_nationkey = n_nationkey
          WHERE o_orderdate >= TIMESTAMP '1995-10-01'
            AND o_orderdate < TIMESTAMP '1996-01-01'
            AND l_returnflag = 'R'
          GROUP BY c_custkey, c_name, c_acctbal, n_name
          ORDER BY revenue DESC, c_custkey
          LIMIT 20""")
      },
      """SELECT c_custkey, c_name,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |       c_acctbal, n_name
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |              JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1995-10-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),

    // Spark 4 LISTAGG ... WITHIN GROUP (SPARK-42746) — ordered string
    // aggregation, the SQL:2016 way to materialize a per-key event
    // timeline as one row (here: each customer's order-priority path,
    // the sequence feature a churn model consumes). Deterministic: the
    // WITHIN GROUP order is (o_orderdate, o_orderkey) — a total order
    // because orderkey is unique — mirrored by DuckDB's string_agg
    // ORDER BY. Scale shape: single keyed aggregation, map-side
    // combinable; the per-key string is bounded by the key's own order
    // count (no global collect).
    "sql_listagg_timeline" -> QuerySpec(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_orders_la")
        s.sql("""
          SELECT o_custkey,
                 listagg(o_orderpriority, ',')
                   WITHIN GROUP (ORDER BY o_orderdate, o_orderkey)
                   AS prio_path,
                 COUNT(*) AS n_orders
          FROM v_orders_la
          WHERE o_custkey < 150
          GROUP BY o_custkey
          ORDER BY o_custkey""")
      },
      """SELECT o_custkey,
        |       string_agg(o_orderpriority, ','
        |         ORDER BY o_orderdate, o_orderkey) AS prio_path,
        |       COUNT(*) AS n_orders
        |FROM orders WHERE o_custkey < 150
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // DataFrameStatFunctions.crosstab — the API-surface contingency-table
    // op (pairwise frequency of two categoricals, one column per distinct
    // value of the second). Deterministic: counts only; the checker sorts
    // columns by name and rows are ordered by the key column. Scale: one
    // keyed count agg + a driver-side pivot of |distinct(v2)| columns —
    // crosstab is only for LOW-cardinality pairs by contract (the
    // general keyed rollup is agg_pricing_summary).
    "stat_crosstab" -> QuerySpec(
      (s, d) => {
        // pin the pivot schema to the column's full domain {F, O}: the
        // output CONTRACT must not depend on which values the fixture
        // happens to contain (a degenerate slice with only 'O' rows must
        // still emit the F column, as the oracle does)
        val ct = Tables.lineitem(s, d)
          .stat.crosstab("l_returnflag", "l_linestatus")
        val pinned = Seq("F", "O").foldLeft(ct)((df, c) =>
          if (df.columns.contains(c)) df else df.withColumn(c, lit(0L)))
        pinned.select(col("l_returnflag_l_linestatus"),
            col("F").cast("long").as("F"), col("O").cast("long").as("O"))
          .orderBy("l_returnflag_l_linestatus")
      },
      """SELECT l_returnflag AS l_returnflag_l_linestatus,
        |       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS F,
        |       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS O
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag_l_linestatus""".stripMargin),

    // Kendall tau-b rank correlation between two per-nation orderings —
    // order volume vs revenue ("does the nation that sends the most
    // orders also earn the most?"), the nonparametric rank-stability
    // audit a pipeline runs when it swaps a scoring function (e.g. a new
    // quality model vs the old: high tau = safe rollout). Exact by
    // construction: both measures are exact BIGINTs (order count;
    // floor-cents revenue), concordant/discordant/tied pair counts are
    // pure integer comparisons, and the only doubles are the final
    // tau-b = (C-D)/sqrt((n0-nx)(n0-ny)) — one subtraction, one exact
    // int-product (≤ n0² ≪ 2^53), one correctly-rounded sqrt (the
    // events_ab_test_ztest precedent) and one division, same op order
    // both engines. Scale: the nation measures are ONE keyed agg over
    // the broadcast-joined fact; the pair stage is the DIMENSION square
    // (≤ 25² rows — bounded by the nation domain, never the corpus),
    // broadcast-joined against itself.
    "stat_kendall_tau" -> QuerySpec(
      (s, d) => {
        val nat = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(floor(col("o_totalprice") * 100 + lit(0.5))
              .cast("decimal(38,0)")).cast("long").as("rev"))
        val p = nat.as("a").join(broadcast(nat.as("b")),
            col("a.c_nationkey") < col("b.c_nationkey"))
          .select(col("a.n_orders").as("xa"), col("a.rev").as("ya"),
            col("b.n_orders").as("xb"), col("b.rev").as("yb"))
        val agg = p.agg(
          count(lit(1)).as("n_pairs"),
          sum(when((col("xa") > col("xb") && col("ya") > col("yb")) ||
              (col("xa") < col("xb") && col("ya") < col("yb")), 1L)
            .otherwise(0L)).as("concordant"),
          sum(when((col("xa") > col("xb") && col("ya") < col("yb")) ||
              (col("xa") < col("xb") && col("ya") > col("yb")), 1L)
            .otherwise(0L)).as("discordant"),
          sum(when(col("xa") === col("xb"), 1L).otherwise(0L))
            .as("ties_x"),
          sum(when(col("ya") === col("yb"), 1L).otherwise(0L))
            .as("ties_y"))
        agg.crossJoin(broadcast(nat.agg(count(lit(1)).as("n_items"))))
          .select(col("n_items"), col("n_pairs"), col("concordant"),
            col("discordant"), col("ties_x"), col("ties_y"),
            ((col("concordant") - col("discordant")).cast("double") /
              sqrt(((col("n_pairs") - col("ties_x")) *
                (col("n_pairs") - col("ties_y"))).cast("double")))
              .as("tau_b"))
      },
      """WITH nat AS (
        |  SELECT c_nationkey,
        |         CAST(COUNT(*) AS BIGINT) AS n_orders,
        |         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
        |           AS DECIMAL(38,0))) AS BIGINT) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |p AS (SELECT a.n_orders AS xa, a.rev AS ya,
        |             b.n_orders AS xb, b.rev AS yb
        |      FROM nat a JOIN nat b ON a.c_nationkey < b.c_nationkey),
        |agg AS (SELECT
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN (xa > xb AND ya > yb)
        |               OR (xa < xb AND ya < yb) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS concordant,
        |    CAST(SUM(CASE WHEN (xa > xb AND ya < yb)
        |               OR (xa < xb AND ya > yb) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS discordant,
        |    CAST(SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ties_x,
        |    CAST(SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ties_y
        |  FROM p)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nat) AS n_items,
        |       n_pairs, concordant, discordant, ties_x, ties_y,
        |       CAST(concordant - discordant AS DOUBLE)
        |         / sqrt(CAST((n_pairs - ties_x) * (n_pairs - ties_y)
        |             AS DOUBLE)) AS tau_b
        |FROM agg""".stripMargin),

    // Mann-Whitney U (Wilcoxon rank-sum) between two customer segments'
    // order values — the ROBUST two-sample test a pipeline reaches for
    // when the metric is heavy-tailed and the z-test's mean is the
    // wrong summary (revenue, tokens-per-doc). U_A counts B-values
    // beaten per A-row (ties half-weighted), computed WITHOUT ranking
    // the corpus: per-distinct-value counts, then the exact cumulative
    // count of B below each value via the ops.Banded two-level prefix
    // sum (coarse value BANDS — bounded by the cents domain, not the
    // row count — window only over the tiny band table; the fine
    // prefix runs partitioned by band). All tallies are exact: doubled
    // statistics (2U keeps the half-tie weight integral) accumulate in
    // DECIMAL(38,0), and the U outputs
    // convert through the hi/lo 2^20 split (profile_correlation_matrix
    // precedent) so the conversion stays bit-identical even past 2^53
    // where a raw DECIMAL→DOUBLE cast diverges between engines. The
    // oracle is the independent NAIVE formulation — one global window
    // — so the two engines cross-check the banded identity itself.
    // Output: group sizes, U for both directions (they must sum to
    // n_a·n_b — the ledger identity the invariant spec pins) and the
    // rank-biserial effect size r = U_A/(n_a·n_b) − 1 on the doubled
    // scale.
    "stat_mann_whitney_u" -> QuerySpec(
      (s, d) => {
        val j = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)),
            col("o_custkey") === col("c_custkey"))
          .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
          .select(col("c_mktsegment").as("seg"),
            floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
              .as("v"))
        // (r15: fan-out here tried and REVERTED — groupBy(v) shuffles
        // anyway; the extra exchange cost 1.34 s -> 2.31 s measured.)
        val pv = j.groupBy("v").agg(
          sum(when(col("seg") === "BUILDING", 1L).otherwise(0L))
            .cast("decimal(38,0)").as("ca"),
          sum(when(col("seg") === "MACHINERY", 1L).otherwise(0L))
            .cast("decimal(38,0)").as("cb"))
        val cum = graft.ops.Banded.running(
          pv.withColumn("band", expr("v div 1000000")),
          Seq("v"), Seq("ca" -> "cuma", "cb" -> "cumb"))
        // per-TERM hi/lo split on BIGINT (the profile_correlation_matrix
        // idiom — DuckDB's // is integer division on BIGINT but float
        // division on DECIMAL, so the split must happen before the
        // decimal sums); a term is ca·(2·cum+c) ≤ ca·2n — fits BIGINT
        // unless billions of rows share ONE exact cent value
        val terms = cum.select(col("ca"), col("cb"),
          (col("ca") * (col("cumb") * 2 + col("cb"))).cast("long")
            .as("ta"),
          (col("cb") * (col("cuma") * 2 + col("ca"))).cast("long")
            .as("tb"))
        val agg = terms.agg(
          sum("ca").cast("long").as("n_a"),
          sum("cb").cast("long").as("n_b"),
          sum(expr("ta div 1048576").cast("decimal(38,0)")).as("ha"),
          sum(expr("ta % 1048576").cast("decimal(38,0)")).as("la"),
          sum(expr("tb div 1048576").cast("decimal(38,0)")).as("hb"),
          sum(expr("tb % 1048576").cast("decimal(38,0)")).as("lb"))
        def asD(h: String, l: String) =
          (col(h).cast("double") * lit(1048576.0) +
            col(l).cast("double")) / lit(2.0)
        agg.select(col("n_a"), col("n_b"),
            asD("ha", "la").as("u_a"), asD("hb", "lb").as("u_b"),
            (asD("ha", "la") / (col("n_a").cast("double") *
              col("n_b").cast("double")) * 2.0 - lit(1.0))
              .as("rank_biserial"))
      },
      """WITH j AS (
        |  SELECT c_mktsegment AS seg,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |pv AS (SELECT v,
        |    CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
        |      AS DECIMAL(38,0)) AS ca,
        |    CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)
        |      AS DECIMAL(38,0)) AS cb
        |  FROM j GROUP BY 1),
        |cum AS (SELECT v, ca, cb,
        |    CAST(COALESCE(SUM(ca) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS DECIMAL(38,0)) AS cuma,
        |    CAST(COALESCE(SUM(cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS DECIMAL(38,0)) AS cumb
        |  FROM pv),
        |t AS (SELECT ca, cb,
        |    CAST(ca * (cumb * 2 + cb) AS BIGINT) AS ta,
        |    CAST(cb * (cuma * 2 + ca) AS BIGINT) AS tb
        |  FROM cum),
        |agg AS (SELECT
        |    CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(cb) AS BIGINT) AS n_b,
        |    CAST(SUM(CAST(ta // 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS ha,
        |    CAST(SUM(CAST(ta % 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS la,
        |    CAST(SUM(CAST(tb // 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS hb,
        |    CAST(SUM(CAST(tb % 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS lb
        |  FROM t)
        |SELECT n_a, n_b,
        |  (CAST(ha AS DOUBLE) * 1048576.0 + CAST(la AS DOUBLE)) / 2.0
        |    AS u_a,
        |  (CAST(hb AS DOUBLE) * 1048576.0 + CAST(lb AS DOUBLE)) / 2.0
        |    AS u_b,
        |  (CAST(ha AS DOUBLE) * 1048576.0 + CAST(la AS DOUBLE)) / 2.0
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 2.0 - 1.0
        |    AS rank_biserial
        |FROM agg""".stripMargin),

    // Spearman rank correlation between per-customer order COUNT and
    // order-value REVENUE — completing the correlation trio (Pearson =
    // profile_correlation_matrix, Kendall = stat_kendall_tau): the
    // monotone-association audit a pipeline runs when a metric is
    // heavy-tailed enough that Pearson is dominated by outliers but the
    // item count is too large for Kendall's pair square. Exact by
    // construction: tie-AVERAGED ranks are kept integral by doubling
    // (dr = 2·below + count + 1, computed per DISTINCT value via the
    // banded two-level prefix in doubledRankTable — no corpus-wide
    // window); rho is then Pearson over the doubled ranks with the
    // per-TERM hi/lo 2^20 split (profile_correlation_matrix idiom) so
    // every DECIMAL→DOUBLE conversion stays under 2^53 (bit-identical
    // engines) up to n ≈ 13M items; past that the split constant
    // widens, documented here rather than silently wrong. The doubled
    // linear sums obey s_x = s_y = n(n+1) — a ledger identity the
    // invariant spec can pin. Scale: one keyed agg over orders; rank
    // tables are distinct-value-sized (the x table is bounded by the
    // order-count domain and broadcast; the y table is joined by a
    // plain equi-join on the value). The oracle is the independent
    // NAIVE single-window formulation, so the engines cross-check the
    // banded identity itself, same discipline as stat_mann_whitney_u.
    "stat_spearman_rho" -> QuerySpec(
      (s, d) => {
        val m = Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("x"),
            sum(floor(col("o_totalprice") * 100 + lit(0.5))
              .cast("decimal(38,0)")).cast("long").as("y"))
        val rx = doubledRankTable(
          m.groupBy(col("x").as("vx")).agg(count(lit(1)).as("c")),
          "vx", 16L).withColumnRenamed("dr", "drx")
        val ry = doubledRankTable(
          m.groupBy(col("y").as("vy")).agg(count(lit(1)).as("c")),
          "vy", 100000000L).withColumnRenamed("dr", "dry")
        val ranked = m
          .join(broadcast(rx), col("x") === col("vx"))
          .join(ry, col("y") === col("vy"))
          .select(col("drx"), col("dry"),
            (col("drx") * col("drx")).as("txx"),
            (col("dry") * col("dry")).as("tyy"),
            (col("drx") * col("dry")).as("txy"))
        def hiloSums(t: String, h: String, l: String) = Seq(
          sum(expr(s"$t div 1048576").cast("decimal(38,0)")).as(h),
          sum(expr(s"$t % 1048576").cast("decimal(38,0)")).as(l))
        val agg = ranked.agg(
          count(lit(1)).as("n"),
          (Seq(sum("drx").as("s_x"), sum("dry").as("s_y")) ++
            hiloSums("txx", "hxx", "lxx") ++
            hiloSums("tyy", "hyy", "lyy") ++
            hiloSums("txy", "hxy", "lxy")): _*)
        def asD(h: String, l: String) =
          col(h).cast("double") * lit(1048576.0) + col(l).cast("double")
        val nD = col("n").cast("double")
        val sxD = col("s_x").cast("double")
        val syD = col("s_y").cast("double")
        agg.select(col("n"), col("s_x"), col("s_y"),
          safeDiv(nD * asD("hxy", "lxy") - sxD * syD,
            sqrt((nD * asD("hxx", "lxx") - sxD * sxD) *
              (nD * asD("hyy", "lyy") - syD * syD))).as("rho_spearman"))
      },
      """WITH m AS (
        |  SELECT o_custkey,
        |         CAST(COUNT(*) AS BIGINT) AS x,
        |         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
        |           AS DECIMAL(38,0))) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |px AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM m GROUP BY 1),
        |rx AS (SELECT v,
        |    2 * CAST(COALESCE(SUM(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) + c + 1 AS drx
        |  FROM px),
        |py AS (SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM m GROUP BY 1),
        |ry AS (SELECT v,
        |    2 * CAST(COALESCE(SUM(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) + c + 1 AS dry
        |  FROM py),
        |r AS (SELECT drx, dry, drx * drx AS txx, dry * dry AS tyy,
        |             drx * dry AS txy
        |      FROM m JOIN rx ON m.x = rx.v JOIN ry ON m.y = ry.v),
        |agg AS (SELECT
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(drx) AS BIGINT) AS s_x,
        |    CAST(SUM(dry) AS BIGINT) AS s_y,
        |    CAST(SUM(CAST(txx // 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS hxx,
        |    CAST(SUM(CAST(txx % 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS lxx,
        |    CAST(SUM(CAST(tyy // 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS hyy,
        |    CAST(SUM(CAST(tyy % 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS lyy,
        |    CAST(SUM(CAST(txy // 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS hxy,
        |    CAST(SUM(CAST(txy % 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS lxy
        |  FROM r)
        |SELECT n, s_x, s_y,
        |  (CAST(n AS DOUBLE) * (CAST(hxy AS DOUBLE) * 1048576.0
        |     + CAST(lxy AS DOUBLE))
        |   - CAST(s_x AS DOUBLE) * CAST(s_y AS DOUBLE))
        |  / sqrt((CAST(n AS DOUBLE) * (CAST(hxx AS DOUBLE) * 1048576.0
        |       + CAST(lxx AS DOUBLE))
        |     - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * (CAST(hyy AS DOUBLE) * 1048576.0
        |       + CAST(lyy AS DOUBLE))
        |     - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE)))
        |    AS rho_spearman
        |FROM agg""".stripMargin),

    // Theil-Sen robust trend of the daily event-count series — the
    // median of all pairwise slopes, the outlier-proof answer to "is
    // traffic actually growing?" (one bad backfill day moves an OLS
    // slope but not this one; OLS lives in profile_moments_regression).
    // Deterministic cross-engine: dy and dx are exact BIGINTs, each
    // slope is ONE IEEE division of identical operands, and the median
    // is SELECTED (percentile_disc discipline, rank (m+1) div 2) under
    // a total order with an exact (dy, dx) tie-break — the output even
    // carries the chosen pair's integer witnesses (med_dy, med_dx).
    // Scale: the corpus-sized stage is one map-side-combined day agg;
    // the pair table is the DAY table squared (calendar-bounded —
    // T(T-1)/2 pairs, never the event count) and the single-partition
    // rank window runs over that bounded table only.
    "stat_theil_sen" -> QuerySpec(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(expr("ts div 86400000000000").as("day_idx"))
          .agg(count(lit(1)).as("n"))
        val pairs = daily.as("a").join(broadcast(daily.as("b")),
            col("b.day_idx") > col("a.day_idx"))
          .select((col("b.n") - col("a.n")).as("dy"),
            (col("b.day_idx") - col("a.day_idx")).as("dx"))
          .withColumn("slope",
            col("dy").cast("double") / col("dx").cast("double"))
        val w = Window.orderBy(col("slope").asc, col("dy").asc,
          col("dx").asc)
        pairs.withColumn("rn", row_number().over(w))
          .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
          .filter(col("rn") === expr("(n_pairs + 1) div 2"))
          .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
          .select(col("n_days"), col("n_pairs"), col("dy").as("med_dy"),
            col("dx").as("med_dx"), col("slope").as("slope_per_day"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |p AS (SELECT b.n - a.n AS dy, b.day_idx - a.day_idx AS dx,
        |             CAST(b.n - a.n AS DOUBLE)
        |               / CAST(b.day_idx - a.day_idx AS DOUBLE) AS slope
        |      FROM daily a JOIN daily b ON b.day_idx > a.day_idx),
        |r AS (SELECT dy, dx, slope,
        |             row_number() OVER (ORDER BY slope, dy, dx) AS rn,
        |             CAST(COUNT(*) OVER () AS BIGINT) AS n_pairs
        |      FROM p)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
        |       n_pairs, dy AS med_dy, dx AS med_dx,
        |       slope AS slope_per_day
        |FROM r WHERE rn = (n_pairs + 1) // 2""".stripMargin),

    // Wald-Wolfowitz runs test on the daily event-count series — "is
    // traffic randomly scattered about its median, or does it drift in
    // sustained runs?" — the independence screen that complements
    // events_changepoint_cusum (CUSUM locates a shift; the runs test
    // says whether ANY clustering exists). Exact machinery: the median
    // is SELECTED (rank (T+1) div 2, percentile_disc discipline),
    // median-valued days are excluded per the classic test, signs and
    // the run count R = 1 + #sign-changes are pure integer window ops,
    // and the z-score's expectation/variance are rationals of exact
    // BIGINTs evaluated in ONE double chain with identical operand
    // order both engines. Scale: one map-side-combined day agg; every
    // window runs over the calendar-bounded day table.
    "stat_runs_test" -> QuerySpec(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(expr("ts div 86400000000000").as("day_idx"))
          .agg(count(lit(1)).as("n"))
        val med = daily
          .withColumn("rn",
            row_number().over(Window.orderBy("n", "day_idx")))
          .crossJoin(broadcast(daily.agg(count(lit(1)).as("t"))))
          .filter(col("rn") === expr("(t + 1) div 2"))
          .select(col("n").as("med"))
        val sg = daily.crossJoin(broadcast(med))
          .filter(col("n") =!= col("med"))
          .select(col("day_idx"), col("med"),
            when(col("n") > col("med"), 1).otherwise(-1).as("sgn"))
        val agg = sg
          .withColumn("prev", lag("sgn", 1).over(Window.orderBy("day_idx")))
          .agg(first("med").as("med"),
            sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_above"),
            sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_below"),
            sum(when(col("prev").isNull || col("prev") =!= col("sgn"), 1L)
              .otherwise(0L)).as("n_runs"))
        val aD = col("n_above").cast("double")
        val bD = col("n_below").cast("double")
        val nD = aD + bD
        val eR = lit(2.0) * aD * bD / nD + lit(1.0)
        val vR = (lit(2.0) * aD * bD * (lit(2.0) * aD * bD - nD)) /
          (nD * nD * (nD - lit(1.0)))
        agg.select(col("med"), col("n_above"), col("n_below"),
          col("n_runs"),
          ((col("n_runs").cast("double") - eR) / sqrt(vR)).as("z_runs"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily),
        |med AS (SELECT n AS med FROM
        |    (SELECT n, row_number() OVER (ORDER BY n, day_idx) AS rn
        |     FROM daily), t
        |  WHERE rn = (t + 1) // 2),
        |sg AS (SELECT day_idx, med,
        |              CASE WHEN n > med THEN 1 ELSE -1 END AS sgn
        |       FROM daily, med WHERE n <> med),
        |r AS (SELECT med, sgn,
        |             LAG(sgn) OVER (ORDER BY day_idx) AS prev
        |      FROM sg),
        |agg AS (SELECT
        |    MIN(med) AS med,
        |    CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_above,
        |    CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_below,
        |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> sgn
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        |  FROM r)
        |SELECT med, n_above, n_below, n_runs,
        |  (CAST(n_runs AS DOUBLE)
        |   - (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |      / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |      + 1.0))
        |  / sqrt((2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |      * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |         - (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))))
        |    / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |       * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |       * ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |          - 1.0))) AS z_runs
        |FROM agg""".stripMargin),

    // One-way ANOVA of order value across the 5 order priorities — the
    // k-group mean-difference test (the z-test handles 2 groups; the
    // rank tests drop the mean entirely; this is the classical
    // variance-decomposition F). Exactness discipline: per-group
    // (n_g, Σc, Σc²) are exact — cents terms and their squares fit
    // BIGINT per term and accumulate through the per-TERM hi/lo 2^20
    // split into DECIMAL(38,0) (profile_correlation_matrix idiom) —
    // and every cross-GROUP double sum (ΣS_g, ΣQ_g, ΣS_g²/n_g) runs as
    // a priority-ORDERED fold over the packed 5-row group table
    // (Holt-Winters discipline: group-hash iteration order never
    // touches a double). SSB = Σ S_g²/n_g − S²/N, SSW = Q − Σ S_g²/n_g,
    // F their df-scaled ratio, one fixed chain both engines. Scale:
    // ONE map-side-combined keyed agg over orders; everything after
    // lives on the 5-row (priority-domain-bounded) group table.
    "stat_anova_oneway" -> QuerySpec(
      (s, d) => {
        val c = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
        val g = Tables.orders(s, d)
          .select(col("o_orderpriority").as("p"), c.as("c"))
          .groupBy("p").agg(
            count(lit(1)).as("ng"),
            sum(expr("c div 1048576").cast("decimal(38,0)")).as("sh"),
            sum(expr("c % 1048576").cast("decimal(38,0)")).as("sl"),
            sum(expr("(c * c) div 1048576").cast("decimal(38,0)"))
              .as("qh"),
            sum(expr("(c * c) % 1048576").cast("decimal(38,0)"))
              .as("ql"))
        def asD(h: String, l: String) =
          col(h).cast("double") * lit(1048576.0) + col(l).cast("double")
        val t = g.select(col("p"), col("ng"),
            asD("sh", "sl").as("sg"), asD("qh", "ql").as("qg"))
          .withColumn("tt",
            col("sg") * col("sg") / col("ng").cast("double"))
        val folded = t.agg(
            count(lit(1)).as("k_groups"), sum("ng").as("n"),
            sort_array(collect_list(struct(col("p"), col("tt"),
              col("sg"), col("qg")))).as("a"))
          .select(col("k_groups"), col("n"),
            expr("aggregate(a, 0D, (acc, x) -> acc + x.tt)")
              .as("ssb_raw"),
            expr("aggregate(a, 0D, (acc, x) -> acc + x.sg)").as("s"),
            expr("aggregate(a, 0D, (acc, x) -> acc + x.qg)").as("q"))
        val nD = col("n").cast("double")
        val kD = col("k_groups").cast("double")
        val ssb = col("ssb_raw") - col("s") * col("s") / nD
        val ssw = col("q") - col("ssb_raw")
        folded.select(col("k_groups"), col("n"),
          ssb.as("ss_between"), ssw.as("ss_within"),
          safeDiv(safeDiv(ssb, kD - lit(1.0)),
            safeDiv(ssw, nD - kD)).as("f_stat"))
      },
      """WITH c AS (SELECT o_orderpriority AS p,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |g AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(CAST(c // 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sh,
        |    CAST(SUM(CAST(c % 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sl,
        |    CAST(SUM(CAST((c * c) // 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS qh,
        |    CAST(SUM(CAST((c * c) % 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS ql
        |  FROM c GROUP BY 1),
        |t AS (SELECT p, ng,
        |    CAST(sh AS DOUBLE) * 1048576.0 + CAST(sl AS DOUBLE) AS sg,
        |    CAST(qh AS DOUBLE) * 1048576.0 + CAST(ql AS DOUBLE) AS qg
        |  FROM g),
        |t2 AS (SELECT p, ng, sg, qg,
        |              sg * sg / CAST(ng AS DOUBLE) AS tt FROM t),
        |packed AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
        |    CAST(SUM(ng) AS BIGINT) AS n,
        |    list(tt ORDER BY p) AS lt,
        |    list(sg ORDER BY p) AS ls,
        |    list(qg ORDER BY p) AS lq
        |  FROM t2),
        |f AS (SELECT k_groups, n,
        |    list_reduce(list_prepend(0.0, lt), (a, b) -> a + b)
        |      AS ssb_raw,
        |    list_reduce(list_prepend(0.0, ls), (a, b) -> a + b) AS s,
        |    list_reduce(list_prepend(0.0, lq), (a, b) -> a + b) AS q
        |  FROM packed)
        |SELECT k_groups, n,
        |  ssb_raw - s * s / CAST(n AS DOUBLE) AS ss_between,
        |  q - ssb_raw AS ss_within,
        |  ((ssb_raw - s * s / CAST(n AS DOUBLE))
        |     / (CAST(k_groups AS DOUBLE) - 1.0))
        |  / ((q - ssb_raw)
        |     / (CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE))) AS f_stat
        |FROM f""".stripMargin),

    // Brown-Forsythe (median-based Levene) test for variance
    // homogeneity across the 5 order priorities — the validity check a
    // pipeline runs BEFORE trusting stat_anova_oneway's F (ANOVA
    // assumes equal group variances; this tests exactly that, robustly,
    // by running the same F machinery on |x − median_g|). Exact
    // construction: each group's median is SELECTED at rank
    // (n_g+1) div 2 (the percentile_disc discipline — the value at a
    // fixed rank is invariant to tie permutation), deviations
    // z = |c − med_g| and their squares are exact BIGINTs accumulating
    // through the per-term hi/lo split, and the cross-group double
    // sums run as the same priority-ORDERED fold as the ANOVA. Scale:
    // the median rank window shuffles once on the group key
    // (percentile_disc_exact precedent); the 5-row median table rides
    // a broadcast back onto the scan; everything after the second
    // keyed agg lives on the bounded group table.
    "stat_levene_brown_forsythe" -> QuerySpec(
      (s, d) => {
        val c = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
        val o = Tables.orders(s, d)
          .select(col("o_orderpriority").as("p"), c.as("c"))
        val wRank = Window.partitionBy("p").orderBy("c")
        val med = o
          .withColumn("rn", row_number().over(wRank))
          .withColumn("cnt",
            count(lit(1)).over(Window.partitionBy("p")))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("p"), col("c").as("med"))
        val z = o.join(broadcast(med), "p")
          .select(col("p"), abs(col("c") - col("med")).as("z"))
        val g = z.groupBy("p").agg(
          count(lit(1)).as("ng"),
          sum(expr("z div 1048576").cast("decimal(38,0)")).as("sh"),
          sum(expr("z % 1048576").cast("decimal(38,0)")).as("sl"),
          sum(expr("(z * z) div 1048576").cast("decimal(38,0)"))
            .as("qh"),
          sum(expr("(z * z) % 1048576").cast("decimal(38,0)")).as("ql"))
        def asD(h: String, l: String) =
          col(h).cast("double") * lit(1048576.0) + col(l).cast("double")
        val t = g.select(col("p"), col("ng"),
            asD("sh", "sl").as("sg"), asD("qh", "ql").as("qg"))
          .withColumn("tt",
            col("sg") * col("sg") / col("ng").cast("double"))
        val folded = t.agg(
            count(lit(1)).as("k_groups"), sum("ng").as("n"),
            sort_array(collect_list(struct(col("p"), col("tt"),
              col("sg"), col("qg")))).as("a"))
          .select(col("k_groups"), col("n"),
            expr("aggregate(a, 0D, (acc, x) -> acc + x.tt)")
              .as("ssb_raw"),
            expr("aggregate(a, 0D, (acc, x) -> acc + x.sg)").as("s"),
            expr("aggregate(a, 0D, (acc, x) -> acc + x.qg)").as("q"))
        val nD = col("n").cast("double")
        val kD = col("k_groups").cast("double")
        val ssb = col("ssb_raw") - col("s") * col("s") / nD
        val ssw = col("q") - col("ssb_raw")
        folded.select(col("k_groups"), col("n"),
          ssb.as("ss_between"), ssw.as("ss_within"),
          safeDiv(safeDiv(ssb, kD - lit(1.0)),
            safeDiv(ssw, nD - kD)).as("w_stat"))
      },
      """WITH o AS (SELECT o_orderpriority AS p,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |r AS (SELECT p, c,
        |    row_number() OVER (PARTITION BY p ORDER BY c) AS rn,
        |    COUNT(*) OVER (PARTITION BY p) AS cnt
        |  FROM o),
        |med AS (SELECT p, c AS med FROM r WHERE rn = (cnt + 1) // 2),
        |z AS (SELECT o.p, abs(o.c - med.med) AS z
        |      FROM o JOIN med ON o.p = med.p),
        |g AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(CAST(z // 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sh,
        |    CAST(SUM(CAST(z % 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sl,
        |    CAST(SUM(CAST((z * z) // 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS qh,
        |    CAST(SUM(CAST((z * z) % 1048576 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS ql
        |  FROM z GROUP BY 1),
        |t AS (SELECT p, ng,
        |    CAST(sh AS DOUBLE) * 1048576.0 + CAST(sl AS DOUBLE) AS sg,
        |    CAST(qh AS DOUBLE) * 1048576.0 + CAST(ql AS DOUBLE) AS qg
        |  FROM g),
        |t2 AS (SELECT p, ng, sg, qg,
        |              sg * sg / CAST(ng AS DOUBLE) AS tt FROM t),
        |packed AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
        |    CAST(SUM(ng) AS BIGINT) AS n,
        |    list(tt ORDER BY p) AS lt,
        |    list(sg ORDER BY p) AS ls,
        |    list(qg ORDER BY p) AS lq
        |  FROM t2),
        |f AS (SELECT k_groups, n,
        |    list_reduce(list_prepend(0.0, lt), (a, b) -> a + b)
        |      AS ssb_raw,
        |    list_reduce(list_prepend(0.0, ls), (a, b) -> a + b) AS s,
        |    list_reduce(list_prepend(0.0, lq), (a, b) -> a + b) AS q
        |  FROM packed)
        |SELECT k_groups, n,
        |  ssb_raw - s * s / CAST(n AS DOUBLE) AS ss_between,
        |  q - ssb_raw AS ss_within,
        |  ((ssb_raw - s * s / CAST(n AS DOUBLE))
        |     / (CAST(k_groups AS DOUBLE) - 1.0))
        |  / ((q - ssb_raw)
        |     / (CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE))) AS w_stat
        |FROM f""".stripMargin),

    // Cramér's V effect size for the market-segment × order-priority
    // contingency table — the "is this association MATERIAL, not just
    // detectable" companion to a chi-square screen (at 100 TB any
    // trivial dependence is significant; V normalizes the statistic to
    // [0, 1] so a release gate can threshold on effect size). Exact
    // tallies: cell/margin counts are BIGINTs off ONE keyed agg after
    // the broadcast customer join; expectations E = R·C/N are formed in
    // DOUBLE from the exact counts (the R·C product would overflow
    // BIGINT on a 100 TB corpus — the per-marginal-rate lesson from
    // stat_cohen_kappa) and the chi-square sum runs as a (seg, prio)-
    // ORDERED fold over the packed ≤25-cell table, one fixed double
    // chain both engines. Scale: everything after the first agg lives
    // on the domain-bounded cell table.
    "stat_cramers_v" -> QuerySpec(
      (s, d) => {
        val cells = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"),
            col("o_orderpriority").as("prio"))
          .agg(count(lit(1)).as("o"))
        val rowT = cells.groupBy("seg").agg(sum("o").as("r"))
        val colT = cells.groupBy("prio").agg(sum("o").as("cc"))
        val tot = cells.agg(sum("o").as("n"),
          countDistinct("seg").as("n_rows"),
          countDistinct("prio").as("n_cols"))
        val e = cells
          .join(broadcast(rowT), "seg")
          .join(broadcast(colT), "prio")
          .crossJoin(broadcast(tot))
          .withColumn("ed", col("r").cast("double") *
            col("cc").cast("double") / col("n").cast("double"))
          .withColumn("term",
            (col("o").cast("double") - col("ed")) *
              (col("o").cast("double") - col("ed")) / col("ed"))
        // n / n_rows / n_cols come from `tot`, NOT first() over `e`: an
        // empty contingency table (degenerate fixture whose single order
        // matches no customer) must still report tot's 0-counts like the
        // oracle, not first-over-empty NULLs
        val folded = e.agg(
            sort_array(collect_list(struct(col("seg"), col("prio"),
              col("term")))).as("a"))
          .withColumn("chi2",
            expr("aggregate(a, 0D, (acc, x) -> acc + x.term)"))
          .crossJoin(broadcast(tot))
        folded.select(col("n"), col("n_rows"), col("n_cols"),
          col("chi2"),
          sqrt(safeDiv(col("chi2"), col("n").cast("double") *
            (least(col("n_rows"), col("n_cols")) - lit(1L))
              .cast("double"))).as("cramers_v"))
      },
      """WITH cells AS (
        |  SELECT c_mktsegment AS seg, o_orderpriority AS prio,
        |         CAST(COUNT(*) AS BIGINT) AS o
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |rt AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS r
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT prio, CAST(SUM(o) AS BIGINT) AS cc
        |       FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_rows,
        |    CAST(COUNT(DISTINCT prio) AS BIGINT) AS n_cols
        |  FROM cells),
        |e AS (SELECT cells.seg, cells.prio,
        |    (CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(cc AS DOUBLE)
        |       / CAST(n AS DOUBLE))
        |    * (CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(cc AS DOUBLE)
        |       / CAST(n AS DOUBLE))
        |    / (CAST(r AS DOUBLE) * CAST(cc AS DOUBLE)
        |       / CAST(n AS DOUBLE)) AS term
        |  FROM cells JOIN rt USING (seg) JOIN ct USING (prio), tot),
        |f AS (SELECT
        |    list_reduce(list_prepend(0.0,
        |      list(term ORDER BY seg, prio)), (a, b) -> a + b) AS chi2
        |  FROM e)
        |SELECT n, n_rows, n_cols, chi2,
        |       sqrt(chi2 / (CAST(n AS DOUBLE)
        |         * CAST(LEAST(n_rows, n_cols) - 1 AS DOUBLE)))
        |         AS cramers_v
        |FROM f, tot""".stripMargin),

    // Q-Q decile table between two segments' order-value distributions
    // — the distributional drill-down behind a drift verdict (the KS
    // and rank tests say WHETHER the distributions differ; this table
    // says WHERE: each row pairs the two segments' exact k-th deciles
    // and their ratio). Deciles are SELECTED order statistics at rank
    // ceil(k·n/10) (type-1 quantiles — actual data values, invariant
    // to tie permutation), located WITHOUT ranking the corpus: the
    // ops.Banded two-level prefix (keyed by segment) gives each
    // distinct value its cumulative range [cum, cum+c), and the 18
    // (segment, decile) rank targets ride a broadcast join with a
    // range residual. The oracle is the independent NAIVE
    // row_number-window formulation, cross-checking the banded
    // selection itself. Scale: one keyed (seg, v) count agg; the only
    // unpartitioned window is over the band table (value-domain
    // bounded); all 9 rows emit from one bounded pivot.
    "stat_qq_deciles" -> QuerySpec(
      (s, d) => {
        val j = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)),
            col("o_custkey") === col("c_custkey"))
          .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
          .select(col("c_mktsegment").as("seg"),
            floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
              .as("v"))
        val pv = j.groupBy("seg", "v").agg(count(lit(1)).as("c"))
        val cum = graft.ops.Banded.running(
          pv.withColumn("band", expr("v div 1000000")),
          Seq("v"), Seq("c" -> "cum"), keys = Seq("seg"))
        val ranks = j.groupBy(col("seg").as("seg2"))
          .agg(count(lit(1)).as("n"))
          .select(col("seg2"),
            explode(array((1 to 9).map(lit): _*)).as("qi"), col("n"))
          .select(col("seg2"), col("qi").cast("long").as("q"), col("n"))
          .withColumn("r", expr("(q * n + 9) div 10"))
        cum.join(broadcast(ranks),
            col("seg") === col("seg2") &&
              col("cum") < col("r") && col("r") <= col("cum") + col("c"))
          .groupBy("q").agg(
            max(when(col("seg") === "BUILDING", col("v")))
              .as("building_cents"),
            max(when(col("seg") === "MACHINERY", col("v")))
              .as("machinery_cents"))
          .withColumn("qq_ratio",
            col("building_cents").cast("double") /
              col("machinery_cents").cast("double"))
          .orderBy("q")
      },
      """WITH j AS (
        |  SELECT c_mktsegment AS seg,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |r AS (SELECT seg, v,
        |    row_number() OVER (PARTITION BY seg ORDER BY v) AS rn,
        |    COUNT(*) OVER (PARTITION BY seg) AS n
        |  FROM j),
        |k AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS q),
        |sel AS (SELECT seg, q, v
        |        FROM r JOIN k ON rn = (q * n + 9) // 10)
        |SELECT q,
        |  MAX(CASE WHEN seg = 'BUILDING' THEN v END) AS building_cents,
        |  MAX(CASE WHEN seg = 'MACHINERY' THEN v END)
        |    AS machinery_cents,
        |  CAST(MAX(CASE WHEN seg = 'BUILDING' THEN v END) AS DOUBLE)
        |    / CAST(MAX(CASE WHEN seg = 'MACHINERY' THEN v END)
        |        AS DOUBLE) AS qq_ratio
        |FROM sel GROUP BY q ORDER BY q""".stripMargin),

    // Exact discrete median per group (percentile_disc semantics): the
    // value AT rank ceil(n/2) under a total order — no interpolation, so
    // the result is an actual data value and exactly reproducible in any
    // engine (the approximate t-digest variant lives in
    // sketch_percentiles). One window shuffle on the group key.
    "percentile_disc_exact" -> QuerySpec(
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy("o_totalprice", "o_orderkey")
        Tables.orders(s, d)
          .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt",
            count(lit(1)).over(Window.partitionBy("o_orderpriority")))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("o_orderpriority"),
            col("o_totalprice").as("median_price"), col("cnt").as("n"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, o_totalprice AS median_price, cnt AS n
        |FROM (
        |  SELECT o_orderpriority, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice, o_orderkey) AS rn,
        |         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
        |  FROM orders)
        |WHERE rn = (cnt + 1) // 2
        |ORDER BY o_orderpriority""".stripMargin),

    // SQL frontend, TPC-H Q5 shape: a 5-table dim chain (region → nation →
    // customer → orders → lineitem) with a year filter — exercises join
    // reorder + broadcast planning from pure SQL text.
    "sql_frontend_q5" -> QuerySpec(
      (s, d) => {
        Tables.region(s, d).createOrReplaceTempView("v_region")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT n_name,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
          FROM v_region JOIN v_nation ON n_regionkey = r_regionkey
                        JOIN v_customer ON c_nationkey = n_nationkey
                        JOIN v_orders ON o_custkey = c_custkey
                        JOIN v_lineitem ON l_orderkey = o_orderkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate <  TIMESTAMP '1997-01-01'
          GROUP BY n_name
          ORDER BY revenue DESC, n_name""")
      },
      """SELECT n_name,
        |       CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |            AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |            JOIN customer ON c_nationkey = n_nationkey
        |            JOIN orders ON o_custkey = c_custkey
        |            JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),

    // SQL frontend, TPC-H Q18 shape (large-volume customers): an IN
    // subquery over a grouped HAVING — the "find the heavy keys, then
    // join back for detail" pattern. Catalyst rewrites the IN to a
    // semi-join on the aggregated key set; the detail join never scans
    // more than the qualifying orders.
    "sql_frontend_q18" -> QuerySpec(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT c_name, c_custkey, o_orderkey,
                 CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
          FROM v_customer JOIN v_orders ON c_custkey = o_custkey
                          JOIN v_lineitem ON o_orderkey = l_orderkey
          WHERE o_orderkey IN (
            SELECT l_orderkey FROM v_lineitem
            GROUP BY l_orderkey
            HAVING SUM(l_quantity) > 300)
          GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 100""")
          .withColumn("o_orderdate",
            date_format(col("o_orderdate"), "yyyy-MM-dd"))
      },
      """SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_totalprice,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin),

    // TPC-H Q2 (minimum-cost supplier) through the SQL frontend, adapted:
    // this schema has no partsupp, so the supply relation is the DISTINCT
    // (l_partkey, l_suppkey) pair set observed in lineitem, and the
    // "cost" a buyer minimizes is the supplier's account balance — which
    // keeps Q2's defining shape intact: a correlated scalar MIN subquery
    // re-reading the same supply relation, resolved per part, under a
    // region-restricted dim join tree. Catalyst decorrelates the MIN
    // into an aggregate + join on the equality correlation (p_partkey);
    // at scale the pair-distinct is one shuffle on (part,supp) and every
    // dim (supplier/nation/region) broadcasts.
    "sql_frontend_q2" -> QuerySpec(
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("v_part")
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.region(s, d).createOrReplaceTempView("v_region")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          WITH supply AS (SELECT DISTINCT l_partkey, l_suppkey FROM v_lineitem)
          SELECT s_acctbal, s_name, n_name, p_partkey, p_name
          FROM supply JOIN v_part ON p_partkey = l_partkey
                      JOIN v_supplier ON s_suppkey = l_suppkey
                      JOIN v_nation ON s_nationkey = n_nationkey
                      JOIN v_region ON n_regionkey = r_regionkey
          WHERE p_size = 15 AND p_type = 'SMALL' AND r_name = 'EUROPE'
            AND s_acctbal = (
              SELECT MIN(s2.s_acctbal)
              FROM supply p2 JOIN v_supplier s2 ON s2.s_suppkey = p2.l_suppkey
                             JOIN v_nation n2 ON s2.s_nationkey = n2.n_nationkey
                             JOIN v_region r2 ON n2.n_regionkey = r2.r_regionkey
              WHERE p2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
          ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
          LIMIT 100""")
      },
      """WITH supply AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM supply JOIN part ON p_partkey = l_partkey
        |            JOIN supplier ON s_suppkey = l_suppkey
        |            JOIN nation ON s_nationkey = n_nationkey
        |            JOIN region ON n_regionkey = r_regionkey
        |WHERE p_size = 15 AND p_type = 'SMALL' AND r_name = 'EUROPE'
        |  AND s_acctbal = (
        |    SELECT MIN(s2.s_acctbal)
        |    FROM supply p2 JOIN supplier s2 ON s2.s_suppkey = p2.l_suppkey
        |                   JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |                   JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE p2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),

    // TPC-H Q4 (order-priority checking) through the SQL frontend,
    // adapted: no l_commitdate/l_receiptdate in this schema, so a "late"
    // order is one with a line shipped more than 90 days after the order
    // date. The shape is exact Q4: a quarter filter on orders + an EXISTS
    // semi-join against lineitem, grouped to a 5-row priority census.
    // Catalyst plans the EXISTS as a LeftSemi on l_orderkey; the quarter
    // filter prunes orders at the scan before any join.
    "sql_frontend_q4" -> QuerySpec(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT o_orderpriority, COUNT(*) AS order_count
          FROM v_orders
          WHERE o_orderdate >= TIMESTAMP '1996-07-01'
            AND o_orderdate <  TIMESTAMP '1996-10-01'
            AND EXISTS (SELECT 1 FROM v_lineitem
                        WHERE l_orderkey = o_orderkey
                          AND l_shipdate > o_orderdate + INTERVAL '90' DAY)
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate <  TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // TPC-H Q8 (national market share) through the SQL frontend: the
    // full 8-relation join tree (part, lineitem, supplier, orders,
    // customer, region + nation twice), then per order year the share of
    // ECONOMY-part revenue in AMERICA delivered by NATION_3 suppliers.
    // Share = exact-decimal conditional sum over exact-decimal total,
    // divided once as doubles (IEEE-deterministic, so the oracle
    // reproduces it bit-for-bit). Every dim broadcasts; the fact scan is
    // pruned by the two-year order window.
    "sql_frontend_q8" -> QuerySpec(
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("v_part")
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.region(s, d).createOrReplaceTempView("v_region")
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          WITH trade AS (
            SELECT year(o_orderdate) AS o_year,
                   CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)) AS volume,
                   n2.n_name AS supp_nation
            FROM v_part JOIN v_lineitem ON p_partkey = l_partkey
                        JOIN v_supplier ON s_suppkey = l_suppkey
                        JOIN v_orders ON l_orderkey = o_orderkey
                        JOIN v_customer ON o_custkey = c_custkey
                        JOIN v_nation n1 ON c_nationkey = n1.n_nationkey
                        JOIN v_region ON n1.n_regionkey = r_regionkey
                        JOIN v_nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01')
          SELECT o_year,
                 CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                                    ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
                    / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
          FROM trade
          GROUP BY o_year
          ORDER BY o_year""")
      },
      """WITH trade AS (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)) AS volume,
        |         n2.n_name AS supp_nation
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |            JOIN supplier ON s_suppkey = l_suppkey
        |            JOIN orders ON l_orderkey = o_orderkey
        |            JOIN customer ON o_custkey = c_custkey
        |            JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |            JOIN region ON n1.n_regionkey = r_regionkey
        |            JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate <  TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
        |                          ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
        |          / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
        |FROM trade
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin),

    // TPC-H Q11 (important stock identification) through the SQL
    // frontend, adapted: "stock value" per part is the exact-decimal
    // Σ(l_quantity · p_retailprice) over lines supplied by NATION_1
    // suppliers (no partsupp/availqty here), kept when above 0.1% of the
    // national total — Q11's defining shape: a grouped aggregate
    // compared against a scalar subquery re-aggregating the SAME
    // derivation. The threshold compare happens in doubles derived from
    // exact decimals (deterministic in both engines). The CTE is read
    // twice; Spark plans it as a reused exchange, not a rescan.
    "sql_frontend_q11" -> QuerySpec(
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("v_part")
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          WITH partval AS (
            SELECT l_partkey,
                   SUM(CAST(l_quantity * p_retailprice AS DECIMAL(25,6))) AS val
            FROM v_lineitem JOIN v_part ON p_partkey = l_partkey
                            JOIN v_supplier ON s_suppkey = l_suppkey
                            JOIN v_nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_1'
            GROUP BY l_partkey)
          SELECT l_partkey AS p_partkey, CAST(val AS DOUBLE) AS value
          FROM partval
          WHERE CAST(val AS DOUBLE) >
                (SELECT CAST(SUM(val) AS DOUBLE) FROM partval) * 0.001
          ORDER BY value DESC, p_partkey""")
      },
      """WITH partval AS (
        |  SELECT l_partkey,
        |         SUM(CAST(l_quantity * p_retailprice AS DECIMAL(25,6))) AS val
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |                JOIN supplier ON s_suppkey = l_suppkey
        |                JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_1'
        |  GROUP BY l_partkey)
        |SELECT l_partkey AS p_partkey, CAST(val AS DOUBLE) AS value
        |FROM partval
        |WHERE CAST(val AS DOUBLE) >
        |      (SELECT CAST(SUM(val) AS DOUBLE) FROM partval) * 0.001
        |ORDER BY value DESC, p_partkey""".stripMargin),

    // TPC-H Q13 (customer order-count distribution) through the SQL
    // frontend: LEFT OUTER join with an extra non-key join predicate
    // (priority filter INSIDE the join condition, so zero-order
    // customers survive), aggregated twice — per customer, then into the
    // count-of-counts histogram. The double aggregation is the shape to
    // keep at scale: the first groupBy shuffles on custkey, the second
    // on the tiny distinct-count domain.
    "sql_frontend_q13" -> QuerySpec(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        s.sql("""
          SELECT c_count, COUNT(*) AS custdist
          FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM v_customer LEFT OUTER JOIN v_orders
                  ON c_custkey = o_custkey
                 AND o_orderpriority <> '4-NOT SPECIFIED'
                GROUP BY c_custkey) c_orders
          GROUP BY c_count
          ORDER BY custdist DESC, c_count DESC""")
      },
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey
        |       AND o_orderpriority <> '4-NOT SPECIFIED'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q15 (top supplier) through the SQL frontend: a quarterly
    // per-supplier revenue view, then the supplier(s) whose revenue
    // EQUALS the view's max — Q15's view + scalar-max-equality shape.
    // Revenue is an exact decimal sum, so the equality is exact (a
    // float-summed revenue would make "= MAX" flaky); the view is tiny
    // (one row per supplier) and its second read is a reused exchange.
    "sql_frontend_q15" -> QuerySpec(
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS total_revenue
            FROM v_lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey)
          SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
          FROM v_supplier JOIN revenue ON s_suppkey = supplier_no
          WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
          ORDER BY s_suppkey""")
      },
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q16 (parts/supplier relationship census) through the SQL
    // frontend, adapted: suppliers "with complaints" become suppliers
    // with a negative account balance (no comment column), excluded via
    // NOT IN — which Catalyst plans as a null-aware anti join. The
    // census itself is COUNT(DISTINCT supplier) per (brand, type, size)
    // over the distinct supply pair relation, with the brand/type/size
    // exclusions pushed to the part scan.
    "sql_frontend_q16" -> QuerySpec(
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("v_part")
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT p_brand, p_type, p_size,
                 COUNT(DISTINCT l_suppkey) AS supplier_cnt
          FROM (SELECT DISTINCT l_partkey, l_suppkey FROM v_lineitem) supply
               JOIN v_part ON p_partkey = l_partkey
          WHERE p_brand <> 'Brand#2' AND p_type <> 'PROMO'
            AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
            AND l_suppkey NOT IN
                (SELECT s_suppkey FROM v_supplier WHERE s_acctbal < 0)
          GROUP BY p_brand, p_type, p_size
          ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
      },
      """SELECT p_brand, p_type, p_size,
        |       COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) supply
        |     JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#2' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // TPC-H Q17 (small-quantity-order revenue) through the SQL frontend,
    // adapted: the per-part average-quantity threshold (l_quantity <
    // 0.2 · avg over the part) is algebraically rearranged to
    // 5 · l_quantity · cnt < Σqty so the exact-decimal sum and the
    // integer count carry the comparison instead of a float division —
    // membership can't flip on an ulp. No container column, so the part
    // slice is brand + type. The per-part aggregate joins back on
    // partkey (Q17's correlated-avg shape, decorrelated explicitly).
    "sql_frontend_q17" -> QuerySpec(
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("v_part")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          WITH pq AS (
            SELECT l_partkey AS pk, COUNT(*) AS cnt,
                   SUM(CAST(l_quantity AS DECIMAL(25,6))) AS sum_qty
            FROM v_lineitem GROUP BY l_partkey)
          SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
                      / 7.0 AS DOUBLE) AS avg_yearly,
                 COUNT(*) AS n_lines
          FROM v_lineitem JOIN v_part ON p_partkey = l_partkey
                          JOIN pq ON pk = l_partkey
          WHERE p_brand = 'Brand#17' AND p_type = 'SMALL'
            AND l_quantity * 5.0 * cnt < CAST(sum_qty AS DOUBLE)""")
      },
      """WITH pq AS (
        |  SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS cnt,
        |         SUM(CAST(l_quantity AS DECIMAL(25,6))) AS sum_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
        |            / 7.0 AS DOUBLE) AS avg_yearly,
        |       COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |              JOIN pq ON pk = l_partkey
        |WHERE p_brand = 'Brand#17' AND p_type = 'SMALL'
        |  AND l_quantity * 5.0 * cnt < CAST(sum_qty AS DOUBLE)""".stripMargin),

    // TPC-H Q19 (discounted revenue, disjunctive predicates) through the
    // SQL frontend: three OR'd brand/size/quantity band conjunctions
    // over the part join — the classic "OR of ANDs" predicate Catalyst
    // must NOT naively cross-join on: the common p_partkey = l_partkey
    // equi-key stays the join condition and the disjunction becomes a
    // post-join filter, with the size/brand legs pushed to the part scan.
    "sql_frontend_q19" -> QuerySpec(
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("v_part")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
                 COUNT(*) AS n_lines
          FROM v_lineitem JOIN v_part ON p_partkey = l_partkey
          WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                 AND l_quantity BETWEEN 1 AND 11)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                 AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
                 AND l_quantity BETWEEN 20 AND 30)""")
      },
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |            AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // TPC-H Q20 (potential part promotion) through the SQL frontend,
    // adapted: no availqty, so a NATION_2 supplier qualifies when, for
    // some red-named part it supplies, its own 1997 shipped quantity
    // exceeds a quarter of the part's total 1997 shipped quantity —
    // preserving Q20's nested-subquery shape: an IN over a subquery
    // that itself nests an IN (part names) and a correlated scalar
    // aggregate (the part's total). The comparison runs in doubles
    // derived from exact decimal sums.
    "sql_frontend_q20" -> QuerySpec(
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("v_part")
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          WITH shipped AS (
            SELECT l_partkey, l_suppkey,
                   SUM(CAST(l_quantity AS DECIMAL(25,6))) AS qty
            FROM v_lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY l_partkey, l_suppkey)
          SELECT s_name, s_acctbal
          FROM v_supplier JOIN v_nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_2'
            AND s_suppkey IN (
              SELECT l_suppkey FROM shipped sh
              WHERE sh.l_partkey IN
                    (SELECT p_partkey FROM v_part WHERE p_name LIKE 'red%')
                AND CAST(sh.qty AS DOUBLE) * 4.0 > (
                  SELECT CAST(SUM(s2.qty) AS DOUBLE) FROM shipped s2
                  WHERE s2.l_partkey = sh.l_partkey))
          ORDER BY s_name""")
      },
      """WITH shipped AS (
        |  SELECT l_partkey, l_suppkey,
        |         SUM(CAST(l_quantity AS DECIMAL(25,6))) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  GROUP BY l_partkey, l_suppkey)
        |SELECT s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_2'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM shipped sh
        |    WHERE sh.l_partkey IN
        |          (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND CAST(sh.qty AS DOUBLE) * 4.0 > (
        |        SELECT CAST(SUM(s2.qty) AS DOUBLE) FROM shipped s2
        |        WHERE s2.l_partkey = sh.l_partkey))
        |ORDER BY s_name""".stripMargin),

    // TPC-H Q21 (suppliers who kept orders waiting) through the SQL
    // frontend, adapted: "late" = shipped more than 60 days after the
    // order date (no commit/receipt dates). The full Q21 shape: for
    // finished orders, count per NATION_0 supplier the orders where it
    // shipped late, another supplier ALSO participated (EXISTS), and no
    // OTHER supplier was late (NOT EXISTS) — i.e. the sole culprit.
    // Both subqueries correlate on the equality l_orderkey, so Catalyst
    // plans one LeftSemi and one LeftAnti against lineitem.
    "sql_frontend_q21" -> QuerySpec(
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT s_name, COUNT(*) AS numwait
          FROM v_supplier
          JOIN v_lineitem l1 ON s_suppkey = l1.l_suppkey
          JOIN v_orders ON o_orderkey = l1.l_orderkey
          JOIN v_nation ON s_nationkey = n_nationkey
          WHERE o_orderstatus = 'F' AND n_name = 'NATION_0'
            AND l1.l_shipdate > o_orderdate + INTERVAL '60' DAY
            AND EXISTS (SELECT 1 FROM v_lineitem l2
                        WHERE l2.l_orderkey = l1.l_orderkey
                          AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (
              SELECT 1 FROM v_lineitem l3
                       JOIN v_orders o2 ON o2.o_orderkey = l3.l_orderkey
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o2.o_orderdate + INTERVAL '60' DAY)
          GROUP BY s_name
          ORDER BY numwait DESC, s_name
          LIMIT 20""")
      },
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND n_name = 'NATION_0'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |             JOIN orders o2 ON o2.o_orderkey = l3.l_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o2.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin),

    // TPC-H Q22 (global sales opportunity) through the SQL frontend,
    // adapted: the phone country code becomes the nation key mod 5 (no
    // phone column). Shape preserved exactly: positive-balance customers
    // in selected codes, above the segment's average balance (the
    // scalar-subquery average, carried as c_acctbal · n > Σ so the exact
    // decimal sum and integer count decide membership, not a float
    // division), with NO RECENT orders (anti join — every customer in
    // this data has SOME order, so Q22's "never ordered" is sharpened to
    // "dormant since 1999", which is the query's business intent anyway),
    // bucketed per code.
    "sql_frontend_q22" -> QuerySpec(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        s.sql("""
          WITH pos AS (
            SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode, c_custkey, c_acctbal
            FROM v_customer
            WHERE c_nationkey % 5 IN (0, 2, 3) AND c_acctbal > 0.0),
          avgbal AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS s,
                   COUNT(*) AS n
            FROM pos)
          SELECT cntrycode, COUNT(*) AS numcust,
                 CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS totacctbal
          FROM pos CROSS JOIN avgbal
          WHERE c_acctbal * n > s
            AND NOT EXISTS (SELECT 1 FROM v_orders
                            WHERE o_custkey = c_custkey
                              AND o_orderdate >= TIMESTAMP '1999-01-01')
          GROUP BY cntrycode
          ORDER BY cntrycode""")
      },
      """WITH pos AS (
        |  SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntrycode, c_custkey, c_acctbal
        |  FROM customer
        |  WHERE c_nationkey % 5 IN (0, 2, 3) AND c_acctbal > 0.0),
        |avgbal AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS s,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM pos)
        |SELECT cntrycode, COUNT(*) AS numcust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS totacctbal
        |FROM pos CROSS JOIN avgbal
        |WHERE c_acctbal * n > s
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin),

    // GROUP BY ALL / ORDER BY ALL (Spark 4 + DuckDB both speak this
    // dialect, so the SAME text runs on both engines): the grouping key
    // set derives from the non-aggregate select items and the output
    // order from the full select list — the ergonomic form analysts
    // actually write. Semantically identical to the explicit form, so
    // the plan is the ordinary partial+final hash aggregate.
    "sql_frontend_group_order_all" -> QuerySpec(
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
          FROM v_lineitem
          GROUP BY ALL
          ORDER BY ALL""")
      },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin),

    // SQL pipe syntax (Spark 4's |> operator chain): the linear
    // filter → aggregate → order form that reads in dataflow order
    // instead of inside-out SQL. Parses to the SAME logical plan as the
    // classic form (the oracle phrases it classically), so pushdown /
    // partial aggregation are unchanged. NB the |> tokens live in a
    // plain triple-quoted string — stripMargin would eat the pipes
    // (the PERF.md double-stripMargin lesson).
    "sql_pipe_syntax" -> QuerySpec(
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""
          FROM v_lineitem
          |> WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1998-01-01'
          |> AGGREGATE COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(25,6))) AS DOUBLE) AS revenue
             GROUP BY l_returnflag
          |> ORDER BY l_returnflag""")
      },
      """SELECT l_returnflag, COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |         AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // Parameterized SQL (spark.sql(text, args)): named :placeholders
    // bound server-side as typed literals — the injection-safe templated
    // form a query service exposes. The binder substitutes BEFORE
    // analysis, so Catalyst sees plain literals and constant-folds /
    // pushes them down exactly like inline SQL (same pruned scan). The
    // oracle is the same text with the literals inlined.
    "sql_parameterized_query" -> QuerySpec(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        s.sql(
          """SELECT o_orderpriority, COUNT(*) AS n,
            |       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
            |FROM v_orders
            |WHERE o_totalprice > :minprice
            |  AND o_orderdate >= CAST(:from_date AS TIMESTAMP)
            |GROUP BY o_orderpriority
            |ORDER BY o_orderpriority""".stripMargin,
          Map("minprice" -> 300000.0, "from_date" -> "1997-01-01"))
      },
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
        |            AS VARCHAR) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_totalprice > 300000.0
        |  AND o_orderdate >= CAST('1997-01-01' AS TIMESTAMP)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // IDENTIFIER clause: dynamic table AND column references bound from
    // parameters without string concatenation — the injection-safe way a
    // multi-tenant query service routes "same query, different table/
    // metric". The identifier resolves at analysis time, so the plan is
    // indistinguishable from literal SQL (pruned scan, pushed filter).
    // The oracle inlines the identifiers.
    "sql_identifier_clause" -> QuerySpec(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        s.sql(
          """SELECT o_orderstatus,
            |       COUNT(*) AS n,
            |       CAST(SUM(CAST(IDENTIFIER(:metric) AS DECIMAL(25,6)))
            |         AS DOUBLE) AS total
            |FROM IDENTIFIER(:tbl)
            |GROUP BY o_orderstatus
            |ORDER BY o_orderstatus""".stripMargin,
          Map("tbl" -> "v_orders", "metric" -> "o_totalprice"))
      },
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
        |            AS VARCHAR) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // The DataFrameNaFunctions surface (na.fill / na.drop / na.replace) —
    // the missing-data API an ETL user reaches for first. Nulls are
    // derived deterministically (nullif), then: drop rows where BOTH
    // audited columns are null, fill the remaining balance nulls with a
    // sentinel, and recode a categorical through na.replace. The oracle
    // phrases the same semantics as predicates/COALESCE/CASE.
    "na_fill_drop_replace" -> QuerySpec(
      (s, d) => Tables.customer(s, d)
        .select(col("c_custkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"),
          nullif(col("c_acctbal"), col("c_acctbal"))
            .as("bal_nulled"), // always null → exercises fill
          when(col("c_custkey") % 3 === 0, col("c_acctbal")).as("bal_sparse"))
        .na.drop("all", Seq("seg", "bal_sparse"))
        .na.fill(Map("bal_nulled" -> -1.0))
        .na.replace("seg", Map("MACHINERY" -> "MACH"))
        .orderBy("c_custkey"),
      """SELECT c_custkey,
        |       CASE WHEN NULLIF(c_mktsegment, 'BUILDING') = 'MACHINERY'
        |            THEN 'MACH'
        |            ELSE NULLIF(c_mktsegment, 'BUILDING') END AS seg,
        |       -1.0 AS bal_nulled,
        |       CASE WHEN c_custkey % 3 = 0 THEN c_acctbal END AS bal_sparse
        |FROM customer
        |WHERE NULLIF(c_mktsegment, 'BUILDING') IS NOT NULL
        |   OR (c_custkey % 3 = 0)
        |ORDER BY c_custkey""".stripMargin),

    // Group-median imputation: fill each customer's missing balance with
    // the exact discrete MEDIAN of the non-null balances in its market
    // segment — the statistically-honest fill (a mean is skew-dragged; a
    // global constant ignores structure), and the standard feature-prep
    // step before model training. The median is percentile_disc-exact
    // (an actual data value at rank ⌈n/2⌉ under a total order, so it
    // reproduces bit-identically), computed per segment with one keyed
    // window over the NON-NULL subset, then broadcast back as a 5-row
    // table onto the full scan; was_imputed is surfaced for the
    // downstream lineage audit. Nulls derive deterministically
    // (custkey % 3 pattern, the na_fill fixture convention).
    "impute_group_median" -> QuerySpec(
      (s, d) => {
        val base = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("seg"),
            when(col("c_custkey") % 3 === 0, col("c_acctbal")).as("bal"))
        val w = Window.partitionBy("seg").orderBy("bal", "c_custkey")
        val med = base.filter(col("bal").isNotNull)
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy("seg")))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("seg"), col("bal").as("seg_median"))
        base.join(broadcast(med), "seg")
          .select(col("c_custkey"), col("seg"),
            coalesce(col("bal"), col("seg_median")).as("bal_imputed"),
            col("bal").isNull.as("was_imputed"))
          .orderBy("c_custkey")
      },
      """WITH base AS (
        |  SELECT c_custkey, c_mktsegment AS seg,
        |         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal END AS bal
        |  FROM customer),
        |med AS (
        |  SELECT seg, bal AS seg_median
        |  FROM (
        |    SELECT seg, bal, c_custkey,
        |           row_number() OVER (PARTITION BY seg
        |             ORDER BY bal, c_custkey) AS rn,
        |           COUNT(*) OVER (PARTITION BY seg) AS cnt
        |    FROM base WHERE bal IS NOT NULL)
        |  WHERE rn = (cnt + 1) // 2)
        |SELECT c_custkey, b.seg,
        |       COALESCE(b.bal, m.seg_median) AS bal_imputed,
        |       b.bal IS NULL AS was_imputed
        |FROM base b JOIN med m ON b.seg = m.seg
        |ORDER BY c_custkey""".stripMargin),

    // ANSI-safe error handling: try_cast / try_divide return NULL where
    // strict ANSI evaluation would raise — the ingestion-grade behavior
    // for dirty inputs (Spark 4 ships ANSI on by default, so the try_*
    // family is the sanctioned escape hatch, not a config flip).
    "ansi_try_cast" -> QuerySpec(
      (s, d) => Tables.customer(s, d)
        .select(col("c_custkey"),
          expr("try_cast(c_name AS INT)").as("name_as_int"),
          expr("try_cast(substring(c_name, 10, 5) AS BIGINT)")
            .as("name_digits"),
          expr("try_divide(c_acctbal, c_custkey % 3)").as("safe_div"))
        .orderBy("c_custkey"),
      """SELECT c_custkey,
        |       TRY_CAST(c_name AS INT) AS name_as_int,
        |       TRY_CAST(substring(c_name, 10, 5) AS BIGINT) AS name_digits,
        |       c_acctbal / NULLIF(c_custkey % 3, 0) AS safe_div
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // SQL frontend, correlated subqueries: EXISTS + NOT EXISTS on the same
    // table — exercises Catalyst's subquery decorrelation (rewrite to
    // semi/anti joins; the plan must not degenerate into a per-row loop).
    "sql_frontend_exists" -> QuerySpec(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        s.sql("""
          SELECT c_custkey, c_name
          FROM v_customer c
          WHERE EXISTS (SELECT 1 FROM v_orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 300000)
            AND NOT EXISTS (SELECT 1 FROM v_orders o2
                            WHERE o2.o_custkey = c.c_custkey
                              AND o2.o_orderstatus = 'F')
          ORDER BY c_custkey""")
      },
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    // LATERAL correlated subquery — the SQL-frontend form of "top-N per
    // group" (every region's 3 priciest orders, reached through the
    // nation→customer chain): the lateral subquery re-executes per outer
    // row with ORDER BY + LIMIT inside. Catalyst decorrelates it to a
    // window-ranked join (no nested-loop re-execution), the same physical
    // shape as window_topn_per_customer — asserting the frontend accepts
    // the standard syntax AND plans it scalably.
    "sql_frontend_lateral" -> QuerySpec(
      (s, d) => {
        Tables.region(s, d).createOrReplaceTempView("v_region")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        s.sql("""
          SELECT r.r_name, t.o_orderkey, t.o_totalprice
          FROM v_region r,
          LATERAL (
            SELECT o.o_orderkey, o.o_totalprice
            FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
                            JOIN v_nation n ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey
            LIMIT 3
          ) t
          ORDER BY r.r_name, t.o_totalprice DESC, t.o_orderkey""")
      },
      """SELECT r.r_name, t.o_orderkey, t.o_totalprice
        |FROM region r,
        |LATERAL (
        |  SELECT o.o_orderkey, o.o_totalprice
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |                JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  ORDER BY o.o_totalprice DESC, o.o_orderkey
        |  LIMIT 3
        |) t
        |ORDER BY r.r_name, t.o_totalprice DESC, t.o_orderkey""".stripMargin),

    // Equi-width histogram per group (10 buckets over l_extendedprice per
    // return flag) — the distribution profile a data-quality / drift
    // monitor emits per column. min/max come from one window over the
    // group key; bucket assignment is pure per-row IEEE arithmetic
    // written identically on both engines (floor of (v-min)/width,
    // clamped to bucket 9 so v = max lands in the last bucket; a
    // degenerate zero-width group collapses to bucket 0 by the same
    // guard on both sides); counts are exact. Scale: one window + one
    // keyed count, both partitioned by the group key.
    "histogram_price_per_flag" -> QuerySpec(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
        val mn = min("l_extendedprice").over(w)
        val mx = max("l_extendedprice").over(w)
        val width = (mx - mn) / lit(10.0)
        val bucket = when(mx > mn,
          least(floor((col("l_extendedprice") - mn) / width).cast("long"),
            lit(9L))).otherwise(lit(0L))
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_extendedprice"),
            bucket.as("bucket"), (mn + bucket.cast("double") * width)
              .as("bucket_lo"))
          .groupBy("l_returnflag", "bucket", "bucket_lo")
          .agg(count(lit(1)).as("n"))
          .orderBy("l_returnflag", "bucket")
      },
      """WITH b AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         MIN(l_extendedprice) OVER w AS mn,
        |         MAX(l_extendedprice) OVER w AS mx
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_returnflag)),
        |x AS (
        |  SELECT l_returnflag, mn, mx, (mx - mn) / 10.0 AS width,
        |         CASE WHEN mx > mn THEN LEAST(CAST(floor(
        |           (l_extendedprice - mn) / ((mx - mn) / 10.0)) AS BIGINT), 9)
        |         ELSE 0 END AS bucket
        |  FROM b)
        |SELECT l_returnflag, bucket,
        |       mn + CAST(bucket AS DOUBLE) * width AS bucket_lo,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM x GROUP BY l_returnflag, bucket, mn, width
        |ORDER BY l_returnflag, bucket""".stripMargin),

    // Z-order (Morton) layout statistics — the multi-dimensional
    // data-layout technique behind file skipping on two filter columns at
    // once: interleave 5 bits of each dimension into a 10-bit z-value,
    // bucket rows by z-range, and emit each bucket's per-dimension min/max
    // envelope. Tight envelopes on BOTH dims are exactly what lets a scan
    // prune buckets for 2-D predicates (a linear sort gives tight bounds
    // on one dim only). Pure bit arithmetic, identical in both engines.
    "zorder_layout_stats" -> QuerySpec(
      (s, d) => {
        val x = col("c_nationkey").cast("long")
        val y = pmod(col("c_custkey"), lit(32)).cast("long")
        val z = (0 until 5).map(j =>
          shiftleft(shiftright(x, j).bitwiseAND(lit(1L)), 2 * j + 1) +
            shiftleft(shiftright(y, j).bitwiseAND(lit(1L)), 2 * j))
          .reduce(_ + _)
        Tables.customer(s, d)
          .select(x.as("x"), y.as("y"), (z / 64).cast("long").as("zbucket"))
          .groupBy("zbucket")
          .agg(count(lit(1)).as("n"),
            min("x").as("x_lo"), max("x").as("x_hi"),
            min("y").as("y_lo"), max("y").as("y_hi"))
          .orderBy("zbucket")
      },
      {
        val zExpr = (0 until 5).map(j =>
          s"(((c_nationkey >> $j) & 1) * ${1L << (2 * j + 1)}) + " +
            s"((((c_custkey % 32) >> $j) & 1) * ${1L << (2 * j)})")
          .mkString(" + ")
        s"""WITH t AS (
           |  SELECT CAST(c_nationkey AS BIGINT) AS x,
           |         CAST(c_custkey % 32 AS BIGINT) AS y,
           |         CAST(($zExpr) // 64 AS BIGINT) AS zbucket
           |  FROM customer)
           |SELECT zbucket, COUNT(*) AS n,
           |       MIN(x) AS x_lo, MAX(x) AS x_hi,
           |       MIN(y) AS y_lo, MAX(y) AS y_hi
           |FROM t GROUP BY zbucket ORDER BY zbucket""".stripMargin
      }),

    // Recursive CTE (Spark 4 WITH RECURSIVE) — hierarchical closure walked
    // by the engine's own iterative plan, not a driver loop: each customer
    // climbs a decimal-trie hierarchy (parent key = floor(key / 10), a
    // dense synthetic org chart over the contiguous custkey range) via a
    // per-step JOIN back to the base table until no parent row exists.
    // Depth is the recursion count; the root is the path minimum (keys
    // strictly decrease along the walk). The recursion is bounded at
    // O(log10 N) iterations, each a keyed equi-join — the same shape
    // scales to a billion-row hierarchy as log10 joins, no driver state.
    // FLOOR(x / 10.0) over doubles is exact for keys < 2^52, so one SQL
    // text serves both engines. Spark's recursion-row safety valve
    // (spark.sql.cteRecursionRowLimit, default 1e6) is sized FROM THE
    // DATA: total recursion rows are exactly Σ digit-chain lengths ≤
    // n·(decimal digits of the max key + 1), so the valve is set to
    // that bound (never lower than the default) and the query executes
    // eagerly INSIDE the conf window (the limit is enforced at runtime,
    // not plan time — the DPP conf-window precedent, with an eager
    // localCheckpoint of the ~20-row result standing in for the plan
    // pin). The .sf2hot sweep caught the default valve: 231k customers
    // × ~7-digit chains = 1.6M rows, a silent hard-stop at any fixture
    // past ~140k hierarchy members.
    "recursive_cte_hierarchy" -> QuerySpec(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("v_cust_rec")
        val stats = Tables.customer(s, d)
          .agg(count(lit(1)), max(col("c_custkey")).cast("long")).head()
        // empty dimension: recursion over zero anchors yields zero rows;
        // the valve only needs the (then-irrelevant) default
        val (n, maxKey) = (stats.getLong(0),
          if (stats.isNullAt(1)) 0L else stats.getLong(1))
        // bound: n·(digits+1) ≤ n·20 < 2^63 for any real dimension
        val rows = n * (maxKey.toString.length + 1L)
        val key = "spark.sql.cteRecursionRowLimit"
        // Single-flight per SESSION (r13 advice): the set/execute/restore
        // window mutates the session-global RuntimeConfig, and a second
        // concurrent run of this query ON THE SAME SESSION could observe
        // the restore mid-execution and hard-stop at the default valve
        // (or leak the raised value into its own window). Serialize the
        // window on a per-session monitor — cross-session needs nothing
        // (newSession() gets its own SQLConf), and no other registry
        // query reads this conf.
        val lock = Analytic.cteValveLocks
          .computeIfAbsent(s, _ => new Object)
        lock.synchronized {
          val prev = s.conf.getOption(key)
          try {
            s.conf.set(key, math.max(1000000L, rows).toString)
            s.sql(recursiveHierarchySql("v_cust_rec")).localCheckpoint(true)
          } finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
        }
      },
      recursiveHierarchySql("customer")),

    // VARIANT semi-structured type (Spark 4): nested JSON parsed once into
    // the binary variant encoding, then path-extracted with typed
    // variant_get — object field, nested object field, and array index.
    // Unlike string get_json_object (json_extract_props), the variant
    // value is parsed ONCE and every extraction is an O(path) walk over
    // the binary form — the engine-native shape for repeated multi-path
    // access on a 100 TB semi-structured column. The JSON itself is built
    // from row columns with identical string concatenation in both
    // engines; DuckDB extracts from the same text with JSON operators.
    "variant_json_path" -> QuerySpec(
      (s, d) => {
        val js = concat(
          lit("{\"meta\": {\"type\": \""), col("event_type"),
          lit("\", \"k\": "), get_json_object(col("props"), "$.k"),
          lit("}, \"vals\": ["), col("event_id"), lit(", "), col("user_id"),
          lit("]}"))
        Tables.events(s, d)
          .select(col("event_id"), parse_json(js).as("v"))
          .select(col("event_id"),
            expr("variant_get(v, '$.meta.type', 'string')").as("etype"),
            expr("variant_get(v, '$.meta.k', 'int')").as("k_val"),
            expr("variant_get(v, '$.vals[1]', 'bigint')").as("uid"))
          .groupBy("etype")
          .agg(count(lit(1)).as("n"), sum("k_val").as("k_sum"),
            sum("uid").as("uid_sum"))
          .orderBy("etype")
      },
      """WITH j AS (
        |  SELECT event_id,
        |         '{"meta": {"type": "' || event_type || '", "k": ' ||
        |         (props->>'k') || '}, "vals": [' || event_id || ', ' ||
        |         user_id || ']}' AS js
        |  FROM events),
        |x AS (
        |  SELECT event_id,
        |         json_extract_string(js, '$.meta.type') AS etype,
        |         CAST(json_extract(js, '$.meta.k') AS INT) AS k_val,
        |         CAST(json_extract(js, '$.vals[1]') AS BIGINT) AS uid
        |  FROM j)
        |SELECT etype, COUNT(*) AS n,
        |       CAST(SUM(k_val) AS BIGINT) AS k_sum,
        |       CAST(SUM(uid) AS BIGINT) AS uid_sum
        |FROM x GROUP BY etype ORDER BY etype""".stripMargin),

    // SQL-defined scalar function (Spark 4 CREATE FUNCTION ... RETURN):
    // the margin expression is declared ONCE as a catalog object in pure
    // SQL — no JVM closure, fully visible to Catalyst (the body is
    // inlined into the plan, so codegen/pushdown treat it exactly like
    // the hand-written expression; contrast with a black-box UDF). The
    // oracle inlines the identical arithmetic; per-row double products
    // are IEEE-identical, and the sum is exact-decimal on both sides.
    // The EXIT is split-integer (whole dollars + µ-dollar remainder,
    // both BIGINT): the sf1 sweep caught the old DOUBLE exit off by one
    // ulp — the group sum is 1.05e17 µ-units > 2^53, where DuckDB's
    // two-step decimal→double conversion double-rounds. The split stays
    // exact to 2^63 whole dollars on both engines at ANY corpus size.
    "sql_udf_margin" -> QuerySpec(
      (s, d) => {
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_margin(
                |  price DOUBLE, discount DOUBLE, tax DOUBLE)
                |RETURNS DOUBLE
                |RETURN price * (1.0 - discount) * (1.0 + tax)""".stripMargin)
        Tables.lineitem(s, d).createOrReplaceTempView("v_li_udf")
        s.sql("""
          SELECT l_returnflag,
                 CAST(FLOOR(s) AS BIGINT) AS margin_whole,
                 CAST((s - FLOOR(s)) * 1000000 AS BIGINT) AS margin_micros,
                 n
          FROM (SELECT l_returnflag,
                       SUM(CAST(graft_margin(l_extendedprice, l_discount,
                                             l_tax) AS DECIMAL(25,6))) AS s,
                       COUNT(*) AS n
                FROM v_li_udf GROUP BY l_returnflag)
          ORDER BY l_returnflag""")
      },
      """SELECT l_returnflag,
        |       CAST(FLOOR(s) AS BIGINT) AS margin_whole,
        |       CAST((s - FLOOR(s)) * 1000000 AS BIGINT) AS margin_micros,
        |       n
        |FROM (SELECT l_returnflag,
        |             SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |                      * (1.0 + l_tax) AS DECIMAL(25,6))) AS s,
        |             COUNT(*) AS n
        |      FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin),

    // Collation-aware grouping (Spark 4 collated string type): group a
    // mixed-case column under UNICODE_CI so casings fold into one key —
    // engine-native case-insensitive semantics (hash/sort operators
    // compare by collation key) instead of the lower()-everything rewrite
    // scattered through application code. The mixed-case input is
    // synthesized from the segment column with identical string ops on
    // both engines; the oracle groups by lower() — equivalent for ASCII —
    // and the per-group binary-distinct count proves the CI group really
    // merged 3 distinct casings. Plan: explode → one keyed agg, nothing
    // else.
    "string_collation_ci" -> QuerySpec(
      (s, d) => {
        val seg = col("c_mktsegment")
        val title = concat(upper(substring(seg, 1, 1)),
          lower(substring(seg, 2, 1000)))
        Tables.customer(s, d)
          .select(explode(array(seg, lower(seg), title)).as("v"))
          .groupBy(collate(col("v"), "UNICODE_CI").as("k"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("v")).as("n_casings"))
          // the collated type stays INSIDE the plan (it drives the
          // case-insensitive grouping); the output casts back to plain
          // string so the declared schema holds only hash-safe types
          .select(lower(col("k")).cast("string").as("seg"), col("n"),
            col("n_casings"))
          .orderBy("seg")
      },
      """WITH v AS (
        |  SELECT unnest([c_mktsegment, lower(c_mktsegment),
        |                 upper(substr(c_mktsegment, 1, 1)) ||
        |                   lower(substr(c_mktsegment, 2, 1000))]) AS v
        |  FROM customer)
        |SELECT lower(v) AS seg, COUNT(*) AS n,
        |       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_casings
        |FROM v GROUP BY lower(v) ORDER BY seg""".stripMargin),

    // 2-D Pareto frontier (skyline): parts where no other part is both
    // cheaper-or-equal AND larger-or-equal with at least one strict —
    // the classic "best tradeoff" query (cheapest price vs largest
    // size). The textbook formulation is an O(n²) NOT EXISTS self-join;
    // the engine instead uses the sort-scan identity: after ordering by
    // price, a price level is on the frontier iff its max size beats
    // the running MAX(size) of all STRICTLY cheaper levels. Plan shape
    // for 100 TB: ONE map-side-combinable agg collapses the corpus to
    // the distinct-price table (domain-bounded — cents prices, not
    // rows), the sequential running max runs over that REDUCED table
    // (the same bounded-domain argument as profile_ks_test's ECDF),
    // the surviving frontier levels are a handful of rows BROADCAST
    // back, and the final filter is a broadcast join + predicate on the
    // scan — no self-join, no corpus-wide single-partition sort
    // anywhere. Prices are lifted to exact cents so ordering and
    // equality are integer ops. The ORACLE is the independent naive
    // NOT EXISTS formulation, so the two engines cross-check the
    // identity itself, not a shared rewrite.
    "pareto_frontier_parts" -> QuerySpec(
      (s, d) => {
        val c = Tables.part(s, d)
          .select(col("p_partkey"), col("p_name"), col("p_size"),
            col("p_retailprice"),
            floor(col("p_retailprice") * 100 + lit(0.5)).cast("long")
              .as("pc"))
        // r16 (guide §2): the running max of strictly-cheaper levels is
        // assembled bandwise (ops.Banded with agg = Max) instead of one
        // unpartitioned window over the whole distinct-price table:
        // max_cheaper(v) =
        // max(bandOff(band(v)), inMax(v)) where bandOff is the exclusive
        // running max over the BAND census (the only unpartitioned
        // window, domain/8192 rows) and inMax the exclusive running max
        // within v's band (partitioned window). MAX is associative and
        // commutative and `greatest` skips NULLs (all-NULL → NULL), so
        // the per-level value — and the frontier — is identical to the
        // single-window form, including the first level's NULL.
        val lv = c.groupBy("pc").agg(max("p_size").as("lvl_max"))
          .withColumn("band", expr("pc div 8192"))
        val frontier = graft.ops.Banded.running(lv, Seq("pc"),
            Seq("lvl_max" -> "max_cheaper"), agg = graft.ops.Banded.Max)
          .filter(col("max_cheaper").isNull ||
            col("max_cheaper") < col("lvl_max"))
          .select(col("pc"), col("lvl_max"))
        c.join(broadcast(frontier), Seq("pc"))
          .filter(col("p_size") === col("lvl_max"))
          .select(col("p_partkey"), col("p_name"), col("p_size"),
            col("p_retailprice"))
          .orderBy("p_retailprice", "p_partkey")
      },
      """SELECT p_partkey, p_name, p_size, p_retailprice
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE (q.p_retailprice < p.p_retailprice
        |           AND q.p_size >= p.p_size)
        |     OR (q.p_retailprice <= p.p_retailprice
        |           AND q.p_size > p.p_size))
        |ORDER BY p_retailprice, p_partkey""".stripMargin),

    // Poisson-bootstrap confidence interval for the mean order value —
    // the AT-SCALE resampling method (Chamandy et al., "Estimating
    // uncertainty for massive data streams": per-row INDEPENDENT
    // Poisson(1) weights approximate the multinomial resample, so a
    // bootstrap needs no global shuffle — each of the B=64 replicates is
    // one more weighted term in the same map-side-combined agg). Weights
    // are derandomized the repo way: md5-hash draws on a 2^20 grid
    // inverted through floor(2^20·CDF_Poisson(1)) thresholds —
    // constants computed ONCE (driver-side, at class init) and embedded
    // verbatim in both engines, so no exp() is ever evaluated inside
    // either engine; the tail clips at w=8 (mass ~1e-6, stated). One
    // 128-bit digest funds TWO independent 60-bit draws (hex chars
    // 1-15 and 17-31), so replicates g and g+B/2 share a single
    // md5(orderkey:g) — halving the digest count, the dominant cost of
    // the expansion — with the identical split mirrored in DuckDB. Each
    // replicate's mean is an exact DECIMAL(25,6) sum over an exact
    // integer weight total; the 95% CI is the nearest-rank 2nd/63rd
    // order statistic of the 64 replicate means (a window over exactly
    // 64 rows — bounded by construction). Output: point estimate, CI,
    // and the replicate-mean average as the bias check.
    "stat_bootstrap_ci" -> QuerySpec(
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"))
        // The 64-row replicate table is checkpointed so its three
        // consumers (rank window, CI picks, bias check) don't re-run
        // the expansion.
        val reps = bootstrapReplicates(o).localCheckpoint(true)
        // NULLS LAST to match DuckDB's default (Spark defaults NULLS
        // FIRST asc) — only observable when a replicate's mean is NULL
        // (degenerate fixtures); real fixtures have no null means
        val ranked = reps.withColumn("rk", row_number().over(
          Window.orderBy(col("m").asc_nulls_last, col("b"))))
        // scalar-subquery shape (always exactly one row, NULL when the
        // rank is absent — the empty-fixture case), matching the oracle
        val lo = ranked.filter(col("rk") === 2)
          .agg(min(col("m")).as("ci_lo"))
        val hi = ranked.filter(col("rk") === BootB - 1)
          .agg(min(col("m")).as("ci_hi"))
        val boot = reps.agg(count(lit(1)).as("n_resamples"),
          (dsum("m") / count(lit(1)).cast("double")).as("boot_mean"))
        val point = o.agg(count(lit(1)).as("n_orders"),
          (dsum("o_totalprice") / count(lit(1)).cast("double"))
            .as("point_mean"))
        point.crossJoin(broadcast(boot))
          .crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
          .select(col("n_orders"), col("point_mean"), col("n_resamples"),
            col("boot_mean"), col("ci_lo"), col("ci_hi"),
            (col("ci_hi") - col("ci_lo")).as("ci_width"))
      },
      s"""WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
         |r AS (SELECT o_totalprice, g,
         |        md5(CAST(o_orderkey AS VARCHAR) || ':' ||
         |            CAST(g AS VARCHAR)) AS h
         |      FROM o CROSS JOIN
         |        (SELECT unnest(range(0, ${BootB / 2})) AS g)),
         |d AS (SELECT o_totalprice, g + ${BootB / 2} * half AS b,
         |        CAST(('0x' || substr(h, 1 + 16 * half, 15))::UBIGINT
         |          AS BIGINT) % 1048576 AS u
         |      FROM r CROSS JOIN
         |        (SELECT unnest(range(0, 2)) AS half)),
         |w AS (SELECT b, o_totalprice,
         |        CAST(len(list_filter([${PoissonThresholds.mkString(", ")}],
         |          t -> t <= u)) AS BIGINT) AS w
         |      FROM d),
         |reps AS (SELECT b,
         |           CAST(CAST(SUM(CAST(w * o_totalprice AS DECIMAL(25,6)))
         |             AS VARCHAR) AS DOUBLE)
         |           / CAST(SUM(w) AS DOUBLE) AS m
         |         FROM w GROUP BY b),
         |rk AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rk
         |       FROM reps),
         |ci AS (SELECT
         |         (SELECT m FROM rk WHERE rk = 2) AS ci_lo,
         |         (SELECT m FROM rk WHERE rk = ${BootB - 1}) AS ci_hi),
         |boot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_resamples,
         |           CAST(SUM(CAST(m AS DECIMAL(25,6))) AS DOUBLE)
         |             / CAST(COUNT(*) AS DOUBLE) AS boot_mean
         |         FROM reps),
         |pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
         |           AS VARCHAR) AS DOUBLE)
         |           / CAST(COUNT(*) AS DOUBLE) AS point_mean
         |       FROM o)
         |SELECT n_orders, point_mean, n_resamples, boot_mean,
         |       ci_lo, ci_hi, ci_hi - ci_lo AS ci_width
         |FROM pt, boot, ci""".stripMargin)
  )

  /** One SQL text for both engines (see recursive_cte_hierarchy): only the
    * base-table name differs. */
  private def recursiveHierarchySql(tbl: String): String =
    s"""WITH RECURSIVE up AS (
       |  SELECT c_custkey AS start_key, c_custkey AS cur, 0 AS depth
       |  FROM $tbl
       |  UNION ALL
       |  SELECT u.start_key, c.c_custkey, u.depth + 1
       |  FROM up u JOIN $tbl c
       |    ON c.c_custkey = CAST(FLOOR(u.cur / 10.0) AS BIGINT)
       |  WHERE u.cur > 0
       |)
       |SELECT max_depth, COUNT(*) AS n_custs,
       |       CAST(SUM(start_key) AS BIGINT) AS key_sum,
       |       MIN(root_key) AS root_lo, MAX(root_key) AS root_hi
       |FROM (SELECT start_key, MAX(depth) AS max_depth, MIN(cur) AS root_key
       |      FROM up GROUP BY start_key) AS per_cust
       |GROUP BY max_depth ORDER BY max_depth""".stripMargin
}
