package graft.queries

import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.io.Tables
import graft.etl.{Conform, Identity, Phone, Relations}

/** ETL operator pack: the reference's conform/identity/phone/label-map
  * surface (SURVEY.md §2.2-2.4, §2.6, §2.9) exercised over harness tables
  * with DuckDB oracles. The reference-shaped end-to-end pipeline itself is
  * covered by ScalaTest fixtures (driver queries must read the harness
  * parquet dir).
  */
object Etl {

  // partitioned_dpp_join_prune's Hive-partitioned fixture, built ONCE
  // per (JVM, data dir) — the fact rewrite is GBs at sf1 and must not be
  // billed to every timed run / registry-wide spec (the
  // Events.slicedFixtures precedent). The content is a pure function of the data dir, so the
  // cache keys on the dir alone: every session in this JVM shares the
  // build (computeIfAbsent serializes racing builders) and NO session
  // reference is retained — a stopped session costs nothing. Paths embed
  // the PID (Scratch.jvmDir), so concurrent JVMs own disjoint fixtures
  // and Scratch's null-guarded shutdown hook deletes only this JVM's.
  private val dppDirs = new java.util.concurrent.ConcurrentHashMap[
    String, (String, String, Boolean)]()

  private def dppFixture(s: org.apache.spark.sql.SparkSession,
                         d: String): (String, String, Boolean) =
    dppDirs.computeIfAbsent(d, _ => {
      import s.implicits._
      val dir = graft.util.Scratch.jvmDir("dpp_orders", d)
      // recorded so the consumer can (a) supply the read schema when an
      // EMPTY fixture wrote no footers and (b) skip the pruning-proof
      // assertion, which is vacuous with zero partitions
      val nonEmpty = !Tables.orders(s, d).isEmpty
      Tables.orders(s, d)
        .withColumn("status", col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("status").parquet(dir)
      // the dim must be a SCANNED relation — a LocalRelation has no
      // scan for the DPP benefit heuristic to estimate against
      val dimDir = graft.util.Scratch.jvmDir("dpp_dim", d)
      Seq(("F", "finished"), ("O", "open"), ("P", "pending"))
        .toDF("status_key", "label")
        .write.mode("overwrite").parquet(dimDir)
      (dir, dimDir, nonEmpty)
    })

  val registry: Map[String, QuerySpec] = Map(

    // S1 — the `;`-CSV source on the oracle-checked path: nation is
    // round-tripped through a semicolon CSV (written fresh each run, so
    // the fixture cannot go stale) and read back via Readers.csv with an
    // explicit schema — the production one-scan, pushdown-capable form.
    // The oracle scans the original parquet: a lossless round trip means
    // both sides agree row-for-row.
    "csv_roundtrip_scan" -> QuerySpec(
      (s, d) => {
        val dir = graft.util.Scratch.sessionDir(s, "csv_nation", d)
        Tables.nation(s, d).coalesce(1)
          .write.mode("overwrite")
          .option("sep", ";").option("header", "true")
          .csv(dir)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_nationkey",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("n_name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_regionkey",
            org.apache.spark.sql.types.IntegerType)))
        graft.io.Readers.csv(s, dir, schema)
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // Fixed-width (mainframe/COBOL copybook style) round trip: customer
    // is rendered to position-delimited text records (zero-padded
    // numerics, left-justified text — the layout legacy feeds still
    // ship), written via the text sink, then re-parsed by OFFSET
    // (substring → trim → cast), the parse layer every legacy-ingest
    // pipeline owns. Money crosses as exact integer CENTS
    // (floor(acctbal·100) — floor is deterministic on both engines;
    // a %.2f string round trip would hinge on float re-parse rounding).
    // A lossless round trip means the re-parsed rows match the oracle's
    // direct parquet scan row-for-row. Scale: the text codec is
    // per-row and embarrassingly parallel; substring parsing is
    // codegen'd — no UDF.
    "fixed_width_roundtrip_scan" -> QuerySpec(
      (s, d) => {
        val dir = graft.util.Scratch.sessionDir(s, "fw_customer", d)
        Tables.customer(s, d)
          .select(format_string("%010d%05d%012d%-12s",
            col("c_custkey"), col("c_nationkey"),
            floor(col("c_acctbal") * lit(100.0)).cast("long"),
            col("c_mktsegment")).as("value"))
          .coalesce(1).write.mode("overwrite").text(dir)
        s.read.text(dir)
          .select(
            substring(col("value"), 1, 10).cast("long").as("c_custkey"),
            substring(col("value"), 11, 5).cast("long").as("c_nationkey"),
            substring(col("value"), 16, 12).cast("long")
              .as("acctbal_cents"),
            trim(substring(col("value"), 28, 12)).as("c_mktsegment"))
          .orderBy("c_custkey")
      },
      """SELECT c_custkey, c_nationkey,
        |       CAST(floor(c_acctbal * 100.0) AS BIGINT) AS acctbal_cents,
        |       c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // S2 on the oracle-checked path: nation is round-tripped through a
    // real XLSX workbook (written by Xlsx.write — a complete OOXML
    // package — and read back by the native zip+StAX reader). The reader
    // surfaces strings; the conform-layer casts re-type them, and the
    // oracle scans the original parquet: a lossless round trip means
    // both sides agree row-for-row.
    "xlsx_roundtrip_scan" -> QuerySpec(
      (s, d) => {
        val path = graft.util.Scratch.sessionDir(s, "xlsx_nation", d)
        graft.io.Xlsx.write(Tables.nation(s, d), path)
        graft.io.Xlsx.read(s, path)
          .select(col("n_nationkey").cast("int").as("n_nationkey"),
            col("n_name"),
            col("n_regionkey").cast("int").as("n_regionkey"))
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // S4/S5 on the oracle-checked path: region written to an embedded
    // Derby database through the JDBC sink (typed columns via
    // createTableColumnTypes) and read back through the JDBC source —
    // the reference's MySQL write → re-find loop, runnable offline.
    // MySQL/Postgres swap in via url+properties with no code change.
    "jdbc_roundtrip_scan" -> QuerySpec(
      (s, d) => {
        graft.io.GraftDerbyDialect.register()
        val url = s"jdbc:derby:memory:graft_${Integer.toHexString(d.hashCode)}" +
          s"_${graft.util.Scratch.jvmTag}_${graft.util.Scratch.sessionTag(s)}" +
          ";create=true"
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        graft.io.Writers.jdbc(Tables.region(s, d), url, "region_rt",
          columnTypes = Some("r_regionkey INT, r_name VARCHAR(64)"),
          properties = props)
        s.read.jdbc(url, "region_rt", props)
          .orderBy("r_regionkey")
      },
      """SELECT r_regionkey, r_name FROM region
        |ORDER BY r_regionkey""".stripMargin),

    // Hive-partitioned parquet layout on the oracle-checked path: orders
    // written partitionBy(status), read back with a partition filter —
    // the 100 TB layout where a status predicate prunes whole directories
    // before any IO (PartitionFilters pruning asserted in
    // PhysicalPlanSpec; this query verifies the VALUES survive the
    // layout round trip).
    "partitioned_write_prune_scan" -> QuerySpec(
      (s, d) => {
        val dir = graft.util.Scratch.sessionDir(s, "part_orders", d)
        val part = Tables.orders(s, d)
          .withColumn("status", col("o_orderstatus"))
        part.write.mode("overwrite").partitionBy("status").parquet(dir)
        // explicit schema: an empty fixture writes no footers to infer
        // from (status becomes a regular column of the supplied schema)
        s.read.schema(part.schema).parquet(dir)
          .filter(col("status") === "F")
          .select(col("o_orderkey"), col("o_totalprice"), col("status"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_totalprice, o_orderstatus AS status
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin),

    // Dynamic partition pruning on the oracle-checked path (the r11
    // directive: the other runtime-pruning pillar next to the CBO
    // chain, run FOR REAL in a registry query, not just as spec
    // evidence). The fact table lands Hive-partitioned by status; the
    // partition predicate arrives only through a JOIN against a
    // filtered dimension, so which partitions survive is unknowable at
    // compile time — Spark must inject a dynamicpruning subquery into
    // the fact scan, and the body asserts it did. At 100 TB this is
    // the difference between reading one status directory and reading
    // all of them just to throw the rows away at the join.
    // useStats=false (saved/restored) makes the tiny fixture take the
    // same fallback-ratio decision a TB-scale plan takes from real
    // stats — the PhysicalPlanSpec DPP case proves the flip; here the
    // whole decision chain runs inside an oracle-checked query at
    // every SF. Values are pruning-independent, so the oracle is the
    // plain filtered join over raw parquet.
    "partitioned_dpp_join_prune" -> QuerySpec(
      (s, d) => {
        val (dir, dimDir, nonEmpty) = dppFixture(s, d)
        val factSchema = Tables.orders(s, d)
          .withColumn("status", col("o_orderstatus")).schema
        val key = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
        val prev = s.conf.getOption(key)
        try {
          s.conf.set(key, "false")
          val df = s.read.schema(factSchema).parquet(dir)
            .join(s.read.parquet(dimDir)
              .filter(col("label") === "finished"),
              col("status") === col("status_key"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(25,2)"))
                .cast("double").as("revenue"))
            .orderBy("o_orderpriority")
          // Forced inside the conf window so the returned DataFrame's
          // QueryExecution pins this plan (the CBO-chain precedent).
          val scan = df.queryExecution.executedPlan.collectLeaves()
            .map(_.toString).find(_.contains("PartitionFilters"))
            .getOrElse("")
          // the pruning-benefit heuristic legitimately declines on an
          // EMPTY fact (nothing to prune) — the proof only binds when
          // the fixture has partitions
          if (nonEmpty) require(scan.contains("dynamicpruning"),
            "expected a dynamic pruning subquery in the partitioned " +
              s"fact scan:\n$scan")
          df
        } finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
      },
      """SELECT o_orderpriority,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
        |         AS revenue
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // JSONL source (the LLM-corpus interchange format) on the
    // oracle-checked path: region round-trips through newline-delimited
    // JSON read back with an explicit schema — no inference scan.
    "jsonl_roundtrip_scan" -> QuerySpec(
      (s, d) => {
        val dir = graft.util.Scratch.sessionDir(s, "jsonl_region", d)
        Tables.region(s, d).coalesce(1)
          .write.mode("overwrite").json(dir)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("r_regionkey",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("r_name",
            org.apache.spark.sql.types.StringType)))
        graft.io.Readers.jsonl(s, dir, schema)
          .orderBy("r_regionkey")
      },
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""".stripMargin),

    // ORC source: supplier round-trips through ORC (Spark's native
    // vectorized reader; same pushdown story as parquet).
    "orc_roundtrip_scan" -> QuerySpec(
      (s, d) => {
        val dir = graft.util.Scratch.sessionDir(s, "orc_supplier", d)
        Tables.supplier(s, d).coalesce(1)
          .write.mode("overwrite").orc(dir)
        graft.io.Readers.orc(s, dir)
          .select("s_suppkey", "s_name", "s_nationkey")
          .orderBy("s_suppkey")
      },
      """SELECT s_suppkey, s_name, s_nationkey
        |FROM supplier ORDER BY s_suppkey""".stripMargin),

    // XML source (built into Spark 4 — no external package): supplier
    // round-trips through rowTag-delimited XML and is read back with an
    // EXPLICIT schema (no inference scan — at 100 TB an inference pass
    // over XML would read everything twice). Doubles survive exactly:
    // Spark renders shortest-round-trip representations and
    // Double.parseDouble restores the identical bits. The oracle scans
    // the original parquet — a lossless round trip means both sides
    // agree row-for-row.
    "xml_roundtrip_scan" -> QuerySpec(
      (s, d) => {
        val dir = graft.util.Scratch.sessionDir(s, "xml_supplier", d)
        Tables.supplier(s, d).coalesce(1)
          .write.mode("overwrite")
          .option("rootTag", "suppliers").option("rowTag", "supplier")
          .format("xml").save(dir)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("s_suppkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("s_name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("s_nationkey",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("s_acctbal",
            org.apache.spark.sql.types.DoubleType)))
        s.read.option("rowTag", "supplier").schema(schema)
          .format("xml").load(dir)
          .orderBy("s_suppkey")
      },
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin),

    // Schema evolution across ingestion batches — the 100 TB reality that
    // older files lack columns newer ones carry. Batch 1 is written
    // WITHOUT n_regionkey, batch 2 WITH it; the mergeSchema read unifies
    // the footers (no rewrite of old data) and old rows surface the new
    // column as NULL, normalized here with a sentinel. The oracle derives
    // the same frontier from the key split.
    "schema_evolution_merge_scan" -> QuerySpec(
      (s, d) => {
        val dir = graft.util.Scratch.sessionDir(s, "evo", d)
        Tables.nation(s, d).filter(col("n_nationkey") < 13)
          .select("n_nationkey", "n_name")
          .write.mode("overwrite").parquet(s"$dir/v1")
        Tables.nation(s, d).filter(col("n_nationkey") >= 13)
          .select("n_nationkey", "n_name", "n_regionkey")
          .write.mode("overwrite").parquet(s"$dir/v2")
        s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
          .select(col("n_nationkey"), col("n_name"),
            coalesce(col("n_regionkey"), lit(-1L)).cast("long")
              .as("n_regionkey"))
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name,
        |       CAST(CASE WHEN n_nationkey < 13 THEN -1
        |            ELSE n_regionkey END AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // unionByName(allowMissingColumns): the IN-MEMORY face of schema
    // evolution (the merge-scan query above covers the storage face) —
    // an old extract lacking a column unions with a new one whose
    // columns also arrive in a DIFFERENT order. Positional unionAll
    // would mis-align or reject; by-name alignment pads the missing
    // column with nulls, normalized here with the same sentinel
    // convention. Purely structural — zero shuffle added.
    "union_by_name_evolution" -> QuerySpec(
      (s, d) => {
        val legacy = Tables.nation(s, d).filter(col("n_nationkey") < 13)
          .select("n_nationkey", "n_name")
        val current = Tables.nation(s, d).filter(col("n_nationkey") >= 13)
          .select("n_regionkey", "n_name", "n_nationkey") // reordered
        legacy.unionByName(current, allowMissingColumns = true)
          .select(col("n_nationkey"), col("n_name"),
            coalesce(col("n_regionkey"), lit(-1L)).cast("long")
              .as("n_regionkey"))
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name,
        |       CAST(CASE WHEN n_nationkey < 13 THEN -1
        |            ELSE n_regionkey END AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // C6 — entity typing from null patterns (insert.py:16-25). Nulls are
    // derived via NULLIF so all four null combinations occur.
    "entity_type_derivation" -> QuerySpec(
      (s, d) => Tables.orders(s, d)
        .select(
          nullif(col("o_orderstatus"), lit("O")).as("first_name"),
          nullif(col("o_orderpriority"), lit("5-LOW")).as("birthday"))
        .select(Conform.entityType(col("first_name"), col("birthday"))
          .as("entity_type"))
        .groupBy("entity_type").agg(count(lit(1)).as("n"))
        .orderBy("entity_type"),
      """SELECT CASE WHEN NULLIF(o_orderstatus,'O') IS NULL
        |            AND NULLIF(o_orderpriority,'5-LOW') IS NULL
        |            THEN 'PM' ELSE 'PF' END AS entity_type,
        |       COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY entity_type""".stripMargin),

    // C5 — deterministic sha2 surrogate ids over a natural key with null
    // sentinels (replaces insert.py:121-122 uuid4; SURVEY §1).
    "surrogate_id_sha2" -> QuerySpec(
      (s, d) => Tables.customer(s, d)
        .select(col("c_custkey"),
          Identity.surrogateId(
            col("c_name"),
            nullif(col("c_mktsegment"), lit("HOUSEHOLD")),
            col("c_nationkey")).as("entity_id"))
        .orderBy("c_custkey"),
      """SELECT c_custkey,
        |       sha256(concat_ws(chr(1),
        |         coalesce(CAST(c_name AS VARCHAR), chr(0)),
        |         coalesce(CAST(NULLIF(c_mktsegment,'HOUSEHOLD') AS VARCHAR), chr(0)),
        |         coalesce(CAST(c_nationkey AS VARCHAR), chr(0)))) AS entity_id
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // C1-C4 — date parse dd/MM/yyyy, ISO reformat, DATE() truncation
    // (insert.py:110-115; tests.py:34-40).
    "date_parse_roundtrip" -> QuerySpec(
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "dd/MM/yyyy").as("fr"))
        .select(col("o_orderkey"), col("fr"),
          Conform.reformatFrToIso(col("fr")).as("iso"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, strftime(o_orderdate, '%d/%m/%Y') AS fr,
        |       strftime(strptime(strftime(o_orderdate, '%d/%m/%Y'), '%d/%m/%Y'),
        |                '%Y-%m-%d') AS iso
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // C7 — phone normalization (insert.py:28-67) over eight synthesized
    // input shapes covering every branch: 3-part, punctuation cleanup,
    // 001-/+1- 4-part prefixes, raw 10-digit, 9-digit French, leading-0
    // fall-through (→ NULL), and extension re-attachment. The oracle
    // replicates the *generic algorithm* in SQL, not per-shape expecteds.
    "phone_normalize" -> QuerySpec(
      (s, d) => {
        val dig = lpad(((col("c_custkey") * 48271 + 11) % 10000000000L)
          .cast("string"), 10, "7")
        val phones = Tables.customer(s, d)
          .select(col("c_custkey"), dig.as("d"))
          .select(col("c_custkey"),
            when(col("c_custkey") % 8 === 0,
              concat(substring(col("d"),1,3), lit("-"), substring(col("d"),4,3), lit("-"), substring(col("d"),7,4)))
            .when(col("c_custkey") % 8 === 1,
              concat(lit("("), substring(col("d"),1,3), lit(")"), substring(col("d"),4,3), lit("."), substring(col("d"),7,4)))
            .when(col("c_custkey") % 8 === 2,
              concat(lit("001-"), substring(col("d"),1,3), lit("-"), substring(col("d"),4,3), lit("-"), substring(col("d"),7,4)))
            .when(col("c_custkey") % 8 === 3,
              concat(lit("+1-"), substring(col("d"),1,3), lit("-"), substring(col("d"),4,3), lit("-"), substring(col("d"),7,4)))
            .when(col("c_custkey") % 8 === 4, col("d"))
            .when(col("c_custkey") % 8 === 5, substring(col("d"),1,9))
            .when(col("c_custkey") % 8 === 6, concat(lit("0"), substring(col("d"),1,9)))
            .otherwise(
              concat(substring(col("d"),1,3), lit("-"), substring(col("d"),4,3), lit("-"), substring(col("d"),7,4), lit("x"), substring(col("d"),1,2)))
            .as("phone"))
          // Sort FIRST on the cheap key, then project: a global orderBy's
          // range exchange samples its child, so any expensive projection
          // below it is evaluated twice. Phone.normalized is one native
          // expression, evaluated once per row after the sort.
          .orderBy("c_custkey")
        Phone.normalized(phones, "phone", "phone_intl")
      },
      phoneOracle),

    // J3/C8 — categorical label map with dict.get → NULL semantics
    // (insert.py:156-159), applied to order priorities (one label
    // deliberately unmapped).
    "relation_label_map" -> QuerySpec(
      (s, d) => Tables.orders(s, d)
        .select(
          when(col("o_orderpriority") === "1-URGENT", "P1")
            .when(col("o_orderpriority") === "2-HIGH", "P2")
            .when(col("o_orderpriority") === "3-MEDIUM", "P3")
            .as("prio"))
        .groupBy("prio").agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("prio")),
      """SELECT CASE o_orderpriority WHEN '1-URGENT' THEN 'P1'
        |            WHEN '2-HIGH' THEN 'P2' WHEN '3-MEDIUM' THEN 'P3' END AS prio,
        |       COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY prio NULLS FIRST""".stripMargin),

    // D1 — deterministic keep-first dedup (insert.py:132-153 intent) via
    // row_number over an explicit total order.
    "dedup_first_deterministic" -> QuerySpec(
      (s, d) => Identity.dedupFirst(
          Tables.customer(s, d),
          keys = Seq("c_mktsegment", "c_nationkey"),
          order = Seq(col("c_custkey")))
        .select("c_mktsegment", "c_nationkey", "c_custkey")
        .orderBy("c_mktsegment", "c_nationkey"),
      """SELECT c_mktsegment, c_nationkey, c_custkey FROM (
        |  SELECT c_mktsegment, c_nationkey, c_custkey,
        |         row_number() OVER (PARTITION BY c_mktsegment, c_nationkey
        |                            ORDER BY c_custkey) AS rn
        |  FROM customer) WHERE rn = 1
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin),

    // F3/F4 — null-skip filter over both-endpoint nullability
    // (insert.py:135-136) with derived nulls.
    "null_skip_filter" -> QuerySpec(
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("F")).as("fn_s"),
          nullif(col("o_orderpriority"), lit("1-URGENT")).as("fn_d"))
        .filter(col("fn_s").isNotNull && col("fn_d").isNotNull)
        .agg(count(lit(1)).as("n_kept")),
      """SELECT COUNT(*) AS n_kept FROM orders
        |WHERE NULLIF(o_orderstatus,'F') IS NOT NULL
        |  AND NULLIF(o_orderpriority,'1-URGENT') IS NOT NULL""".stripMargin)
  )

  private lazy val phoneOracle: String =
    """WITH src AS (
      |  SELECT c_custkey,
      |         lpad(CAST((c_custkey * 48271 + 11) % 10000000000 AS VARCHAR), 10, '7') AS d
      |  FROM customer
      |), shaped AS (
      |  SELECT c_custkey,
      |         CASE (c_custkey % 8)
      |           WHEN 0 THEN d[1:3] || '-' || d[4:6] || '-' || d[7:10]
      |           WHEN 1 THEN '(' || d[1:3] || ')' || d[4:6] || '.' || d[7:10]
      |           WHEN 2 THEN '001-' || d[1:3] || '-' || d[4:6] || '-' || d[7:10]
      |           WHEN 3 THEN '+1-' || d[1:3] || '-' || d[4:6] || '-' || d[7:10]
      |           WHEN 4 THEN d
      |           WHEN 5 THEN d[1:9]
      |           WHEN 6 THEN '0' || d[1:9]
      |           ELSE d[1:3] || '-' || d[4:6] || '-' || d[7:10] || 'x' || d[1:2]
      |         END AS phone
      |  FROM src
      |), cleaned AS (
      |  SELECT c_custkey, phone,
      |         replace(replace(replace(phone, '.', '-'), ')', '-'), '(', '') AS c
      |  FROM shaped
      |), parsed AS (
      |  SELECT c_custkey, phone, c,
      |         split_part(c, 'x', 1) AS base,
      |         contains(c, 'x') AS has_ext,
      |         split_part(c, 'x', 2) AS ext,
      |         length(split_part(c,'x',1)) - length(replace(split_part(c,'x',1),'-','')) + 1 AS nparts
      |  FROM cleaned
      |), intl AS (
      |  SELECT c_custkey, phone, has_ext, ext,
      |         CASE WHEN length(c) = 9
      |                THEN '+33 ' || c[1:1] || ' ' || c[2:3] || ' ' || c[4:5] || ' ' || c[6:7] || ' ' || c[8:9]
      |              WHEN length(c) = 10 AND NOT starts_with(c, '0')
      |                THEN '+1 ' || c[1:3] || '-' || c[4:6] || '-' || c[7:10]
      |              WHEN nparts = 3 THEN '+1 ' || base
      |              WHEN nparts = 4 AND split_part(base,'-',1) IN ('001','+1')
      |                THEN '+1 ' || split_part(base,'-',2) || '-' || split_part(base,'-',3) || '-' || split_part(base,'-',4)
      |              ELSE '' END AS i
      |  FROM parsed
      |), withext AS (
      |  SELECT c_custkey, phone,
      |         CASE WHEN has_ext THEN i || 'x' || ext ELSE i END AS w
      |  FROM intl
      |)
      |SELECT c_custkey, phone,
      |       CASE WHEN (starts_with(w, '+1 ') OR starts_with(w, '+33 '))
      |             AND length(regexp_replace(split_part(w,'x',1), '[^0-9]', '', 'g')) = 11
      |            THEN w END AS phone_intl
      |FROM withext ORDER BY c_custkey""".stripMargin
}
