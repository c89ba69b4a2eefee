package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.QuerySpec
import graft.io.Tables
import graft.ops.AsOfJoin
import graft.streaming.Streams
import graft.util.{Scratch, SharedStage}

/** Event-time operator pack (SURVEY.md §2.10): tumbling / sliding / session
  * windows and an as-of enrichment join, expressed as batch plans with
  * DuckDB oracles. The streaming lift of the same logical shapes lives in
  * `graft.streaming.Streams` (tested with MemoryStream; streams have no
  * DuckDB oracle).
  *
  * Window starts are emitted as formatted strings so both engines hash the
  * same rendering; `ts` is µs-exact in the data (verified: all ns
  * remainders are zero), so µs-vs-ns truncation cannot move an event across
  * a bucket boundary.
  */
object Events {

  private def dsum(c: String) =
    sum(col(c).cast("decimal(25,6)")).cast("double")
  private val fmt = "yyyy-MM-dd HH:mm:ss"

  /** One Holt-Winters fold step, emitted for both lambda dialects so the
    * operation chains are identical by construction. `idx(k)` renders the
    * 1-based accumulator slot (element_at(acc, k) / acc[k]), `yv` the
    * incoming observation, `lit` the double-literal spelling ("0.5D" in
    * Spark SQL vs "0.5" in DuckDB — both exact binary fractions).
    * Slots: 1 level, 2 trend, 3..9 seasonals oldest-first, 10 Σ|err|,
    * 11 count. newLevel is inlined where reused — the duplicated
    * subexpression evaluates identically, keeping both engines on one
    * arithmetic chain. */
  private def hwUpdate(idx: Int => String, yv: String,
                       lit: String => String): Seq[String] = {
    val nl = s"${lit("0.5")} * ($yv - ${idx(3)}) + " +
      s"${lit("0.5")} * (${idx(1)} + ${idx(2)})"
    Seq(
      nl,
      s"${lit("0.25")} * (($nl) - ${idx(1)}) + ${lit("0.75")} * ${idx(2)}",
      idx(4), idx(5), idx(6), idx(7), idx(8), idx(9),
      s"${lit("0.25")} * ($yv - ($nl)) + ${lit("0.75")} * ${idx(3)}",
      s"${idx(10)} + abs($yv - (${idx(1)} + ${idx(2)} + ${idx(3)}))",
      s"${idx(11)} + ${lit("1.0")}")
  }

  /** Shared oracle for the CEP pair: events_pattern_match_cep (batch
    * regex) and events_stream_pattern_match (automaton) are DEFINED to be
    * bit-equal, so they verify against the one SQL — the equality is
    * structural, not copy-maintained. */
  private val duckCepSql: String =
    """WITH s AS (
      |  SELECT user_id,
      |         string_agg(substring(event_type, 1, 1), ''
      |           ORDER BY ts, event_id, event_type) AS seq
      |  FROM events GROUP BY user_id)
      |SELECT user_id,
      |       CAST(length(seq) AS BIGINT) AS n_events,
      |       CAST(length(seq) - length(replace(seq, 'p', '')) AS BIGINT)
      |         AS n_purchases,
      |       CAST(len(regexp_extract_all(seq, '[vc]+p')) AS BIGINT)
      |         AS n_browse_buy,
      |       CAST(length(seq) - length(replace(seq, 'p', '')) AS BIGINT)
      |         - CAST(len(regexp_extract_all(seq, '[vc]+p')) AS BIGINT)
      |         AS n_direct_buy,
      |       CAST(COALESCE(list_max(list_transform(
      |           regexp_extract_all(seq, '[vc]+'), m -> length(m))), 0)
      |         AS BIGINT) AS max_browse_run
      |FROM s ORDER BY user_id""".stripMargin

  /** Time-sliced multi-file replay copy of the events table, built once per
    * (session, sf-dir): repartitionByRange over (ts, event_id) writes
    * non-overlapping ascending ts ranges, published as sequentially named
    * files with strictly increasing mtimes — so the file source
    * (maxFilesPerTrigger=1, oldest-first) replays the table as real
    * in-order micro-batches and state insert/EVICTION across batch
    * boundaries is exercised on the oracle-checked path. Ordered
    * non-overlapping slices produce no late data, so each drained result
    * equals its single-batch value (watermarks only ever trail the next
    * slice's minimum by the full delay). Range partitioning samples its
    * boundaries — no global single-partition sort — which is the same
    * replay shape a cluster run uses on a 100 TB table.
    *
    * One stage value holds both fixtures: slices → (dir, number of
    * NON-EMPTY slice files written; empty range partitions produce no
    * part file). Every stream query reads the 3-slice fixture,
    * `events_stream_restart_recovery` the 4-slice one. The multi-batch
    * gate ([[batchGate]]) is provable only when the fixture filled every
    * slice. */
  private[graft] val slicedFixtures =
    new SharedStage[Map[Int, (String, Int)]]("events_sliced_fixture")({
      (s, d) => Seq(3, 4).map(n => n -> writeSliced(s, d, n)).toMap
    })

  /** Monotonic build id, part of the dir name: every (re)build lands in a
    * FRESH directory, so a `fresh=true` rebuild (or a second session in
    * the same JVM) can never rewrite OR delete slice files under a
    * stream/checkpoint that still references the earlier path. Earlier
    * builds stay on disk for the life of the JVM; [[Scratch.sessionDir]]
    * registers each for deletion at JVM exit, and [[Scratch.sweepOrphans]]
    * reclaims a killed JVM's dirs once its PID is dead. */
  private val sliceBuildId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Default 3 slices = the contractual minimum of 3 data micro-batches
    * ([[batchGate]]): each extra slice re-pays the whole per-batch
    * fixed cost (batch planning + a state-store commit per store
    * instance) across all ~17 consumers without proving anything a
    * third batch doesn't. `events_stream_restart_recovery` alone passes
    * slices=4 — its contract is 2 pre-stop + >= 2 post-restart batches. */
  private def writeSliced(s: SparkSession, d: String,
                          slices: Int): (String, Int) = {
    val out = new java.io.File(Scratch.sessionDir(s,
      slicedFixtureTag(slices, sliceBuildId.incrementAndGet()), d))
    val stage = new java.io.File(out, ".stage") // dot-prefix: invisible
    Tables.events(s, d)                         // to the file source
      .repartitionByRange(slices, col("ts"), col("event_id"))
      .sortWithinPartitions("ts", "event_id")
      .write.mode("overwrite").parquet(stage.getPath)
    // part-file names sort in range order; publish them as slice-NNN
    // with 1s-spaced mtimes so oldest-first processing is unambiguous
    // on any filesystem timestamp resolution.
    val parts = Option(stage.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val t0 = System.currentTimeMillis()
    val conf = s.sessionState.newHadoopConf()
    val nonEmpty = parts.zipWithIndex.count { case (p, i) =>
      val dst = new java.io.File(out, f"slice-$i%03d.parquet")
      java.nio.file.Files.move(p.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(t0 + i * 1000L)
      // an empty table still writes one (row-less) part file: count
      // rows from the parquet footer here, without a Spark job
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dst.toURI), conf))
      try r.getRecordCount > 0 finally r.close()
    }
    (out.getPath, nonEmpty)
  }

  /** The [[Scratch.sessionDir]] tag of a fixture build. */
  private[graft] def slicedFixtureTag(slices: Int, build: Long): String =
    s"events_sliced_${slices}_$build"

  /** Non-empty slices the `slices`-slice fixture of `d` recorded. */
  private[graft] def recordedSlices(s: SparkSession, d: String,
                             slices: Int = 3): Int =
    slicedFixtures(s, d)(slices)._2

  /** The sliced replay source: the `glob`-selected slice files of the
    * `slices`-slice fixture, one file per micro-batch. */
  private def slicedEvents(s: SparkSession, d: String,
                           glob: String = "slice-*.parquet",
                           slices: Int = 3): DataFrame =
    s.readStream
      .schema(Tables.events(s, d).schema)
      .option("pathGlobFilter", glob)
      .option("maxFilesPerTrigger", "1")
      .parquet(slicedFixtures(s, d)(slices)._1)

  /** [[slicedFixtures]] built now (`fresh`: rebuilt). */
  def buildSlicedFixtures(s: SparkSession,
                          d: String, fresh: Boolean = false): Unit = {
    if (fresh) slicedFixtures.rebuild(s, d) else slicedFixtures(s, d); ()
  }

  /** Micro-batches of `q` that read at least one row. */
  private def dataBatches(q: StreamingQuery): Int =
    q.recentProgress.count(_.numInputRows > 0)

  /** ≥ `min` observed data batches, or the multi-batch claim is hollow —
    * fail loudly rather than silently degrade to a one-shot drain
    * (the r12 silent-zero-source class). The invariant is a property of
    * REPLAY over a populated fixture, so it is enforced only when the
    * fixture `recorded` ≥ `min` non-empty slices (true at every real
    * fixture, where each slice holds hundreds of rows of every event
    * type). On a degenerate fixture (empty / single-row events) the batch
    * count is content-dependent — a filtered source may legitimately
    * ingest zero rows — and the contract is only that the drain
    * terminates with a defined result. The skip is logged: if a real
    * fixture ever lands an empty range slice (skew, fixture change), the
    * multi-batch proof degrading to a no-op shows up in Verify/Bench
    * logs instead of vanishing. */
  private[graft] def batchGate(name: String, observed: Int, recorded: Int,
                               min: Int): Unit =
    if (recorded >= min)
      require(observed >= min,
        s"$name drained in $observed data batches, want >= $min")
    else
      System.err.println(s"[events] $name: multi-batch gate SKIPPED - " +
        s"fixture recorded only $recorded non-empty slice(s)")

  /** Starts `df` into the memory table `q_<name>` on checkpoint `ckpt`
    * and waits until it has drained its source (AvailableNow). */
  private def memorySink(name: String, df: DataFrame, mode: String,
                         ckpt: String): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory").queryName(s"q_$name")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** The drain shared by the memory-sink stream entries: `df` runs to
    * completion under [[Streams.drained]] into the memory table of the
    * entry `name`, which is returned. `gated = Some(d)` declares that
    * `df` replays `d`'s 3-slice fixture, so the drain must pass
    * [[batchGate]] at 3 data batches. */
  private def drainToMemory(s: SparkSession, name: String, df: DataFrame,
                            mode: String, noDataBatches: Boolean = false,
                            gated: Option[String] = None): DataFrame = {
    Streams.drained(s, noDataBatches) { ckpt =>
      val q = memorySink(name, df, mode, ckpt)
      gated.foreach(d =>
        batchGate(name, dataBatches(q), recordedSlices(s, d), 3))
    }
    s.table(s"q_$name")
  }

  /** Ordered funnel view -> click -> purchase, each step the FIRST
    * qualifying event strictly after the previous step's timestamp and
    * within `wUs` µs of it. `ev` carries (user_id, event_type, tus: µs
    * long). Exposed for the semantics spec (step ordering, window
    * inclusivity, empty-step null rates). */
  private[graft] def funnelConversion(ev: org.apache.spark.sql.DataFrame,
                                      wUs: Long)
      : org.apache.spark.sql.DataFrame = {
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("tus").as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("tus") > col("t1") && col("tus") <= col("t1") + lit(wUs))
      .groupBy("user_id").agg(min("tus").as("t2"), min("t1").as("t1"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("tus") > col("t2") && col("tus") <= col("t2") + lit(wUs))
      .groupBy("user_id").agg(min("tus").as("t3"), min("t1").as("t1"))
    val a1 = s1.agg(count(lit(1)).as("n_view"))
    val a2 = s2.agg(count(lit(1)).as("n_click"))
    val a3 = s3.agg(count(lit(1)).as("n_purchase"),
      sum(col("t3") - col("t1")).as("sum_us"))
    a1.crossJoin(a2).crossJoin(a3)
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        // n_view=0 (degenerate slice): rate is SQL-NULL like the
        // oracle's x/0, not an ANSI error
        graft.queries.Analytic.safeDiv(col("n_click").cast("double"),
          col("n_view").cast("double")).as("view_to_click_rate"),
        when(col("n_click") > 0,
          col("n_purchase").cast("double") /
            col("n_click").cast("double")).as("click_to_purchase_rate"),
        when(col("n_purchase") > 0,
          col("sum_us").cast("double") / lit(1000000.0) /
            col("n_purchase").cast("double"))
          .as("avg_sec_view_to_purchase"))
  }

  val registry: Map[String, QuerySpec] = Map(

    // Tumbling 1-hour windows via the real window() operator (struct
    // start/end), grouped with exact decimal sums.
    "events_tumbling_hour" -> QuerySpec(
      (s, d) => Tables.eventsWithTs(s, d)
        .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum("value").as("total"))
        .select(date_format(col("w.start"), fmt).as("wstart"),
          col("event_type"), col("n"), col("total"))
        .orderBy("wstart", "event_type"),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin),

    // Sliding windows: 1 hour wide, every 30 minutes — each event belongs
    // to exactly two windows. Oracle derives both window starts per event
    // and unnests.
    "events_sliding_hour" -> QuerySpec(
      (s, d) => Tables.eventsWithTs(s, d)
        .groupBy(window(col("ts_utc"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), dsum("value").as("total"))
        .select(date_format(col("w.start"), fmt).as("wstart"),
          col("n"), col("total"))
        .orderBy("wstart"),
      """WITH e AS (
        |  SELECT value, (epoch_us(ts) // 1800000000) * 1800000000 AS b FROM events
        |), x AS (
        |  SELECT value, unnest([b, b - 1800000000]) AS wstart_us FROM e
        |)
        |SELECT strftime(make_timestamp(wstart_us), '%Y-%m-%d %H:%M:%S') AS wstart,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM x GROUP BY 1 ORDER BY wstart""".stripMargin),

    // Sequential pattern mining: the 10 most common 3-event PATHS
    // (ordered event_type trigrams within each user's timeline) — the
    // behavioral n-gram pass behind funnel discovery and next-action
    // models. Per-user sequences are assembled with ONE keyed
    // collect_list + array_sort (struct order (ts, event_id, event_type)
    // — the same total order the oracle's list(... ORDER BY) uses, so
    // duplicate-key rows cannot reorder between engines), trigrams are
    // the same zip_with shingle expression the dedup pack uses, and the
    // count is a keyed agg with map-side combine into a TakeOrdered
    // top-10. The per-user list is bounded by a user's event count —
    // the standard sessionize-then-mine memory contract (at 100 TB,
    // burst users would first be split by session_window).
    "events_path_trigrams" -> QuerySpec(
      (s, d) => Tables.events(s, d)
        .groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))).as("evs"))
        .select(explode(graft.ext.Dedup.shingles3(
          transform(col("evs"), e => e.getField("event_type")))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("path"))
        .limit(10),
      """WITH s AS (SELECT user_id,
        |             list(event_type ORDER BY ts, event_id, event_type)
        |               AS types
        |           FROM events GROUP BY user_id),
        |g AS (SELECT unnest(list_transform(range(1, len(types) - 1),
        |        i -> types[i] || ' ' || types[i+1] || ' ' || types[i+2]))
        |        AS path
        |      FROM s)
        |SELECT path, COUNT(*) AS n FROM g
        |GROUP BY path ORDER BY n DESC, path LIMIT 10""".stripMargin),

    // Value-based RANGE window frame: per user, each event's trailing
    // 1-hour sum/count — the "activity in the last hour as of every
    // event" feature a fraud/abuse scorer computes, and the window-frame
    // variant the ROWS-based packs can't express (the frame is bounded by
    // the ORDER value, not a row count, so it is gap- and tie-correct:
    // all ts peers share one frame). Ordering is epoch MICROSECONDS
    // (exact integers on both engines — no interval arithmetic crosses
    // the engine boundary) and the frame sum is the exact DECIMAL(25,6)
    // pattern. Scale: one hash Exchange on user_id, then per-partition
    // sorted frames; no global sort until the output ORDER BY.
    "events_window_range_1h" -> QuerySpec(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts_us"))
          .rangeBetween(-3600000000L, 0L)
        Tables.eventsWithTs(s, d)
          .filter(col("user_id") < 20)
          .select(col("user_id"), col("event_id"),
            expr("ts div 1000").as("ts_us"), col("value"))
          .select(col("user_id"), col("event_id"), col("ts_us"),
            count(lit(1)).over(w).as("n_1h"),
            sum(col("value").cast("decimal(25,6)")).over(w)
              .cast("double").as("sum_1h"))
          .orderBy("user_id", "ts_us", "event_id")
      },
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
        |       CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sum_1h
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin),

    // Session windows (30-minute gap) per user — the batch session_window
    // operator; oracle replicates gap-based sessionization with
    // lag + cumulative-sum labeling. The labeling runs on the DISTINCT
    // (user_id, ts) grain and joins back for the per-event measures: with
    // duplicate timestamps (the skew-sf1 finding), lag over tied rows is
    // order-dependent — the twin sorted before the flag-carrier lands in
    // the PREVIOUS session — while the distinct grain has no ties, which
    // is also exactly Spark's session_window semantics (simultaneous
    // events share one window).
    "events_session_window" -> QuerySpec(
      (s, d) => Tables.eventsWithTs(s, d)
        .filter(col("user_id") < 20)
        .groupBy(session_window(col("ts_utc"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n"), dsum("value").as("total"))
        .select(col("user_id"),
          date_format(col("w.start"), fmt).as("session_start"),
          col("n"), col("total"))
        .orderBy("user_id", "session_start"),
      """WITH dgrain AS (
        |  SELECT DISTINCT user_id, ts FROM events WHERE user_id < 20
        |), t AS (
        |  SELECT user_id, ts,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts) >= 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM dgrain
        |), s AS (
        |  SELECT user_id, ts,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM t
        |), j AS (
        |  SELECT e.user_id, e.ts, e.value, s.sid
        |  FROM events e JOIN s USING (user_id, ts)
        |)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM j GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    // The SAME tumbling aggregation executed by the Structured Streaming
    // engine (file source → AvailableNow trigger → memory sink), so the
    // streaming runtime's output itself is oracle-verified. Watermark
    // semantics don't withhold rows in complete mode, and AvailableNow
    // terminates after draining the source — deterministic end state.
    "events_tumbling_streaming" -> QuerySpec(
      (s, d) => {
        val batchShape = Tables.eventsWithTs(s, d)
        val stream = Tables.eventsStreamSource(s, d)
          .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
          // exact decimal state: the streaming sum must be accumulation-
          // order-free for the oracle hash to match
          .withColumn("value", col("value").cast("decimal(25,6)"))
        val agg = Streams.tumblingHourly(stream)
        val sunk = drainToMemory(s, "events_tumbling_streaming", agg,
          "complete")
        // batchShape only anchors the schema contract above; the result
        // comes from the streaming engine's sink table.
        require(batchShape.schema.fieldNames.contains("ts_utc"))
        sunk
          .select(date_format(col("wstart"), fmt).as("wstart"),
            col("event_type"), col("n"),
            col("total").cast("double").as("total"))
          .orderBy("wstart", "event_type")
      },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin),

    // APPEND-mode watermarked windows through the engine — the other half
    // of the watermark contract: a window is RELEASED to the sink only
    // once the watermark (global max event time − 10min) passes its end;
    // trailing windows still open at end-of-stream are withheld. The
    // oracle reproduces the released-set boundary exactly. Requires the
    // no-data batch (that's where the final watermark advance fires), so
    // drained() runs with noDataBatches = true.
    "events_stream_append_windows" -> QuerySpec(
      (s, d) => {
        val stream = Tables.eventsStreamSource(s, d)
          .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
          .withColumn("value", col("value").cast("decimal(25,6)"))
        val agg = Streams.tumblingHourly(stream)
        drainToMemory(s, "events_stream_append_windows", agg, "append",
          noDataBatches = true)
          .select(date_format(col("wstart"), fmt).as("wstart"),
            col("event_type"), col("n"),
            col("total").cast("double").as("total"))
          .orderBy("wstart", "event_type")
      },
      """WITH wm AS (SELECT MAX(epoch_ms(ts)) - 600000 AS w FROM events)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM events CROSS JOIN wm
        |GROUP BY 1, 2, wm.w
        |HAVING epoch_ms(date_trunc('hour', MIN(ts))) + 3600000 <= wm.w
        |ORDER BY wstart, event_type""".stripMargin),

    // Cohort retention matrix: users grouped by first-seen week, distinct
    // active users counted per week offset — the engagement statistic
    // behind every retention dashboard. Week index is an exact integer
    // division of the raw ns timestamp (no calendar/locale semantics to
    // diverge on); two shuffles total (per-user min, then the cohort
    // grid).
    "events_retention_cohorts" -> QuerySpec(
      (s, d) => {
        val week = expr("ts div 604800000000000") // 7 days in ns
        val activity = Tables.events(s, d)
          .filter(col("user_id") < 200)
          .select(col("user_id"), week.as("week")).distinct()
        val cohorts = activity.groupBy("user_id")
          .agg(min("week").as("cohort_week"))
        activity.join(cohorts, "user_id")
          .groupBy(col("cohort_week"),
            (col("week") - col("cohort_week")).as("offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_week", "offset")
      },
      """WITH act AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS week
        |  FROM events WHERE user_id < 200),
        |coh AS (SELECT user_id, MIN(week) AS cohort_week FROM act
        |        GROUP BY user_id)
        |SELECT cohort_week, week - cohort_week AS "offset",
        |       COUNT(*) AS n_users
        |FROM act JOIN coh USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, "offset"""".stripMargin),

    // Ordered funnel conversion (view -> click -> purchase, each step
    // within 24h of the previous step's completion): the canonical
    // product-analytics sequence query. Each step is "first qualifying
    // event strictly after the previous step's timestamp, inside the
    // window" — computed as a chain of keyed min-aggregates joined on
    // user_id (the step dependency makes this inherently multi-pass; a
    // single windowed scan cannot express "first click AFTER the first
    // view"). Scale shape: every join and agg keys on user_id, so all
    // three passes shuffle on the SAME key — co-partitioned after the
    // first Exchange (bucketing the events table by user_id makes every
    // step Exchange-free), and each step's per-user table only shrinks.
    // Time-to-convert is summed in exact integer microseconds; the
    // averages/rates are single double divisions written in the same
    // order on both engines. All window math is integer µs arithmetic
    // on the raw ns timestamp (ts div 1000 — exact, ns remainders are
    // zero in this data; see the pack comment) — no calendar semantics
    // to diverge on.
    "events_funnel_conversion" -> QuerySpec(
      (s, d) => funnelConversion(
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("tus")),
        86400000000L),
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus
        |            FROM events),
        |s1 AS (SELECT user_id, MIN(tus) AS t1 FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.tus) AS t2, MIN(s1.t1) AS t1
        |       FROM ev e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.tus > s1.t1
        |         AND e.tus <= s1.t1 + 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.tus) AS t3, MIN(s2.t1) AS t1
        |       FROM ev e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.tus > s2.t2
        |         AND e.tus <= s2.t2 + 86400000000 GROUP BY 1),
        |a1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_view FROM s1),
        |a2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_click FROM s2),
        |a3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_purchase,
        |              CAST(SUM(t3 - t1) AS BIGINT) AS sum_us
        |       FROM s3)
        |SELECT n_view, n_click, n_purchase,
        |       CAST(n_click AS DOUBLE) / CAST(n_view AS DOUBLE)
        |         AS view_to_click_rate,
        |       CASE WHEN n_click > 0 THEN
        |         CAST(n_purchase AS DOUBLE) / CAST(n_click AS DOUBLE)
        |         END AS click_to_purchase_rate,
        |       CASE WHEN n_purchase > 0 THEN
        |         CAST(sum_us AS DOUBLE) / 1000000.0
        |           / CAST(n_purchase AS DOUBLE)
        |         END AS avg_sec_view_to_purchase
        |FROM a1, a2, a3""".stripMargin),

    // The SAME ordered funnel as a streaming state machine: per-user
    // mapGroupsWithState folds each of >= 3 real micro-batches' events
    // (ts-sorted within the batch; slices arrive in event-time order)
    // onto the (t1, t2, t3) step state — in-order arrival makes "first
    // qualifying event seen" equal the batch form's "min qualifying
    // timestamp", so the drained state must match events_funnel_conversion
    // BIT-EXACTLY; the oracle IS the batch funnel SQL. Update-mode
    // emissions are reconciled by argmax(folded) per user (folded is
    // monotone — no reliance on sink row order), then the same summary
    // arithmetic runs over the final states. This is the product-analytics
    // counterpart of events_stream_running_totals: multi-step DEPENDENT
    // state, not a commutative fold.
    "events_stream_funnel" -> QuerySpec(
      (s, d) => {
        import s.implicits._
        val stream = slicedEvents(s, d)
          .select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("tus"))
          .as[Streams.FunnelEvent]
        val progress = Streams.funnelProgress(stream, 86400000000L)
        val fin = drainToMemory(s, "events_stream_funnel", progress.toDF(),
            "update", gated = Some(d))
          .groupBy("user_id")
          .agg(max(struct(col("folded"), col("t1"), col("t2"), col("t3")))
            .as("m"))
          .select(col("m.t1").as("t1"), col("m.t2").as("t2"),
            col("m.t3").as("t3"))
        // coalesce(…, 0): an empty stream (degenerate fixture drains no
        // rows into the sink) must report zero COUNTS like the oracle's
        // COUNT(*) — sum-over-empty is NULL, counts are not
        fin.agg(
            coalesce(sum(when(col("t1") >= 0, 1L).otherwise(0L)), lit(0L))
              .as("n_view"),
            coalesce(sum(when(col("t2") >= 0, 1L).otherwise(0L)), lit(0L))
              .as("n_click"),
            coalesce(sum(when(col("t3") >= 0, 1L).otherwise(0L)), lit(0L))
              .as("n_purchase"),
            sum(when(col("t3") >= 0, col("t3") - col("t1"))).as("sum_us"))
          .select(col("n_view"), col("n_click"), col("n_purchase"),
            // n_view=0 (degenerate slice): SQL-NULL rate like the oracle
            graft.queries.Analytic.safeDiv(col("n_click").cast("double"),
              col("n_view").cast("double")).as("view_to_click_rate"),
            when(col("n_click") > lit(0L),
              col("n_purchase").cast("double") /
                col("n_click").cast("double")).as("click_to_purchase_rate"),
            when(col("n_purchase") > 0,
              col("sum_us").cast("double") / lit(1000000.0) /
                col("n_purchase").cast("double"))
              .as("avg_sec_view_to_purchase"))
      },
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus
        |            FROM events),
        |s1 AS (SELECT user_id, MIN(tus) AS t1 FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.tus) AS t2, MIN(s1.t1) AS t1
        |       FROM ev e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.tus > s1.t1
        |         AND e.tus <= s1.t1 + 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.tus) AS t3, MIN(s2.t1) AS t1
        |       FROM ev e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.tus > s2.t2
        |         AND e.tus <= s2.t2 + 86400000000 GROUP BY 1),
        |a1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_view FROM s1),
        |a2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_click FROM s2),
        |a3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_purchase,
        |              CAST(SUM(t3 - t1) AS BIGINT) AS sum_us
        |       FROM s3)
        |SELECT n_view, n_click, n_purchase,
        |       CAST(n_click AS DOUBLE) / CAST(n_view AS DOUBLE)
        |         AS view_to_click_rate,
        |       CASE WHEN n_click > 0 THEN
        |         CAST(n_purchase AS DOUBLE) / CAST(n_click AS DOUBLE)
        |         END AS click_to_purchase_rate,
        |       CASE WHEN n_purchase > 0 THEN
        |         CAST(sum_us AS DOUBLE) / 1000000.0
        |           / CAST(n_purchase AS DOUBLE)
        |         END AS avg_sec_view_to_purchase
        |FROM a1, a2, a3""".stripMargin),

    // Interval-overlap join, binned: which pairs of users have overlapping
    // 30-minute sessions, and how many session pairs overlap. The
    // scale-safe plan bins every session onto the hour grid it covers
    // (sequence + explode) and equi-joins on the bin — the same
    // pigeonhole trick as simhash banding: overlapping intervals must
    // share a covered hour, so the equi-join finds every qualifying pair
    // and the exact predicate verifies. Never a nested-loop/cartesian
    // pair enumeration. Oracle = the naive all-pairs overlap join (fine
    // at oracle SF).
    "events_interval_overlap" -> QuerySpec(
      (s, d) => {
        val sess = Tables.eventsWithTs(s, d)
          .filter(col("user_id") < 20)
          .groupBy(session_window(col("ts_utc"), "30 minutes").as("w"),
            col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"), col("w.start").as("st"), col("w.end").as("en"))
        val binned = sess.select(col("user_id"), col("st"), col("en"),
          explode(sequence(date_trunc("hour", col("st")),
            date_trunc("hour", col("en")), expr("INTERVAL 1 HOUR"))).as("hr"))
        binned.as("a").join(binned.as("b"),
            col("a.hr") === col("b.hr") &&
              col("a.user_id") < col("b.user_id") &&
              col("a.st") <= col("b.en") && col("b.st") <= col("a.en"))
          .select(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"),
            col("a.st").as("st_a"), col("b.st").as("st_b"))
          .distinct()
          .groupBy("user_a", "user_b").agg(count(lit(1)).as("n_overlaps"))
          .orderBy("user_a", "user_b")
      },
      """WITH dgrain AS (
        |  SELECT DISTINCT user_id, ts FROM events WHERE user_id < 20
        |), t AS (
        |  SELECT user_id, ts,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts) >= 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM dgrain
        |), s AS (
        |  SELECT user_id, ts,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM t
        |), sess AS (
        |  SELECT user_id, MIN(ts) AS st, MAX(ts) + INTERVAL 30 MINUTE AS en
        |  FROM s GROUP BY user_id, sid)
        |SELECT a.user_id AS user_a, b.user_id AS user_b,
        |       COUNT(*) AS n_overlaps
        |FROM sess a JOIN sess b
        |  ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en
        |GROUP BY 1, 2 ORDER BY user_a, user_b""".stripMargin),

    // Time-series gap fill: a per-user minute spine (sequence + explode,
    // capped at 6 hours) left-joined to per-minute sums, missing minutes
    // forward-filled with last(ignoreNulls) — the resample/ffill operator
    // of a feature pipeline. The spine generates rows without shuffling
    // the fact side; the fill is one window over the user key.
    "events_gap_fill" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.eventsWithTs(s, d).filter(col("user_id") < 5)
        val bounds = e.groupBy("user_id")
          .agg(date_trunc("minute", min("ts_utc")).as("mn"),
            date_trunc("minute", max("ts_utc")).as("mx"))
          .select(col("user_id"), col("mn"),
            least(col("mx"), col("mn") + expr("INTERVAL 6 HOURS")).as("hi"))
        val spine = bounds.select(col("user_id"),
          explode(sequence(col("mn"), col("hi"), expr("INTERVAL 1 MINUTE")))
            .as("minute"))
        val perMin = e.groupBy(col("user_id"),
            date_trunc("minute", col("ts_utc")).as("minute"))
          .agg(sum(col("value").cast("decimal(25,6)")).cast("double").as("v"))
        val w = Window.partitionBy("user_id").orderBy("minute")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(perMin, Seq("user_id", "minute"), "left")
          .withColumn("v_filled", last("v", ignoreNulls = true).over(w))
          .select(col("user_id"), date_format(col("minute"), fmt).as("minute"),
            col("v"), col("v_filled"))
          .orderBy("user_id", "minute")
      },
      """WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 5),
        |b AS (
        |  SELECT user_id, date_trunc('minute', MIN(ts)) AS mn,
        |         least(date_trunc('minute', MAX(ts)),
        |               date_trunc('minute', MIN(ts)) + INTERVAL 6 HOUR) AS hi
        |  FROM e GROUP BY user_id),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(mn, hi, INTERVAL 1 MINUTE)) AS minute
        |  FROM b),
        |pm AS (
        |  SELECT user_id, date_trunc('minute', ts) AS minute,
        |         CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS v
        |  FROM e GROUP BY 1, 2)
        |SELECT s.user_id,
        |       strftime(s.minute, '%Y-%m-%d %H:%M:%S') AS minute, pm.v,
        |       last_value(pm.v IGNORE NULLS) OVER (
        |         PARTITION BY s.user_id ORDER BY s.minute
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM spine s LEFT JOIN pm
        |  ON s.user_id = pm.user_id AND s.minute = pm.minute
        |ORDER BY 1, 2""".stripMargin),

    // Streaming exact dedup executed by the real engine:
    // dropDuplicatesWithinWatermark over (user_id, event_type, minute) —
    // the exactly-once ingestion guard of a streaming pipeline. Only the
    // dedup KEYS are projected, so the result is arrival-order-free (any
    // surviving row projects to the same key tuple) and equals DISTINCT
    // over the batch table; state is bounded by the 10-minute watermark.
    "events_stream_dedup" -> QuerySpec(
      (s, d) => {
        val stream = slicedEvents(s, d)
          .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
          .select(col("user_id"), col("event_type"),
            date_format(date_trunc("minute", col("ts_utc")), fmt).as("minute"),
            col("ts_utc"))
        val deduped = stream
          .withWatermark("ts_utc", "10 minutes")
          .dropDuplicatesWithinWatermark("user_id", "event_type", "minute")
          .select("user_id", "event_type", "minute")
        // Cross-batch dedup state is genuinely exercised: a key's
        // duplicates sit within one minute of each other, while the
        // watermark trails the previous slice's max by 10 minutes — so
        // a later slice's duplicate always finds the key still in state.
        drainToMemory(s, "events_stream_dedup", deduped, "append",
          gated = Some(d))
          .orderBy("user_id", "event_type", "minute")
      },
      """SELECT DISTINCT user_id, event_type,
        |       strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute
        |FROM events ORDER BY user_id, event_type, minute""".stripMargin),

    // Stream-stream interval join executed by the real engine: clicks
    // joined to same-user purchases within the preceding 30 minutes
    // (streaming/Streams.clickPurchaseJoin), both sides read from the file
    // source with watermarks bounding join state. Inner-join matches are
    // emitted exactly once regardless of batch layout, so the drained
    // result equals the batch interval join the oracle runs.
    "events_stream_join" -> QuerySpec(
      (s, d) => {
        def src = slicedEvents(s, d)
          .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
        val joined = Streams.clickPurchaseJoin(
            src.filter(col("event_type") === "click"),
            src.filter(col("event_type") === "purchase"),
            intervalMinutes = 30)
          .select(col("c_user"), col("c_event"), col("p_event"), col("p_value"))
        // Join state crosses batches: a purchase buffered in slice k
        // must still be in state when its click arrives in slice k+1
        // (watermark trails the click's slice by 10 min, so eviction at
        // p_ts + 30min + delay can never precede the matching click).
        drainToMemory(s, "events_stream_join", joined, "append",
          gated = Some(d))
          .orderBy("c_event", "p_event")
      },
      """SELECT c.user_id AS c_user, c.event_id AS c_event,
        |       p.event_id AS p_event, p.value AS p_value
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts BETWEEN c.ts - INTERVAL 30 MINUTE AND c.ts
        |ORDER BY c_event, p_event""".stripMargin),

    // Stream-stream LEFT OUTER interval join — the semantics inner joins
    // don't exercise: an unmatched click is emitted null-extended only
    // when the global watermark (min over both inputs of max-event-time −
    // 10 min) passes the last instant a matching purchase could still
    // arrive (p_ts ≤ c_ts ⇒ the click's own timestamp); unmatched clicks
    // inside the final watermark frontier stay WITHHELD in state. The
    // oracle reproduces exactly that frontier arithmetic in µs. Matched
    // rows emit as in the inner join; the final no-data batch (enabled in
    // the drain) advances the watermark so eviction actually runs. NULL
    // ordering differs between engines' defaults, so both sides order by
    // COALESCE(p_event, -1).
    "events_stream_left_outer_join" -> QuerySpec(
      (s, d) => {
        def src = slicedEvents(s, d)
          .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
        val joined = Streams.clickPurchaseJoin(
            src.filter(col("event_type") === "click"),
            src.filter(col("event_type") === "purchase"),
            intervalMinutes = 30, joinType = "leftOuter")
          .select(col("c_user"), col("c_event"), col("p_event"), col("p_value"))
        drainToMemory(s, "events_stream_left_outer_join", joined, "append",
          noDataBatches = true, gated = Some(d))
          .orderBy(col("c_event"), coalesce(col("p_event"), lit(-1L)))
      },
      """WITH c AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT LEAST((SELECT MAX(us) FROM c), (SELECT MAX(us) FROM p))
        |         - 600000000 AS w),
        |matched AS (
        |  SELECT c.user_id AS c_user, c.event_id AS c_event,
        |         p.event_id AS p_event, p.value AS p_value
        |  FROM c JOIN p ON c.user_id = p.user_id
        |    AND p.us BETWEEN c.us - 1800000000 AND c.us),
        |unmatched AS (
        |  SELECT c.user_id AS c_user, c.event_id AS c_event,
        |         CAST(NULL AS BIGINT) AS p_event,
        |         CAST(NULL AS DOUBLE) AS p_value
        |  FROM c CROSS JOIN wm
        |  WHERE c.us < wm.w AND NOT EXISTS (
        |    SELECT 1 FROM p WHERE p.user_id = c.user_id
        |      AND p.us BETWEEN c.us - 1800000000 AND c.us))
        |SELECT * FROM (
        |  SELECT * FROM matched UNION ALL SELECT * FROM unmatched) AS u
        |ORDER BY c_event, COALESCE(p_event, -1)""".stripMargin),

    // Stream-stream FULL OUTER interval join — completes the join-family
    // semantics (inner: matches only; left: + clicks the frontier proves
    // unmatchable; full: + purchases the frontier proves unmatchable).
    // A purchase can match clicks up to 30 min AFTER it, so its
    // null-extension deadline is p_ts + 30min — it emits only when the
    // global watermark (min over both inputs of max-event-time − 10 min)
    // passes that instant, while an unmatched click's deadline is its own
    // timestamp (matches only precede it). Rows inside the final frontier
    // stay WITHHELD in state on both sides; the oracle reproduces both
    // deadline arithmetics in µs. NULL ordering differs between engines'
    // defaults, so both sides order by COALESCE of both event ids.
    "events_stream_full_outer_join" -> QuerySpec(
      (s, d) => {
        def src = slicedEvents(s, d)
          .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
        val joined = Streams.clickPurchaseJoin(
            src.filter(col("event_type") === "click"),
            src.filter(col("event_type") === "purchase"),
            intervalMinutes = 30, joinType = "fullOuter")
          .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
            col("c_event"), col("p_event"), col("p_value"))
        drainToMemory(s, "events_stream_full_outer_join", joined, "append",
          noDataBatches = true, gated = Some(d))
          .orderBy(coalesce(col("c_event"), lit(-1L)),
            coalesce(col("p_event"), lit(-1L)))
      },
      """WITH c AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT LEAST((SELECT MAX(us) FROM c), (SELECT MAX(us) FROM p))
        |         - 600000000 AS w),
        |matched AS (
        |  SELECT c.user_id AS user_id, c.event_id AS c_event,
        |         p.event_id AS p_event, p.value AS p_value
        |  FROM c JOIN p ON c.user_id = p.user_id
        |    AND p.us BETWEEN c.us - 1800000000 AND c.us),
        |unmatched_c AS (
        |  SELECT c.user_id AS user_id, c.event_id AS c_event,
        |         CAST(NULL AS BIGINT) AS p_event,
        |         CAST(NULL AS DOUBLE) AS p_value
        |  FROM c CROSS JOIN wm
        |  WHERE c.us < wm.w AND NOT EXISTS (
        |    SELECT 1 FROM p WHERE p.user_id = c.user_id
        |      AND p.us BETWEEN c.us - 1800000000 AND c.us)),
        |unmatched_p AS (
        |  SELECT p.user_id AS user_id, CAST(NULL AS BIGINT) AS c_event,
        |         p.event_id AS p_event, p.value AS p_value
        |  FROM p CROSS JOIN wm
        |  WHERE p.us + 1800000000 < wm.w AND NOT EXISTS (
        |    SELECT 1 FROM c WHERE c.user_id = p.user_id
        |      AND p.us BETWEEN c.us - 1800000000 AND c.us))
        |SELECT * FROM (
        |  SELECT * FROM matched
        |  UNION ALL SELECT * FROM unmatched_c
        |  UNION ALL SELECT * FROM unmatched_p) AS u
        |ORDER BY COALESCE(c_event, -1), COALESCE(p_event, -1)""".stripMargin),

    // Stream-STATIC enrichment join executed by the real engine: the
    // sliced event stream joined per micro-batch against a static
    // dimension (customer segment keyed by custkey = user_id) — the
    // canonical streaming-ingest enrichment shape. The static side plans
    // as a BroadcastHashJoin re-used by every micro-batch: stateless, no
    // watermark, no state store — at 100 TB/day the dimension broadcast
    // is the whole cost, and the stream side never shuffles. Inner-join
    // rows are emitted exactly once regardless of batch layout, so the
    // drained result equals the batch join.
    "events_stream_enrich" -> QuerySpec(
      (s, d) => {
        val dim = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
        val stream = slicedEvents(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
        val enriched = stream
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("c_mktsegment").as("segment"), col("value"))
        drainToMemory(s, "events_stream_enrich", enriched, "append",
          gated = Some(d))
          .orderBy("event_id")
      },
      """SELECT e.event_id, e.user_id, e.event_type,
        |       c.c_mktsegment AS segment, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin),

    // Arbitrary stateful processing through the real engine:
    // mapGroupsWithState running per-user totals (streaming/Streams
    // .runningUserTotals), drained with AvailableNow. Only the event
    // COUNT is projected — the count is arrival-order-free, while the
    // double running total would depend on FP accumulation order inside
    // the state fold (kept in the API, excluded from the hash contract).
    "events_stream_running_totals" -> QuerySpec(
      (s, d) => {
        import s.implicits._
        val stream = slicedEvents(s, d)
          .filter(col("user_id") < 100)
          .select(col("user_id"), col("value"))
          .as[Streams.UserEvent]
        val totals = Streams.runningUserTotals(stream)
        // Per-user counts accumulate across batches (one state row per
        // user per batch); max(n) below reads the final state, so the
        // fold must have carried across slices.
        drainToMemory(s, "events_stream_running_totals", totals.toDF(),
            "update", gated = Some(d))
          .groupBy("user_id").agg(max("n").as("n_events"))
          .orderBy("user_id")
      },
      """SELECT user_id, COUNT(*) AS n_events
        |FROM events WHERE user_id < 100
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Offline STATE-STORE inspection (the Spark 4 state data source):
    // after draining a keyed streaming aggregation, the checkpoint's
    // state store is read back as a batch DataFrame — the operational
    // tool for debugging a production stream's state without stopping
    // it (rocksdb/HDFS state becomes queryable). The declared result is
    // the final per-user count AS RECOVERED FROM STATE, which must equal
    // the oracle's batch aggregation over the same events — proving the
    // store holds exactly the accumulated aggregate, no key lost or
    // double-counted across the >= 3 replayed micro-batches. The state
    // rows are localCheckpointed before the ephemeral checkpoint dir is
    // torn down (a production inspection reads a durable checkpoint in
    // place). Value layout is asserted, not assumed: exactly one buffer
    // field beside the key, else fail loudly.
    "events_stream_state_inspection" -> QuerySpec(
      (s, d) => {
        val stream = slicedEvents(s, d)
          .filter(col("user_id") < 100)
          .groupBy("user_id").agg(count(lit(1)).as("n_events"))
        val name = "events_stream_state_inspection"
        Streams.drained(s) { ckpt =>
          val q = memorySink(name, stream, "update", ckpt)
          batchGate(name, dataBatches(q), recordedSlices(s, d), 3)
          val st = s.read.format("statestore").option("path", ckpt).load()
          val vals = st.select(col("key.user_id").as("user_id"),
            col("value.*"))
          val bufferCol = vals.columns.filter(_ != "user_id") match {
            case Array(one) => one
            case other => throw new IllegalStateException(
              "unexpected aggregation state value layout: " +
                other.mkString(", "))
          }
          vals.select(col("user_id"),
              col(s"`$bufferCol`").cast("long").as("n_events"))
            .orderBy("user_id")
            .localCheckpoint()
        }
      },
      """SELECT user_id, COUNT(*) AS n_events
        |FROM events WHERE user_id < 100
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // foreachBatch parquet SINK on the oracle-checked path — the
    // production landing shape (idempotent per-batch append with the
    // batch id stamped for exactly-once-style reconciliation), via
    // streaming.Streams.startForeachBatchParquet. The sliced stream is
    // drained with processAllAvailable (the helper's default-trigger
    // sink), the sunk files are read BACK, and the declared result is
    // the reconciliation aggregate — which must equal the batch table's,
    // proving no batch was lost or double-applied. Arrival-order-free:
    // only keyed counts and exact decimal sums project; the batch_id
    // layout is asserted in code (>= 3 data batches), not hashed.
    "events_stream_batch_sink" -> QuerySpec(
      (s, d) => {
        // Deterministic landing dir per (session, sf-dir), CLEARED before
        // each drain: the checkpoint is fresh every call, so batch ids
        // restart at 0 and appending over a previous run's files would
        // double-count — clearing at start (not after: the returned plan
        // reads lazily) keeps repeated bench sweeps correct and bounds
        // tmpfs litter. Session-scoped (Scratch.sessionDir) so a second
        // concurrent session cannot clear THIS session's landing mid-read.
        val outF = new java.io.File(
          Scratch.sessionDir(s, "fbsink", d))
        if (outF.isDirectory) {
          val walk = java.nio.file.Files.walk(outF.toPath)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.delete(p); () })
          finally walk.close()
        }
        val out = outF.getPath
        val stream = slicedEvents(s, d)
          .select(col("event_type"), col("value"))
        val name = "events_stream_batch_sink"
        Streams.drained(s) { ckpt =>
          val q = Streams.startForeachBatchParquet(stream, out, ckpt)
          q.processAllAvailable()
          q.stop()
          batchGate(name, dataBatches(q), recordedSlices(s, d), 3)
        }
        // an empty fixture lands zero batches — the sink dir then has no
        // footers to infer from, so supply the landing schema explicitly
        // (the foreachBatch writer appends batch_id to the selected cols)
        val sunk = s.read.schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("batch_id",
              org.apache.spark.sql.types.LongType))))
          .parquet(out)
        // every drained data batch must have LANDED in the sink too
        batchGate(s"$name landing",
          sunk.select("batch_id").distinct().count().toInt,
          recordedSlices(s, d), 3)
        sunk.groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum("value").as("total"))
          .orderBy("event_type")
      },
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // The FULL arbitrary-state API on the oracle-checked path: gap-based
    // sessionization via flatMapGroupsWithState with an EVENT-TIME
    // timeout, run by the real engine over >= 3 time-sliced micro-batches.
    // Emission semantics are exactly what the oracle reproduces:
    //  - every session a user CLOSES by starting a new one is emitted in
    //    the batch that closes it; an in-flight session carried in state
    //    is EXTENDED by the next slice's rows (slices are ts-ordered, so
    //    a within-gap successor always arrives before the watermark —
    //    which trails the previous slice's max by 10 min — can fire the
    //    session's last+30min timeout: a spurious mid-stream timeout
    //    would need an event older than the already-processed range);
    //  - each user's final session stays in state with timeout
    //    last + 30min, and is emitted only when a later batch's
    //    watermark (max event time so far − 10min) advances strictly past
    //    that deadline — so per-user trailing sessions inside the final
    //    watermark frontier are correctly WITHHELD, and the oracle
    //    replicates that frontier arithmetic;
    //  - the state fold compares gaps in MILLISECONDS
    //    (java.sql.Timestamp.getTime), so the oracle sessionizes over
    //    epoch_ms too (µs-level gaps straddling a ms boundary must not
    //    split differently);
    //  - only arrival-order-free columns project (session start second,
    //    event count): the double `total` kept in the state API would
    //    expose FP accumulation order, so it stays out of the contract.
    "events_stream_sessions" -> QuerySpec(
      (s, d) => {
        import s.implicits._
        val stream = slicedEvents(s, d)
          .filter(col("user_id") < 50)
          .select(col("user_id"),
            timestamp_micros(expr("ts div 1000")).as("ts_utc"),
            col("value"))
          .as[Streams.SessionEvent]
        val sessions = Streams.expiringSessions(stream)
        drainToMemory(s, "events_stream_sessions", sessions.toDF(), "append",
          noDataBatches = true, gated = Some(d))
          .select(col("user_id"),
            date_format(col("session_start"), fmt).as("session_start"),
            col("n"))
          .orderBy("user_id", "session_start")
      },
      """WITH eraw AS (
        |  SELECT user_id, ts, epoch_ms(ts) AS ms FROM events
        |  WHERE user_id < 50),
        |e AS (SELECT DISTINCT user_id, ts, ms FROM eraw),
        |t AS (
        |  SELECT user_id, ts, ms,
        |         CASE WHEN ms - lag(ms) OVER
        |                (PARTITION BY user_id ORDER BY ts) > 1800000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts, ms,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM t),
        |j AS (
        |  SELECT r.user_id, r.ts, r.ms, s.sid
        |  FROM eraw r JOIN s USING (user_id, ts)),
        |sess AS (
        |  SELECT user_id, sid, MIN(ts) AS st, MAX(ms) AS last_ms,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM j GROUP BY 1, 2),
        |wm AS (SELECT MAX(ms) - 600000 AS w FROM e),
        |last_sid AS (SELECT user_id, MAX(sid) AS maxsid FROM sess GROUP BY 1)
        |SELECT user_id, strftime(st, '%Y-%m-%d %H:%M:%S') AS session_start, n
        |FROM sess JOIN last_sid USING (user_id) CROSS JOIN wm
        |WHERE sid < maxsid OR last_ms + 1800000 < w
        |ORDER BY user_id, session_start""".stripMargin),

    // Checkpoint RESTART RECOVERY on the oracle-checked path — the
    // exactly-once production story actually exercised: query #1 drains
    // the first two slices (bounded by its file glob) and stops; query #2
    // restarts from the SAME checkpoint with the full glob, so the file
    // source's seen-files log skips the processed slices and the state
    // store reloads the per-user aggregate — the remaining slices fold
    // onto recovered state, not from zero. Deterministic by construction
    // (the phase split is the glob, not a timed stop). The sink is an
    // idempotent per-batch-directory overwrite (a replayed batch rewrites
    // its own dir), and reconciliation takes each user's LAST update-mode
    // emission — together that is restart-safe end-to-end. The final
    // per-user totals must equal the batch aggregate exactly: recovery
    // lost nothing and replayed nothing.
    // DECLARATIVE streaming sessionization: the built-in session_window
    // aggregation (merging session state store) over the same multi-batch
    // replay — the engine-native counterpart of the arbitrary-state
    // flatMapGroupsWithState version above. Semantics differences the
    // oracle encodes exactly:
    //  - session_window merges at MICROSECOND precision with an
    //    end-EXCLUSIVE window [ts, ts+gap), so two events exactly gap
    //    apart do NOT merge (diff >= gap splits; the state-fold version
    //    compares ms and splits only on diff > gap);
    //  - append mode emits a session when the watermark passes its END
    //    (last event + gap); the watermark is the max event time seen in
    //    PRIOR batches, truncated to ms, minus the 10-minute delay — the
    //    AvailableNow drain ends with a no-data batch, so the final
    //    frontier uses the global max;
    //  - sessions whose end is still inside the frontier stay in state
    //    and are WITHHELD, exactly like the state-API version.
    "events_stream_session_window" -> QuerySpec(
      (s, d) => {
        val stream = slicedEvents(s, d)
          .filter(col("user_id") < 50)
          .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
          .withWatermark("ts_utc", "10 minutes")
        val sessions = stream
          .groupBy(col("user_id"),
            session_window(col("ts_utc"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n"))
        drainToMemory(s, "events_stream_session_window", sessions, "append",
          noDataBatches = true, gated = Some(d))
          .select(col("user_id"),
            date_format(col("w.start"), fmt).as("session_start"),
            col("n"))
          .orderBy("user_id", "session_start")
      },
      """WITH eraw AS (
        |  SELECT user_id, ts, epoch_us(ts) AS us FROM events
        |  WHERE user_id < 50),
        |e AS (SELECT DISTINCT user_id, ts, us FROM eraw),
        |t AS (
        |  SELECT user_id, ts, us,
        |         CASE WHEN us - lag(us) OVER
        |                (PARTITION BY user_id ORDER BY us) >= 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts, us,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM t),
        |j AS (
        |  SELECT r.user_id, r.ts, r.us, s.sid
        |  FROM eraw r JOIN s USING (user_id, ts)),
        |sess AS (
        |  SELECT user_id, sid, MIN(ts) AS st, MAX(us) AS last_us,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM j GROUP BY 1, 2),
        |wm AS (SELECT ((MAX(us) // 1000) - 600000) * 1000 AS w FROM e)
        |SELECT user_id, strftime(st, '%Y-%m-%d %H:%M:%S') AS session_start, n
        |FROM sess CROSS JOIN wm
        |WHERE last_us + 1800000000 < w
        |ORDER BY user_id, session_start""".stripMargin),

    "events_stream_restart_recovery" -> QuerySpec(
      (s, d) => {
        // Session-scoped landing (see the fbsink note above).
        val outF = new java.io.File(
          Scratch.sessionDir(s, "restart", d))
        if (outF.isDirectory) {
          val walk = java.nio.file.Files.walk(outF.toPath)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.delete(p); () })
          finally walk.close()
        }
        val out = outF.getPath
        def run(src: DataFrame, ckpt: String) = {
          val q = src
            .filter(col("user_id") < 100)
            .groupBy("user_id")
            .agg(count(lit(1)).as("n_events"), dsum("value").as("total"))
            .writeStream
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               id: Long) =>
                batch.write.mode("overwrite").parquet(s"$out/bid=$id")
            }
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          dataBatches(q)
        }
        Streams.drained(s) { ckpt =>
          val n1 = run(slicedEvents(s, d, "slice-00[01].parquet", 4), ckpt)
          val n2 = run(slicedEvents(s, d, slices = 4), ckpt)
          // Each run owns 2 of the 4 slices, so the capped sum reaches 4
          // only if BOTH saw >= 2 data batches: state must be recovered,
          // not rebuilt.
          batchGate("events_stream_restart_recovery",
            math.min(n1, 2) + math.min(n2, 2), recordedSlices(s, d, 4), 4)
        }
        // partition discovery yields the bid column; last emission per
        // user = final recovered state. Schema supplied explicitly: an
        // empty fixture lands zero bid= partitions, leaving nothing to
        // infer from (bid is the partition column).
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("bid").desc)
        s.read.schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_events",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("total",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("bid",
              org.apache.spark.sql.types.LongType))))
          .parquet(out)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("user_id", "n_events", "total")
          .orderBy("user_id")
      },
      """SELECT user_id, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM events WHERE user_id < 100
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // The Spark 4 transformWithState API (typed state handles + per-state
    // TTL + timers; successor to flatMapGroupsWithState) on the
    // oracle-checked path: per-user running (count, max) folded across
    // >= 3 time-sliced micro-batches. The API requires the RocksDB state
    // store provider — set for this query's lifetime, restored after.
    // Running count/max are arrival-order-free given the in-processor
    // per-batch (tsNs, event_id) sort plus ts-ordered slices (ts is
    // µs-exact, so the ns sort and the oracle's µs ORDER BY agree), so
    // every emitted row equals the batch window fold the oracle computes —
    // cross-batch state carry is load-bearing for all but the first
    // slice's rows.
    "events_stream_tws_running_stats" -> QuerySpec(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val stream = slicedEvents(s, d)
          .filter(col("user_id") < 75)
          .select(col("user_id"), col("event_id"), col("ts").as("tsNs"),
            col("value"))
          .as[graft.streaming.EventIn]
        val folded = stream.groupByKey(_.user_id)
          .transformWithState(new graft.streaming.RunningStatsProcessor,
            TimeMode.None(), OutputMode.Append())
        val pcKey = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(pcKey)
        s.conf.set(pcKey, "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
        val sunk =
          try drainToMemory(s, "events_stream_tws_running_stats",
            folded.toDF(), "append", gated = Some(d))
          finally prev match {
            case Some(v) => s.conf.set(pcKey, v)
            case None    => s.conf.unset(pcKey)
          }
        sunk.orderBy("event_id")
      },
      """SELECT user_id, event_id,
        |       COUNT(*) OVER w AS run_n,
        |       MAX(value) OVER w AS run_max
        |FROM events WHERE user_id < 75
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // As-of (backward) join: each click enriched with the most recent
    // purchase at-or-before it for the same user. The engine composes
    // union + ordered-window carry-forward (see ops.AsOfJoin); the oracle
    // uses DuckDB's native ASOF JOIN.
    "events_asof_join" -> QuerySpec(
      (s, d) => {
        val e = Tables.eventsWithTs(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts_utc")
        // dedup right side per (user, ts) so tie-breaking is well-defined
        // in both engines
        val purchases = graft.etl.Identity.dedupFirst(
          e.filter(col("event_type") === "purchase")
            .select("user_id", "event_id", "ts_utc", "value"),
          keys = Seq("user_id", "ts_utc"), order = Seq(col("event_id").desc))
        AsOfJoin.backward(clicks, purchases,
            key = "user_id", leftTs = "ts_utc", rightTs = "ts_utc",
            payload = Seq("value"), tieBreak = col("event_id"))
          .select(col("user_id"), col("event_id"), col("asof_value"))
          .orderBy("user_id", "event_id")
      },
      """WITH purch AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |           row_number() OVER (PARTITION BY user_id, ts
        |                              ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1
        |)
        |SELECT c.user_id, c.event_id, p.value AS asof_value
        |FROM (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.user_id, c.event_id""".stripMargin),

    // Robust anomaly counting via MEDIAN ABSOLUTE DEVIATION: per event
    // type, the exact discrete median of `value` (row_number select with
    // (cnt+1) div 2, event_id tie-break — same parity trick as
    // percentile_disc_exact), then the exact median of |value - med|,
    // then count events beyond 3 MADs. MAD tolerates the heavy tails
    // that wreck mean/stddev z-scores — the robust detector a metrics
    // pipeline runs over skewed telemetry. Both medians are windows on
    // the type key (a handful of partitions that shard cleanly); the
    // abs-deviation subtraction is a single exact IEEE op, so no decimal
    // scaling is needed anywhere.
    "events_anomaly_mad" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byType = Window.partitionBy("event_type")
        val e = Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"))
        val medRank = Window.partitionBy("event_type")
          .orderBy("value", "event_id")
        val med = e
          .withColumn("rn", row_number().over(medRank))
          .withColumn("cnt", count(lit(1)).over(byType))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("event_type"), col("value").as("med"))
        val dev = e.join(broadcast(med), "event_type")
          .withColumn("dev", abs(col("value") - col("med")))
        val madRank = Window.partitionBy("event_type")
          .orderBy("dev", "event_id")
        val mad = dev
          .withColumn("rn", row_number().over(madRank))
          .withColumn("cnt", count(lit(1)).over(byType))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("event_type"), col("dev").as("mad"))
        dev.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(max(col("med")).as("median_value"),
            max(col("mad")).as("mad"),
            count(lit(1)).as("n"),
            sum(when(col("dev") > lit(3.0) * col("mad"), 1L)
              .otherwise(0L)).as("n_anomalies"))
          .orderBy("event_type")
      },
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |med AS (SELECT event_type, value AS med FROM (
        |          SELECT event_type, value,
        |                 row_number() OVER (PARTITION BY event_type
        |                   ORDER BY value, event_id) AS rn,
        |                 COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |          FROM e) WHERE rn = (cnt + 1) // 2),
        |dev AS (SELECT e.event_id, e.event_type,
        |               abs(e.value - med.med) AS dev, med.med
        |        FROM e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, dev AS mad FROM (
        |          SELECT event_type, dev,
        |                 row_number() OVER (PARTITION BY event_type
        |                   ORDER BY dev, event_id) AS rn,
        |                 COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |          FROM dev) WHERE rn = (cnt + 1) // 2)
        |SELECT event_type, MAX(med) AS median_value, MAX(mad) AS mad,
        |       COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_anomalies
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Late-arrival (watermark) audit: for each event, compare its event
    // time against the max event time ALREADY SEEN in arrival order for
    // the same user — exactly the signal a streaming watermark uses to
    // decide drops. The fixture arrives perfectly ordered, so disorder
    // is synthesized deterministically (the text_pii_redaction pattern:
    // every 7th event's time is shifted back by event_id%240 minutes on
    // BOTH engines) so the auditor provably fires. All time math runs
    // in exact integer MICROSECONDS (unix_micros / date_diff) — the
    // fixture has sub-second components, so second-truncation parity is
    // never relied on. Plan shape: the running max is a window
    // PARTITIONED BY user (arrival order = event_id within user) —
    // fully partition-parallel, no global sort — then one
    // map-side-combinable agg; this is the batch estimator a streaming
    // job would use to TUNE withWatermark's delay before deploying.
    "events_late_arrival_audit" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val shifted = Tables.eventsWithTs(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            (unix_micros(col("ts_utc")) -
              when(col("event_id") % 7 === 0,
                (col("event_id") % 240) * lit(60000000L))
                .otherwise(lit(0L))).as("ets_us"))
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        shifted
          .withColumn("prior_max", max("ets_us").over(w))
          .withColumn("late_us", col("prior_max") - col("ets_us"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("late_us") > lit(600000000L), 1L).otherwise(0L))
              .as("n_late"),
            max("late_us").as("max_late_us"))
          .select(col("event_type"), col("n_events"), col("n_late"),
            (col("n_late").cast("double") / col("n_events").cast("double"))
              .as("late_rate"),
            col("max_late_us"))
          .orderBy("event_type")
      },
      """WITH p AS (
        |  SELECT event_id, user_id, event_type,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)
        |      - CASE WHEN event_id % 7 = 0
        |             THEN (event_id % 240) * 60000000 ELSE 0 END AS ets_us
        |  FROM events),
        |w AS (SELECT event_type, ets_us,
        |        MAX(ets_us) OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS prior_max
        |      FROM p),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |        CAST(SUM(CASE WHEN prior_max - ets_us > 600000000
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |        MAX(prior_max - ets_us) AS max_late_us
        |      FROM w GROUP BY event_type)
        |SELECT event_type, n_events, n_late,
        |       CAST(n_late AS DOUBLE) / CAST(n_events AS DOUBLE)
        |         AS late_rate,
        |       max_late_us
        |FROM a ORDER BY event_type""".stripMargin),

    // First-order Markov transition matrix over per-user event
    // sequences: P(next type | current type) — the behavioral model
    // behind next-event prediction and anomalous-session scoring, and
    // the aggregate view of events_path_trigrams' raw paths. lead() is
    // a window PARTITIONED by user (no global sort), the matrix agg is
    // map-side combinable, and the 5×5 from-type totals broadcast back
    // for the row normalization — every probability is an exact-count
    // division, deterministic cross-engine.
    "events_markov_transitions" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("event_id")
        val pairs = Tables.events(s, d)
          .select(col("user_id"), col("event_type").as("from_type"),
            lead(col("event_type"), 1).over(w).as("to_type"))
          .filter(col("to_type").isNotNull)
          .groupBy("from_type", "to_type")
          .agg(count(lit(1)).as("n_transitions"))
        val totals = pairs.groupBy("from_type")
          .agg(sum("n_transitions").as("n_from"))
        pairs.join(broadcast(totals), "from_type")
          .select(col("from_type"), col("to_type"),
            col("n_transitions"),
            (col("n_transitions").cast("double") /
              col("n_from").cast("double")).as("p_transition"))
          .orderBy("from_type", "to_type")
      },
      """WITH s AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY event_id) AS to_type
        |  FROM events),
        |p AS (SELECT from_type, to_type,
        |        CAST(COUNT(*) AS BIGINT) AS n_transitions
        |      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n_transitions) AS BIGINT)
        |        AS n_from FROM p GROUP BY 1)
        |SELECT from_type, to_type, n_transitions,
        |       CAST(n_transitions AS DOUBLE) / CAST(n_from AS DOUBLE)
        |         AS p_transition
        |FROM p JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin),

    // Inter-arrival-time histogram per event type: minute-bucketed gaps
    // between consecutive events of the SAME USER in event-time order —
    // the distribution a pipeline inspects to choose its session-gap
    // and watermark-delay thresholds (the 30-min gap in
    // events_sessions and the 10-min delay in events_late_arrival_audit
    // both come from exactly this curve). Gap math is exact integer
    // microseconds; the order key is (ts, event_id) so sub-second ties
    // cannot make lag() nondeterministic; buckets cap at 120 min so the
    // histogram stays domain-bounded. Plan: lag() windows partitioned
    // by user — fully parallel — then one map-side-combinable agg.
    "events_interarrival_histogram" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy("ts_utc", "event_id")
        Tables.eventsWithTs(s, d)
          .select(col("user_id"), col("event_type"),
            col("event_id"), col("ts_utc"))
          .withColumn("gap_us", unix_micros(col("ts_utc")) -
            lag(unix_micros(col("ts_utc")), 1).over(w))
          .filter(col("gap_us").isNotNull)
          .select(col("event_type"),
            least(expr("gap_us div 60000000"), lit(120L))
              .as("gap_minutes"))
          .groupBy("event_type", "gap_minutes")
          .agg(count(lit(1)).as("n_gaps"))
          .orderBy("event_type", "gap_minutes")
      },
      """WITH g AS (
        |  SELECT event_type,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)
        |      - lag(date_diff('microsecond',
        |          TIMESTAMP '1970-01-01 00:00:00', ts))
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS gap_us
        |  FROM events)
        |SELECT event_type,
        |       least(gap_us // 60000000, 120) AS gap_minutes,
        |       CAST(COUNT(*) AS BIGINT) AS n_gaps
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, gap_minutes""".stripMargin),

    // Last-touch marketing attribution: each purchase's value is credited
    // to the user's most recent PRECEDING non-purchase event within 24 h
    // (or 'direct' if none qualifies) — the canonical attribution model a
    // revenue-analytics pipeline runs over the event log. The "last
    // preceding qualifying event" is ONE pass per user: an IGNORE NULLS
    // last_value window over (ts, event_id) order with a 1-PRECEDING
    // frame — no self-join of purchases against history. The timestamp
    // and type come from two windows with the SAME frame, so both read
    // the same source row. Revenue sums are the exact DECIMAL(25,6)
    // pattern. Scale: one hash Exchange on user_id, per-partition sorted
    // frames, then a ≤6-row keyed agg.
    "events_attribution_last_touch" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val nonP = col("event_type") =!= "purchase"
        val ev = Tables.eventsWithTs(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), expr("ts div 1000").as("tus"))
        ev.withColumn("prev_tus",
            last(when(nonP, col("tus")), ignoreNulls = true).over(w))
          .withColumn("prev_type",
            last(when(nonP, col("event_type")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("value"),
            when(col("prev_tus").isNotNull &&
                col("prev_tus") >= col("tus") - lit(86400000000L),
              col("prev_type")).otherwise("direct").as("attributed_type"))
          .groupBy("attributed_type")
          .agg(count(lit(1)).as("n_purchases"), dsum("value").as("revenue"))
          .orderBy("attributed_type")
      },
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS tus
        |  FROM events),
        |wv AS (
        |  SELECT event_type, value, tus,
        |         last_value(CASE WHEN event_type <> 'purchase'
        |                         THEN tus END IGNORE NULLS) OVER w AS prev_tus,
        |         last_value(CASE WHEN event_type <> 'purchase'
        |                         THEN event_type END IGNORE NULLS) OVER w
        |           AS prev_type
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT CASE WHEN prev_tus IS NOT NULL
        |                 AND prev_tus >= tus - 86400000000
        |            THEN prev_type ELSE 'direct' END AS attributed_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        |FROM wv WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY attributed_type""".stripMargin),

    // Half-life-decayed engagement score per user — the recency-weighted
    // ranking a retention/loyalty pipeline maintains (recent activity
    // counts full, older activity halves every 7 days). exp()/pow()
    // carry no cross-engine bit guarantee, so the weight is an EXACT
    // power of two: h = age_days ÷ 7 integer halvings, weight = 1/2^h
    // (2^h via integer shift, h capped at 62 — both the shift and the
    // reciprocal are exactly representable doubles), and the weighted
    // sum goes through the floor(term·2³⁰) decimal lift. The reference
    // time is the corpus max(ts) — one scalar action. Scale: a narrow
    // projection, one keyed agg with map-side combine, and a
    // TakeOrdered(20) — never a global sort.
    "events_decay_engagement" -> QuerySpec(
      (s, d) => {
        val S = 1073741824.0 // 2^30
        val ev = Tables.events(s, d)
        // r16 (guide §2.4/§5): the reference instant was a driver
        // .head() — one extra (column-pruned) pass over the events
        // table per run. As a broadcast 1-row column the same integer
        // div/least arithmetic runs in-plan; coalesce(max, 0) ≡ the old
        // 0L empty-fixture placeholder (no rows evaluate it anyway).
        val refTab = ev.agg(
          coalesce(max(expr("ts div 1000")), lit(0L)).as("ref_us"))
        ev.crossJoin(broadcast(refTab))
          .select(col("user_id"), col("value"),
            least(expr("((ref_us - (ts div 1000)) div 86400000000) div 7"),
              lit(62L)).as("h"))
          .select(col("user_id"),
            (col("value") * (lit(1.0) /
              expr("cast(shiftleft(1L, cast(h as int)) as double)")))
              .as("term"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            (sum(floor(col("term") * lit(S)).cast("decimal(38,0)"))
              .cast("double") / lit(S)).as("score"))
          .orderBy(desc("score"), asc("user_id")).limit(20)
      },
      """WITH r AS (SELECT max(epoch_us(ts)) AS ref_us FROM events),
        |t AS (
        |  SELECT user_id,
        |         value * (1.0 / CAST(CAST(1 AS BIGINT) << CAST(LEAST(
        |             (((SELECT ref_us FROM r) - epoch_us(ts))
        |               // 86400000000) // 7, 62) AS INT) AS DOUBLE)) AS term
        |  FROM events)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(FLOOR(term * 1073741824.0) AS DECIMAL(38,0)))
        |         AS DOUBLE) / 1073741824.0 AS score
        |FROM t GROUP BY user_id
        |ORDER BY score DESC, user_id LIMIT 20""".stripMargin),

    // Simple-exponential-smoothing (α = ½) forecast over the daily
    // revenue series — the one-line baseline every ops-forecasting
    // pipeline keeps next to its real model. The recurrence s_t =
    // ½x_t + ½s_{t-1} unrolls to s_t = 2^{-t}·(2x₁ + Σ_{i≥2} x_i·2^{i-1}),
    // so it is ONE cumulative sum over the day series, not a sequential
    // loop: term_i = x_i·2^{max(i-1,1)} (a power-of-two multiply —
    // EXACT in IEEE double), lifted through floor(term·2⁶) into DECIMAL
    // for an order-free running sum, then two exact power-of-two
    // divisions recover s_t. Shifts clamp at 62 (this corpus spans 30
    // days; the clamp documents the bound rather than overflowing a
    // 64-bit shift on a longer series). Scale: the corpus-sized work is
    // one keyed day agg with map-side combine; the window runs over the
    // DAY table — bounded by the calendar, not the data.
    "events_ses_forecast" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(s, d)
          .groupBy(expr("ts div 86400000000000").as("day_idx"))
          .agg(count(lit(1)).as("n_events"), dsum("value").as("revenue"))
        val w = Window.orderBy("day_idx")
        val ranked = daily
          .withColumn("i", row_number().over(w))
          .withColumn("term", col("revenue") *
            expr("cast(shiftleft(1L, cast(least(greatest(i - 1, 1), 62) as int)) as double)"))
        ranked
          .withColumn("cum", sum(floor(col("term") * lit(64.0))
            .cast("decimal(38,0)")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("day_idx"), col("n_events"), col("revenue"),
            ((col("cum").cast("double") / lit(64.0)) /
              expr("cast(shiftleft(1L, cast(least(i, 62) as int)) as double)"))
              .as("ses"))
          .orderBy("day_idx")
      },
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |         CAST(COUNT(*) AS BIGINT) AS n_events,
        |         CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT day_idx, n_events, revenue,
        |         row_number() OVER (ORDER BY day_idx) AS i
        |  FROM daily),
        |t AS (
        |  SELECT day_idx, n_events, revenue, i,
        |         revenue * CAST(CAST(1 AS BIGINT) <<
        |           CAST(LEAST(GREATEST(i - 1, 1), 62) AS INT) AS DOUBLE)
        |           AS term
        |  FROM r)
        |SELECT day_idx, n_events, revenue,
        |       (CAST(SUM(CAST(FLOOR(term * 64.0) AS DECIMAL(38,0)))
        |          OVER (ORDER BY day_idx
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS DOUBLE) / 64.0)
        |         / CAST(CAST(1 AS BIGINT) << CAST(LEAST(i, 62) AS INT)
        |                AS DOUBLE) AS ses
        |FROM t ORDER BY day_idx""".stripMargin),

    // Lag-k autocorrelation (k = 1..7) of the daily event-count series —
    // the seasonality screen (a weekly cycle shows as a peak at k = 7).
    // Fully RATIONAL cross-engine: with T days and total S, the centered
    // products scale by T² to exact integers ((T·n_t − S)(T·n_{t+k} − S)),
    // so numerator and denominator are exact BIGINT sums and r_k is one
    // IEEE division. Scale: the corpus-sized stage is one keyed day agg;
    // everything after runs on the day table (calendar-bounded) — a
    // 7-way explode and an equi-join on day_idx + k, never a window over
    // raw events.
    "events_daily_autocorr" -> QuerySpec(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(expr("ts div 86400000000000").as("day_idx"))
          .agg(count(lit(1)).as("n"))
        val st = daily.agg(count(lit(1)).as("t_days"), sum("n").as("s_tot"))
        val cd = daily.crossJoin(broadcast(st))
          .select(col("day_idx"), col("t_days"),
            (col("t_days") * col("n") - col("s_tot")).as("c"))
        // r16 (guide §2.4/§5): the denominator was a driver .head()
        // whose subtree contains the query's one corpus-sized pass (the
        // keyed day agg over events) — the scalar job scanned events
        // once more than the lag dataflow needs. As a broadcast 1-row
        // column the day-agg exchange is shared by ReuseExchange;
        // coalesce(sum, 0) ≡ the old 0L placeholder and the long→double
        // cast is the identical conversion, so r_k is bit-identical.
        val denTab = cd.agg(
          coalesce(sum(col("c") * col("c")), lit(0L)).as("den"))
        val ks = cd.select(col("day_idx"), col("c"),
          explode(array((1 to 7).map(lit): _*)).as("k"))
        ks.join(cd.select(col("day_idx").as("rhs_day"), col("c").as("c2")),
            col("rhs_day") === col("day_idx") + col("k"))
          .groupBy("k")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("c") * col("c2")).as("num"))
          .crossJoin(broadcast(denTab))
          .select(col("k"), col("n_pairs"),
            (col("num").cast("double") / col("den").cast("double"))
              .as("autocorr"))
          .orderBy("k")
      },
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_days,
        |              CAST(SUM(n) AS BIGINT) AS s_tot FROM daily),
        |cd AS (SELECT day_idx, t_days * n - s_tot AS c FROM daily, st),
        |den AS (SELECT CAST(SUM(c * c) AS BIGINT) AS den FROM cd)
        |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(SUM(a.c * b.c) AS DOUBLE)
        |         / CAST((SELECT den FROM den) AS DOUBLE) AS autocorr
        |FROM cd a
        |JOIN (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS k) ks ON true
        |JOIN cd b ON b.day_idx = a.day_idx + k
        |GROUP BY k ORDER BY k""".stripMargin),

    // CUSUM change-point screen over the daily event-count series — the
    // ingestion-drift detector a pipeline runs on its own volume: a
    // sustained shift in daily rate accumulates in the one-sided CUSUM
    // statistics where a single spike decays. Fully EXACT cross-engine:
    // deviations scale by T to integers (T·n_t − S, the
    // events_daily_autocorr centering), and the max(0, S+d) recurrence
    // is expressed CLOSED-FORM as prefix-sum minus running-minimum
    // (S⁺_t = P_t − min_{j≤t} P_j with P_0 = 0; S⁻ mirrors with the
    // running max) — two stacked windows, no recursion, no floats
    // anywhere. Scale: the corpus-sized stage is one map-side-combined
    // day agg; both windows run over the DAY table (calendar-bounded,
    // never the event count). Output statistics are on the ×T scale;
    // consumers threshold as k·T·sigma.
    "events_changepoint_cusum" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(s, d)
          .groupBy(expr("ts div 86400000000000").as("day_idx"))
          .agg(count(lit(1)).as("n"))
        val st = daily.agg(count(lit(1)).as("t_days"),
          sum("n").as("s_tot"))
        val dev = daily.crossJoin(broadcast(st))
          .select(col("day_idx"), col("n"),
            (col("t_days") * col("n") - col("s_tot")).as("dv"))
        val wCum = Window.orderBy("day_idx")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val p = dev.select(col("day_idx"), col("n"),
          sum("dv").over(wCum).as("p"))
        p.select(col("day_idx"), col("n").as("n_events"),
            (col("p") - least(lit(0L), min("p").over(wCum)))
              .as("cusum_pos"),
            (greatest(lit(0L), max("p").over(wCum)) - col("p"))
              .as("cusum_neg"))
          .orderBy("day_idx")
      },
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_days,
        |              CAST(SUM(n) AS BIGINT) AS s_tot FROM daily),
        |dev AS (SELECT day_idx, n, t_days * n - s_tot AS dv
        |        FROM daily, st),
        |p AS (SELECT day_idx, n,
        |    CAST(SUM(dv) OVER (ORDER BY day_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS p
        |  FROM dev)
        |SELECT day_idx, n AS n_events,
        |  p - LEAST(0, MIN(p) OVER (ORDER BY day_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    AS cusum_pos,
        |  GREATEST(0, MAX(p) OVER (ORDER BY day_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - p
        |    AS cusum_neg
        |FROM p ORDER BY day_idx""".stripMargin),

    // Multiplicative weekday seasonal index of the event series — the
    // normalization table a forecaster divides by before trending
    // (events_forecast_holt_winters fits level+trend+period-7 season;
    // this emits the season PROFILE itself for reuse and audit).
    // Weekday is epoch-day mod 7 (label-free: day 0 = a Thursday) so
    // no timezone/locale crosses the engine boundary. Exact: index_w =
    // (mean_w / mean) = (n_w·T) / (c_w·S) — both sides exact BIGINT
    // products, ONE IEEE division per emitted row. Scale: one
    // map-side-combined day agg, then a 7-row regroup; the totals ride
    // a 1-row broadcast.
    "events_weekday_seasonality" -> QuerySpec(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(expr("ts div 86400000000000").as("day_idx"))
          .agg(count(lit(1)).as("n"))
        val wd = daily.groupBy((col("day_idx") % 7).as("weekday"))
          .agg(count(lit(1)).as("n_days"), sum("n").as("n_events"))
        wd.crossJoin(broadcast(
            daily.agg(count(lit(1)).as("t_days"), sum("n").as("s_tot"))))
          .select(col("weekday"), col("n_days"), col("n_events"),
            ((col("n_events") * col("t_days")).cast("double") /
              (col("n_days") * col("s_tot")).cast("double"))
              .as("seasonal_index"))
          .orderBy("weekday")
      },
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_days,
        |               CAST(SUM(n) AS BIGINT) AS s_tot FROM daily),
        |wd AS (SELECT day_idx % 7 AS weekday,
        |              CAST(COUNT(*) AS BIGINT) AS n_days,
        |              CAST(SUM(n) AS BIGINT) AS n_events
        |       FROM daily GROUP BY 1)
        |SELECT weekday, n_days, n_events,
        |       CAST(n_events * t_days AS DOUBLE)
        |         / CAST(n_days * s_tot AS DOUBLE) AS seasonal_index
        |FROM wd, tot ORDER BY weekday""".stripMargin),

    // The SAME last-touch attribution as a streaming state machine:
    // flatMapGroupsWithState keeps ONE (timestamp, type) pair per user —
    // the most recent non-purchase — and each purchase emits exactly one
    // attribution row in the micro-batch it arrives in. In-order slice
    // replay + per-batch (tus, event_id) sort make the fold equal the
    // batch form's 1-PRECEDING window frame, so the drained emissions
    // aggregate to events_attribution_last_touch BIT-EXACTLY; the oracle
    // IS the batch attribution SQL. Emissions are reconciled by a
    // dropDuplicates on event_id (each purchase is emitted once; the
    // dedup guards a replayed batch) before the same revenue summary
    // arithmetic. This is the revenue-analytics counterpart of
    // events_stream_funnel: per-key SCALAR state driving per-EVENT
    // emissions, not a running aggregate.
    "events_stream_attribution" -> QuerySpec(
      (s, d) => {
        import s.implicits._
        val stream = slicedEvents(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), expr("ts div 1000").as("tus"))
          .as[Streams.AttrEvent]
        val attributed = Streams.lastTouchAttribution(stream, 86400000000L)
        drainToMemory(s, "events_stream_attribution",
          attributed.toDF(), "update", gated = Some(d))
          .dropDuplicates("event_id")
          .groupBy("attributed_type")
          .agg(count(lit(1)).as("n_purchases"), dsum("value").as("revenue"))
          .orderBy("attributed_type")
      },
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS tus
        |  FROM events),
        |wv AS (
        |  SELECT event_type, value, tus,
        |         last_value(CASE WHEN event_type <> 'purchase'
        |                         THEN tus END IGNORE NULLS) OVER w AS prev_tus,
        |         last_value(CASE WHEN event_type <> 'purchase'
        |                         THEN event_type END IGNORE NULLS) OVER w
        |           AS prev_type
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT CASE WHEN prev_tus IS NOT NULL
        |                 AND prev_tus >= tus - 86400000000
        |            THEN prev_type ELSE 'direct' END AS attributed_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        |FROM wv WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY attributed_type""".stripMargin),

    // Retention-decay fit WITHOUT logarithms: fit the geometric model
    // N(t) ≈ N(0)·b̂ᵗ to the weekly retention curve with the
    // ratio-of-sums estimator b̂ = ΣN(1..T) / ΣN(0..T−1) — the
    // closed-form MLE for a constant hazard, fully RATIONAL (a
    // log-space least squares would hinge on ln() parity). Predictions
    // evaluate b̂ᵗ as an identical left-fold product on both engines
    // (t ≤ weeks-in-window, bounded); the per-offset absolute errors
    // report where reality leaves the geometric model — the churn
    // readout a growth team actually consumes. Two keyed aggs + a
    // ≤5-row curve table.
    "events_retention_decay_fit" -> QuerySpec(
      (s, d) => {
        val week = expr("ts div 604800000000000")
        val activity = Tables.events(s, d)
          .select(col("user_id"), week.as("week")).distinct()
        val cohorts = activity.groupBy("user_id")
          .agg(min("week").as("c0"))
        val curve = activity.join(cohorts, "user_id")
          .groupBy((col("week") - col("c0")).as("t"))
          .agg(countDistinct("user_id").as("n_active"))
          .localCheckpoint(true)
        val mx = curve.agg(max("t").as("tmax"))
        val bhat = curve.crossJoin(broadcast(mx))
          .agg(
            sum(when(col("t") >= 1, col("n_active")).otherwise(0L))
              .as("num"),
            sum(when(col("t") < col("tmax"), col("n_active"))
              .otherwise(0L)).as("den"))
          // a 1-week fixture has no pre-tmax mass (den=0): b_hat is
          // SQL-NULL like the oracle's x/0, not an ANSI error
          .select(graft.queries.Analytic.safeDiv(col("num").cast("double"),
            col("den").cast("double")).as("b_hat"))
        val n0 = curve.filter(col("t") === 0)
          .select(col("n_active").cast("double").as("n0"))
        curve.crossJoin(broadcast(bhat)).crossJoin(broadcast(n0))
          .select(col("t"), col("n_active"), col("b_hat"),
            // sequence(1, 0) DESCENDS in Spark (it is not empty like
            // DuckDB's range(1, 1)) — guard the t = 0 row explicitly
            when(col("t") === 0, col("n0")).otherwise(
              aggregate(sequence(lit(1), col("t").cast("int")),
                col("n0"), (acc, _) => acc * col("b_hat"))).as("predicted"))
          .withColumn("abs_err",
            abs(col("n_active").cast("double") - col("predicted")))
          .orderBy("t")
      },
      """WITH act AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
        |  FROM events),
        |coh AS (SELECT user_id, MIN(week) AS c0 FROM act GROUP BY 1),
        |curve AS (
        |  SELECT a.week - c.c0 AS t,
        |         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
        |  FROM act a JOIN coh c USING (user_id) GROUP BY 1),
        |mx AS (SELECT MAX(t) AS tmax FROM curve),
        |bh AS (
        |  SELECT CAST(SUM(CASE WHEN t >= 1 THEN n_active ELSE 0 END)
        |           AS DOUBLE) /
        |         CAST(SUM(CASE WHEN t < tmax THEN n_active ELSE 0 END)
        |           AS DOUBLE) AS b_hat
        |  FROM curve, mx),
        |n0 AS (SELECT CAST(n_active AS DOUBLE) AS n0 FROM curve
        |       WHERE t = 0)
        |SELECT t, n_active, b_hat,
        |       list_reduce(list_prepend(n0,
        |         list_transform(range(1, CAST(t + 1 AS INT)),
        |           x -> b_hat)), (a, x) -> a * x) AS predicted,
        |       abs(CAST(n_active AS DOUBLE) -
        |         list_reduce(list_prepend(n0,
        |           list_transform(range(1, CAST(t + 1 AS INT)),
        |             x -> b_hat)), (a, x) -> a * x)) AS abs_err
        |FROM curve, bh, n0 ORDER BY t""".stripMargin),

    // CEP-style pattern detection: "three errors from the same user
    // within six hours" (threshold chosen ~p01 of the fixture's 3-error
    // span distribution, so the alert actually fires — the same rule at
    // real event density runs with minutes) — the alerting predicate
    // every ops pipeline
    // runs, expressed as ONE per-user ordered window with two lags (the
    // MATCH_RECOGNIZE-lite shape: fixed-length pattern = k−1 lags, no
    // state machine needed). Burst anchors count every 3rd-error
    // completion; per user the census reports bursts, errors, and the
    // tightest 3-error span, flagged when any burst fired. Exact
    // integer µs arithmetic throughout. Scale: one keyed window over
    // the error sub-stream (filter pushed to the scan), one keyed agg.
    "events_error_burst_detection" -> QuerySpec(
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts")
        val err = Tables.events(s, d)
          .filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"))
          .withColumn("t2", lag("ts", 2).over(W))
          .withColumn("span_us", expr("(ts - t2) div 1000"))
        err.groupBy("user_id")
          .agg(count(lit(1)).as("n_errors"),
            sum(when(col("span_us") <= 21600000000L, 1L).otherwise(0L))
              .as("n_bursts"),
            min("span_us").cast("long").as("tightest_span_us"))
          .filter(col("n_bursts") > 0)
          .withColumn("alert", col("n_bursts") > 0)
          .orderBy(desc("n_bursts"), asc("user_id"))
      },
      """WITH err AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         epoch_us(ts) - lag(epoch_us(ts), 2) OVER (
        |           PARTITION BY user_id ORDER BY ts) AS span_us
        |  FROM events WHERE event_type = 'error')
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_errors,
        |       CAST(SUM(CASE WHEN span_us <= 21600000000 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_bursts,
        |       CAST(MIN(span_us) AS BIGINT) AS tightest_span_us,
        |       TRUE AS alert
        |FROM err GROUP BY 1
        |HAVING SUM(CASE WHEN span_us <= 21600000000 THEN 1 ELSE 0 END) > 0
        |ORDER BY n_bursts DESC, user_id""".stripMargin),

    // Little's law audit (L = λ·W) over the session system: time-average
    // concurrency L from the banded sweep-line's piecewise-constant
    // integral, arrival rate λ and mean session duration W from the
    // session table — and the EXACT integer identity behind the law:
    // ∫conc·dt must equal Σ session durations µs-for-µs (each live
    // session contributes exactly its length to the integral), so the
    // audit emits both BIGINTs and their equality as the sweep's
    // self-check, plus the L, λ, W readouts capacity planners use. The
    // integral is computed banded like events_peak_concurrency: in-band
    // segments via a per-day lead window, cross-band bridge segments
    // from the tiny per-band summary (#days rows). All µs·concurrency
    // products stay far under 2^53.
    "events_littles_law_audit" -> QuerySpec(
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val sess = Tables.eventsWithTs(s, d)
          .groupBy(session_window(col("ts_utc"), "30 minutes").as("w"),
            col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(unix_micros(col("w.start")).as("st"),
            unix_micros(col("w.end")).as("en"))
          .localCheckpoint(true)
        val sstat = sess.agg(count(lit(1)).as("n_sessions"),
          sum(col("en") - col("st")).as("total_dur_us"))
        val bounds = sess.select(explode(array(
            struct(col("st").as("t"), lit(1L).as("delta")),
            struct(col("en").as("t"), lit(-1L).as("delta")))).as("b"))
          .select(col("b.t").as("t"), col("b.delta").as("delta"))
          .withColumn("band", expr("t div 86400000000"))
        val wIn = W.partitionBy("band").orderBy(col("t"), col("delta"))
        val inb = bounds
          .withColumn("p", sum("delta").over(wIn.rowsBetween(
            Long.MinValue, 0)))
          .withColumn("nt", lead("t", 1).over(wIn))
        val bstat = bounds.groupBy("band")
          .agg(sum("delta").as("bd"), min("t").as("first_t"),
            max("t").as("last_t"))
        val wB = W.orderBy("band")
        val bands = bstat
          .withColumn("base", coalesce(sum("bd").over(
            wB.rowsBetween(Long.MinValue, -1)), lit(0L)))
          .withColumn("carry", col("base") + col("bd"))
          .withColumn("next_first", lead("first_t", 1).over(wB))
          .localCheckpoint(true)
        val inSeg = inb.join(broadcast(bands.select("band", "base")), "band")
          .filter(col("nt").isNotNull)
          .agg(coalesce(sum((col("nt") - col("t")) *
            (col("base") + col("p"))), lit(0L)).as("s1"))
        val brSeg = bands.filter(col("next_first").isNotNull)
          .agg(coalesce(sum((col("next_first") - col("last_t")) *
            col("carry")), lit(0L)).as("s2"))
        val span = bounds.agg((max("t") - min("t")).as("span_us"))
        inSeg.crossJoin(brSeg).crossJoin(broadcast(span))
          .crossJoin(broadcast(sstat))
          .select(col("n_sessions"), col("total_dur_us"),
            (col("s1") + col("s2")).as("integral_us"),
            ((col("s1") + col("s2")) === col("total_dur_us"))
              .as("is_consistent"),
            ((col("s1") + col("s2")).cast("double") /
              col("span_us").cast("double")).as("avg_concurrency"),
            (col("span_us").cast("double") / lit(3600000000.0))
              .as("span_hours"))
          .withColumn("lambda_per_hour",
            col("n_sessions").cast("double") / col("span_hours"))
          .withColumn("w_hours_little",
            col("avg_concurrency") / col("lambda_per_hour"))
          .withColumn("w_hours_measured",
            col("total_dur_us").cast("double") /
              col("n_sessions").cast("double") / lit(3600000000.0))
          .select("n_sessions", "total_dur_us", "integral_us",
            "is_consistent", "avg_concurrency", "span_hours",
            "lambda_per_hour", "w_hours_little", "w_hours_measured")
      },
      """WITH dgrain AS (SELECT DISTINCT user_id, ts FROM events),
        |t0 AS (
        |  SELECT user_id, ts,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts) >= 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM dgrain),
        |s AS (
        |  SELECT user_id, ts,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM t0),
        |sess AS (
        |  SELECT epoch_us(MIN(ts)) AS st,
        |         epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS en
        |  FROM s GROUP BY user_id, sid),
        |sstat AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |         CAST(SUM(en - st) AS BIGINT) AS total_dur_us FROM sess),
        |b AS (
        |  SELECT st AS t, CAST(1 AS BIGINT) AS delta FROM sess
        |  UNION ALL
        |  SELECT en, CAST(-1 AS BIGINT) FROM sess),
        |bb AS (SELECT t, delta, t // 86400000000 AS band FROM b),
        |inb AS (SELECT band, t, delta,
        |          CAST(SUM(delta) OVER w AS BIGINT) AS p,
        |          lead(t) OVER (PARTITION BY band ORDER BY t, delta) AS nt
        |        FROM bb
        |        WINDOW w AS (PARTITION BY band ORDER BY t, delta
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |bst AS (SELECT band, CAST(SUM(delta) AS BIGINT) AS bd,
        |          MIN(t) AS first_t, MAX(t) AS last_t
        |        FROM bb GROUP BY 1),
        |bands AS (SELECT band,
        |            COALESCE(CAST(SUM(bd) OVER (ORDER BY band
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              AS BIGINT), 0) AS base,
        |            COALESCE(CAST(SUM(bd) OVER (ORDER BY band
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT), 0) AS carry,
        |            last_t,
        |            lead(first_t) OVER (ORDER BY band) AS next_first
        |          FROM bst),
        |s1 AS (SELECT COALESCE(CAST(SUM((i.nt - i.t) *
        |           (bands.base + i.p)) AS BIGINT), 0) AS s1
        |       FROM inb i JOIN bands USING (band)
        |       WHERE i.nt IS NOT NULL),
        |s2 AS (SELECT COALESCE(CAST(SUM((next_first - last_t) * carry)
        |           AS BIGINT), 0) AS s2
        |       FROM bands WHERE next_first IS NOT NULL),
        |sp AS (SELECT CAST(MAX(t) - MIN(t) AS BIGINT) AS span_us FROM bb),
        |e AS (SELECT n_sessions, total_dur_us, s1 + s2 AS integral_us,
        |        (s1 + s2) = total_dur_us AS is_consistent,
        |        CAST(s1 + s2 AS DOUBLE) / CAST(span_us AS DOUBLE)
        |          AS avg_concurrency,
        |        CAST(span_us AS DOUBLE) / 3600000000.0 AS span_hours
        |      FROM s1, s2, sp, sstat)
        |SELECT n_sessions, total_dur_us, integral_us, is_consistent,
        |       avg_concurrency, span_hours,
        |       CAST(n_sessions AS DOUBLE) / span_hours AS lambda_per_hour,
        |       avg_concurrency /
        |         (CAST(n_sessions AS DOUBLE) / span_hours)
        |         AS w_hours_little,
        |       CAST(total_dur_us AS DOUBLE) / CAST(n_sessions AS DOUBLE)
        |         / 3600000000.0 AS w_hours_measured
        |FROM e""".stripMargin),

    // Behavioral bot census — the abuse-filtering pass a training-data
    // pipeline runs before user-generated content enters a corpus: per
    // user, event volume, daily rate, hour-of-day coverage (humans
    // sleep; 24/7 spread is the classic automation tell) and the exact
    // discrete median inter-arrival gap, flagged bot when rate and
    // coverage both exceed thresholds. Top-20 most bot-like by rate.
    // Everything is exact integer arithmetic (gaps in µs, hours as
    // distinct counts, the median percentile_disc-style at rank
    // ⌈n/2⌉) plus one rate division — deterministic end to end. Scale
    // shape: one lag window and one median window, both partitioned BY
    // USER; the census is a keyed agg; the cut is a TakeOrdered heap.
    "events_bot_score" -> QuerySpec(
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts"),
            expr("ts div 86400000000000").as("day"),
            expr("(ts div 3600000000000) % 24").as("hod"))
        val gaps = ev
          .withColumn("prev", lag("ts", 1)
            .over(W.partitionBy("user_id").orderBy("ts")))
          .withColumn("gap", expr("(ts - prev) div 1000")) // exact µs
          .filter(col("gap").isNotNull)
        val wmed = W.partitionBy("user_id").orderBy("gap", "ts")
        val med = gaps
          .withColumn("rn", row_number().over(wmed))
          .withColumn("cnt", count(lit(1)).over(W.partitionBy("user_id")))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("user_id"),
            col("gap").cast("long").as("median_gap_us"))
        val census = ev.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            countDistinct("day").as("days_active"),
            countDistinct("hod").as("hours_of_day"))
          .withColumn("rate_per_day", col("n_events").cast("double") /
            col("days_active").cast("double"))
        census.join(med, "user_id")
          .withColumn("is_bot",
            col("rate_per_day") >= lit(4.0) && col("hours_of_day") >= 20)
          .orderBy(desc("rate_per_day"), asc("user_id")).limit(20)
          .select("user_id", "n_events", "days_active", "hours_of_day",
            "rate_per_day", "median_gap_us", "is_bot")
      },
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         epoch_us(ts) // 86400000000 AS day,
        |         (epoch_us(ts) // 3600000000) % 24 AS hod
        |  FROM events),
        |gaps AS (
        |  SELECT user_id, us,
        |         us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |           AS gap
        |  FROM ev),
        |med AS (
        |  SELECT user_id, CAST(gap AS BIGINT) AS median_gap_us
        |  FROM (
        |    SELECT user_id, gap, row_number() OVER (PARTITION BY user_id
        |             ORDER BY gap, us) AS rn,
        |           COUNT(*) OVER (PARTITION BY user_id) AS cnt
        |    FROM gaps WHERE gap IS NOT NULL)
        |  WHERE rn = (cnt + 1) // 2),
        |census AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |         CAST(COUNT(DISTINCT day) AS BIGINT) AS days_active,
        |         CAST(COUNT(DISTINCT hod) AS BIGINT) AS hours_of_day
        |  FROM ev GROUP BY 1),
        |sc AS (
        |  SELECT c.user_id, n_events, days_active, hours_of_day,
        |         CAST(n_events AS DOUBLE) / CAST(days_active AS DOUBLE)
        |           AS rate_per_day,
        |         median_gap_us
        |  FROM census c JOIN med m ON c.user_id = m.user_id)
        |SELECT user_id, n_events, days_active, hours_of_day, rate_per_day,
        |       median_gap_us,
        |       rate_per_day >= 4.0 AND hours_of_day >= 20 AS is_bot
        |FROM sc ORDER BY rate_per_day DESC, user_id LIMIT 20""".stripMargin),

    // DAU / WAU / MAU per day — the engagement triple every product
    // dashboard leads with. Rolling DISTINCT is the trap here: a naive
    // "distinct users over a 30-day window" is a per-day re-scan (or an
    // unbounded set-union window); the scalable form EXPANDS each
    // (user, active-day) pair to the constant set of report days it
    // supports (7 for WAU, 30 for MAU) and re-counts distinct per day —
    // constant fan-out, plain keyed aggs, no window at all. Day indices
    // are exact integer ns divisions; counts exact. Report days are the
    // days with any activity (inner join on DAU). Scale shape: one
    // distinct on (user, day) — the only real shuffle — then two
    // constant-fan-out explodes into map-side-combined counts.
    "events_dau_wau_mau" -> QuerySpec(
      (s, d) => {
        val ud = Tables.events(s, d)
          .select(col("user_id"), expr("ts div 86400000000000").as("day"))
          .distinct()
        val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
        def rolling(span: Int, name: String) = ud
          .select(col("user_id"),
            explode(sequence(col("day"), col("day") + lit(span - 1)))
              .as("rday"))
          .groupBy("rday").agg(countDistinct("user_id").as(name))
        dau
          .join(rolling(7, "wau"), dau("day") === col("rday"))
          .drop("rday")
          .join(rolling(30, "mau"), dau("day") === col("rday"))
          .drop("rday")
          .select("day", "dau", "wau", "mau")
          .orderBy("day")
      },
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
        |        FROM ud GROUP BY 1),
        |wau AS (SELECT rday, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        |        FROM (SELECT user_id, day + k.k AS rday
        |              FROM ud, (SELECT unnest(generate_series(0, 6)) AS k) k)
        |        GROUP BY 1),
        |mau AS (SELECT rday, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        |        FROM (SELECT user_id, day + k.k AS rday
        |              FROM ud, (SELECT unnest(generate_series(0, 29)) AS k) k)
        |        GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau, mau.mau
        |FROM dau JOIN wau ON dau.day = wau.rday
        |         JOIN mau ON dau.day = mau.rday
        |ORDER BY day""".stripMargin),

    // Peak concurrency via the classic sweep-line (+1 at session start,
    // −1 at session end, running-sum max) — "how many sessions were live
    // at once, per day", the capacity-planning number. The textbook
    // sweep needs ONE GLOBAL ordered prefix sum, which is the
    // single-partition trap at scale; this runs it BANDED (the
    // customer_abc_classes pattern): per-DAY partitioned prefix sums
    // (keyed window) plus a cumulative carry-in offset from a tiny
    // per-band delta table (the only unpartitioned window — #days
    // rows). Sessions are 30-min-gap session_windows per user, intervals
    // half-open [start, last+gap) with ends sorting before starts at
    // ties, so back-to-back sessions never double-count; every quantity
    // is an exact integer. The oracle rebuilds the identical sessions
    // from lag-gap windows and the identical banded sweep.
    "events_peak_concurrency" -> QuerySpec(
      (s, d) => {
        val sess = Tables.eventsWithTs(s, d)
          .groupBy(session_window(col("ts_utc"), "30 minutes").as("w"),
            col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start").as("st"), col("w.end").as("en"))
        val bounds = sess.select(explode(array(
            struct(col("st").as("t"), lit(1L).as("delta")),
            struct(col("en").as("t"), lit(-1L).as("delta")))).as("b"))
          .select(col("b.t").as("t"), col("b.delta").as("delta"))
          .withColumn("band", expr("unix_micros(t) div 86400000000"))
        graft.ops.Banded.running(bounds, Seq("t", "delta"),
            Seq("delta" -> "live"), inclusive = true)
          .groupBy("band")
          .agg(max("live").as("peak"), count(lit(1)).as("n_bounds"))
          .orderBy("band")
      },
      """WITH dgrain AS (SELECT DISTINCT user_id, ts FROM events),
        |t0 AS (
        |  SELECT user_id, ts,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts) >= 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM dgrain),
        |s AS (
        |  SELECT user_id, ts,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM t0),
        |sess AS (
        |  SELECT MIN(ts) AS st, MAX(ts) + INTERVAL 30 MINUTE AS en
        |  FROM s GROUP BY user_id, sid),
        |b AS (
        |  SELECT st AS t, CAST(1 AS BIGINT) AS delta FROM sess
        |  UNION ALL
        |  SELECT en, CAST(-1 AS BIGINT) FROM sess),
        |bb AS (SELECT t, delta, epoch_us(t) // 86400000000 AS band FROM b),
        |inb AS (SELECT band, delta,
        |          CAST(SUM(delta) OVER (PARTITION BY band
        |            ORDER BY t, delta
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS p
        |        FROM bb),
        |bt AS (SELECT band, CAST(SUM(delta) AS BIGINT) AS bd
        |       FROM bb GROUP BY 1),
        |base AS (SELECT band, COALESCE(CAST(SUM(bd) OVER (ORDER BY band
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) AS base
        |         FROM bt)
        |SELECT i.band, CAST(MAX(base.base + i.p) AS BIGINT) AS peak,
        |       CAST(COUNT(*) AS BIGINT) AS n_bounds
        |FROM inb i JOIN base USING (band)
        |GROUP BY i.band ORDER BY band""".stripMargin),

    // SLIDING windows through the STREAMING engine in append mode: 1-hour
    // windows sliding every 15 minutes (each event lands in exactly 4
    // overlapping windows), watermark 10 minutes — the moving-average
    // shape of every live dashboard, released to the sink only once the
    // watermark passes a window's END (same boundary contract as
    // events_stream_append_windows; the batch oracle enumerates each
    // event's 4 windows with a literal 0..3 offset join and reproduces
    // the released set exactly). Sums stay exact DECIMAL. Scale shape:
    // the window operator multiplies state, not input — state is bounded
    // by (watermark horizon / slide) × groups, and the 4× row expansion
    // happens inside the stateful operator, never as a join.
    "events_stream_sliding_windows" -> QuerySpec(
      (s, d) => {
        val stream = Tables.eventsStreamSource(s, d)
          .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
          .withColumn("value", col("value").cast("decimal(25,6)"))
        val agg = stream.withWatermark("ts_utc", "10 minutes")
          .groupBy(window(col("ts_utc"), "1 hour", "15 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), sum("value").as("total"))
          .select(col("window.start").as("wstart"), col("event_type"),
            col("n"), col("total"))
        drainToMemory(s, "events_stream_sliding_windows", agg, "append",
          noDataBatches = true)
          .select(date_format(col("wstart"), fmt).as("wstart"),
            col("event_type"), col("n"),
            col("total").cast("double").as("total"))
          .orderBy("wstart", "event_type")
      },
      """WITH wm AS (SELECT MAX(epoch_ms(ts)) - 600000 AS w FROM events),
        |x AS (SELECT time_bucket(INTERVAL '15 minutes', ts)
        |               - k.k * INTERVAL '15 minutes' AS wstart,
        |             event_type, value
        |      FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k)
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM x, wm
        |GROUP BY x.wstart, event_type, wm.w
        |HAVING epoch_ms(x.wstart) + 3600000 <= wm.w
        |ORDER BY wstart, event_type""".stripMargin),

    // CHAINED streaming aggregations (Spark 3.4+/4 multiple stateful
    // operators): a 15-minute tumbling window count/sum re-aggregated
    // INSIDE the same streaming query into hourly rollups by windowing
    // over the inner window column — the two-tier pre-aggregation every
    // metrics pipeline wants (fine-grain recent, coarse-grain released),
    // previously impossible without a second query over an intermediate
    // sink. Append mode end-to-end: the inner operator releases a
    // 15-min window once the watermark (max event time − 10 min) passes
    // its end; the outer operator aggregates those released rows and
    // releases an hour once the watermark passes the HOUR end — by which
    // point all four inner windows have necessarily arrived, so every
    // released hour is complete and the batch oracle reproduces the
    // released set exactly (same boundary as events_stream_append_
    // windows). Sums stay exact DECIMAL at both tiers. Scale shape: the
    // outer operator's input is the inner's output — 4 rows per
    // (hour, type) — so tier 2 is ~free; state is bounded by watermark.
    "events_stream_chained_agg" -> QuerySpec(
      (s, d) => {
        val stream = Tables.eventsStreamSource(s, d)
          .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
          .withColumn("value", col("value").cast("decimal(25,6)"))
        val inner = stream.withWatermark("ts_utc", "10 minutes")
          .groupBy(window(col("ts_utc"), "15 minutes").as("w15"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), sum("value").as("total"))
        val outer = inner
          .groupBy(window(col("w15"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_windows"), sum(col("n")).as("n"),
            sum(col("total")).as("total"))
          .select(col("window.start").as("wstart"), col("event_type"),
            col("n_windows"), col("n"), col("total"))
        drainToMemory(s, "events_stream_chained_agg", outer, "append",
          noDataBatches = true)
          .select(date_format(col("wstart"), fmt).as("wstart"),
            col("event_type"), col("n_windows"), col("n"),
            col("total").cast("double").as("total"))
          .orderBy("wstart", "event_type")
      },
      """WITH wm AS (SELECT MAX(epoch_ms(ts)) - 600000 AS w FROM events),
        |i AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
        |             time_bucket(INTERVAL '15 minutes', ts) AS w15,
        |             event_type, value
        |      FROM events),
        |g AS (SELECT h, w15, event_type, COUNT(*) AS n,
        |             SUM(CAST(value AS DECIMAL(25,6))) AS total
        |      FROM i GROUP BY 1, 2, 3)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_windows,
        |       CAST(SUM(n) AS BIGINT) AS n,
        |       CAST(SUM(total) AS DOUBLE) AS total
        |FROM g, wm
        |GROUP BY h, event_type, wm.w
        |HAVING epoch_ms(h) + 3600000 <= wm.w
        |ORDER BY wstart, event_type""".stripMargin),

    // Temporal train/embargo/test split — the time-series cross-
    // validation cut (de Prado's purged/embargoed split, single-fold
    // form): train on the first 70% of the observation span, hold out a
    // 24-hour EMBARGO band, test on the remainder — the embargo keeps
    // label/feature windows that straddle the boundary from leaking
    // future into train. Boundaries are exact integer µs arithmetic
    // (t1 = lo + 7·(hi−lo) div 10; both engines compute on epoch-µs so
    // the div rounds identically); the census per split (events, users,
    // actual span) is all exact integers. Scale shape: one min/max fold,
    // then ONE pass assigning splits via two comparisons against
    // broadcast scalars — partition-prunable when the table is laid out
    // by time, which is exactly how a production event store runs this.
    "dataset_temporal_split_embargo" -> QuerySpec(
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("tu", expr("ts div 1000")) // exact ns → µs
        val mm = ev.agg(min("tu").as("lo"), max("tu").as("hi"))
          .select(col("lo"), col("hi"),
            (col("lo") + expr("((hi - lo) * 7) div 10")).as("t1"))
          .select(col("t1"), (col("t1") + lit(86400000000L)).as("t2"))
        ev.crossJoin(broadcast(mm))
          .withColumn("split",
            when(col("tu") < col("t1"), "1_train")
              .when(col("tu") < col("t2"), "2_embargo")
              .otherwise("3_test"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_events"),
            countDistinct("user_id").as("n_users"),
            min("tu").as("t_lo_us"), max("tu").as("t_hi_us"))
          .orderBy("split")
      },
      """WITH b AS (
        |  SELECT t1, t1 + 86400000000 AS t2 FROM (
        |    SELECT lo + ((hi - lo) * 7) // 10 AS t1 FROM (
        |      SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi
        |      FROM events))),
        |a AS (
        |  SELECT CASE WHEN epoch_us(ts) < t1 THEN '1_train'
        |              WHEN epoch_us(ts) < t2 THEN '2_embargo'
        |              ELSE '3_test' END AS split,
        |         user_id, epoch_us(ts) AS tu
        |  FROM events, b)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |       MIN(tu) AS t_lo_us, MAX(tu) AS t_hi_us
        |FROM a GROUP BY 1 ORDER BY split""".stripMargin),

    // Two-proportion z-test on a deterministic A/B split (variant =
    // user_id parity): did variant A convert at a different rate than
    // B? The exposure unit is the ACTIVE USER-DAY and conversion is "the
    // day contains a purchase" — the grain that keeps the rate strictly
    // inside (0, 1) at any horizon (every long-lived user eventually
    // purchases ONCE, which degenerates a per-user rate to 1 and the
    // z denominator to 0). The experimentation readout every event
    // pipeline serves — per-variant exposed/converted counts, conversion
    // rates, absolute lift, pooled rate, and the z statistic
    // (p_a−p_b)/√(p̂(1−p̂)(1/n_a+1/n_b)). Every input is an exact
    // integer (per-user conversion flags via max(), variant counts via
    // conditional sums — ONE keyed agg + ONE global fold, no join), and
    // the z chain is written in the identical operation order on both
    // engines (each ratio one division, one correctly-rounded sqrt), so
    // the single-row verdict hashes bit-identically. Scale: the per-user
    // agg is the only shuffle; the rest is a 1-row computation.
    "events_ab_test_ztest" -> QuerySpec(
      (s, d) => {
        val per = Tables.events(s, d)
          .groupBy(col("user_id"), expr("ts div 86400000000000").as("day"))
          .agg(max(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("conv"))
          .withColumn("va", col("user_id") % 2 === 0)
        def cnt(c: org.apache.spark.sql.Column) =
          sum(when(c, 1L).otherwise(0L))
        def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
        per.agg(
            cnt(col("va")).as("n_a"),
            cnt(!col("va")).as("n_b"),
            sum(when(col("va"), col("conv")).otherwise(0L)).as("x_a"),
            sum(when(!col("va"), col("conv")).otherwise(0L)).as("x_b"))
          // safeDiv throughout: an empty arm (degenerate slice) yields
          // SQL-NULL rates like the oracle's x/0, not an ANSI error
          .withColumn("p_a",
            graft.queries.Analytic.safeDiv(dbl(col("x_a")), dbl(col("n_a"))))
          .withColumn("p_b",
            graft.queries.Analytic.safeDiv(dbl(col("x_b")), dbl(col("n_b"))))
          .withColumn("lift", col("p_a") - col("p_b"))
          .withColumn("p_pool",
            graft.queries.Analytic.safeDiv(dbl(col("x_a") + col("x_b")),
              dbl(col("n_a") + col("n_b"))))
          .withColumn("z", graft.queries.Analytic.safeDiv(col("lift"),
            sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
              (graft.queries.Analytic.safeDiv(lit(1.0), dbl(col("n_a"))) +
                graft.queries.Analytic.safeDiv(lit(1.0), dbl(col("n_b")))))))
          .select("n_a", "n_b", "x_a", "x_b", "p_a", "p_b", "lift",
            "p_pool", "z")
      },
      """WITH per AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |         MAX(CASE WHEN event_type = 'purchase'
        |           THEN 1 ELSE 0 END) AS conv,
        |         user_id % 2 = 0 AS va
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN va THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN NOT va THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN va THEN conv ELSE 0 END) AS BIGINT) AS x_a,
        |    CAST(SUM(CASE WHEN NOT va THEN conv ELSE 0 END) AS BIGINT)
        |      AS x_b
        |  FROM per),
        |p AS (SELECT *,
        |    CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
        |    CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
        |    CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p_pool
        |  FROM c)
        |SELECT n_a, n_b, x_a, x_b, p_a, p_b, p_a - p_b AS lift, p_pool,
        |       (p_a - p_b) / sqrt(p_pool * (1.0 - p_pool) *
        |         (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |         AS z
        |FROM p""".stripMargin),

    // Kaplan-Meier time-to-conversion: the survival curve of "hours from
    // a user's first signup to their first subsequent purchase", with
    // users who never purchase right-CENSORED at the observation horizon
    // (global max event time) — the product-limit estimator behind every
    // conversion-latency dashboard, done honestly (dropping censored
    // users would bias the curve optimistic). All KM inputs are exact
    // integers: durations are epoch-ns `div` one hour, at-risk counts
    // come from one cumulative window over the per-duration census, and
    // each factor (n−d)/n is a single double division. The survivor
    // S(t) = Π factors is the one genuinely ORDER-SENSITIVE float chain,
    // so both engines compute it as the identical LEFT FOLD over the
    // duration-sorted factor array (aggregate(slice) here, list_reduce/
    // list_slice in DuckDB) — never an unordered product aggregate.
    // Scale shape: two keyed per-user aggs + one broadcast horizon; the
    // curve table itself is bounded by the study span in hours (≤ 720
    // here), NOT by user count — the collect_list, the unpartitioned
    // window, and the O(k²) prefix folds all run on that bounded table.
    // Log-rank test between the two user-id-parity A/B arms' time-to-
    // purchase curves — the survival-analysis companion to
    // events_survival_km (KM DESCRIBES one curve; the log-rank test
    // DECIDES whether two arms differ, censoring handled correctly —
    // comparing raw conversion rates would silently discard the
    // censored users). Same cohort construction as the KM query
    // (signup → first purchase ≥ t0, censored at tmax, hour
    // durations); arm = user_id % 2, exactly how real experiment arms
    // hash users. At each death time τ the hypergeometric terms
    // E[d_a] = d·n_a/n and Var = d·(n_a/n)·(1−n_a/n)·(n−d)/(n−1) are
    // doubles from exact BIGINT risk counts, accumulated in a
    // τ-ORDERED fold (the ANOVA discipline); O_a is an exact integer.
    // Risk sets come from ONE bounded θ-join of the death-time grid
    // against the per-arm duration census (calendar² rows — hour
    // domain, never users), so no per-user window exists anywhere.
    "events_logrank_ab" -> QuerySpec(
      (s, d) => {
        val H = 3600000000000L
        val ev = Tables.events(s, d)
        val t0 = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts").as("t0"))
        val tp = ev.filter(col("event_type") === "purchase")
          .join(t0, "user_id").filter(col("ts") >= col("t0"))
          .groupBy("user_id").agg(min("ts").as("tp"))
        val mx = ev.agg(max("ts").as("tmax"))
        val su = t0.join(tp, Seq("user_id"), "left")
          .crossJoin(broadcast(mx))
          .select(expr("user_id % 2").as("grp"),
            when(col("tp").isNotNull, expr(s"(tp - t0) div $H"))
              .otherwise(expr(s"(tmax - t0) div $H")).as("dur_h"),
            col("tp").isNotNull.as("event"))
        // The hour census is the LAST consumer of the per-user table:
        // checkpoint it (bounded: |arms| x |hour domain| rows) so the
        // signup/purchase joins over the events scan run ONCE — before,
        // cens/tots/grid each embedded their own copy of the su subtree
        // (24 parquet scans in the formatted plan; taskTime 55.8 s at
        // sf0.1). Arm totals are derived from the census itself
        // (n_tot = Σ n_here per arm — identical to count(*) over su).
        val cens = su.groupBy("grp", "dur_h")
          .agg(count(lit(1)).as("n_here"),
            sum(when(col("event"), 1L).otherwise(0L)).as("d"))
          .localCheckpoint(true)
        val tots = cens.groupBy("grp").agg(sum("n_here").as("n_tot"))
        val grid = cens.groupBy("dur_h").agg(sum("d").as("dt"))
          .filter(col("dt") > 0).select(col("dur_h").as("tau"))
        val perArm = grid
          .crossJoin(broadcast(tots))
          .join(broadcast(cens.withColumnRenamed("grp", "g2")),
            col("g2") === col("grp") && col("dur_h") <= col("tau"),
            "left")
          .groupBy("tau", "grp", "n_tot").agg(
            sum(when(col("dur_h") < col("tau"), col("n_here"))
              .otherwise(0L)).as("lt"),
            sum(when(col("dur_h") === col("tau"), col("d"))
              .otherwise(0L)).as("dd"))
          .select(col("tau"), col("grp"),
            (col("n_tot") - coalesce(col("lt"), lit(0L))).as("nr"),
            coalesce(col("dd"), lit(0L)).as("dd"))
        val byTau = perArm.groupBy("tau").agg(
          max(when(col("grp") === 0, col("nr"))).as("na"),
          max(when(col("grp") === 0, col("dd"))).as("da"),
          max(when(col("grp") === 1, col("nr"))).as("nb"),
          max(when(col("grp") === 1, col("dd"))).as("db"))
        val naD = col("na").cast("double")
        val nD = (col("na") + col("nb")).cast("double")
        val dD = (col("da") + col("db")).cast("double")
        val terms = byTau.select(col("tau"), col("da"),
          (dD * naD / nD).as("te"),
          when(col("na") + col("nb") > 1,
            dD * (naD / nD) * (lit(1.0) - naD / nD) *
              ((col("na") + col("nb")).cast("double") - dD) /
              ((col("na") + col("nb")).cast("double") - lit(1.0)))
            .otherwise(lit(0.0)).as("tv"))
        val folded = terms.agg(
            sum("da").as("o_a"),
            sort_array(collect_list(struct(col("tau"), col("te"),
              col("tv")))).as("a"))
          .select(col("o_a"),
            expr("aggregate(a, 0D, (acc, x) -> acc + x.te)").as("e_a"),
            expr("aggregate(a, 0D, (acc, x) -> acc + x.tv)").as("v_a"))
        // pivot values PINNED to the arm domain {0,1}: the output schema
        // must not depend on which arms the fixture happens to populate
        // (and the explicit list skips pivot's extra distinct pass);
        // safeDiv: v_a=0 on a degenerate grid → SQL-NULL like the oracle
        folded.crossJoin(broadcast(tots.groupBy()
            .pivot("grp", Seq(0, 1))
            .agg(first("n_tot")).withColumnRenamed("0", "n_a")
            .withColumnRenamed("1", "n_b")))
          .select(col("n_a"), col("n_b"), col("o_a"), col("e_a"),
            col("v_a"),
            graft.queries.Analytic.safeDiv(
              (col("o_a").cast("double") - col("e_a")) *
                (col("o_a").cast("double") - col("e_a")), col("v_a"))
              .as("logrank_chi2"))
      },
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |            FROM events),
        |t0 AS (SELECT user_id, MIN(us) AS t0 FROM ev
        |       WHERE event_type = 'signup' GROUP BY 1),
        |tp AS (SELECT e.user_id, MIN(us) AS tp
        |       FROM ev e JOIN t0 USING (user_id)
        |       WHERE event_type = 'purchase' AND us >= t0 GROUP BY 1),
        |mx AS (SELECT MAX(us) AS tmax FROM ev),
        |su AS (SELECT t0.user_id % 2 AS grp,
        |              CASE WHEN tp.tp IS NOT NULL
        |                   THEN (tp.tp - t0.t0) // 3600000000
        |                   ELSE (mx.tmax - t0.t0) // 3600000000
        |              END AS dur_h,
        |              tp.tp IS NOT NULL AS event
        |       FROM t0 LEFT JOIN tp USING (user_id), mx),
        |cens AS (SELECT grp, dur_h, CAST(COUNT(*) AS BIGINT) AS n_here,
        |      CAST(SUM(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
        |        AS d
        |    FROM su GROUP BY 1, 2),
        |tots AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_tot
        |         FROM su GROUP BY 1),
        |grid AS (SELECT dur_h AS tau FROM cens
        |         GROUP BY 1 HAVING SUM(d) > 0),
        |perarm AS (SELECT tau, tots.grp,
        |      tots.n_tot - COALESCE(SUM(CASE WHEN cens.dur_h < tau
        |        THEN cens.n_here ELSE 0 END), 0) AS nr,
        |      COALESCE(SUM(CASE WHEN cens.dur_h = tau
        |        THEN cens.d ELSE 0 END), 0) AS dd
        |    FROM grid CROSS JOIN tots
        |    LEFT JOIN cens ON cens.grp = tots.grp
        |      AND cens.dur_h <= tau
        |    GROUP BY 1, 2, tots.n_tot),
        |bytau AS (SELECT tau,
        |      MAX(CASE WHEN grp = 0 THEN nr END) AS na,
        |      MAX(CASE WHEN grp = 0 THEN dd END) AS da,
        |      MAX(CASE WHEN grp = 1 THEN nr END) AS nb,
        |      MAX(CASE WHEN grp = 1 THEN dd END) AS db
        |    FROM perarm GROUP BY 1),
        |terms AS (SELECT tau, da,
        |      CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE)
        |        / CAST(na + nb AS DOUBLE) AS te,
        |      CASE WHEN na + nb > 1 THEN
        |        CAST(da + db AS DOUBLE)
        |          * (CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |          * (1.0 - CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |          * (CAST(na + nb AS DOUBLE) - CAST(da + db AS DOUBLE))
        |          / (CAST(na + nb AS DOUBLE) - 1.0)
        |      ELSE 0.0 END AS tv
        |    FROM bytau),
        |folded AS (SELECT
        |      CAST(SUM(da) AS BIGINT) AS o_a,
        |      list_reduce(list_prepend(0.0, list(te ORDER BY tau)),
        |        (a, b) -> a + b) AS e_a,
        |      list_reduce(list_prepend(0.0, list(tv ORDER BY tau)),
        |        (a, b) -> a + b) AS v_a
        |    FROM terms)
        |SELECT (SELECT n_tot FROM tots WHERE grp = 0) AS n_a,
        |       (SELECT n_tot FROM tots WHERE grp = 1) AS n_b,
        |       o_a, e_a, v_a,
        |       (CAST(o_a AS DOUBLE) - e_a) * (CAST(o_a AS DOUBLE) - e_a)
        |         / v_a AS logrank_chi2
        |FROM folded""".stripMargin),

    "events_survival_km" -> QuerySpec(
      (s, d) => {
        val H = 3600000000000L // 1 hour in ns
        val ev = Tables.events(s, d)
        val t0 = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts").as("t0"))
        val tp = ev.filter(col("event_type") === "purchase")
          .join(t0, "user_id").filter(col("ts") >= col("t0"))
          .groupBy("user_id").agg(min("ts").as("tp"))
        val mx = ev.agg(max("ts").as("tmax"))
        val su = t0.join(tp, Seq("user_id"), "left")
          .crossJoin(broadcast(mx))
          .select(
            when(col("tp").isNotNull, expr(s"(tp - t0) div $H"))
              .otherwise(expr(s"(tmax - t0) div $H")).as("dur_h"),
            col("tp").isNotNull.as("event"))
        // Checkpoint the hour census (bounded by the hour domain) so the
        // signup/purchase joins run once — g and tot each embedded a full
        // copy of the su subtree (12 parquet scans in the formatted
        // plan). n_tot = Σ n_here over the census ≡ count(*) over su
        // (coalesce only covers the empty-census case, where the total
        // joins against zero risk rows either way).
        val g = su.groupBy("dur_h")
          .agg(count(lit(1)).as("n_here"),
            sum(when(col("event"), 1L).otherwise(0L)).as("d"))
          .localCheckpoint(true)
        val wcum = org.apache.spark.sql.expressions.Window
          .orderBy("dur_h").rowsBetween(Long.MinValue, 0)
        val tot = g.agg(coalesce(sum("n_here"), lit(0L)).as("n_tot"))
        val risk = g.crossJoin(broadcast(tot))
          .withColumn("n_risk",
            col("n_tot") - (sum(col("n_here")).over(wcum) - col("n_here")))
          .filter(col("d") > 0)
          .select(col("dur_h"), col("n_risk"), col("d"),
            ((col("n_risk") - col("d")).cast("double") /
              col("n_risk").cast("double")).as("factor"))
        risk
          .agg(sort_array(collect_list(struct(
            col("dur_h"), col("n_risk"), col("d"), col("factor")))).as("a"))
          .select(col("a"), posexplode(col("a")).as(Seq("i", "r")))
          .select(col("r.dur_h").as("dur_h"),
            col("r.n_risk").as("n_at_risk"), col("r.d").as("d_events"),
            col("r.factor").as("factor"),
            aggregate(
              transform(slice(col("a"), lit(1), col("i") + 1),
                x => x.getField("factor")),
              lit(1.0), (p, f) => p * f).as("survival"))
          .orderBy("dur_h")
      },
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |            FROM events),
        |t0 AS (SELECT user_id, MIN(us) AS t0 FROM ev
        |       WHERE event_type = 'signup' GROUP BY 1),
        |tp AS (SELECT e.user_id, MIN(us) AS tp
        |       FROM ev e JOIN t0 USING (user_id)
        |       WHERE event_type = 'purchase' AND us >= t0 GROUP BY 1),
        |mx AS (SELECT MAX(us) AS tmax FROM ev),
        |su AS (SELECT CASE WHEN tp.tp IS NOT NULL
        |                   THEN (tp.tp - t0.t0) // 3600000000
        |                   ELSE (mx.tmax - t0.t0) // 3600000000 END AS dur_h,
        |              tp.tp IS NOT NULL AS event
        |       FROM t0 LEFT JOIN tp USING (user_id), mx),
        |g AS (SELECT dur_h, CAST(COUNT(*) AS BIGINT) AS n_here,
        |             CAST(SUM(CASE WHEN event THEN 1 ELSE 0 END)
        |               AS BIGINT) AS d
        |      FROM su GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM su),
        |risk AS (SELECT dur_h, d,
        |           n_tot - (CAST(SUM(n_here) OVER (ORDER BY dur_h
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS BIGINT) - n_here) AS n_risk
        |         FROM g, tot),
        |k AS (SELECT dur_h, n_risk, d,
        |        CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
        |      FROM risk WHERE d > 0),
        |arr AS (SELECT list(struct_pack(dur_h := dur_h, n_risk := n_risk,
        |                d := d, factor := factor) ORDER BY dur_h) AS a
        |        FROM k)
        |SELECT a[i].dur_h AS dur_h, a[i].n_risk AS n_at_risk,
        |       a[i].d AS d_events, a[i].factor AS factor,
        |       list_reduce(list_transform(list_slice(a, 1, i),
        |         x -> x.factor), (p, f) -> p * f) AS survival
        |FROM arr, UNNEST(generate_series(1, len(a))) AS t(i)
        |ORDER BY dur_h""".stripMargin),

    // MATCH_RECOGNIZE-style sequence pattern matching — the CEP primitive
    // SQL:2016 MATCH_RECOGNIZE and Flink CEP expose, over each user's
    // timeline encoded as a code string (one char per event: v/c/p/s/e,
    // time-ordered by the same (ts, event_id, event_type) total order the
    // trigram miner uses). The "browse-then-buy" pattern `[vc]+p` — one or
    // more views/clicks completed by a purchase — is counted with
    // non-overlapping leftmost-greedy regex semantics, which is exactly
    // MATCH_RECOGNIZE's AFTER MATCH SKIP PAST LAST ROW; purchases not
    // preceded by browsing are the direct-buy remainder, and the longest
    // uninterrupted browse run is the dwell-depth census. Java regex and
    // DuckDB's RE2 agree on leftmost-greedy for this lookaround-free
    // pattern class, and all outputs are integer string arithmetic — no
    // floats cross the engine boundary. Scale: ONE keyed agg assembles
    // each user's sequence (bounded by that user's event count — the
    // sessionize-then-mine memory contract; burst users would first be
    // split by session_window), then the regex scan is per-row linear
    // work with no further shuffle.
    "events_pattern_match_cep" -> QuerySpec(
      (s, d) => {
        val seqd = Tables.events(s, d)
          .groupBy("user_id")
          .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))).as("evs"))
          .select(col("user_id"),
            concat_ws("", transform(col("evs"),
              e => substring(e.getField("event_type"), 1, 1))).as("seq"))
        seqd
          .select(col("user_id"),
            length(col("seq")).cast("long").as("n_events"),
            (length(col("seq")) -
              length(regexp_replace(col("seq"), "p", "")))
              .cast("long").as("n_purchases"),
            size(regexp_extract_all(col("seq"), lit("[vc]+p"), lit(0)))
              .cast("long").as("n_browse_buy"),
            coalesce(array_max(transform(
                regexp_extract_all(col("seq"), lit("[vc]+"), lit(0)),
                m => length(m))), lit(0))
              .cast("long").as("max_browse_run"))
          .withColumn("n_direct_buy",
            col("n_purchases") - col("n_browse_buy"))
          .orderBy("user_id")
      },
      duckCepSql),

    // Position-based (U-shaped) multi-touch attribution — the 40/20/40
    // credit model marketing warehouses run next to last-touch: each
    // converting journey's first and last touch get 40% each and the
    // middles split the remaining 20% (solo touch: 100%; two touches:
    // 50/50). A journey is the run of view/click touches since the
    // user's previous purchase, attributed to the purchase that closes
    // it (touch with k purchases before it → purchase #k+1, matched by
    // a semi join on the cumulative-purchase ordinal — no time-range
    // join needed). Credits are exact ppm INTEGERS: middles get
    // floor(200000/(n-2)) each and the first middle absorbs the
    // remainder, so every journey's credit sums to exactly 1,000,000
    // (asserted in the spec) — no rational rounding drifts across
    // engines. Scale: ONE hash Exchange on user_id serves the ordinal
    // window, the (user, journey) windows (same clustering, no second
    // shuffle), and the semi join; the final census is a tiny grouped
    // agg, map-side combined.
    "events_attribution_position_based" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wU = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("cum_p",
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .over(wU))
        val touches = ev.filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), (col("cum_p") + 1).as("conv"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("cum_p").as("conv"))
        val wS = Window.partitionBy("user_id", "conv")
          .orderBy(col("ts"), col("event_id"))
        val g = touches
          .join(purchases, Seq("user_id", "conv"), "left_semi")
          .withColumn("rn", row_number().over(wS))
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy("user_id", "conv")))
        val credit = when(col("n") === 1, 1000000L)
          .when(col("n") === 2, 500000L)
          .when(col("rn") === 1 || col("rn") === col("n"), 400000L)
          .otherwise(expr("200000 div (n - 2)") +
            when(col("rn") === 2, expr("200000 % (n - 2)")).otherwise(0L))
        val position = when(col("n") === 1, "solo")
          .when(col("rn") === 1, "first")
          .when(col("rn") === col("n"), "last")
          .otherwise("middle")
        g.withColumn("credit_ppm", credit)
          .withColumn("position", position)
          .groupBy("event_type", "position")
          .agg(count(lit(1)).as("n_touches"),
            sum("credit_ppm").as("credit_ppm_total"))
          .orderBy("event_type", "position")
      },
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id, ts, event_id, event_type,
        |         CAST(SUM(CASE WHEN event_type = 'purchase'
        |                       THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum_p
        |  FROM events),
        |t AS (SELECT user_id, ts, event_id, event_type,
        |             cum_p + 1 AS conv
        |      FROM ev WHERE event_type IN ('view', 'click')),
        |p AS (SELECT DISTINCT user_id, cum_p AS conv FROM ev
        |      WHERE event_type = 'purchase'),
        |a AS (SELECT t.* FROM t
        |      WHERE EXISTS (SELECT 1 FROM p
        |             WHERE p.user_id = t.user_id AND p.conv = t.conv)),
        |g AS (SELECT user_id, conv, event_type,
        |        row_number() OVER (PARTITION BY user_id, conv
        |          ORDER BY ts, event_id) AS rn,
        |        CAST(COUNT(*) OVER (PARTITION BY user_id, conv)
        |          AS BIGINT) AS n
        |      FROM a)
        |SELECT event_type,
        |       CASE WHEN n = 1 THEN 'solo' WHEN rn = 1 THEN 'first'
        |            WHEN rn = n THEN 'last' ELSE 'middle' END AS position,
        |       CAST(COUNT(*) AS BIGINT) AS n_touches,
        |       CAST(SUM(CASE WHEN n = 1 THEN 1000000
        |                     WHEN n = 2 THEN 500000
        |                     WHEN rn = 1 OR rn = n THEN 400000
        |                     ELSE 200000 // (n - 2)
        |                       + CASE WHEN rn = 2 THEN 200000 % (n - 2)
        |                              ELSE 0 END END) AS BIGINT)
        |         AS credit_ppm_total
        |FROM g GROUP BY 1, 2 ORDER BY event_type, position""".stripMargin),

    // Holt-Winters additive seasonal forecast (period 7) over the daily
    // event-count series — the trend+seasonality upgrade of the SES
    // forecast, and the most demanding instance of the repo's
    // identical-left-fold pattern (events_survival_km's aggregate ≡
    // list_reduce): the 11-slot state [level, trend, s1..s7, Σ|err|, n]
    // folds one day at a time with the SAME operation order in both
    // engines, seasonals kept oldest-first and ROTATED (drop head,
    // append new) so no per-slot CASE is needed and the due seasonal is
    // always slot 3. Smoothing constants 1/2, 1/4, 3/4 are exact binary
    // fractions; the update arithmetic is emitted from ONE Scala
    // generator into both dialects (element_at vs 1-indexed [] only), so
    // the chains cannot drift. DuckDB's reduce() has no explicit zero —
    // the init state is PREPENDED as the first list element (all
    // elements are LIST<DOUBLE>, so the accumulator type unifies).
    // Init: level = mean(week 1), trend = (mean(week 2) − mean(week 1))/7,
    // seasonals = week-1 residuals; fold runs from day 8 (assumes a
    // ≥ 15-day span — the fixture covers 30). Output: final state, the
    // in-sample one-step MAE, and the 7-day-ahead forecast
    // ŷ(D+h) = level + h·trend + s[h]. Scale: the daily series is ONE
    // keyed agg (map-side combined); only the |days|-length array — one
    // row per calendar day, bounded by the time span, not the data —
    // passes through the fold.
    "events_forecast_holt_winters" -> QuerySpec(
      (s, d) => {
        val days = Tables.eventsWithTs(s, d)
          .select(to_date(col("ts_utc")).as("day"))
          .groupBy("day").agg(count(lit(1)).as("y"))
        val series = days.agg(min("day").as("d0"), max("day").as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)"))
            .as("day"))
          .join(days, Seq("day"), "left")
          .select(col("day"), coalesce(col("y"), lit(0L)).cast("double")
            .as("y"))
        val init = series
          .agg(sort_array(collect_list(struct(col("day"), col("y"))))
            .as("a"))
          .select(transform(col("a"), e => e.getField("y")).as("ys"))
          // empty fixture: a NULL series (not an empty array) so every
          // derived stat propagates SQL-NULL exactly like the oracle's
          // list() over zero rows
          .withColumn("ys", when(size(col("ys")) > 0, col("ys")))
          .withColumn("lvl0",
            expr("aggregate(slice(ys, 1, 7), 0D, (a, x) -> a + x) / 7.0D"))
          .withColumn("tr0", expr(
            "(aggregate(slice(ys, 8, 7), 0D, (a, x) -> a + x) / 7.0D" +
              " - lvl0) / 7.0D"))
        val upd = hwUpdate(k => s"element_at(acc, $k)", "yv", c => c + "D")
        val zero = "array(lvl0, tr0, " +
          (1 to 7).map(i => s"try_element_at(ys, $i) - lvl0")
            .mkString(", ") + ", 0D, 0D)"
        // greatest(...,0): a sub-8-day series folds zero days instead of
        // passing slice() a negative length
        val st = init.select(col("ys"),
          expr(s"""aggregate(slice(ys, 8, greatest(size(ys) - 7, 0)), $zero,
                  (acc, yv) -> array(${upd.mkString(", ")}))""").as("st"))
        val outCols = Seq(
          size(col("ys")).cast("long").as("n_days"),
          expr("element_at(st, 1)").as("level"),
          expr("element_at(st, 2)").as("trend"),
          // safeDiv-shaped: zero folded days -> SQL-NULL MAE
          expr("CASE WHEN element_at(st, 11) <> 0D THEN " +
            "element_at(st, 10) / element_at(st, 11) END")
            .as("mae_one_step")) ++
          (1 to 7).map(h => expr(
            s"element_at(st, 1) + ${h}.0D * element_at(st, 2)" +
              s" + element_at(st, ${2 + h})").as(s"f$h"))
        st.select(outCols: _*)
      },
      {
        val upd = hwUpdate(k => s"acc[$k]", "x[1]", identity)
        s"""WITH dd AS (SELECT CAST(ts AS DATE) AS day,
           |         COUNT(*) AS y FROM events GROUP BY 1),
           |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM dd),
           |cal AS (SELECT CAST(unnest(generate_series(d0, d1,
           |         INTERVAL 1 DAY)) AS DATE) AS day FROM b),
           |ser AS (SELECT cal.day, CAST(COALESCE(dd.y, 0) AS DOUBLE) AS y
           |        FROM cal LEFT JOIN dd USING (day)),
           |arr AS (SELECT list(y ORDER BY day) AS ys FROM ser),
           |ini AS (SELECT ys,
           |          CASE WHEN ys IS NULL THEN NULL ELSE
           |            list_reduce(list_prepend(0.0, ys[1:7]),
           |              (a, x) -> a + x) / 7.0 END AS lvl0,
           |          CASE WHEN ys IS NULL THEN NULL ELSE
           |            (list_reduce(list_prepend(0.0, ys[8:14]),
           |               (a, x) -> a + x) / 7.0
           |              - list_reduce(list_prepend(0.0, ys[1:7]),
           |               (a, x) -> a + x) / 7.0)
           |              / 7.0 END AS tr0
           |        FROM arr),
           |st AS (SELECT ys, list_reduce(
           |          list_prepend(
           |            [lvl0, tr0, ${(1 to 7)
                            .map(i => s"ys[$i] - lvl0").mkString(", ")},
           |             0.0, 0.0],
           |            list_transform(ys[8:], y -> [y])),
           |          (acc, x) -> [${upd.mkString(",\n             ")}])
           |          AS st
           |        FROM ini)
           |SELECT CAST(len(ys) AS BIGINT) AS n_days,
           |       st[1] AS level, st[2] AS trend,
           |       CASE WHEN st[11] <> 0.0
           |            THEN st[10] / st[11] END AS mae_one_step,
           |       ${(1 to 7).map(h =>
                      s"st[1] + $h.0 * st[2] + st[${2 + h}] AS f$h")
                      .mkString(",\n       ")}
           |FROM st""".stripMargin
      }),

    // The CEP pattern as a STREAMING state machine: the same `[vc]+p`
    // browse-then-buy census as events_pattern_match_cep, folded per
    // user by mapGroupsWithState over >= 3 real micro-batches — the
    // automaton carries only (cur_run, counters) across batches, never
    // the sequence, which is what makes MATCH_RECOGNIZE semantics
    // runnable over an unbounded stream (Flink CEP's model). The fold
    // is provably equal to the batch regex (see Streams.cepProgress:
    // non-overlapping greedy matches of `[vc]+p` are in bijection with
    // purchases directly preceded by a browse), runs spanning batch
    // boundaries included — so the oracle IS the batch CEP SQL,
    // bit-exact. Update-mode emissions reconcile by argmax(folded).
    "events_stream_pattern_match" -> QuerySpec(
      (s, d) => {
        import s.implicits._
        val stream = slicedEvents(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .as[Streams.CepEvent]
        val prog = Streams.cepProgress(stream)
        drainToMemory(s, "events_stream_pattern_match", prog.toDF(), "update",
          gated = Some(d))
          .groupBy("user_id")
          .agg(max(struct(col("folded"), col("n_events"),
            col("n_purchases"), col("n_browse_buy"), col("max_run")))
            .as("m"))
          .select(col("user_id"),
            col("m.n_events").as("n_events"),
            col("m.n_purchases").as("n_purchases"),
            col("m.n_browse_buy").as("n_browse_buy"),
            (col("m.n_purchases") - col("m.n_browse_buy"))
              .as("n_direct_buy"),
            col("m.max_run").as("max_browse_run"))
          .orderBy("user_id")
      },
      duckCepSql)
  )
}
