package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import graft.io.Tables

/** Batch/stream parity: the same rows driven through MemoryStream must
  * produce the same aggregates as the batch plan (complete mode, so the
  * watermark never withholds windows in the comparison). */
class StreamsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def eventRows = Tables.eventsWithTs(spark, sf)
    .select("event_id", "user_id", "event_type", "value", "ts_utc")
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
      r.getTimestamp(4)))

  test("streaming tumbling-hour aggregation matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double, Timestamp)]
    val stream = mem.toDF()
      .toDF("event_id", "user_id", "event_type", "value", "ts_utc")
    val q = Streams.startMemorySink(
      Streams.tumblingHourly(stream), "tumbling_out", OutputMode.Complete())
    mem.addData(eventRows.toSeq)
    q.processAllAvailable(); q.stop()

    val got = spark.table("tumbling_out")
      .select(date_format(col("wstart"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = Tables.eventsWithTs(spark, sf)
      .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss"),
        col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("stream-stream interval join matches the batch range join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memC = MemoryStream[(Long, Long, String, Double, Timestamp)]
    val memP = MemoryStream[(Long, Long, String, Double, Timestamp)]
    def named(m: MemoryStream[(Long, Long, String, Double, Timestamp)]) =
      m.toDF().toDF("event_id", "user_id", "event_type", "value", "ts_utc")
    val joined = Streams.clickPurchaseJoin(named(memC), named(memP))
    val q = Streams.startMemorySink(joined, "ssjoin_out",
      OutputMode.Append())
    val rows = eventRows
    memC.addData(rows.filter(_._3 == "click").toSeq)
    memP.addData(rows.filter(_._3 == "purchase").toSeq)
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssjoin_out").count()

    val e = Tables.eventsWithTs(spark, sf)
    val bc = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_utc").as("c_ts"))
    val bp = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_utc").as("p_ts"))
    val want = bc.join(bp, expr(
      "c_user = p_user AND p_ts BETWEEN c_ts - INTERVAL 30 MINUTES AND c_ts"))
      .count()
    assert(got == want && got > 0)
  }

  test("flatMapGroupsWithState sessions match batch session_window (closed sessions)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.SessionEvent]
    val q = Streams.expiringSessions(mem.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fmgws_out").start()
    val evs = eventRows.filter(_._2 < 10)
      .map(r => Streams.SessionEvent(r._2, r._5, r._4))
      .sortBy(_.ts_utc.getTime)
    mem.addData(evs.toSeq)
    q.processAllAvailable()
    // advance the watermark far past every session's deadline
    val lastTs = evs.map(_.ts_utc.getTime).max
    mem.addData(Seq(Streams.SessionEvent(9999L,
      new Timestamp(lastTs + 24L * 3600 * 1000), 0.0)))
    q.processAllAvailable(); q.stop()

    val got = spark.table("fmgws_out")
      .filter(col("user_id") < 10)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("st"),
        col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = Tables.eventsWithTs(spark, sf)
      .filter(col("user_id") < 10)
      .groupBy(session_window(col("ts_utc"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("st"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("late rows beyond the watermark are dropped from appended windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Long, String, Double, Timestamp)]
    val stream = mem.toDF()
      .toDF("event_id", "user_id", "event_type", "value", "ts_utc")
    // Append mode: a window is emitted once the watermark passes its end,
    // and later arrivals for it are dropped — the state-bounding contract.
    val q = Streams.startMemorySink(
      Streams.tumblingHourly(stream), "late_out", OutputMode.Append())
    // batch 1: two rows in the 10:00 window + one at 12:00 that advances
    // the watermark to 11:50 (past the 10:00 window's end)
    mem.addData(Seq(
      (1L, 1L, "click", 1.0, ts("2024-01-01 10:05:00")),
      (2L, 1L, "click", 1.0, ts("2024-01-01 10:15:00")),
      (3L, 1L, "click", 1.0, ts("2024-01-01 12:00:00"))))
    q.processAllAvailable()
    // batch 2: a LATE row for the already-finalized 10:00 window
    mem.addData(Seq((4L, 1L, "click", 1.0, ts("2024-01-01 10:20:00"))))
    q.processAllAvailable()
    // batch 3: advance the watermark past the 12:00 window too
    mem.addData(Seq((5L, 1L, "click", 1.0, ts("2024-01-01 14:00:00"))))
    q.processAllAvailable()
    val dropped = q.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    q.stop()
    val byWindow = spark.table("late_out")
      .select(date_format(col("wstart"), "HH:mm").as("w"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byWindow("10:00") == 2L,
      s"late row must not join the finalized window: $byWindow")
    assert(byWindow("12:00") == 1L, byWindow.toString)
    assert(dropped == 1L, s"expected exactly the late row dropped, got $dropped")
  }

  test("interval join drops a purchase arriving beyond the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val memC = MemoryStream[(Long, Long, String, Double, Timestamp)]
    val memP = MemoryStream[(Long, Long, String, Double, Timestamp)]
    def named(m: MemoryStream[(Long, Long, String, Double, Timestamp)]) =
      m.toDF().toDF("event_id", "user_id", "event_type", "value", "ts_utc")
    val q = Streams.startMemorySink(
      Streams.clickPurchaseJoin(named(memC), named(memP)), "latejoin_out",
      OutputMode.Append())
    // batch 1: user 1's purchase+click match; user 2 clicks with no
    // purchase yet; far-future rows push both watermarks to ~12:50
    memC.addData(Seq(
      (10L, 1L, "click", 0.0, ts("2024-01-01 10:00:00")),
      (11L, 2L, "click", 0.0, ts("2024-01-01 10:00:00")),
      (12L, 99L, "click", 0.0, ts("2024-01-01 13:00:00"))))
    memP.addData(Seq(
      (20L, 1L, "purchase", 5.0, ts("2024-01-01 09:50:00")),
      (21L, 98L, "purchase", 5.0, ts("2024-01-01 13:00:00"))))
    q.processAllAvailable()
    // batch 2: user 2's matching purchase arrives HOURS beyond the
    // watermark — dropped, so the join must not produce the pair
    memP.addData(Seq((22L, 2L, "purchase", 5.0, ts("2024-01-01 09:55:00"))))
    q.processAllAvailable()
    val dropped = q.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    q.stop()
    val users = spark.table("latejoin_out")
      .select("c_user").collect().map(_.getLong(0)).toSeq
    assert(users == Seq(1L),
      s"only user 1's in-time pair may join, got users $users")
    assert(dropped >= 1L, s"late purchase should be counted dropped, got $dropped")
  }

  test("foreachBatch parquet sink lands every batch exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-fb").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fb-ckpt").toString
    val mem = MemoryStream[(Long, Double)]
    val q = Streams.startForeachBatchParquet(
      mem.toDF().toDF("event_id", "value"), out, ckpt)
    mem.addData(Seq((1L, 1.0), (2L, 2.0)))
    q.processAllAvailable()
    mem.addData(Seq((3L, 3.0)))
    q.processAllAvailable(); q.stop()
    val landed = spark.read.parquet(out)
    assert(landed.count() == 3)
    assert(landed.select("batch_id").distinct().count() == 2)
  }

  test("file source maxFilesPerTrigger bounds per-batch intake to one file") {
    // The replay fixtures lean on maxFilesPerTrigger=1 for their
    // ">= 3 real micro-batches" contract; this pins the rate-limit
    // semantics itself: with 4 published files, AvailableNow drains in
    // EXACTLY 4 data batches and each batch's numInputRows equals one
    // file's row count — the bounded-intake guarantee a backlogged
    // 100 TB landing zone relies on to size state-store commits.
    val dir = java.nio.file.Files.createTempDirectory("graft-ratelim")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ratelim-ckpt")
    try {
      val ev = Tables.eventsWithTs(spark, sf)
        .select("event_id", "user_id", "event_type", "value", "ts_utc")
      val stage = dir.resolve(".stage").toString
      ev.repartitionByRange(4, col("ts_utc"), col("event_id"))
        .write.mode("overwrite").parquet(stage)
      val parts = new java.io.File(stage).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      assert(parts.length == 4)
      val t0 = System.currentTimeMillis()
      val perFile = parts.zipWithIndex.map { case (p, i) =>
        val dst = new java.io.File(dir.toFile, f"slice-$i%03d.parquet")
        java.nio.file.Files.move(p.toPath, dst.toPath)
        dst.setLastModified(t0 + i * 1000L)
        spark.read.parquet(dst.getPath).count()
      }
      val stream = spark.readStream.schema(ev.schema)
        .option("pathGlobFilter", "slice-*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val q = stream.writeStream.outputMode("complete")
        .format("memory").queryName("ratelim_out")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val intake = q.recentProgress.map(_.numInputRows).filter(_ > 0L)
      assert(intake.length == 4,
        s"expected 4 data batches, got ${intake.mkString(",")}")
      assert(intake.sorted.toSeq == perFile.sorted.toSeq,
        s"per-batch intake ${intake.mkString(",")} != per-file rows " +
          s"${perFile.mkString(",")}")
      val total = spark.table("ratelim_out").agg(sum("n")).head.getLong(0)
      assert(total == perFile.sum)
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(dir, ckpt).foreach { p =>
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
  }

  test("stateful running totals per user match batch groupBy") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.UserEvent]
    val q = Streams.runningUserTotals(mem.toDS())
      .toDF()
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("totals_out").start()
    val evs = eventRows.map(r => Streams.UserEvent(r._2, r._4))
    mem.addData(evs.toSeq)
    q.processAllAvailable(); q.stop()
    // last update per user = final totals
    val got = spark.table("totals_out")
      .groupBy("user_id").agg(max(struct(col("n"), col("total"))).as("s"))
      .select(col("user_id"), col("s.n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("append-mode windows release only once the watermark passes them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[(String, Double, Timestamp)]
    val stream = mem.toDF().toDF("event_type", "value", "ts_utc")
    val q = Streams.startMemorySink(
      Streams.tumblingHourly(stream), "append_win_out", OutputMode.Append())
    // batch 1: two events in the 09:00 window
    mem.addData(Seq(("click", 1.0, ts("2024-01-01 09:10:00")),
      ("click", 2.0, ts("2024-01-01 09:40:00"))))
    q.processAllAvailable()
    assert(spark.table("append_win_out").count() == 0,
      "window emitted before watermark passed it")
    // batch 2: an event far enough ahead that the watermark
    // (max - 10min) passes the 09:00 window's end
    mem.addData(Seq(("click", 3.0, ts("2024-01-01 11:30:00"))))
    q.processAllAvailable()
    // batch 3: anything at all, so the new watermark takes effect
    mem.addData(Seq(("view", 0.0, ts("2024-01-01 11:45:00"))))
    q.processAllAvailable(); q.stop()
    val released = spark.table("append_win_out")
      .select(date_format(col("wstart"), "yyyy-MM-dd HH:mm").as("w"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(released.get("2024-01-01 09:00").contains(2L),
      s"09:00 window not released with both rows: $released")
    assert(!released.contains("2024-01-01 11:00"),
      s"11:00 window is inside the watermark frontier, must be withheld: $released")
  }

  test("drained restores session conf and cleans its checkpoint dir") {
    val pKey = "spark.sql.shuffle.partitions"
    val nKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val before = spark.conf.get(pKey)
    var ckptSeen: String = null
    Streams.drained(spark) { ckpt =>
      ckptSeen = ckpt
      assert(spark.conf.get(pKey) == "2")
      assert(spark.conf.get(nKey) == "false")
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(ckpt)))
    }
    assert(spark.conf.get(pKey) == before, "shuffle partitions not restored")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(ckptSeen)),
      "checkpoint dir not cleaned up")
    // timeout-dependent queries opt back into no-data batches
    Streams.drained(spark, noDataBatches = true) { _ =>
      assert(spark.conf.get(nKey) == "true")
    }
  }

  test("batchGate holds the data-batch floor only on fully sliced fixtures") {
    import graft.queries.Events.batchGate
    batchGate("g", observed = 3, recorded = 3, min = 3)
    batchGate("g", observed = 5, recorded = 4, min = 3)
    val e = intercept[IllegalArgumentException](
      batchGate("g", observed = 2, recorded = 3, min = 3))
    assert(e.getMessage.contains("g drained in 2 data batches, want >= 3"))
    // a degenerate fixture (fewer non-empty slices than the floor) is
    // exempt, but the skip must be visible on stderr
    val err = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try batchGate("g", observed = 0, recorded = 1, min = 3)
    finally System.setErr(prevErr)
    assert(err.toString("UTF-8").contains("g: multi-batch gate SKIPPED") &&
      err.toString("UTF-8")
        .contains("fixture recorded only 1 non-empty slice(s)"))
    // ASCII only: a POSIX-locale stderr prints anything else as '?'
    assert(err.toByteArray.forall(_ >= 0), err.toString("UTF-8"))
  }

  test("an empty events table records 0 non-empty slices") {
    // Spark writes one row-less part file for an empty table; only part
    // files that hold rows count as recorded slices
    val d = java.nio.file.Files.createTempDirectory("graft-empty-ev").toString
    spark.read.parquet(s"$sf/events.parquet").limit(0).coalesce(1)
      .write.parquet(s"$d/events.parquet")
    assert(graft.queries.Events.recordedSlices(spark, d) == 0)
    assert(graft.queries.Events.recordedSlices(spark, sf) == 3)
  }

  test("funnel state machine carries step dependencies across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val W = 1000L // 1ms window in µs
    val mem = MemoryStream[Streams.FunnelEvent]
    val q = Streams.funnelProgress(mem.toDS(), W)
      .toDF()
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("funnel_out").start()
    // batch 1: user 1 views; user 2 clicks (no view yet -> ignored)
    mem.addData(Streams.FunnelEvent(1L, "view", 100L),
      Streams.FunnelEvent(2L, "click", 100L))
    q.processAllAvailable()
    // batch 2: user 1 clicks inside the window measured from the
    // batch-1 view (cross-batch dependency); user 2 views
    mem.addData(Streams.FunnelEvent(1L, "click", 600L),
      Streams.FunnelEvent(2L, "view", 600L))
    q.processAllAvailable()
    // batch 3: user 1 purchases in-window; user 2 clicks too late
    // (window measured from its batch-2 view)
    mem.addData(Streams.FunnelEvent(1L, "purchase", 900L),
      Streams.FunnelEvent(2L, "click", 600L + W + 1L))
    q.processAllAvailable(); q.stop()
    val fin = spark.table("funnel_out")
      .groupBy("user_id")
      .agg(max(struct(col("folded"), col("t1"), col("t2"), col("t3"))).as("m"))
      .select(col("user_id"), col("m.t1"), col("m.t2"), col("m.t3"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(fin(1L) == ((100L, 600L, 900L)), s"user 1: ${fin(1L)}")
    assert(fin(2L) == ((600L, -1L, -1L)), s"user 2: ${fin(2L)}")
  }
}
