package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.util.Scratch

/** Structured Streaming lift of the event-time operators (SURVEY.md §2.10).
  *
  * The same logical shapes as the batch pack in `graft.queries.Events`,
  * expressed over an unbounded DataFrame: `readStream → transform →
  * writeStream`. Watermarks bound state (late data beyond the watermark is
  * dropped — the streaming-correct analogue of the batch operators' exact
  * answers); state stores are per-key and scale horizontally with
  * executors, so the 100 TB/day path is partition-parallel by user/window
  * key with no driver state.
  *
  * Batch/stream parity is tested in StreamsSpec by driving the same rows
  * through MemoryStream and comparing against the batch aggregation.
  */
object Streams {

  /** Tumbling 1-hour windowed counts/sums, 10-minute watermark. */
  def tumblingHourly(events: DataFrame, tsCol: String = "ts_utc"): DataFrame =
    events
      .withWatermark(tsCol, "10 minutes")
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("total"))

  /** Stream-stream interval join: each click joined to purchases by the
    * same user within the preceding `intervalMinutes`. Watermarks on both
    * sides bound the join state (Spark drops buffered rows older than
    * watermark + interval). Column prefixes keep the two sides' schemas
    * disjoint. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        intervalMinutes: Int = 30,
                        joinType: String = "inner"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
      col("event_id").as("c_event"), col("ts_utc").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val p = purchases.select(col("user_id").as("p_user"),
      col("event_id").as("p_event"), col("value").as("p_value"),
      col("ts_utc").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    c.join(p, expr(
      s"""c_user = p_user AND
         |p_ts BETWEEN c_ts - INTERVAL $intervalMinutes MINUTES AND c_ts
         |""".stripMargin), joinType)
  }

  // ---- custom state: running per-user aggregate via mapGroupsWithState ----

  final case class UserEvent(user_id: Long, value: Double)
  final case class UserTotals(user_id: Long, n: Long, total: Double)

  /** Arbitrary stateful processing (the escape hatch for semantics window
    * aggregations can't express): running totals per user. */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          val (n, tot) = rows.foldLeft((prev.n, prev.total)) {
            case ((c, t), e) => (c + 1, t + e.value)
          }
          val next = UserTotals(uid, n, tot)
          state.update(next)
          next
      }
  }

  final case class CepEvent(user_id: Long, ts: Long, event_id: Long,
                            event_type: String)
  /** Per-user CEP automaton state: cur_run is the live `[vc]+` run length
    * (the only cross-batch carry the pattern needs), max_run its maximum,
    * and `folded` the monotone reconciliation counter. */
  final case class CepState(user_id: Long, n_events: Long, n_purchases: Long,
                            n_browse_buy: Long, cur_run: Long, max_run: Long,
                            folded: Long)

  /** Streaming CEP: the browse-then-buy pattern `[vc]+p` as a per-user
    * state machine. Non-overlapping leftmost-greedy regex matching of
    * `[vc]+p` over the concatenated event-code sequence is EXACTLY
    * "purchases whose immediately-preceding event is a view/click" (the
    * greedy match consumes a maximal browse run plus its purchase, so
    * matches and such purchases are in bijection), so this fold is
    * provably equal to the batch regex form (events_pattern_match_cep)
    * — including runs that SPAN micro-batch boundaries, which cur_run
    * carries across. State is five longs per user — bounded; the
    * automaton never stores the sequence itself, which is what makes
    * the pattern runnable over an unbounded stream. */
  def cepProgress(events: Dataset[CepEvent]): Dataset[CepState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[CepState, CepState](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[CepEvent], state: GroupState[CepState]) =>
          var s = state.getOption
            .getOrElse(CepState(uid, 0L, 0L, 0L, 0L, 0L, 0L))
          // full total order on the RAW epoch-ns ts (+ unique event_id) —
          // the same resolution the batch form's array_sort uses, so the
          // fold order matches even on legacy data whose ns remainders
          // are nonzero (a µs-truncated sort key would not)
          val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
          sorted.foreach { e =>
            e.event_type match {
              case "view" | "click" =>
                val run = s.cur_run + 1
                s = s.copy(cur_run = run,
                  max_run = math.max(s.max_run, run))
              case "purchase" =>
                s = s.copy(n_purchases = s.n_purchases + 1,
                  n_browse_buy = s.n_browse_buy +
                    (if (s.cur_run > 0) 1L else 0L),
                  cur_run = 0L)
              case _ => // signup/error break the browse run
                s = s.copy(cur_run = 0L)
            }
            s = s.copy(n_events = s.n_events + 1)
          }
          s = s.copy(folded = s.folded + sorted.size)
          state.update(s)
          s
      }
  }

  final case class FunnelEvent(user_id: Long, event_type: String, tus: Long)
  /** Funnel step timestamps in µs; -1 = step not reached. `folded` counts
    * events folded so far — monotone per user, so the LAST update-mode
    * emission is the argmax(folded) row (deterministic reconciliation
    * without relying on sink row order). */
  final case class FunnelProgress(user_id: Long, t1: Long, t2: Long,
                                  t3: Long, folded: Long)

  /** Streaming ordered-funnel state machine (view -> click -> purchase,
    * each step strictly after the previous and within `windowUs`): per
    * user, fold each micro-batch's events in ts order onto the step
    * state. When batches arrive in event-time order (the sliced replay
    * guarantees it), "first qualifying event seen" equals the batch
    * semantics' "min qualifying timestamp", so the final state matches
    * the batch funnel exactly. State is three longs per user — bounded;
    * a production deployment adds a TTL timeout to retire inactive
    * users, which this drain-and-reconcile harness doesn't need. */
  def funnelProgress(events: Dataset[FunnelEvent],
                     windowUs: Long): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelProgress, FunnelProgress](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[FunnelEvent],
         state: GroupState[FunnelProgress]) =>
          var s = state.getOption
            .getOrElse(FunnelProgress(uid, -1L, -1L, -1L, 0L))
          // ts-order within the batch; the tie-break only pins iteration
          // order — same-µs steps fail the strict > either way, exactly
          // like the batch form's strict inequality.
          val sorted = rows.toSeq.sortBy(e => (e.tus, e.event_type))
          sorted.foreach { e =>
            if (e.event_type == "view" && s.t1 < 0)
              s = s.copy(t1 = e.tus)
            else if (e.event_type == "click" && s.t1 >= 0 && s.t2 < 0 &&
                e.tus > s.t1 && e.tus <= s.t1 + windowUs)
              s = s.copy(t2 = e.tus)
            else if (e.event_type == "purchase" && s.t2 >= 0 && s.t3 < 0 &&
                e.tus > s.t2 && e.tus <= s.t2 + windowUs)
              s = s.copy(t3 = e.tus)
          }
          s = s.copy(folded = s.folded + sorted.size)
          state.update(s)
          s
      }
  }

  final case class SessionEvent(user_id: Long, ts_utc: java.sql.Timestamp,
                                value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)
  final case class CompletedSession(user_id: Long, session_start: java.sql.Timestamp,
                                    n: Long, total: Double)

  /** Full arbitrary-state API: gap-based sessionization via
    * flatMapGroupsWithState with an EVENT-TIME timeout — a session is
    * emitted only when the watermark passes its gap deadline (vs the
    * declarative session_window, which cannot attach custom per-session
    * logic). State per user is one running session; memory is bounded by
    * the watermark. */
  def expiringSessions(events: Dataset[SessionEvent],
                       gapMillis: Long = 30L * 60 * 1000)
      : Dataset[CompletedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts_utc", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, CompletedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(CompletedSession(uid,
              new java.sql.Timestamp(s.start), s.n, s.total))
          } else {
            // fold the batch's rows into (possibly several) sessions
            val sorted = rows.toSeq.sortBy(e => (e.ts_utc.getTime, e.value))
            var cur = state.getOption
            val completed = Seq.newBuilder[CompletedSession]
            sorted.foreach { e =>
              val t = e.ts_utc.getTime
              cur match {
                case Some(s) if t - s.last <= gapMillis =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.total + e.value))
                case Some(s) =>
                  completed += CompletedSession(uid,
                    new java.sql.Timestamp(s.start), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMillis)
            }
            completed.result().iterator
          }
      }
  }

  final case class AttrEvent(user_id: Long, event_id: Long,
                             event_type: String, value: Double, tus: Long)
  final case class AttrState(last_np_tus: Long, last_np_type: String)
  final case class Attribution(user_id: Long, event_id: Long, value: Double,
                               attributed_type: String)

  /** Streaming last-touch attribution: per user, the state is ONE
    * (timestamp, type) pair — the most recent non-purchase event seen so
    * far — and each purchase emits exactly one attribution row against
    * that state (or 'direct' when none qualifies within `windowUs`).
    * With in-event-time-order batches (the sliced replay guarantees it)
    * and a (tus, event_id) sort within each batch, "last non-purchase
    * strictly before the purchase" matches the batch form's
    * 1-PRECEDING window frame exactly, so the drained emissions
    * aggregate to the batch attribution BIT-EXACTLY. State is two
    * fields per user — bounded; a production deployment adds a TTL
    * timeout to retire inactive users. */
  def lastTouchAttribution(events: Dataset[AttrEvent], windowUs: Long)
      : Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, Attribution](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[AttrEvent], state: GroupState[AttrState]) =>
          var s = state.getOption.getOrElse(AttrState(-1L, ""))
          val out = Seq.newBuilder[Attribution]
          rows.toSeq.sortBy(e => (e.tus, e.event_id)).foreach { e =>
            if (e.event_type == "purchase") {
              val t =
                if (s.last_np_tus >= 0 && s.last_np_tus >= e.tus - windowUs)
                  s.last_np_type
                else "direct"
              out += Attribution(uid, e.event_id, e.value, t)
            } else s = AttrState(e.tus, e.event_type)
          }
          state.update(s)
          out.result().iterator
      }
  }

  /** Shuffle partitions while a drained query runs (see [[drained]]). */
  private val drainPartitions = 2
  private val ckptSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Runs a drain-the-source streaming query (AvailableNow → terminate)
    * with state-sized session tuning, passing a fresh checkpoint dir to
    * `body` and restoring the session conf afterwards.
    *
    * Two knobs, both about matching state-store count to state VOLUME
    * rather than CPU count — the per-instance commit (delta file + fsync)
    * is the fixed cost of a micro-batch, so a KB-scale state spread over
    * `spark.sql.shuffle.partitions`=32 pays 32× (128× for a stream-stream
    * join: 4 stores per partition) the necessary commit latency:
    *   - shuffle partitions lowered to [[drainPartitions]] for the
    *     lifetime of the query (pinned into the plan at start; a
    *     production job sizes this to its state volume the same way).
    *     2, because the test corpus carries KB-scale state: even 4
    *     stores paid 2× the necessary commit fsyncs;
    *   - the checkpoint (offsets/commits/state) placed on tmpfs when the
    *     host has one ([[Scratch.shmBase]]), so commit fsyncs don't hit
    *     rotational/virtio disk. A durable deployment points this at
    *     HDFS/S3 instead — the knob is the location, the layout is
    *     identical. The dir is named `graft_ckpt_<n>_p<pid>`, so a JVM
    *     killed mid-drain leaves an orphan [[Scratch.sweepOrphans]]
    *     reclaims once that PID is dead.
    * No-data micro-batches are disabled by default: most queries run this
    * way emit their results in data batches (append dedup/inner join emit
    * immediately; complete/update modes emit per batch), so the extra
    * watermark-advancing empty batch only pays another full state commit
    * round without changing the drained result. Pass `noDataBatches =
    * true` for queries whose emission REQUIRES the final watermark
    * advance — event-time TIMEOUTS (flatMapGroupsWithState) and append-
    * mode windowed aggregations only release rows when a later batch
    * moves the watermark past them. */
  def drained[T](spark: org.apache.spark.sql.SparkSession,
                 noDataBatches: Boolean = false)
                (body: String => T): T = {
    val pKey = "spark.sql.shuffle.partitions"
    val nKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevP = spark.conf.get(pKey)
    val prevN = spark.conf.getOption(nKey)
    val ckpt = newCheckpointDir()
    spark.conf.set(pKey, drainPartitions.toString)
    spark.conf.set(nKey, noDataBatches.toString)
    try body(ckpt.getPath)
    finally {
      spark.conf.set(pKey, prevP)
      prevN.fold(spark.conf.unset(nKey))(spark.conf.set(nKey, _))
      Scratch.deleteRecursively(ckpt)
    }
  }

  /** The checkpoint dir name for sequence number `n` (exposed so the
    * orphan-sweep round-trip spec covers it). */
  private[graft] def checkpointName(n: Long): String =
    s"graft_ckpt_${n}_p${Scratch.jvmTag}"

  /** A new, empty checkpoint dir. `createDirectory` fails on an existing
    * dir, so a leftover of a dead JVM whose PID this one reused is
    * skipped, never adopted (its offsets would replay). */
  private def newCheckpointDir(): java.io.File = {
    val f = new java.io.File(Scratch.shmBase,
      checkpointName(ckptSeq.incrementAndGet()))
    try { java.nio.file.Files.createDirectory(f.toPath); f }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => newCheckpointDir()
    }
  }

  /** Convenience: the standard sink shape (memory table for tests,
    * parquet+checkpoint in production). */
  def startMemorySink(df: DataFrame, name: String, mode: OutputMode) =
    df.writeStream.outputMode(mode).format("memory").queryName(name).start()

  /** foreachBatch sink: per-micro-batch escape hatch for sinks the
    * streaming writer can't express (idempotent merges, multi-table
    * fan-out, JDBC upserts). Here: append each batch to parquet with the
    * batch id stamped for exactly-once-style reconciliation. */
  def startForeachBatchParquet(df: DataFrame, outDir: String,
                               checkpointDir: String) =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      .start()
}
