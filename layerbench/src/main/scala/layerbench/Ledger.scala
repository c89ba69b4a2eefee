package layerbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task-level counters of one span (or of every task the ledger saw). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var inputBytes, inputRecords, shuffleReadBytes, shuffleWriteBytes = 0L
  var spillBytes, peakExecMem = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** One listener for the Spark scheduler and the streaming engine.
  *
  * Every job carries the span tag of the thread that started it (the
  * `layerbench.span` local property; streaming micro-batch threads inherit
  * it from the thread that started the query, while Spark overwrites their
  * job group with the run id). Stages map to the tag of their job and tasks
  * to the tag of their stage, so attribution is exact and never depends on
  * timing. Counters are read only after [[org.apache.spark.LayerbenchBus]]
  * has drained the bus. Streaming progress is not tagged: only one span at
  * a time runs, and only eager_mix starts streams. */
final class Ledger extends SparkListener {
  private val stageTag = mutable.Map[Int, String]()
  private val bySpan = mutable.Map[String, Counters]()
  private var all = new Counters
  private val phasesMs = mutable.Map[String, Long]().withDefaultValue(0L)
  private var batches = 0L

  def reset(): Unit = synchronized {
    stageTag.clear(); bySpan.clear(); phasesMs.clear()
    all = new Counters; batches = 0
  }

  /** Counters per span tag, as of the last drain. */
  def spans: Map[String, Counters] = synchronized(bySpan.toMap)
  /** Counters over every task the ledger saw, tagged or not. */
  def total: Counters = synchronized(all)
  /** Streaming progress events seen, and their summed phase durations. */
  def streamBatches: Long = synchronized(batches)
  def streamPhasesMs: Map[String, Long] = synchronized(phasesMs.toMap)

  private def of(tag: String): Option[Counters] =
    Option(tag).map(t => bySpan.getOrElseUpdate(t, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(Ledger.SpanKey)).orNull
    e.stageIds.foreach(id => stageTag(id) = tag)
    all.jobs += 1
    of(tag).foreach(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      all.stages += 1
      of(stageTag.getOrElse(e.stageInfo.stageId, null)).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    val targets = Seq(all) ++ of(stageTag.getOrElse(e.stageId, null))
    targets.foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        // the status store's definition: wall time of the task not spent
        // running, deserializing or serializing it, or fetching its result
        if (info != null && info.finished)
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
      }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Ledger.this.synchronized {
        batches += 1
        e.progress.durationMs.forEach((k, v) => phasesMs(k) += v)
      }
  }
}

object Ledger {
  val SpanKey = "layerbench.span"
}
