package layerbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.LayerbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.etl.Pipeline
import graft.io.{Readers, Writers, Xlsx}

/** Measures one workload in one JVM and writes the raw samples as JSON.
  *
  *   Main workload=<etl_e1|eager_mix> seconds=<n> trace=<0|1>
  *        data=<dir> work=<dir> out=<file> [expect=<t:n,...>]
  *
  * The session is `local[N]` with N = available processors and N shuffle
  * partitions, UI off, time zone UTC — no other setting, so the program
  * runs in the configuration it ships with. The benchmark times only calls
  * into the program's public functions, each inside a span: a wall-clock
  * interval whose jobs carry the span's tag. run.py turns the samples into
  * the reported metrics. */
object Main {

  val EagerMix: Seq[String] = Seq(
    "graph_kcore", "graph_connected_components", "graph_pagerank_copurchase",
    "learn_pca_power_iteration", "events_stream_join",
    "events_stream_chained_agg")

  /** Shared stages eager_mix builds during set-up, as graft.Bench does. */
  val EagerStages: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "graph_edges_shared_stage" -> ((s, d) =>
      graft.queries.GraphQ.buildSharedEdgeStage(s, d, fresh = true)),
    "events_sliced_fixture" -> ((s, d) =>
      graft.queries.Events.buildSlicedFixtures(s, d, fresh = true)))

  /** Untraced timed passes per run, at least. E1 passes are short and
    * still fall steeply from the first timed pass to the second, so
    * etl_e1 times three; eager_mix passes are long enough that a third
    * would not fit the time budget (NOTES.md). */
  val MinPasses: Map[String, Int] = Map("etl_e1" -> 3, "eager_mix" -> 2)

  final case class Span(tag: String, layer: String, seconds: Double)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val out = new Run(a("workload"), a("seconds").toDouble, a("trace") == "1",
      a("data"), a("work"), a.getOrElse("expect", "")).result()
    Files.writeString(Paths.get(a("out")), Json(out))
    // Spark leaves non-daemon threads behind; the result is on disk.
    sys.exit(0)
  }

  final class Run(workload: String, seconds: Double, trace: Boolean,
                  data: String, work: String, expect: String) {
    private val nCpu = Runtime.getRuntime.availableProcessors
    private var spark: SparkSession = _
    private val ledger = new Ledger
    private var attempted = 0L
    private var failed = 0L
    private val errors = mutable.ArrayBuffer[String]()
    private var passNo = 0
    private var spans = mutable.ArrayBuffer[Span]()
    /** Name and wall time of each operation (pipeline step or query) of
      * a pass. */
    private var ops = mutable.ArrayBuffer[(String, Double)]()

    private def startSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$nCpu]")
        .config("spark.sql.shuffle.partitions", nCpu.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    private def now(): Double = System.nanoTime() / 1e9

    /** Runs `body` as one span: its jobs carry the tag, its wall time is
      * recorded under `layer`. */
    private def span[T](layer: String, name: String)(body: => T): T = {
      val sc = spark.sparkContext
      val tag = s"$passNo/$layer/$name"
      sc.setLocalProperty(Ledger.SpanKey, tag)
      sc.setJobGroup(tag, tag)
      val t0 = now()
      try body
      finally {
        spans += Span(tag, layer, now() - t0)
        sc.clearJobGroup()
        sc.setLocalProperty(Ledger.SpanKey, null)
      }
    }

    /** One operation: counted as attempted, and as failed if it throws. */
    private def op(name: String)(body: => Unit): Boolean = {
      attempted += 1
      val t0 = now()
      try { body; ops += name -> (now() - t0); true }
      catch { case e: Throwable =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        System.err.println(s"[layerbench] $name failed: $e")
        false
      }
    }

    // ---------------------------------------------------------------- E1

    private val e1Out = s"$work/e1_out"
    private val e1Sinks = Seq("entities", "contacts", "contracts", "relations")
    private val expected: Map[String, Long] =
      expect.split(',').filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split(':'); k -> v.toLong
      }.toMap

    /** The calls etl.RunPipeline.main makes, in its order. */
    private def e1Pass(): Boolean = {
      var out: Pipeline.Output = null
      var rel, contacts, contracts: DataFrame = null
      val steps: Seq[(String, () => Unit)] = Seq(
        "read:relations" -> (() => rel = span("io.xlsx_read", "relations")(
          Xlsx.read(spark, s"$data/relations.xlsx"))),
        "read:contacts" -> (() => contacts = span("io.csv_read", "contacts")(
          Readers.csvInferred(spark, s"$data/contacts.csv"))),
        "read:contracts" -> (() => contracts = span("io.csv_read",
          "contracts")(Readers.csvInferred(spark, s"$data/contrats.csv"))),
        "pipeline" -> (() => out = span("etl.build", "pipeline")(
          Pipeline.run(contacts, contracts, rel))),
        "pk:entities" -> (() => span("io.pk_audit", "entities")(
          Writers.assertPrimaryKey(out.entities, Seq("entity_id"),
            "entities"))),
        "pk:contacts" -> (() => span("io.pk_audit", "contacts")(
          Writers.assertPrimaryKey(out.contacts, Seq("entity_id"),
            "contacts"))),
        "pk:contracts" -> (() => span("io.pk_audit", "contracts")(
          Writers.assertPrimaryKey(out.contracts, Seq("contract_number"),
            "contracts"))),
        "sink:entities" -> (() => span("io.sink", "entities")(
          Writers.parquet(out.entities, s"$e1Out/entities"))),
        "sink:contacts" -> (() => span("io.sink", "contacts")(
          Writers.parquet(out.contacts, s"$e1Out/contacts"))),
        "sink:contracts" -> (() => span("io.sink", "contracts")(
          Writers.parquet(out.contracts, s"$e1Out/contracts"))),
        "sink:relations" -> (() => span("io.sink", "relations")(
          Writers.parquet(out.relations, s"$e1Out/relations"))))
      steps.forall { case (name, f) => op(name)(f()) }
    }

    /** Untimed, after a pass whose steps all succeeded: each sink holds
      * exactly the rows the generator implies; a sink that does not counts
      * as a failed operation. */
    private def e1Check(ok: Boolean): Unit =
      if (workload == "etl_e1" && ok) span("check", "sink_counts") {
        e1Sinks.foreach { t =>
          val n = scala.util.Try(spark.read.parquet(s"$e1Out/$t").count())
          if (n.toOption != expected.get(t)) {
            failed += 1
            errors += s"sink $t holds $n rows, expected ${expected.get(t)}"
          }
        }
      }

    private def sinkFiles(): Seq[File] =
      e1Sinks.flatMap(t => Option(new File(s"$e1Out/$t").listFiles())
        .getOrElse(Array.empty[File]))
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))

    // ----------------------------------------------------- registry mixes

    /** Build, plan and run one registry query into a noop sink. */
    private def noopQuery(name: String): Unit = {
      val df = span("queries.build", name)(SparkEntry.queries(name)(spark, data))
      span("spark.plan", name)(df.queryExecution.executedPlan)
      span("spark.exec", name)(
        df.write.format("noop").mode("overwrite").save())
    }

    /** The correctness pass: each result lands as one parquet file (as
      * graft.Verify writes it) for run.py's oracle comparison. */
    private def dumpQuery(name: String): Unit = {
      val df = span("queries.build", name)(SparkEntry.queries(name)(spark, data))
      span("spark.exec", name)(df.coalesce(1).write.mode("overwrite")
        .parquet(s"$work/check/$name"))
    }

    private def mixPass(dump: Boolean): Boolean =
      EagerMix.map(q => op(q)(if (dump) dumpQuery(q) else noopQuery(q)))
        .forall(identity)

    // ------------------------------------------------------------ passes

    /** Collects garbage and returns the heap still in use. Spark frees the
      * in-memory blocks of dead broadcasts and checkpoints on its cleaner
      * thread only after a collection finds them unreachable, so the heap
      * is collected a second time once the cleaner has had time to run. */
    private def heapAfterGc(): Long = {
      System.gc()
      Thread.sleep(1000)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }

    /** One pass: returns its wall time, its spans and its op times. */
    private def pass(dump: Boolean)
        : (Double, Seq[Span], Seq[(String, Double)], Boolean) = {
      passNo += 1
      spans = mutable.ArrayBuffer[Span]()
      ops = mutable.ArrayBuffer[(String, Double)]()
      val t0 = now()
      val ok = if (workload == "etl_e1") e1Pass() else mixPass(dump)
      (now() - t0, spans.toSeq, ops.toSeq, ok)
    }

    /** Per-layer metrics of one traced pass, from its spans and the
      * drained ledger. */
    private def layers(ps: Seq[Span]): Map[String, Double] = {
      val byTag = ledger.spans
      def in(ls: String*) = ps.filter(s => ls.contains(s.layer))
      def wall(ls: String*) = in(ls: _*).map(_.seconds).sum
      def cnt(ls: String*) = {
        val c = new Counters
        in(ls: _*).flatMap(s => byTag.get(s.tag)).foreach(c.add)
        c
      }
      val every = cnt(ps.map(_.layer).distinct: _*)
      val total = ledger.total
      val phase = ledger.streamPhasesMs
      def ph(k: String) = phase.getOrElse(k, 0L) / 1e3
      val execLayers = Seq("spark.exec", "io.pk_audit", "io.sink")
      val files = sinkFiles()
      Map(
        "io.csv_read_s" -> wall("io.csv_read"),
        "io.csv_read_jobs" -> cnt("io.csv_read").jobs.toDouble,
        "io.xlsx_read_s" -> wall("io.xlsx_read"),
        "io.pk_audit_s" -> wall("io.pk_audit"),
        "io.pk_audit_jobs" -> cnt("io.pk_audit").jobs.toDouble,
        "io.sink_s" -> wall("io.sink"),
        "io.sink_bytes" -> files.map(_.length).sum.toDouble,
        "io.sink_files" -> files.size.toDouble,
        "etl.build_s" -> wall("etl.build"),
        "etl.input_records" -> every.inputRecords.toDouble,
        "queries.build_s" -> wall("queries.build"),
        "queries.build_jobs" -> cnt("queries.build").jobs.toDouble,
        "queries.build_tasks" -> cnt("queries.build").tasks.toDouble,
        "spark.plan_s" -> wall("spark.plan"),
        "spark.exec_s" -> wall(execLayers: _*),
        "spark.exec_jobs" -> cnt(execLayers: _*).jobs.toDouble,
        "spark.stages" -> every.stages.toDouble,
        "spark.tasks" -> every.tasks.toDouble,
        "spark.task_run_s" -> every.runMs / 1e3,
        "spark.task_cpu_s" -> every.cpuNs / 1e9,
        "spark.sched_delay_s" -> every.schedDelayMs / 1e3,
        "spark.gc_s" -> every.gcMs / 1e3,
        "spark.input_bytes" -> every.inputBytes.toDouble,
        "spark.input_records" -> every.inputRecords.toDouble,
        "spark.shuffle_read_bytes" -> every.shuffleReadBytes.toDouble,
        "spark.shuffle_write_bytes" -> every.shuffleWriteBytes.toDouble,
        "spark.spill_bytes" -> every.spillBytes.toDouble,
        "spark.peak_exec_mem_bytes" -> every.peakExecMem.toDouble,
        "streaming.batches" -> ledger.streamBatches.toDouble,
        "streaming.latest_offset_s" -> ph("latestOffset"),
        "streaming.get_batch_s" -> ph("getBatch"),
        "streaming.query_planning_s" -> ph("queryPlanning"),
        "streaming.add_batch_s" -> ph("addBatch"),
        "streaming.wal_commit_s" -> ph("walCommit"),
        "streaming.trigger_s" -> ph("triggerExecution"),
        "trace.task_run_total_s" -> total.runMs / 1e3,
        "trace.task_run_attributed_s" -> every.runMs / 1e3,
        "trace.unattributed_task_s" -> (total.runMs - every.runMs) / 1e3)
    }

    def result(): Map[String, Any] = {
      // Set-up, once and cold: session start plus the workload's shared
      // stages, which is what every invocation of the program pays.
      val stageTimes = mutable.LinkedHashMap[String, Double]()
      val t0 = now()
      spark = startSession()
      if (workload == "eager_mix") EagerStages.foreach { case (n, build) =>
        val s0 = now()
        build(spark, data)
        stageTimes(n) = now() - s0
      }
      val setup = now() - t0

      // The first pass: on etl_e1 the cold E1 pass; on eager_mix the
      // correctness pass. Only the set-up runs before it.
      val (cold, _, _, coldOk) = pass(dump = true)
      e1Check(coldOk)

      val sc = spark.sparkContext
      def traced[T](body: => T): T = {
        ledger.reset()
        sc.addSparkListener(ledger); spark.streams.addListener(ledger.streams)
        try body
        finally {
          LayerbenchBus.drain(sc)
          sc.removeSparkListener(ledger)
          spark.streams.removeListener(ledger.streams)
        }
      }

      val passes = mutable.ArrayBuffer[Double]()
      val tracedPasses = mutable.ArrayBuffer[Double]()
      val overheads = mutable.ArrayBuffer[Double]()
      val opTimes = mutable.ArrayBuffer[(String, Double)]()
      val layerSamples = mutable.ArrayBuffer[Map[String, Double]]()
      def untracedPass(): Double = {
        val (w, _, os, ok) = pass(dump = false)
        passes += w; opTimes ++= os
        e1Check(ok)
        w
      }
      def tracedPass(): Double = {
        val (w, ps, _, ok) = traced(pass(dump = false))
        tracedPasses += w
        layerSamples += layers(ps)
        e1Check(ok)
        w
      }

      // Then the timed passes that fit in the window, at least the
      // workload's MinPasses untraced ones. A traced run times pairs
      // instead, at least two: an untraced and a traced pass, in
      // alternating order so that the warm-up slope favours neither, and
      // the tracing overhead is each traced pass against its own partner.
      val start = now()
      var last = 0.0
      if (trace)
        while (overheads.size < 2 || now() - start + last <= seconds) {
          val (u, t) =
            if (overheads.size % 2 == 0) { val u = untracedPass(); (u, tracedPass()) }
            else { val t = tracedPass(); (untracedPass(), t) }
          overheads += t / u - 1.0
          last = u + t
        }
      else
        while (passes.size < MinPasses(workload) ||
               now() - start + last <= seconds)
          last = untracedPass()
      // Once, after timing: a collection between passes perturbs them (a
      // probe measured E1 passes about 20% slower with one). The live set of a long-lived
      // session only grows as its caches fill, so the heap still in use
      // after the last pass is the peak of the live set over the passes.
      val heapPeak = heapAfterGc()
      spark.stop()

      val oracle =
        if (workload == "etl_e1") Map.empty[String, String]
        else SparkEntry.oracleSql.filter(kv => EagerMix.contains(kv._1))
      Map(
        "workload" -> workload,
        "cpus" -> nCpu,
        "attempted" -> attempted,
        "failed" -> failed,
        "errors" -> errors.toSeq,
        "setup_s" -> setup,
        "shared_stage_s" -> stageTimes.toMap,
        "cold_pass_s" -> cold,
        "pass_s" -> passes.toSeq,
        "traced_pass_s" -> tracedPasses.toSeq,
        "trace_overhead" -> overheads.toSeq,
        "op_s" -> opTimes.map { case (n, t) => Seq(n, t) }.toSeq,
        "heap_peak_bytes" -> heapPeak,
        "layers" -> layerSamples.toSeq,
        "queries" -> (if (workload == "etl_e1") Seq.empty[String] else EagerMix),
        "oracle" -> oracle)
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
