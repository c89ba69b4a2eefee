package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Superseded per-round broadcasts/checkpoints of the iterative
    // queries are reclaimed by the ContextCleaner only AFTER a driver
    // GC; a 383-query sweep under a constrained heap can starve
    // execution memory on dead blocks long before the JVM bothers to
    // collect. One driver GC a minute keeps the cleaner fed (no-op
    // cost when memory is ample).
    val spark = Session("graft-verify",
      "spark.cleaner.periodicGC.interval" -> "1min")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated name prefixes); the driver
    // never sets it, so its runs always cover the full registry.
    val only = SparkEntry.onlyPrefixes(sys.env.get("SPARK_GRAFT_ONLY"))
    // A stray SPARK_GRAFT_ONLY in a verification environment would shrink
    // coverage while the run still looked fully green — so a subset run is
    // LOUD on stderr and leaves a machine-readable marker in outDir that
    // downstream checkers can detect.
    only.foreach { prefixes =>
      System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_ONLY is set - PARTIAL coverage, " +
          s"only query-name prefixes: ${prefixes.mkString(", ")}")
      Files.writeString(Paths.get(s"$outDir/SUBSET_MARKER.json"),
        prefixes.map(p => "\"" + p + "\"").mkString("[", ",", "]"))
    }
    val selected = SparkEntry.selected(only) _
    // SPARK_GRAFT_METRICS=1: per-query shuffle-spill attribution for the
    // constrained-heap gate (r14) — a cumulative task-metrics listener,
    // snapshotted around each query (queries run sequentially, so the
    // delta is the query's own). Memory spills are APPROXIMATE credit
    // (in-memory size of spilled blocks); disk spills are real bytes.
    // The listener bus is asynchronous, so both reads of a query's
    // delta follow a bus drain: every task before the read is counted.
    val metrics = sys.env.get("SPARK_GRAFT_METRICS").contains("1")
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    def spilled(): (Long, Long) = {
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      (spillMem.get(), spillDisk.get())
    }
    if (metrics)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            Option(t.taskMetrics).foreach { m =>
              spillMem.addAndGet(m.memoryBytesSpilled)
              spillDisk.addAndGet(m.diskBytesSpilled): Unit
            }
        })
    // Executor loss invalidates localCheckpoint blocks (deliberately
    // non-fault-tolerant); a query failing on a LOST shared artifact is
    // recoverable by evicting the shared-stage caches and rebuilding —
    // the local-cluster SIGKILL probe (r15) showed exactly 4 consumers
    // of the killed executor's edge-stage blocks failing while the rest
    // of the sweep recovered. One retry, loudly logged.
    def isCheckpointLoss(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists {
        t => Option(t.getMessage).exists(m =>
          m.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND") ||
            m.contains("Checkpoint block"))
      }
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      val (m0, d0) = if (metrics) spilled() else (0L, 0L)
      def runOnce(): Unit =
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      try {
        try runOnce()
        catch { case e: Throwable if isCheckpointLoss(e) =>
          System.err.println(s"[verify] $name: checkpoint blocks lost " +
            "(executor loss) - evicting shared stages, rebuilding once")
          graft.util.SessionScopedCache.evictAll(spark, sfDir)
          runOnce()
        }
        if (metrics) {
          val (m1, d1) = spilled()
          println(s"[metrics] $name spill_mem=${m1 - m0} " +
            s"spill_disk=${d1 - d0}")
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
