package graft.tools
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev tool: per-query job/stage/task census + executor-time attribution.
  * Separates overhead-bound entries (many tiny jobs, wall >> task time /
  * cores) from compute-bound ones (task time ~ wall x cores) — the §1
  * "where is the time going" split the UI would normally answer.
  * Usage: runMain graft.tools.JobProbe <sfDir> [query ...]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session("graft-jobprobe")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
                else graft.SparkEntry.registry.keys.toSeq.sorted
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach(m =>
          taskMs.addAndGet(m.executorRunTime): Unit)
      }
    })
    // warmup
    try graft.SparkEntry.queries("agg_pricing_summary")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    // the listener has seen every earlier event (warmup and failed
    // queries included) before a reset, and every event of the query
    // before the read: nothing bleeds across queries
    def drain(): Unit = org.apache.spark.GraftBus.drain(spark.sparkContext)
    names.foreach { n =>
      drain()
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      val t0 = System.nanoTime()
      try {
        graft.SparkEntry.queries(n)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val wallMs = (System.nanoTime() - t0) / 1e6
        drain()
        println(f"$n%-42s wall=${wallMs / 1000}%7.2fs jobs=${jobs.get}%3d " +
          f"stages=${stages.get}%3d tasks=${tasks.get}%5d " +
          f"taskTime=${taskMs.get / 1000.0}%8.2fs " +
          f"par=${taskMs.get / wallMs}%5.1f")
      } catch { case e: Throwable =>
        println(s"$n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
