package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Rounds is pinned once, here: the landed count is the true count, the
  * landed plan is a bare checkpoint scan, the count rides the checkpoint's
  * own job, the guards read the right rounds, and landAll lands as land
  * does, with the caller's local properties, and never returns early. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  // a shuffled aggregate: 1000 groups over 20000 rows
  private def grouped: DataFrame = spark.range(20000)
    .groupBy((col("id") % 1000).as("k")).agg(sum("id").as("s"))

  /** Jobs started by `body`, read after the listener bus is drained. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { n.incrementAndGet(); () }
    }
    GraftBus.drain(sc)
    sc.addSparkListener(l)
    try { body; GraftBus.drain(sc); n.get }
    finally sc.removeSparkListener(l)
  }

  test("land's count equals count() on many rows, one row and no rows") {
    for ((what, df) <- Seq("many" -> grouped,
        "one" -> grouped.filter(col("k") === 7),
        "none" -> grouped.filter(col("k") < 0),
        // optimized to an empty relation: the observation still reports
        "statically none" -> spark.range(10).filter(lit(false)).toDF())) {
      val (cut, rows) = Rounds.land(df)
      assert(rows == df.count(), what)
      assert(rows == cut.count(), what)
    }
    assert(Rounds.land(grouped)._2 == 1000L)
    assert(Rounds.land(grouped.filter(col("k") < 0))._2 == 0L)
  }

  test("the landed plan is a bare LogicalRDD") {
    val (cut, _) = Rounds.land(grouped)
    assert(cut.queryExecution.optimizedPlan.isInstanceOf[LogicalRDD],
      cut.queryExecution.optimizedPlan.toString)
  }

  test("land starts fewer jobs than a checkpoint followed by count()") {
    val landed = jobs { Rounds.land(grouped); () }
    val separate = jobs { grouped.localCheckpoint(true).count(); () }
    assert(landed < separate, s"land: $landed jobs, separate: $separate")
  }

  test("landAll lands each frame as sequential land does, in order") {
    val frames = Seq(grouped, grouped.filter(col("k") === 7),
      grouped.filter(col("k") < 0), spark.range(5).toDF())
    val all = Rounds.landAll(frames: _*)
    val one = frames.map(Rounds.land)
    assert(all.map(_._2) == one.map(_._2))
    assert(all.map(_._2) == Seq(1000L, 1L, 0L, 5L))
    all.zip(one).foreach { case ((a, _), (b, _)) =>
      assert(a.queryExecution.optimizedPlan.isInstanceOf[LogicalRDD])
      assert(a.collect().toSeq.sortBy(_.toString) ==
        b.collect().toSeq.sortBy(_.toString))
    }
    assert(Rounds.landAll().isEmpty)
  }

  test("landAll's jobs carry the caller's local properties") {
    val sc = spark.sparkContext
    val key = "graft.rounds.spec"
    val seen = new ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { seen.add(String.valueOf(j.properties.getProperty(key))); () }
    }
    GraftBus.drain(sc)
    sc.addSparkListener(l)
    sc.setLocalProperty(key, "caller")
    try {
      Rounds.landAll(grouped, spark.range(100).toDF())
      GraftBus.drain(sc)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(l)
    }
    val tags = seen.asScala.toSeq
    assert(tags.size >= 2 && tags.forall(_ == "caller"), tags)
  }

  test("landAll rethrows a failure only after the other landing has ended") {
    val sc = spark.sparkContext
    val slowId = udf { (x: Long) => Thread.sleep(250); x }
    val failing = spark.range(10).select(raise_error(lit("landing boom")))
    val slow = spark.range(0, 8, 1, 4).select(slowId(col("id")).as("id"))
    val e = intercept[Exception](Rounds.landAll(failing, slow))
    assert(e.getMessage.contains("landing boom"), e.getMessage)
    GraftBus.drain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
  }

  test("iterate returns n + 1 landed states whose counts match") {
    // each round keeps the rows below (previous count - 3)
    val rounds = Rounds.iterate(spark.range(20).toDF(), 4) { (df, rows) =>
      df.filter(col("id") < rows - 3)
    }
    assert(rounds.map(_._2) == Seq(20L, 17L, 14L, 11L, 8L))
    rounds.foreach { case (df, rows) => assert(df.count() == rows) }
    assert(rounds.forall(_._1.queryExecution.optimizedPlan
      .isInstanceOf[LogicalRDD]))
  }

  test("requireFixpoint throws on a still-shrinking state, naming the counts") {
    val shrinking = Rounds.iterate(spark.range(20).toDF(), 3) { (df, rows) =>
      df.filter(col("id") < rows - 3)
    }
    val e = intercept[IllegalArgumentException](Rounds.requireFixpoint(
      "shrinker", 3, Rounds.dropped(shrinking), shrinking.last._2))
    assert(e.getMessage.contains("shrinker") &&
      e.getMessage.contains("after 3 rounds") &&
      e.getMessage.contains("changed 3 rows, 11 rows left"), e.getMessage)
    // 20 -> 5 -> 5: shrank, then settled; only the last two rounds count
    val settled = Rounds.iterate(spark.range(20).toDF(), 2) { (df, _) =>
      df.filter(col("id") < 5)
    }
    assert(Rounds.dropped(settled) == 0L)
    Rounds.requireFixpoint("settled", 2, Rounds.dropped(settled),
      settled.last._2)
  }

  test("changedRows counts the rows whose value moved on the same key") {
    val prev = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).toDF("node", "label")
    val next = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L)).toDF("node", "label")
    assert(Rounds.changedRows(prev, next, "node", "label") == 2L)
    assert(Rounds.changedRows(next, next, "node", "label") == 0L)
  }
}
