package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** (SparkSession, sf-dir)-keyed memo: the cache of every [[SharedStage]]
  * and of per-session facts such as `io.Tables`' timestamp encoding. The
  * first `getOrBuild` pays the build, the rest reuse the artifact.
  *
  * Entries are evicted when the owning session's application ends (one
  * listener per session, registered lazily on first build), so a test
  * harness cycling many short-lived sessions cannot accumulate
  * references to dead DataFrames.
  */
final class SessionScopedCache[V] {
  SessionScopedCache.register(this)
  private val cache = new ConcurrentHashMap[(SparkSession, String), V]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  def getOrBuild(s: SparkSession, dir: String)(build: => V): V =
    cache.computeIfAbsent((s, dir), _ => {
      if (hooked.add(s))
        s.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(
              e: SparkListenerApplicationEnd): Unit = {
            cache.keySet.removeIf(_._1 eq s)
            hooked.remove(s)
          }
        })
      build
    })

  /** Drop the (session, dir) entry so the next getOrBuild rebuilds
    * ([[SharedStage.rebuild]], executor-loss recovery). Cached
    * DataFrames (alone or inside tuples) get a best-effort unpersist;
    * localCheckpoint blocks of a dropped artifact are reclaimed by the
    * ContextCleaner once unreferenced. */
  def evict(s: SparkSession, dir: String): Unit =
    Option(cache.remove((s, dir))).foreach(release)

  private def release(v: Any): Unit = v match {
    case df: org.apache.spark.sql.Dataset[_] =>
      scala.util.Try(df.unpersist(blocking = false))
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }
}

object SessionScopedCache {
  private val all =
    ConcurrentHashMap.newKeySet[SessionScopedCache[_]]()
  private def register(c: SessionScopedCache[_]): Unit = { all.add(c); () }

  /** Executor-loss recovery hook: `localCheckpoint` blocks are
    * deliberately NOT fault-tolerant (the sandbox tradeoff every shared
    * stage takes — a reliable checkpoint dir would pay a DFS round trip
    * per artifact), so a lost executor invalidates any cached artifact
    * whose blocks it held, and every consumer of that artifact fails
    * with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND until the entry is dropped.
    * Evicting every registered cache for (session, dir) lets the next
    * access REBUILD from source — the semantics a production pipeline
    * wants from a lost ephemeral artifact (proven by the local-cluster
    * executor-SIGKILL probe, r15). */
  def evictAll(s: SparkSession, dir: String): Unit =
    all.forEach(_.evict(s, dir))
}
