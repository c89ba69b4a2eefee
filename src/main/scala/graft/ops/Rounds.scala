package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** Eager cuts: per-round state of an iteration unrolled in Scala (PageRank,
  * label propagation, k-core peeling, min-label components, Lloyd
  * rounds), and any frame that several later actions read (the E1
  * pipeline's conformed sources).
  *
  * Each state is cut from its lineage with an eager `localCheckpoint`,
  * so round k re-reads k-1's materialized blocks instead of replaying
  * every earlier round, and each consumer of a landed frame reads its
  * blocks instead of recomputing it. The cut also counts: a fresh
  * [[Observation]] rides the checkpoint's own job, so the row count
  * costs no second job. The landed frame's plan is still a bare
  * `LogicalRDD`; the observation shows only in the checkpoint job. The
  * blocks have no lineage: a lost executor fails the next action that
  * reads them, and Spark's cleaner frees them once the frame is
  * unreachable.
  *
  * A fixed round count is a budget, not the semantics: where the
  * answer is a fixpoint, [[requireFixpoint]] turns a too-deep input
  * into a loud failure instead of a silently truncated result.
  * Independent frames land side by side with [[landAll]]. */
object Rounds {

  /** Largest per-round state (rows) that rides a broadcast join; past
    * it a multi-million-row vector takes a shuffle join instead of a
    * per-round broadcast hash table (the constrained-heap gate saw the
    * broadcast starve execution memory at 0.75 GB/core). */
  val BroadcastRows = 1000000L

  /** `df` cut by an eager `localCheckpoint` (one job), and its row count,
    * read off that job. */
  def land(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val cut = df.observe(obs, count(lit(1)).as("rows")).localCheckpoint(true)
    (cut, obs.get("rows").asInstanceOf[Long])
  }

  /** Each of `dfs` landed as by [[land]], as concurrent jobs: one fresh
    * thread per frame, so the jobs share the cores instead of queueing.
    * A fresh thread inherits a copy of the caller's Spark local
    * properties (job group, scheduler pool, any caller tag), so its job
    * carries them. Every thread is joined before this returns, in `dfs`
    * order, or rethrows the first failure in that order: a failing
    * landing never leaves another one running behind the caller. */
  def landAll(dfs: DataFrame*): Seq[(DataFrame, Long)] = {
    val landed = new Array[Try[(DataFrame, Long)]](dfs.size)
    val threads = dfs.zipWithIndex.map { case (df, i) =>
      new Thread(() =>
        landed(i) = try Success(land(df)) catch { case t: Throwable => Failure(t) },
        s"rounds-land-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    landed.toSeq.map(_.get)
  }

  /** `init` and `n` rounds of `step`, each landed; `step` sees the
    * previous round's state and row count. Returns all `n + 1`
    * `(state, rows)`, `init` first. */
  def iterate(init: DataFrame, n: Int)(
      step: (DataFrame, Long) => DataFrame): IndexedSeq[(DataFrame, Long)] =
    (1 to n).scanLeft(land(init)) { case ((s, rows), _) =>
      land(step(s, rows))
    }

  /** Rows the final round removed from a state that only shrinks (each
    * round's rows a subset of the round before), so equal counts mean
    * an equal state. Read off the landed counts: no job. */
  def dropped(rounds: Seq[(DataFrame, Long)]): Long =
    rounds(rounds.size - 2)._2 - rounds.last._2

  /** Rows of `next` whose `value` differs from `prev`'s on the same
    * `key`: one count job. */
  def changedRows(prev: DataFrame, next: DataFrame, key: String,
                  value: String): Long =
    next.join(prev.select(col(key), col(value).as("__prev")), key)
      .filter(col(value) =!= col("__prev")).count()

  /** Throws unless the final of `budget` rounds changed none of the
    * state's rows; `rows` is the final state's row count. */
  def requireFixpoint(entry: String, budget: Int, changed: Long,
                      rows: Long): Unit =
    require(changed == 0L,
      s"$entry: not converged after $budget rounds (the final round " +
        s"changed $changed rows, $rows rows left) - raise the round budget")
}
