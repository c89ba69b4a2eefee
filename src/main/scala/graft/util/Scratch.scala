package graft.util

import java.io.File

import org.apache.spark.sql.SparkSession

/** Scratch-path factory for fixture writes (layout round trips, the DPP
  * partitioned fact, streaming sink landings). Two isolation guarantees
  * the ad-hoc `java.io.tmpdir` + `d.hashCode` naming could not give:
  *
  *  1. '''Per-JVM ownership''' — every path embeds this JVM's PID, so two
  *     JVMs sweeping the same data dir never share (or delete) each
  *     other's fixtures, and the shutdown hook removes only what this
  *     JVM built.
  *  2. '''Per-session ownership''' (via [[sessionDir]]) — fixtures that
  *     are REWRITTEN on every call additionally embed the session token,
  *     so two SparkSessions in one JVM running the same query
  *     concurrently cannot race `mode(overwrite)` on one path (Spark's
  *     commit protocol shares a `_temporary` dir — concurrent overwrites
  *     of the same path delete each other's in-flight task output).
  *
  * Deletion is crash-safe against concurrent cleanup: `listFiles` is
  * null-guarded (the dir may vanish under us) and each registered root is
  * removed inside its own try, so one failure cannot leak the rest.
  */
object Scratch {

  /** Hex PID — the per-JVM namespace token. */
  val jvmTag: String = java.lang.Long.toHexString(ProcessHandle.current().pid())

  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[File]()

  sys.addShutdownHook {
    registered.forEach { f =>
      try deleteRecursively(f)
      catch { case _: Exception => () }
    }
  }

  /** Recursive delete tolerant of concurrent removal: a dir that vanishes
    * mid-walk yields a null `listFiles`, treated as already-gone. */
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File])
        .foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** tmpfs when available — for the SMALL per-run landings only (source
    * round trips, streaming sinks): fixture IO off the bench's critical
    * path, bounded MBs per entry. */
  def shmBase: String =
    if (new File("/dev/shm").isDirectory) "/dev/shm"
    else System.getProperty("java.io.tmpdir")

  /** Disk tmpdir — for the build-once GB-scale layouts (the DPP fact
    * rewrite, compacted/bucketed warehouses). Routing those to tmpfs
    * would let repeated or SIGKILLed sweeps (whose shutdown hook never
    * ran) exhaust RAM; disk pressure is visible and bounded instead. */
  def diskBase: String = System.getProperty("java.io.tmpdir")

  /** Reclaim dirs leaked by crashed JVMs: a SIGKILL skips the shutdown
    * hook, and the next JVM's fresh PID means its fixed-name overwrite
    * no longer lands on the orphan. Any `graft_*_p<pid>[_s*]` dir whose
    * PID is no longer alive is fair game — PID reuse by an unrelated
    * process merely defers cleanup to a later sweep (never deletes a
    * live owner's data: a live graft JVM's dirs embed its live PID).
    * Runs once per JVM at first Scratch use; races between concurrent
    * sweepers are safe (deleteRecursively tolerates vanishing files). */
  private val orphanRe = "graft_.*_p([0-9a-f]+?)(?:_s[0-9a-f]+)?".r
  /** Legacy pre-PID naming schemes (graft-bucketed, graft_fbsink_<hash>,
    * the old events-slice names): no owner token to test for liveness, so
    * they are reclaimed only when far older than any single run. Every
    * CURRENT writer embeds `_p<pid>` (handled above), so a live JVM never
    * owns a legacy-named dir; the age guard additionally protects a
    * concurrent old-build JVM's fixtures mid-run. */
  private val legacyStaleMs = 6L * 60 * 60 * 1000
  private[graft] def sweepOrphans(bases: Seq[String]): Int = {
    var n = 0
    val now = System.currentTimeMillis()
    bases.distinct.foreach { b =>
      Option(new File(b).listFiles()).getOrElse(Array.empty[File]).foreach {
        f =>
          f.getName match {
            case orphanRe(pidHex) =>
              val dead = try {
                val pid = java.lang.Long.parseLong(pidHex, 16)
                pid != ProcessHandle.current().pid() &&
                  !ProcessHandle.of(pid).isPresent
              } catch { case _: Exception => false }
              if (dead) {
                try { deleteRecursively(f); n += 1 }
                catch { case _: Exception => () }
              }
            case name if name.startsWith("graft") &&
                now - f.lastModified() > legacyStaleMs =>
              try { deleteRecursively(f); n += 1 }
              catch { case _: Exception => () }
            case _ => ()
          }
      }
    }
    n
  }
  locally {
    val n = sweepOrphans(Seq(shmBase, diskBase))
    if (n > 0) System.err.println(s"[scratch] reclaimed $n orphaned " +
      "fixture dir(s) left by dead JVMs")
  }

  /** Session token: identity hash, the stable in-JVM discriminator for a
    * SparkSession (sessions sharing one JVM share one SparkContext, so
    * the PID alone cannot tell them apart). */
  def sessionTag(s: SparkSession): String =
    Integer.toHexString(System.identityHashCode(s))

  private def make(base: String, name: String): String = {
    val f = new File(base, name)
    registered.add(f)
    f.getPath
  }

  /** JVM-scoped path for build-once fixtures whose content is a pure
    * function of the data dir (the DPP fact, compacted layouts): all
    * sessions in this JVM share it; other JVMs get their own. On DISK —
    * these are the GB-scale layouts that must not pin tmpfs RAM. */
  def jvmDir(tag: String, d: String): String =
    make(diskBase, s"graft_${tag}_${Integer.toHexString(d.hashCode)}_p$jvmTag")

  /** Session-scoped path for per-run rewrite fixtures (the source
    * round trips, streaming sink landings): no two sessions — let alone
    * two JVMs — ever share one. On tmpfs — small and rewritten per run. */
  def sessionDir(s: SparkSession, tag: String, d: String): String =
    make(shmBase, sessionDirName(tag, d, sessionTag(s)))

  /** The name [[sessionDir]] mints, for the session token `session`. */
  private[graft] def sessionDirName(tag: String, d: String,
                                    session: String): String =
    s"graft_${tag}_${Integer.toHexString(d.hashCode)}_p${jvmTag}_s$session"
}
