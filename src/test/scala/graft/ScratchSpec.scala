package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Scratch

/** The orphan-reclaim sweep (r13 advice): a SIGKILLed JVM never runs its
  * shutdown hook, and the next JVM's fresh PID means the fixed-name
  * overwrite no longer lands on the orphan — so `graft_*_p<pid>` dirs
  * from dead PIDs must be reclaimed at startup, while dirs owned by a
  * LIVE pid (this JVM, or any other running process) must never be
  * touched. Hermetic: runs against a private temp base, no Spark.
  */
class ScratchSpec extends AnyFunSuite {

  private def mkFixture(base: File, name: String): File = {
    val d = new File(base, name)
    assert(d.mkdirs())
    Files.writeString(new File(d, "part-0000").toPath, "x")
    d
  }

  /** A PID guaranteed dead: walk down from just under the kernel's
    * default pid_max; the probe itself proves non-existence. */
  private def deadPid: Long =
    Iterator.iterate(4194000L)(_ - 1)
      .find(p => !ProcessHandle.of(p).isPresent).get

  test("sweepOrphans reclaims dead-PID dirs and spares live ones") {
    val base = Files.createTempDirectory("scratch_spec").toFile
    try {
      val dp = java.lang.Long.toHexString(deadPid)
      val dead1 = mkFixture(base, s"graft_dpp_orders_1a2b_p$dp")
      val dead2 = mkFixture(base, s"graft_fbsink_9c_p${dp}_s3f4a")
      val mine = mkFixture(base, s"graft_compact_77_p${Scratch.jvmTag}")
      val other = mkFixture(base, "graft_tag_ff_pzz") // unparsable pid
      val plain = mkFixture(base, "not_a_graft_dir")
      val n = Scratch.sweepOrphans(Seq(base.getPath))
      assert(n === 2, "exactly the two dead-PID dirs")
      assert(!dead1.exists() && !dead2.exists())
      assert(mine.exists() && other.exists() && plain.exists())
    } finally Scratch.deleteRecursively(base)
  }

  test("jvmDir lands on disk tmpdir; sessionDir pattern is sweepable") {
    val j = Scratch.jvmDir("spec_probe", "/no/such/dir")
    assert(j.startsWith(System.getProperty("java.io.tmpdir")),
      s"build-once GB-scale layouts must live on disk, got $j")
    // every name Scratch mints must round-trip through the orphan
    // matcher, else a future rename silently exempts itself from reclaim
    val names = Seq(
      new File(j).getName,
      s"graft_t_${Integer.toHexString(42)}_p${Scratch.jvmTag}_sabc123",
      graft.streaming.Streams.checkpointName(7),
      Scratch.sessionDirName(graft.queries.Events.slicedFixtureTag(3, 12),
        "/no/such/dir", "abc123"))
    val m = "graft_.*_p([0-9a-f]+?)(?:_s[0-9a-f]+)?".r
    names.foreach { n =>
      n match {
        case m(pid) => assert(pid == Scratch.jvmTag, s"pid token of $n")
        case _ => fail(s"$n must be orphan-sweepable")
      }
    }
  }
}
