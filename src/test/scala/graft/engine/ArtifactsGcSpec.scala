package graft.engine

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** [[Artifacts.gcDeadSessions]]'s sweep rule: a `graft_…` entry whose
  * embedded owner pid — positionally anchored by [[Artifacts.ownerPid]]:
  * the LAST underscore segment, or third-from-last in the
  * `…_<pid>_<jvmStart>_<key8>` Artifacts shape — no longer names a live
  * process is deleted; live-pid entries, non-graft entries, and entries
  * with no anchored pid are kept. The session-scoped artifact names make
  * publish-if-absent safe but mean nothing ever reuses a dead session's
  * tmp roots — without the sweep, disk grows by one
  * artifact set per session forever (322 MB observed after 14 rounds). */
class ArtifactsGcSpec extends AnyFunSuite {

  private def mkDir(parent: Path, name: String): Path = {
    val d = Files.createDirectory(parent.resolve(name))
    Files.writeString(d.resolve("data.bin"), "x")
    d
  }

  test("gcIn deletes dead-pid graft dirs, keeps live/self/non-graft/unparseable") {
    val parent = Files.createTempDirectory("graft-gc-spec")
    // a pid that existed and is now certainly dead
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    val deadPid = p.pid()
    val self = ProcessHandle.current().pid()
    val dead1 = mkDir(parent, s"graft_bench13_${deadPid}_1786755665263_ab12cd34")
    val dead2 = mkDir(parent, s"graft_x65_trim_$deadPid")
    val live = mkDir(parent, s"graft_vocab16f_${self}_1786755665263_ab12cd34")
    val notGraft = mkDir(parent, s"spark_${deadPid}_whatever")
    val noPid = mkDir(parent, "graft_nopid_marker")
    // the ADVICE-r15 hazard: a leading numeric segment must NOT be read
    // as the owner pid — under the old first-digits parse, `13` (almost
    // certainly no live process) would get a LIVE session's dir deleted
    val leadingNum = mkDir(parent, "graft_13_gram_tmp")
    // …while the same name correctly pid-suffixed still sweeps
    val leadingNumDead = mkDir(parent, s"graft_13_gram_$deadPid")
    Artifacts.gcIn(parent)
    assert(!Files.exists(dead1) && !Files.exists(dead2),
      "dead-session artifacts must be swept")
    assert(Files.exists(live), "the current session's artifacts must survive")
    assert(Files.exists(notGraft), "non-graft entries are out of scope")
    assert(Files.exists(noPid), "entries with no pid segment are kept")
    assert(Files.exists(leadingNum),
      "a leading numeric segment is NOT an owner pid — entry must be kept")
    assert(!Files.exists(leadingNumDead),
      "pid-suffixed dead entry must still be swept")
  }

  test("ownerPid anchors positionally") {
    assert(Artifacts.ownerPid("graft_q95_snap_4711").contains(4711L))
    assert(Artifacts.ownerPid(
      "graft_vocab16f_4711_1786755665263_ab12cd34").contains(4711L))
    assert(Artifacts.ownerPid("graft_13_gram_tmp").isEmpty)
    assert(Artifacts.ownerPid("graft_nopid_marker").isEmpty)
    // 13-digit tail (a jvmStart-like segment) is too long to be a pid
    assert(Artifacts.ownerPid("graft_thing_1786755665263").isEmpty)
    // an ALL-DECIMAL key8 hash tail ((10/16)^8 of content keys) must
    // resolve to the anchored pid, never be mistaken for one itself
    assert(Artifacts.ownerPid(
      "graft_vocab16f_4711_1786755665263_31415926").contains(4711L))
    // …and an 8-digit tail with no jvmStart anchor is no pid at all
    // (Linux pid_max is 2^22 = 7 digits)
    assert(Artifacts.ownerPid("graft_thing_31415926").isEmpty)
  }
}
