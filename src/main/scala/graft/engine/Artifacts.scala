package graft.engine

/** Session-scoped, content-keyed names for published query artifacts
  * (VERDICT r12 item 6): the lifecycle compositions (q115/q127/q129/
  * q132/q133/q134, x64) publish frozen artifacts — benchmark n-gram
  * tables, vocabularies, ANN codebooks/codes — that are pure functions
  * of (scale-factor dir, operator parameters). Re-publishing them on
  * every run is correct but repays the cold catalog/store write each
  * time; naming them by (pid, JVM start, content key) instead lets a
  * publish-if-absent skip the work on every later in-session run —
  * including ACROSS queries that need the same artifact (q129, q133 and
  * x64 share one benchmark table; q115, q132, q133 and q134 share one
  * frozen-half vocabulary) — while a new JVM can never collide with a
  * stale same-pid directory from an earlier session.
  *
  * Correctness is unaffected: every shared artifact is deterministic
  * (hash draws, frequency-ranked vocabularies, distinct n-gram sets),
  * so whichever query publishes first, the artifact is bit-identical to
  * what any of them would have published — and the from-scratch path is
  * exactly what a fresh JVM (the driver's Verify run, every spec
  * session) exercises anyway.
  */
object Artifacts {

  private val jvmStart: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private def key8(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString

  /** A tmp-dir SnapshotStore root for artifact `name` derived from
    * `contentKey` (typically the SF dir plus any parameters). */
  def root(name: String, contentKey: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${name}_" +
      s"${ProcessHandle.current().pid()}_${jvmStart}_${key8(contentKey)}"

  /** A private scratch directory `tmpdir/graft_<name>_<pid>`,
    * wiped and ready to write: everything under it is rebuilt on every
    * run, unlike the publish-if-absent [[root]]. The name carries no JVM
    * start or content key, so a later run of the same query in the same
    * process reuses (after the wipe) the same directory. */
  def scratch(name: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_${name}_" +
      ProcessHandle.current().pid()
    graft.engine.sources.SnapshotStore.deleteRecursively(
      java.nio.file.Paths.get(dir))
    dir
  }

  /** A catalog table name for artifact `name` derived from
    * `contentKey` — same scoping as [[root]]. */
  def table(name: String, contentKey: String): String =
    s"graft_${name}_${ProcessHandle.current().pid()}_${jvmStart}_" +
      key8(contentKey)

  /** Reclaim the on-disk leftovers of DEAD sessions. Session-scoped
    * names are what make publish-if-absent safe, but they also mean no
    * later JVM ever reuses — or cleans — a previous session's warehouse
    * tables and tmp roots, so disk grows by one artifact set per session
    * forever. Every `graft_…` directory embeds its owner's pid at a
    * KNOWN position (see [[ownerPid]]); at session start this sweeps
    * the warehouse and tmp dirs and deletes entries whose owning process
    * no longer exists. Conservative by construction: a live pid (ours,
    * another running session, or even an unrelated process that recycled
    * the number) is always kept — the cost of a false keep is bounded
    * garbage, the cost of a false delete would be a live session's
    * published artifact.
    *
    * NAMING CONVENTION (enforced by [[ownerPid]], ADVICE r15): every
    * graft_* filesystem entry must carry its owner pid either as the
    * LAST underscore segment (the [[scratch]] shape,
    * `graft_q95_snap_<pid>`) or in the [[root]]/[[table]] shape
    * `graft_<name>_<pid>_<13-digit-jvmStart>_<key8>`. [[root]],
    * [[table]] and [[scratch]] are the only constructors of graft_*
    * names (a source-guard spec keeps `java.io.tmpdir` out of every
    * other file but `MlQueries.scoredDir`), so this module alone owns
    * the format it parses back here. Any other shape —
    * including a future name with a leading numeric segment like
    * `graft_13_gram_tmp` — parses to NO owner and is kept forever,
    * never misattributed to an unrelated (possibly dead) pid. */
  def gcDeadSessions(): Unit = {
    gcIn(java.nio.file.Paths.get(
      new java.io.File("spark-warehouse").getAbsolutePath))
    gcIn(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
  }

  /** The owner pid of a graft_* entry name, per the convention in
    * [[gcDeadSessions]] — positionally anchored, so an artifact name
    * with an incidental numeric segment can never be parsed as a pid
    * (the r15-advice live-deletion hazard). Linux pids are ≤ 7 digits
    * (pid_max caps at 2^22): the bound is exactly 7, which also keeps
    * an all-decimal 8-char key8 hash tail (probability (10/16)^8 ≈ 2.3%
    * per content key) and the 13-digit jvmStart from ever reading as a
    * pid. The `_pid_jvmStart_key8` shape is tried FIRST — its pid
    * position is unambiguous — then the pid-last scratch shape. */
  private[engine] def ownerPid(name: String): Option[Long] = {
    def isPidShaped(s: String) =
      s.nonEmpty && s.length <= 7 && s.forall(_.isDigit)
    val segs = name.split("_")
    if (segs.length >= 4 && segs(segs.length - 2).matches("\\d{12,14}")
        && isPidShaped(segs(segs.length - 3)))
      segs(segs.length - 3).toLongOption
    else if (isPidShaped(segs.last)) segs.last.toLongOption
    else None
  }

  private[engine] def gcIn(parent: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.isDirectory(parent)) return
    val self = ProcessHandle.current().pid()
    val s = java.nio.file.Files.list(parent)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.foreach { p =>
        val name = p.getFileName.toString
        if (name.startsWith("graft_")) {
          ownerPid(name)
            .foreach { pid =>
              val alive = pid == self || ProcessHandle.of(pid).isPresent
              if (!alive)
                // another session may be gc-ing concurrently; losing the
                // race to delete the same dead dir is fine
                try graft.engine.sources.SnapshotStore.deleteRecursively(p)
                catch { case _: java.io.IOException => ()
                  case _: java.io.UncheckedIOException => () }
            }
        }
      }
    } finally s.close()
  }
}
