package graft.engine.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** Versioned snapshot publishing over plain parquet — the minimal atomic
  * table pattern a 100 TB pipeline needs without a table format dependency:
  *
  *  - every publish writes a COMPLETE new version directory `v{N}`;
  *  - `CURRENT` (a one-line pointer file) is flipped by write-temp +
  *    atomic-rename, so a reader resolving the pointer sees either the old
  *    or the new version, never a partial write;
  *  - old versions stay on disk until vacuumed → time travel
  *    (`read(root, version = n)`) and instant rollback (`rollback`)
  *    are pointer operations, no data movement.
  *
  * On a real deployment the pointer rename maps to an atomic object-store
  * or HDFS rename (both give single-object atomicity); the data writes are
  * the same `DataFrameWriter` output-committer paths Spark already uses.
  * Citing the reference's save-mode policy surface
  * (`no_pipeline/Predict.scala:96`, `package.scala:31-36`) — this is the
  * same sink capability hardened for concurrent readers.
  */
object SnapshotStore {

  private def pointerPath(root: String) = Paths.get(root, "CURRENT")

  private[sources] val TagFile = "_GRAFT_TAG"

  /** Versions carrying an idempotence tag (version → tag). A tag rides
    * INSIDE its version directory (`_GRAFT_TAG` — underscore-prefixed, so
    * parquet readers ignore it like `_SUCCESS`) and is written into the
    * staging directory BEFORE the atomic move: a version and its tag
    * become visible together or not at all. [[publishBucketed]]/[[merge]]
    * refuse to apply a tag that is already present — the transactional-
    * sink primitive an at-least-once caller (foreachBatch epoch replay)
    * needs for EXACTLY-ONCE non-idempotent writes, checked under the
    * flip-lock so concurrent same-tag publishers can't both land.
    * Tags live and die with their version directory: [[vacuum]]ing past
    * the caller's replay horizon forfeits replay detection for the
    * vacuumed epochs (streams replay only their most recent epoch, so
    * any keep ≥ 1 horizon is safe in practice). */
  def versionTags(root: String): Map[Long, String] = {
    val d = Paths.get(root)
    if (!Files.exists(d)) Map.empty
    else {
      val stream = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.flatMap { p =>
          val name = p.getFileName.toString
          if (!name.startsWith("v")) None
          else name.drop(1).toLongOption.flatMap { v =>
            val t = p.resolve(TagFile)
            if (Files.exists(t))
              Some(v -> new String(Files.readAllBytes(t),
                StandardCharsets.UTF_8))
            else None
          }
        }.toMap
      } finally stream.close()
    }
  }

  private[sources] def taggedVersion(root: String, tag: Option[String]): Option[Long] =
    tag.flatMap(t => versionTags(root).collectFirst {
      case (v, vt) if vt == t => v
    })

  /** Recursive delete (children-first; a no-op on a missing path) —
    * shared by the store internals and every store-backed query's
    * scratch-root wipe, so the try/finally stream discipline lives in
    * ONE place. */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }

  /** The one owner of a writer's staging dir: runs `write` against a
    * fresh `.staging-<pid>-<nanos>` dir under `root` (the name [[vacuum]]'s
    * stale sweep matches) and, if `write` throws — a failed or cancelled
    * Spark job included — deletes the dir before rethrowing. A `write`
    * that returns has moved the dir into a version or removed it
    * ([[commitStaged]], an empty append). */
  private[sources] def staged[T](root: String)(
      write: java.nio.file.Path => T): T = {
    val staging = Paths.get(root,
      s"$StagingPrefix${ProcessHandle.current().pid()}-${System.nanoTime()}")
    try write(staging)
    catch { case e: Throwable =>
      try deleteRecursively(staging)
      catch { case c: Exception => e.addSuppressed(c) }
      throw e
    }
  }

  private val StagingPrefix = ".staging-"

  private val ManifestFile = "_GRAFT_MANIFEST"
  private val KindFile = "_GRAFT_KIND"
  private val SchemaFile = "_GRAFT_SCHEMA"

  /** How a version came to be — the lineage fact [[readSince]]'s
    * soundness depends on: `base` (full publish/publishBucketed),
    * `append` (fresh files only, every base file carried by link),
    * `rewrite` (merge/compact replaced files, so a file diff across it
    * no longer equals a row delta). Written with the manifest, atomic
    * with the version; None only for a path that holds no version. */
  def versionKind(root: String, version: Long): Option[String] = {
    val f = Paths.get(root, s"v$version", KindFile)
    if (!Files.exists(f)) None
    else Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim)
  }

  /** The READ schema a version was written with (including `_bucket` for
    * bucketed stores), recorded so a version holding ZERO data files —
    * a full takedown ([[deleteKeys]] of every key) legitimately produces
    * one — stays readable: with no footers to infer from, the sidecar is
    * the only schema source. None when the version records none
    * ([[versionMeta]] rejects such a version). */
  def versionSchema(root: String, version: Long)
      : Option[org.apache.spark.sql.types.StructType] = {
    val f = Paths.get(root, s"v$version", SchemaFile)
    if (!Files.exists(f)) None
    else org.apache.spark.sql.types.DataType.fromJson(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8)) match {
      case st: org.apache.spark.sql.types.StructType => Some(st)
      case _ => None
    }
  }

  /** Write the per-version FILE MANIFEST into a staging dir: one relative
    * data-file path per line, sorted. Called after every data write /
    * hardlink carryover and BEFORE the atomic move, so a version and its
    * manifest become visible together or not at all (the same contract as
    * [[versionTags]]'s tag file). Every read plans its scan from the
    * manifest ([[scan]]) instead of enumerating the directory — at real
    * scale the listing-at-read pattern is the object-store anti-pattern
    * every table format exists to kill (O(files) LIST calls,
    * eventual-consistency windows). A read costs two small metadata
    * reads (this manifest and the schema sidecar) plus one stat per
    * listed file: no LIST call and no footer read. [[auditVersion]] keeps
    * `Files.walk` as a consistency AUDIT rather than the source of truth.
    * The one-time walk here is of the just-written staging dir —
    * write-time cost, amortized over every later read. Each version also
    * records its lineage KIND (`_GRAFT_KIND`, [[versionKind]]) and its
    * READ schema (`_GRAFT_SCHEMA`, [[versionSchema]]) here, so kind,
    * schema, manifest and data become visible together or not at all. */
  private[sources] def writeVersionManifest(staging: java.nio.file.Path,
      kind: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    Files.write(staging.resolve(ManifestFile),
      dataFilesUnder(staging).mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.write(staging.resolve(KindFile),
      kind.getBytes(StandardCharsets.UTF_8))
    Files.write(staging.resolve(SchemaFile),
      schema.json.getBytes(StandardCharsets.UTF_8))
  }

  /** The data files under `dir` as sorted relative paths: regular
    * `.parquet` files whose names carry no `_`/`.` prefix. The one
    * filter the manifest, the staged read-back and the audits share. */
  private[sources] def dataFilesUnder(dir: java.nio.file.Path): Seq[String] = {
    val walk = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".")
      }.map(f => dir.relativize(f).toString).toSeq.sorted
    } finally walk.close()
  }

  /** The data files of a published version AS ITS MANIFEST RECORDS THEM
    * (relative paths). None when the version has no manifest
    * ([[versionMeta]] rejects such a version). */
  def manifestFiles(root: String, version: Long): Option[Seq[String]] = {
    val mf = Paths.get(root, s"v$version", ManifestFile)
    if (!Files.exists(mf)) None
    else Some(new String(Files.readAllBytes(mf), StandardCharsets.UTF_8)
      .split('\n').toSeq.filter(_.nonEmpty))
  }

  /** A version's manifest files and recorded read schema — the ONE
    * metadata lookup every reader and writer plans from. Every writer
    * records both ([[writeVersionManifest]]), atomically with the
    * version, so a version missing either is damaged (or the path holds
    * no version): it is rejected loudly, never read another way. */
  private[sources] def versionMeta(root: String, version: Long)
      : (Seq[String], org.apache.spark.sql.types.StructType) =
    (manifestFiles(root, version), versionSchema(root, version)) match {
      case (Some(files), Some(schema)) => (files, schema)
      case (files, _) => throw new IllegalStateException(
        s"v$version under $root has no " +
          (if (files.isEmpty) ManifestFile else SchemaFile) +
          ": every published version records its manifest and schema, " +
          "so this one is damaged or not a store version")
    }

  /** Consistency AUDIT of a version: (manifest entries missing on disk,
    * on-disk data files the manifest does not list). Both empty for a
    * healthy version. The directory walk lives HERE — an explicit audit
    * tool — not in the read path. */
  def auditVersion(root: String, version: Long): (Seq[String], Seq[String]) = {
    val listed = versionMeta(root, version)._1
    val onDisk = dataFilesUnder(Paths.get(root, s"v$version"))
    (listed.diff(onDisk), onDisk.diff(listed))
  }

  /** (relative path → inode) of a version's data files — the hardlink-
    * carryover observable the no-rewrite contract queries pin (q95's
    * bucket listings, q138/x70's whole-version maps). Walk-based like
    * [[auditVersion]]: an audit tool, not a read path. */
  def versionFileInodes(root: String, version: Long): Map[String, Any] = {
    val dir = Paths.get(root, s"v$version")
    dataFilesUnder(dir).map(rel =>
      rel -> Files.getAttribute(dir.resolve(rel), "unix:ino")).toMap
  }

  /** Highest version present, whether or not CURRENT points at it. */
  private def maxVersion(root: String): Long = {
    val d = Paths.get(root)
    if (!Files.exists(d)) 0L
    else {
      // Files.list holds a directory fd until closed — a long-lived driver
      // publishing in a loop would otherwise leak one per publish
      val stream = Files.list(d)
      try {
        val vs = stream.iterator()
        var m = 0L
        while (vs.hasNext) {
          val name = vs.next().getFileName.toString
          if (name.startsWith("v")) name.drop(1).toLongOption.foreach(v => m = math.max(m, v))
        }
        m
      } finally stream.close()
    }
  }

  /** Version CURRENT resolves to, 0 if never published. */
  def currentVersion(root: String): Long = {
    val p = pointerPath(root)
    if (Files.exists(p))
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  /** Write df as the next version and atomically flip CURRENT to it.
    * Returns the published version number.
    *
    * Concurrent-writer safe: the (heavy, unserialized) data write goes to
    * a unique staging dir; the version number is only CLAIMED inside the
    * flip-lock critical section — rename staging → `v{max+1}` and advance
    * the pointer as one locked step, a few milliseconds regardless of data
    * size. Two racing publishers therefore land DISTINCT versions (no
    * interleaved part-files — Spark's ErrorIfExists existence check is not
    * atomic and cannot give this), and the pointer can never regress onto
    * an older version (the lost-update the naive scan→write→flip allows).
    * A publisher that dies mid-write leaves only an ignored `.staging-*`
    * dir — CURRENT still resolves to the last good version; one whose
    * write FAILS (a cancelled job included) removes its staging dir. */
  def publish(df: DataFrame, root: String): Long = {
    // a plain publish on a BUCKETED store would flip CURRENT to a version
    // without _bucket and wedge every later merge/append/compact with a
    // misleading column-mismatch error — refuse at the right moment
    require(readBucketSpec(root).isEmpty,
      s"$root is a bucketed store (publishBucketed/merge/append/" +
        "deleteKeys are its writers); a plain publish would strip the " +
        "_bucket layout and wedge incremental writers")
    staged(root) { staging =>
      df.write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
      writeVersionManifest(staging, kind = "base", schema = df.schema)
      withFlipLock(root) {
        val next = maxVersion(root) + 1
        Files.move(staging, Paths.get(root, s"v$next"),
          StandardCopyOption.ATOMIC_MOVE)
        advancePointerLocked(root, next)
        next
      }
    }
  }

  /** Point CURRENT at an existing version (rollback / roll-forward).
    * Unlike [[publish]], moving BACKWARD is the point here, so the flip is
    * unconditional — but still serialized by the flip lock so it cannot
    * interleave with a concurrent publish's read-check-flip. */
  def rollback(root: String, version: Long): Unit = {
    require(Files.exists(Paths.get(root, s"v$version")),
      s"version $version does not exist under $root")
    withFlipLock(root)(setPointer(root, version))
  }

  /** Forward-only CURRENT flip: read-check-move as one critical section.
    * Package-private so the spec can drive the stale-publisher path
    * directly. */
  private[sources] def advancePointer(root: String, version: Long): Unit =
    withFlipLock(root)(advancePointerLocked(root, version))

  /** Forward-only flip body — caller must hold the flip lock (the lock
    * file create is not reentrant). */
  private def advancePointerLocked(root: String, version: Long): Unit = {
    val cur = currentVersion(root)
    if (cur >= version)
      throw new IllegalStateException(
        s"stale publish: CURRENT is already v$cur >= v$version under $root " +
          "(a concurrent publisher advanced the pointer); the written " +
          s"version dir v$version remains for time travel or vacuum")
    setPointer(root, version)
  }

  /** The flip lock's lease: the age past which a held lock counts as
    * abandoned, and half the longest a writer waits to acquire. */
  private val LockLeaseMs = 60000L

  /** Mutual exclusion for pointer flips via atomic lock-file create (maps
    * to an atomic PUT-if-absent / create-no-overwrite on HDFS and object
    * stores that support it). A lock older than [[LockLeaseMs]] is
    * treated as abandoned by a crashed writer and broken.
    *
    * Ownership is tracked by a unique token (pid + thread + nonce) written
    * into the lock file, because stale-breaking makes "I created the file"
    * insufficient: a holder paused past the lease (GC / FS stall) can have
    * its lock broken and re-acquired by another writer. The token lets a
    * revived holder DETECT the loss — it re-enters the acquire loop instead
    * of flipping, and its release never deletes a lock it no longer owns.
    * The lease must exceed the worst-case critical-section pause; every
    * section is metadata only (a dir rename + pointer write, a cursor or
    * spec write — milliseconds, no Spark job), and
    * [[advancePointerLocked]]'s forward-only check backstops publish even
    * if a pathological pause defeats the lease. Package-private so the
    * spec can drive the ownership-loss path directly. */
  private[sources] def withFlipLock[A](root: String)(body: => A): A = {
    Files.createDirectories(Paths.get(root))
    val lock = Paths.get(root, ".CURRENT.lock")
    val token = s"${ProcessHandle.current().pid()}-" +
      s"${Thread.currentThread().getId}-${System.nanoTime()}"
    var waitedMs = 0L
    // the lock exists and is someone else's: age it, maybe break it,
    // else back off (shared by the primary and degraded acquire paths)
    def contend(): Unit = {
      val observed = readLockToken(lock)
      val age = try System.currentTimeMillis() -
        Files.getLastModifiedTime(lock).toMillis
      catch { case _: java.nio.file.NoSuchFileException => 0L }
      if (age > LockLeaseMs) breakStaleLock(lock, observed)
      else {
        Thread.sleep(10)
        waitedMs += 10
        require(waitedMs < LockLeaseMs * 2, s"could not acquire flip lock $lock")
      }
    }
    // STAMP-AT-BIRTH: the token is written to a private tmp file and the
    // lock CREATED as an atomic hardlink to it, so (a) the lock never
    // exists empty (the old create-then-stamp protocol had an unstamped
    // window a breaker could misjudge) and (b) this writer never write()s
    // into the shared lock path at all — a writer that stalled past its
    // lease and was broken could otherwise TRUNCATE the successor's live
    // lock with its own late stamp, silently re-admitting itself into a
    // critical section the successor already occupies (the
    // mutual-exclusion hole the r16 review found).
    val stampTmp = lock.resolveSibling(s".CURRENT.lock.stamp.$token")
    try {
      Files.write(stampTmp, token.getBytes(StandardCharsets.UTF_8))
      while (true) {
        var acquired = false
        while (!acquired) {
          try {
            // re-stamp the inode's mtime at EVERY attempt: link(2) copies
            // the inode (whose mtime was set when stampTmp was written,
            // possibly up to 2 leases ago after a long contention wait),
            // so without this a winner that waited W ms would acquire a
            // lock already W ms into its lease — immediately breakable by
            // the next contender while the winner is inside its critical
            // section (mutual-exclusion hole). Touching stampTmp just
            // before the link makes the lease start at acquisition, same
            // as the degraded createFile path.
            Files.setLastModifiedTime(stampTmp,
              java.nio.file.attribute.FileTime.fromMillis(
                System.currentTimeMillis()))
            Files.createLink(lock, stampTmp) // atomic create-no-overwrite
            acquired = readLockToken(lock).contains(token)
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => contend()
            case _: UnsupportedOperationException |
                _: java.nio.file.FileSystemException =>
              // no hardlink support: degraded two-step create+stamp. The
              // stamp opens WRITE-only (no CREATE), so a lock broken and
              // re-created by a successor between the two steps makes
              // the late stamp THROW instead of clobbering it (the
              // clobber window narrows to the successor re-creating the
              // path between our createFile and write — microseconds,
              // and only on filesystems without hardlinks)
              try {
                Files.createFile(lock)
                try Files.write(lock,
                  token.getBytes(StandardCharsets.UTF_8),
                  java.nio.file.StandardOpenOption.WRITE,
                  java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
                catch { case _: java.nio.file.NoSuchFileException => () }
                acquired = readLockToken(lock).contains(token)
              } catch {
                case _: java.nio.file.FileAlreadyExistsException =>
                  contend()
              }
          }
        }
        // last-moment ownership check: if we paused long enough to be
        // broken between stamping and here, another writer may hold the
        // lock now — re-enter the acquire loop rather than flip under a
        // lock we lost
        if (readLockToken(lock).contains(token)) {
          try return body
          finally {
            // release only what we still own; deleting a successor's
            // fresh lock would let a third writer in alongside them
            if (readLockToken(lock).contains(token))
              Files.deleteIfExists(lock)
          }
        }
      }
      throw new IllegalStateException("unreachable")
    } finally Files.deleteIfExists(stampTmp)
  }

  private def readLockToken(lock: java.nio.file.Path): Option[String] =
    try Some(new String(Files.readAllBytes(lock), StandardCharsets.UTF_8))
    catch { case _: Exception => None }

  /** Break an abandoned lock via atomic rename, so (a) two breakers cannot
    * both think they broke it — only one rename succeeds — and (b) a FRESH
    * lock re-created between our age check and the rename is not silently
    * destroyed: the renamed file's token is compared with what the age
    * check observed, and on mismatch the live lock is moved back (or, if a
    * third writer already re-created the lock path, dropped — the wronged
    * owner detects the token mismatch at its next ownership check and
    * re-acquires). */
  private def breakStaleLock(
      lock: java.nio.file.Path, observed: Option[String]): Unit = {
    val grave = lock.resolveSibling(
      s"${lock.getFileName}.broken-${System.nanoTime()}")
    try {
      Files.move(lock, grave, StandardCopyOption.ATOMIC_MOVE)
      val stolen = readLockToken(grave)
      if (stolen == observed) Files.deleteIfExists(grave)
      else {
        try Files.move(grave, lock, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: Exception => Files.deleteIfExists(grave) }
      }
    } catch { case _: Exception => () } // lost the break race, or released
  }

  private def setPointer(root: String, version: Long): Unit = {
    val tmp = Paths.get(root, s".CURRENT.tmp.${System.nanoTime()}")
    Files.createDirectories(Paths.get(root))
    Files.write(tmp, version.toString.getBytes(StandardCharsets.UTF_8))
    // ATOMIC_MOVE: a concurrent reader of CURRENT sees old or new, never
    // a torn write
    Files.move(tmp, pointerPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read the current (or a pinned) snapshot, planned from the version's
    * own metadata ([[scan]]): its manifest names the files and its schema
    * sidecar is the schema, so building the DataFrame starts no Spark
    * job.
    *
    * The recorded schema is the read half of SCHEMA EVOLUTION (see
    * [[append]]'s `allowNewColumns` / `allowWidening`): a version whose
    * files straddle an evolution carries two physical schemas, and its
    * sidecar records their UNION — pre-evolution files read a new column
    * as NULL and up-cast a widened one at scan, deterministically (no
    * footer sampling). Time travel composes: the sidecar is per version,
    * so a version pinned BEFORE the evolution returns its own narrower
    * schema. */
  def read(spark: SparkSession, root: String, version: Long = 0L): DataFrame = {
    val v = if (version > 0) version else currentVersion(root)
    require(v > 0, s"no published version under $root")
    val (files, schema) = versionMeta(root, v)
    scanFiles(spark, s"$root/v$v", files, schema, bucketSpecAt(root, v))
  }

  /** THE way a versioned store's files become a DataFrame: `files`
    * (relative to `v$version`, from its manifest or a subset of it) under
    * the version's recorded schema ([[versionSchema]]) and bucket spec
    * ([[bucketSpecAt]]), through a [[ManifestFileIndex]] — no footer
    * job, no listing job, and a zero-file subset is simply the empty
    * answer with that schema (a full-takedown [[deleteKeys]] produces
    * one). */
  private[sources] def scan(spark: SparkSession, root: String, version: Long,
      files: Seq[String]): DataFrame =
    scanFiles(spark, s"$root/v$version", files, versionMeta(root, version)._2,
      bucketSpecAt(root, version))

  /** [[scan]] with the schema and spec in hand — also the read-back of a
    * staged write, whose schema is the written frame's. `_bucket` is a
    * partition column when every file sits under a `_bucket=k/` dir,
    * so it comes last, as a directory read would place it. Such a
    * layout under a `spec` scans BUCKETED: it reports Spark's
    * `HashPartitioning` on the key columns, which [[bucketExpr]]
    * assigned, so a join or aggregate on the key shuffles only its other
    * side. Spark's `autoBucketedScan` keeps a scan that no operator
    * benefits from at its file-split width. */
  private[sources] def scanFiles(spark: SparkSession, dir: String,
      files: Seq[String], schema: org.apache.spark.sql.types.StructType,
      spec: Option[(String, Int)]): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val bucketed = schema.fieldNames.contains("_bucket") &&
      files.forall(_.startsWith("_bucket="))
    val (part, data) =
      if (bucketed) schema.fields.partition(_.name == "_bucket")
      else (Array.empty[org.apache.spark.sql.types.StructField], schema.fields)
    val partSchema = StructType(part.map(_.copy(nullable = true)))
    org.apache.spark.sql.graft.Bridge.parquetScan(spark,
      new ManifestFileIndex(spark, dir, files, partSchema), partSchema,
      StructType(data), spec.filter(_ => bucketed).map { case (k, n) =>
        org.apache.spark.sql.catalyst.catalog.BucketSpec(n, bucketKeyCols(k),
          Nil)
      })
  }

  /** The rows ADDED strictly after `fromVersion`, as of `toVersion`
    * (default: current) — the data files in `toVersion`'s manifest that
    * `fromVersion`'s manifest does not list. Sound for APPEND-lineage
    * stores: [[append]] carries every base file forward as a hardlink and
    * never rewrites, so new files ≡ new rows; a [[merge]]/[[compact]] in
    * the interval rewrites files and would make the file diff overcount —
    * that is ENFORCED, not advised: every version in `(from, to]` must
    * carry the `append` lineage kind ([[versionKind]], stamped by every
    * writer), and a `rewrite`/`base`/unkinded version in the interval
    * throws, directing the caller to [[diff]] — a silent overcount
    * becomes a loud error. Cost is O(delta) data read + O(manifest)
    * metadata — the incremental-consumer primitive (a backfill or
    * downstream sync reads only what it has not yet consumed, never the
    * corpus). `fromVersion = 0` means "nothing
    * consumed yet" and returns the full current snapshot. Returns None
    * when the delta holds no files: nothing new to consume. */
  def readSince(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long = 0L): Option[DataFrame] = {
    val to = if (toVersion > 0) toVersion else currentVersion(root)
    require(to > 0, s"no published version under $root")
    if (fromVersion <= 0L) return Some(read(spark, root, to))
    require(fromVersion <= to,
      s"readSince from v$fromVersion > to v$to under $root")
    if (fromVersion == to) return None
    (fromVersion + 1 to to).foreach { v =>
      val kind = versionKind(root, v)
      if (!kind.contains("append"))
        throw new IllegalStateException(
          s"readSince($fromVersion, $to) under $root is unsound: v$v has " +
            s"lineage kind ${kind.getOrElse("<none>")} (a merge/compact/" +
            "full-publish rewrites files, so the file diff no longer " +
            "equals the row delta) — use diff() for row-level deltas " +
            "across rewrites")
    }
    // Set: linear delta, not Seq#diff's O(n*m)
    val seen = versionMeta(root, fromVersion)._1.toSet
    val (toFiles, schema) = versionMeta(root, to)
    val delta = toFiles.filterNot(seen)
    // the delta's own appends may straddle an evolution: the to-version's
    // recorded union schema serves them all (widened types too — see read)
    if (delta.isEmpty) None
    else Some(scanFiles(spark, s"$root/v$to", delta, schema,
      bucketSpecAt(root, to)))
  }

  /** Persisted per-consumer cursor: the highest version `consumer` has
    * fully processed. The mark-consumed half of the dead-letter economics
    * (VERDICT r15 item 5): a consumer folds `readSince(root, cursor)`,
    * advances the cursor, and [[vacuum]] reclaims what nothing will read
    * again. Written temp + atomic rename (the CURRENT discipline), so a
    * crash between a consumer's fold and its cursor write replays the
    * fold — which is why folds must also be [[versionTags]]-tagged: the
    * tag makes the replayed WRITE a no-op, the cursor makes the replayed
    * READ empty once advanced. Belt and suspenders, each covering the
    * other's torn window. */
  def consumedThrough(root: String, consumer: String): Long = {
    val f = Paths.get(root, s"_CONSUMED_$consumer")
    if (!Files.exists(f)) 0L
    else new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim.toLong
  }

  /** Canonical tag for a cursor fold: the ONE string both the landing
    * write and [[recoverTaggedFolds]]'s scanner agree on. The consumer
    * identity is part of the tag (r17 ADVICE): two consumers (or one
    * consumer folding from two sources) sharing a destination and
    * prefix must not cross-advance each other's cursors to a rival
    * stream's version number — the tag carries (prefix, consumer), so
    * recovery only ever matches its OWN folds. Build fold tags through
    * this helper, never by hand, or the writer and the scanner drift.
    * The reserved `fold:` marker makes fold tags STRUCTURALLY
    * distinguishable from ordinary replay tags (r18 ADVICE): [[vacuum]]'s
    * fold-evidence floor keys on the marker, so a user tag that merely
    * ends in `-v<N>` (`release-v2`) is no longer permanently exempt from
    * vacuum — unbounded retention for ordinary tags was the cost of the
    * old generic-suffix match. */
  def foldTag(prefix: String, consumer: String, srcVersion: Long): String =
    s"fold:$prefix-$consumer-v$srcVersion"

  /** The destination-side consumer name [[recoverTaggedFolds]] registers
    * on `dstRoot` to floor [[vacuum]]'s reap horizon at the newest
    * fold-tagged destination version. */
  private def foldPinName(prefix: String, consumer: String): String =
    s"fold-$prefix-$consumer"

  /** Crash recovery for TAGGED cursor folds — the missing half of the
    * [[consumedThrough]] belt-and-suspenders. A fold that landed on
    * `dstRoot` under [[foldTag]](prefix, consumer, to) proves the source
    * range (cursor, to] was applied atomically; if the consumer crashed
    * BEFORE advancing its cursor, a naive replay recomputes the fold
    * against the source's FRESH current version — and when a rival
    * publish advanced the source in between, the recomputed range gets
    * a fresh tag, so the tag no-op does NOT fire and the already-folded
    * rows re-apply (an insert-only append doubles them; the quiescent
    * replay, same range same tag, was always safe). Call this BEFORE
    * computing the fold range: it advances the cursor to the highest
    * tagged fold target on `dstRoot`, making the replayed READ start
    * where the crashed WRITE actually ended. Returns the recovered
    * cursor. Vacuuming `dstRoot` past the replay horizon forfeits the
    * recovery for the vacuumed folds — and because a destination may
    * interleave NON-fold versions above the newest fold (x72's index
    * takes takedown rewrites), `keep ≥ 1` alone is NOT sufficient
    * here: the retention horizon must cover the newest FOLD-TAGGED
    * version until its cursor advance is durable. ENFORCED twice, not
    * just documented (r17 ADVICE): each call registers a destination-
    * side consumer cursor (`fold-$prefix-$consumer`) at the newest
    * matching fold version, AND [[vacuum]] itself floors at the newest
    * version of every `…-v<N>` tag family — covering the window between
    * a fold landing and the NEXT recovery call, where no pin exists yet
    * (the race spec's fold storm drives exactly that interleaving).
    * Reaping past either floor requires the same explicit
    * `ignoreConsumers("fold-$prefix-$consumer")` override. Cost:
    * one version-tag listing of `dstRoot` per call (metadata-only,
    * bounded by the destination's vacuum retention) — a maintenance-
    * path price paid per sync tick, never per row. */
  def recoverTaggedFolds(srcRoot: String, consumer: String,
      dstRoot: String, prefix: String): Long = {
    val cursor = consumedThrough(srcRoot, consumer)
    val matchPrefix = s"fold:$prefix-$consumer-v" // foldTag's structure
    val folded = versionTags(dstRoot).toSeq.flatMap { case (dstV, t) =>
      if (t.startsWith(matchPrefix))
        t.stripPrefix(matchPrefix).toLongOption.map(srcV => (srcV, dstV))
      else None
    }
    // pin dstRoot's vacuum floor at the newest fold-tagged destination
    // version: until the NEXT fold supersedes it, its tag is this
    // consumer's only crash-replay evidence
    if (folded.nonEmpty)
      setConsumedThrough(dstRoot, foldPinName(prefix, consumer),
        folded.map(_._2).max)
    val target = (folded.map(_._1) :+ cursor).max
    if (target > cursor) setConsumedThrough(srcRoot, consumer, target)
    target
  }

  /** Advance `consumer`'s cursor (monotonic: regressions are ignored so
    * a replayed epoch can never un-consume). The check-then-write runs
    * under the root's flip lock: two instances of the same consumer (a
    * replayed epoch racing a live one) could otherwise interleave
    * check/rename and regress the cursor — which, after a vacuum, would
    * wedge every later fold on readSince's lineage check. Cursor writes
    * are rare maintenance-path events; the lock is O(1). */
  def setConsumedThrough(root: String, consumer: String,
      version: Long): Unit = withFlipLock(root) {
    if (version <= consumedThrough(root, consumer)) ()
    else {
      val tmp =
        Paths.get(root, s"._CONSUMED_$consumer.tmp.${System.nanoTime()}")
      Files.write(tmp, version.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(root, s"_CONSUMED_$consumer"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Row-level diff between two published versions: rows only in
    * `toVersion` come back tagged `added`, rows only in `fromVersion`
    * tagged `removed` (multiset semantics via EXCEPT ALL, so duplicate
    * rows count — a publish that doubles a row shows as one `added`).
    * This is the incremental-audit primitive: what did yesterday's
    * curation publish actually change?
    *
    * Scale shape: one hash shuffle of each side on the full row (the same
    * cost class as the dedup family's content-key shuffle). At 100 TB,
    * run it on the partition subset the publish touched (both reads are
    * plain parquet scans, so partition pruning composes), or diff a
    * key+content-hash projection instead of full rows. */
  def diff(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    // column alignment: across a schema evolution the two versions have
    // different column sets, and without alignment exceptAll throws
    // (widths differ); NULL-filling the missing side makes "this row
    // gained a value in the new column" surface as added+removed, which
    // IS the honest row-level diff
    // _bucket is LAYOUT, not data: comparing it would make a rebucket
    // (identical rows, every bucket assignment changed) read as a full
    // added+removed churn — and a q141-style consumer resync across it
    // would pointlessly rewrite the whole derived store. Dropped from
    // both sides; a plain store's drop is a no-op.
    val from = read(spark, root, fromVersion)
      .drop("_bucket")
    val to = read(spark, root, toVersion)
      .drop("_bucket")
    val fieldByName = (to.schema.fields ++ from.schema.fields)
      .groupBy(_.name).map { case (n, fs) =>
        // a shared column whose type DIFFERS across the two versions:
        // a WIDENING straddle (allowWidening append in the interval)
        // aligns honestly on the wider type — the up-cast is value-
        // preserving, so exceptAll compares true row identity. Any
        // OTHER retype (possible via a full republish on an unbucketed
        // store) has no honest alignment: picking either side makes
        // exceptAll throw or silently coerce. Fail with the retype
        // named, matching requireMatchingTypes' posture.
        val types = fs.map(_.dataType).distinct
        val resolved = types.reduceLeft { (a, b) =>
          if (a == b || widensTo(b, a)) a
          else if (widensTo(a, b)) b
          else throw new IllegalArgumentException(
            s"diff($fromVersion, $toVersion) at $root: column '$n' was " +
              s"retyped between the two versions (${types.mkString(" vs ")})" +
              " — a row-level diff across a non-widening retype is not " +
              "well-defined; diff within each type era, or republish " +
              "with a cast first")
        }
        n -> resolved
      }
    val names = (to.columns ++ from.columns).distinct.toSeq
    def align(df: DataFrame): DataFrame =
      df.select(names.map(n =>
        if (df.columns.contains(n)) col(n).cast(fieldByName(n)).as(n)
        else lit(null).cast(fieldByName(n)).as(n)): _*)
    val f = align(from)
    val t = align(to)
    t.exceptAll(f).withColumn("change", lit("added"))
      .unionByName(f.exceptAll(t).withColumn("change", lit("removed")))
  }

  // ---- bucketed layout + MERGE (incremental corpus refresh) --------------

  /** The columns of a bucket-key spec: a COMPOSITE identity is spelled
    * as a comma-separated list ("doc_id,lang") — recorded verbatim in
    * BUCKETSPEC, split here everywhere the store needs the columns.
    * Single-column specs (every pre-composite store) split to
    * themselves, so the on-disk format and the hash are both unchanged
    * for them. */
  def bucketKeyCols(keySpec: String): Seq[String] =
    keySpec.split(',').map(_.trim).toSeq

  /** The stable key→bucket assignment shared by [[publishBucketed]] and
    * [[merge]] — both sides MUST compute it identically or merge would
    * rewrite the wrong partitions. It is Spark's own: `hash` is murmur3
    * with seed 42, so `pmod(hash(keys), n)` is the partition id
    * `HashPartitioning(keys, n)` assigns. That is what lets [[scan]]
    * report the layout as bucketed, and a join against another store or
    * a shuffled frame meets its rows in the same task. A composite key
    * hashes all its columns in ONE hash (order-sensitive, matching the
    * spec's column order) — NOT a caller-side concat, which would defeat
    * the per-column type checks. Null keys hash deterministically (to
    * the seed's bucket); upserting by a null key is the caller's
    * modeling error, not a crash. */
  def bucketExpr(keySpec: String, nBuckets: Int): Column =
    pmod(hash(bucketKeyCols(keySpec).map(col): _*), lit(nBuckets))

  private def specPath(root: String) = Paths.get(root, "BUCKETSPEC")

  /** Per-version bucket-spec sidecar (like the schema sidecar): every
    * bucketed writer records the (keySpec, nBuckets) it wrote under, so
    * a [[rebucket]] can change the layout without rewriting history —
    * each version keeps ITS OWN assignment and time travel stays
    * coherent. Underscore-prefixed: parquet readers ignore it. */
  private val SpecSidecarFile = "_GRAFT_BUCKETSPEC"

  private def writeSpecSidecar(staging: java.nio.file.Path,
      keySpec: String, nBuckets: Int): Unit =
    Files.write(staging.resolve(SpecSidecarFile),
      s"$keySpec\n$nBuckets".getBytes(StandardCharsets.UTF_8))

  private def parseSpec(bytes: Array[Byte]): (String, Int) = {
    val Array(k, n) =
      new String(bytes, StandardCharsets.UTF_8).trim.split('\n')
    (k, n.toInt)
  }

  /** The bucket spec version `version` was WRITTEN under: its sidecar,
    * falling back to the root BUCKETSPEC for pre-sidecar versions.
    * Writers resolve their spec HERE, from the same base version their
    * optimistic-concurrency check pins — so a concurrent [[rebucket]]
    * can never make a writer census old data with a new spec (the
    * stale-base abort fires first). */
  def bucketSpecAt(root: String, version: Long): Option[(String, Int)] = {
    val sc = Paths.get(root, s"v$version", SpecSidecarFile)
    if (Files.exists(sc)) Some(parseSpec(Files.readAllBytes(sc)))
    else {
      val p = specPath(root)
      if (!Files.exists(p)) None else Some(parseSpec(Files.readAllBytes(p)))
    }
  }

  /** The CURRENT (keySpec, nBuckets), None for a plain store: the
    * current version's sidecar when present (tracks [[rebucket]]),
    * else the bootstrap record at the root. */
  def readBucketSpec(root: String): Option[(String, Int)] = {
    val cur = currentVersion(root)
    if (cur > 0) bucketSpecAt(root, cur)
    else {
      val p = specPath(root)
      if (!Files.exists(p)) None else Some(parseSpec(Files.readAllBytes(p)))
    }
  }

  private[sources] def writeBucketSpec(root: String, keyCol: String,
      nBuckets: Int): Unit = {
    Files.createDirectories(Paths.get(root))
    // a swallowed install failure (move fallback below) must resurface as
    // the CAUSE of the vanished-spec error, not be lost to a misleading
    // "vanished during bootstrap" with no root cause
    var installFailure: Option[Throwable] = None
    if (readBucketSpec(root).isEmpty) {
      val tmp = Paths.get(root, s".BUCKETSPEC.tmp.${System.nanoTime()}")
      Files.write(tmp, s"$keyCol\n$nBuckets".getBytes(StandardCharsets.UTF_8))
      // Files.createLink is an atomic create-NO-overwrite. A rename would
      // NOT give this: POSIX defines rename to silently REPLACE an
      // existing target (ATOMIC_MOVE never throws FileAlreadyExists on
      // Linux), so two racing bootstrappers with DIFFERENT specs would
      // both "succeed" and the last one would silently re-spec data the
      // first already published. With link, exactly one racer installs
      // its spec; every loser falls through to the validation below.
      try Files.createLink(specPath(root), tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => ()
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          // no hardlink support on this fs: best-effort move — the
          // post-validation below still catches a lost race unless both
          // racers interleave exactly between move and read (the narrow
          // window the link path exists to close). A move failure is
          // tolerated HERE only because a racing winner may have landed
          // the spec; if none did, the validation below throws with this
          // failure attached as its cause.
          try Files.move(tmp, specPath(root), StandardCopyOption.ATOMIC_MOVE)
          catch { case e: Exception => installFailure = Some(e) }
      } finally Files.deleteIfExists(tmp)
    }
    // ALWAYS validate against the spec that actually landed — covers both
    // the pre-existing-spec case and the lost-create-race case
    val (k, n) = readBucketSpec(root).getOrElse(throw new IllegalStateException(
      s"BUCKETSPEC under $root vanished during bootstrap",
      installFailure.orNull))
    require(k == keyCol && n == nBuckets,
      s"store $root is bucketed as (key=$k, buckets=$n); " +
        s"got (key=$keyCol, buckets=$nBuckets)")
  }

  /** THE bucketed write of every writer below: hashing the `_bucket`
    * value lands each bucket wholly in one task, so each bucket dir gets
    * one file (without it partitionBy wrote tasks x buckets files: 5120
    * for a 160-bucket publish in the r18 rehearsal). At most the shuffle
    * width of tasks (GraftSession: the core count; a cluster configures
    * it; `defaultParallelism` can read 2 while executors are still being
    * added): one task per bucket spent a 50-row, 16-bucket append on
    * per-task overhead, 161–178 ms vs 107–113 ms at 4 tasks on 4 cores.
    * Each written file is then renamed in staging to carry its bucket id
    * (`part-…_0000k.c000…`, the suffix a bucketed [[scan]] groups files
    * by), before any manifest names it; carried-over files keep theirs. */
  private def writeBuckets(df: DataFrame, staging: java.nio.file.Path,
      buckets: Int): Unit = {
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(math.min(buckets, width), col("_bucket"))
      .write.mode(SaveMode.ErrorIfExists).partitionBy("_bucket")
      .parquet(staging.toString)
    if (Files.exists(staging)) dataFilesUnder(staging).foreach { rel =>
      val f = staging.resolve(rel)
      val k = rel.takeWhile(_ != '/').stripPrefix("_bucket=").toInt
      val name = f.getFileName.toString
      val dot = name.indexOf('.')
      val named = f"${name.take(dot)}_$k%05d${name.drop(dot)}"
      Files.move(f, f.resolveSibling(named))
      val crc = f.resolveSibling(s".$name.crc")
      if (Files.exists(crc)) Files.move(crc, f.resolveSibling(s".$named.crc"))
    }
  }

  /** The buckets `bucketed` holds rows for, in ONE job and no shuffle
    * (`distinct().collect()` runs two under AQE): each partition returns
    * a bitset of nBuckets bits, ORed on the driver. */
  private def touchedBuckets(bucketed: DataFrame, nBuckets: Int): Set[Int] = {
    val i = bucketed.schema.fieldIndex("_bucket")
    val all = new java.util.BitSet(nBuckets)
    bucketed.queryExecution.toRdd.mapPartitions { rows =>
      val bits = new java.util.BitSet(nBuckets)
      rows.foreach(r => bits.set(r.getInt(i)))
      Iterator(bits)
    }.collect().foreach(all.or)
    all.stream().toArray.toSet
  }

  /** Bootstrap (or fully rewrite) a BUCKETED store: rows land in
    * `_bucket = pmod(hash(key), n)` partition directories ([[bucketExpr]]),
    * and the (key, n) spec is recorded at the root so every later
    * [[merge]] computes the identical assignment. Same atomic publish
    * contract as [[publish]]. A `tag` already on a version returns that
    * version before `df` is even analyzed: publish-if-absent. */
  def publishBucketed(df: DataFrame, root: String, keyCol: String,
      nBuckets: Int, tag: Option[String] = None): Long = {
    val alreadyApplied = taggedVersion(root, tag)
    if (alreadyApplied.isDefined) return alreadyApplied.get
    require(nBuckets > 0, "nBuckets must be positive")
    bucketKeyCols(keyCol).foreach(k =>
      require(df.columns.contains(k), s"missing key column $k"))
    require(!df.columns.contains("_bucket"), "_bucket is reserved")
    writeBucketSpec(root, keyCol, nBuckets)
    staged(root) { staging =>
      val bucketed = df.withColumn("_bucket", bucketExpr(keyCol, nBuckets))
      writeBuckets(bucketed, staging, nBuckets)
      tag.foreach(t => Files.write(staging.resolve(TagFile),
        t.getBytes(StandardCharsets.UTF_8)))
      writeSpecSidecar(staging, keyCol, nBuckets)
      writeVersionManifest(staging, kind = "base", schema = bucketed.schema)
      // base = -1: a full publish claims max+1 unconditionally (two racing
      // bucketed publishers land DISTINCT versions by design); the shared
      // tail still gives the tag re-check and the staging integrity fence
      commitStaged(root, staging, base = -1L, tag, op = "bucketed publish")
    }
  }

  /** Carry one base-version file into a staging dir — THE carry policy
    * of every writer that builds a version from its base's files
    * ([[carryoverBuckets]], ClusteredStore's append and trim). A
    * hardlink (metadata only, inode shared); a plain copy only where the
    * filesystem cannot link: UnsupportedOperationException, or a
    * FileSystemException such as a cross-device link. A name collision
    * (FileAlreadyExistsException) is NOT a link failure — the staging
    * dir already holds a fresh file of that name — so it throws, and no
    * copy ever replaces a file: a silent overwrite would drop the fresh
    * file's rows. NOTE the inode-equality audits (q95 reuse_ok, q138/x70
    * no_rewrite) assume the link path succeeded — true on POSIX-local
    * storage; on a no-link fs the data stays correct, only the
    * zero-copy claim degrades. */
  private[sources] def linkOrCopy(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    Files.createDirectories(dst.getParent)
    try Files.createLink(dst, src)
    catch {
      case e: java.nio.file.FileAlreadyExistsException => throw e
      case _: UnsupportedOperationException |
          _: java.nio.file.FileSystemException => Files.copy(src, dst)
    }
  }

  /** [[linkOrCopy]] every file of `base`'s bucket directories into
    * `staging`, except buckets where `skip(k)` — the metadata-only
    * carryover shared by [[merge]]/[[append]]/[[compact]]/[[deleteKeys]].
    * EVERY file of a bucket dir is carried (parquet checksums too), not
    * just the manifest's: q95's reuse audit compares whole per-bucket
    * listings across versions. */
  private def carryoverBuckets(root: String, base: Long,
      staging: java.nio.file.Path, nBuckets: Int,
      skip: Int => Boolean): Unit =
    (0 until nBuckets).filterNot(skip).foreach { k =>
      val src = Paths.get(root, s"v$base", s"_bucket=$k")
      if (Files.exists(src)) {
        val dst = staging.resolve(s"_bucket=$k")
        val stream = Files.list(src)
        try stream.iterator().forEachRemaining { f =>
          if (!Files.isDirectory(f)) linkOrCopy(f, dst.resolve(f.getFileName))
        } finally stream.close()
      }
    }

  /** Shared-column TYPE equality between a batch and the store — the
    * name-only checks let a retyped column through, and both failure
    * modes are silent: a mistyped KEY hashes to the wrong buckets
    * (the murmur3 `hash` is type-sensitive), a mistyped value column straddles
    * the version's files with two physical types. Evolution may ADD
    * columns ([[append]] `allowNewColumns`), never retype one.
    * Compared via the SQL type string, which deliberately IGNORES
    * nullability (containsNull/nullable routinely differ between a
    * freshly-built batch and a parquet read-back and are harmless to
    * the hash and the file schema alike). */
  private def requireMatchingTypes(batch: DataFrame, baseDf: DataFrame,
      what: String, allowWidening: Boolean = false,
      keyColumns: Seq[String] = Seq.empty): Unit =
    requireMatchingTypes(batch.schema, baseDf.schema, what, allowWidening,
      keyColumns)

  /** Schema-level twin of the DataFrame form, for callers that hold the
    * store side as a recorded sidecar schema rather than a live read
    * (ClusteredStore's append — r18 ADVICE: name-only validation let a
    * same-named drifted-type column land silently). */
  private[sources] def requireMatchingTypes(
      batchSchema: org.apache.spark.sql.types.StructType,
      baseSchema: org.apache.spark.sql.types.StructType,
      what: String, allowWidening: Boolean,
      keyColumns: Seq[String]): Unit = {
    val baseTypes = baseSchema.fields
      .filterNot(_.name == "_bucket").map(f => f.name -> f.dataType).toMap
    batchSchema.fields.foreach { f =>
      baseTypes.get(f.name).foreach { t =>
        if (f.dataType.sql != t.sql) {
          // widening (int→long, float→double …) is honest evolution the
          // caller can opt into — EXCEPT on a bucket-key column, where
          // hash(3: Int) != hash(3L) would scatter one logical
          // key across two buckets and silently break merge/deleteKeys
          if (allowWidening && widensTo(t, f.dataType))
            require(!keyColumns.contains(f.name),
              s"$what widens bucket-key column ${f.name} " +
                s"(${t.sql} → ${f.dataType.sql}): the bucket " +
                "assignment is type-sensitive, so a widened key would " +
                "land the same logical key in a different bucket — " +
                "rebucket() the store to the wider key type instead")
          else if (widensTo(f.dataType, t))
            throw new IllegalArgumentException(
              s"$what NARROWS column ${f.name} (${f.dataType.sql} vs " +
                s"the store's ${t.sql}) — narrowing loses data and is " +
                "never accepted; cast the batch up to the store's type")
          else throw new IllegalArgumentException(
            s"$what column ${f.name} is ${f.dataType.sql} but the " +
              s"store has ${t.sql}: cast the batch to the store's " +
              "types first (bucketing and file schemas are " +
              "type-sensitive)" + (if (!allowWidening &&
                  widensTo(t, f.dataType))
                "; a WIDENING batch is accepted with allowWidening = true"
              else ""))
        }
      }
    }
  }

  /** The SAFE widening lattice (the type drifts a long-running crawler
    * actually produces): integer chain up-casts and float→double. Each
    * is value-preserving, and Spark 4's parquet reader up-casts narrow
    * files under the wider read schema — which is exactly how
    * [[read]]'s recorded-schema path serves a straddling version. */
  private[sources] def widensTo(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Commit a fully-staged version under the flip lock — the shared
    * tail of every [[staged]] writer: re-check the idempotence tag (a
    * concurrent same-tag writer may have won), abort on a stale base
    * ([[staged]] removes the staging dir, so a retrying caller leaks
    * nothing per attempt), else claim max+1, move the staging dir in
    * atomically, and advance the pointer. */
  private[sources] def commitStaged(root: String, staging: java.nio.file.Path,
      base: Long, tag: Option[String], op: String): Long =
    withFlipLock(root) {
      taggedVersion(root, tag) match {
        case Some(v) => // a concurrent same-tag writer won the race
          deleteRecursively(staging); v
        case None =>
          val cur = currentVersion(root)
          if (base >= 0 && cur != base)
            throw new StalePublishException(
              s"stale $op: computed against v$base but CURRENT is v$cur " +
                s"under $root; re-run the $op against the new base")
          // integrity fence against the staging reaper: a vacuum that
          // misjudged this staging as abandoned (e.g. while we waited on
          // a contended lock longer than its stagingStaleMs) may have
          // half-deleted it — verify every manifest-listed file still
          // exists BEFORE making it a version, or every read of the new
          // CURRENT would throw FileNotFound
          val mf = staging.resolve(ManifestFile)
          val missing =
            if (!Files.exists(mf)) Seq(ManifestFile)
            else new String(Files.readAllBytes(mf), StandardCharsets.UTF_8)
              .split('\n').toSeq.filter(_.nonEmpty)
              .filterNot(rel => Files.exists(staging.resolve(rel)))
          if (missing.nonEmpty)
            throw new IllegalStateException(
              s"staged $op under $root lost files before commit (likely " +
                "reaped as stale by a concurrent vacuum — raise its " +
                s"stagingStaleMs above the lock wait): " +
                s"${missing.take(3).mkString(",")}; re-run the $op")
          val next = maxVersion(root) + 1
          Files.move(staging, Paths.get(root, s"v$next"),
            StandardCopyOption.ATOMIC_MOVE)
          advancePointerLocked(root, next)
          next
      }
    }

  /** MERGE (upsert-by-key) a batch into a new version WITHOUT rewriting
    * unchanged partitions — the write side of the incremental-refresh
    * story (q89's diff is the read side). Semantics: rows of the current
    * version whose key appears in `batch` are replaced, all other batch
    * rows are inserted, everything else carries over unchanged.
    *
    * Scale shape — the whole point:
    *  - only the buckets the batch TOUCHES are read (`_bucket` is a
    *    partition column, so the filter prunes at the directory level —
    *    cost ∝ touched data, never table size) and rewritten;
    *  - untouched bucket directories are HARDLINKED from the base version
    *    into the new one: metadata-only, no data movement, and time
    *    travel still sees every version complete. The object-store
    *    analogue is manifest reuse (a new manifest referencing old
    *    immutable files) or server-side copy — same contract, the base
    *    version's files are immutable either way;
    *  - the driver holds only the touched-bucket id set (≤ nBuckets by
    *    construction).
    *
    * Optimistic concurrency: the merged output is computed against
    * `baseVersion` (default: the version current at entry); inside the
    * flip-lock critical section the pointer is re-checked, and if a
    * concurrent publisher advanced it past the base the merge throws
    * `IllegalStateException` WITHOUT flipping — re-run to retry against
    * the new base; the staged dir is abandoned like any crashed publish.
    * Batch keys must be distinct: two batch rows with one key is an
    * ambiguous upsert, rejected up front — pass `keysAreDistinct = true`
    * to skip the probe job when the batch is the output of a dedup/
    * distinct stage that already guarantees it (a recurring per-tick
    * caller saves one job; a false claim makes BOTH rows land, the
    * documented garbage-in case).
    *
    * Pass `tag` for NON-idempotent batches (e.g. additive aggregate
    * deltas) applied from an at-least-once caller: a merge whose tag is
    * already recorded on any version returns that version without
    * re-applying — see [[versionTags]]. A tagged EMPTY batch stays the
    * untagged no-op (its replay is empty too, so nothing can double).
    *
    * SCHEMA EVOLUTION mirrors [[append]]'s, because an UPSERTING
    * crawler hits the same drifts on EXISTING keys (append is
    * insert-only, so without these flags a re-crawl whose counts
    * outgrew int would have no path at all): `allowNewColumns` lets the
    * batch carry new columns — the touched buckets' survivors NULL-fill
    * them in the rewrite, untouched buckets evolve lazily at read —
    * and `allowWidening` lets it widen existing ones ([[widensTo]];
    * union coercion up-casts the survivors in the rewrite). Both record
    * the union schema; narrowing and bucket-key widening stay rejected.
    *
    * Returns the published version number. */
  def merge(batch: DataFrame, root: String, baseVersion: Long = 0L,
      keysAreDistinct: Boolean = false, tag: Option[String] = None,
      allowNewColumns: Boolean = false,
      allowWidening: Boolean = false): Long = {
    val spark = batch.sparkSession
    val alreadyApplied = taggedVersion(root, tag)
    if (alreadyApplied.isDefined) return alreadyApplied.get
    val base = if (baseVersion > 0) baseVersion else currentVersion(root)
    require(base > 0, s"no published version under $root")
    // spec FROM the base version (see bucketSpecAt): pinned together with
    // the optimistic-concurrency base, so a concurrent rebucket aborts
    // this merge as stale rather than mis-censusing buckets
    val (keyCol, nBuckets) = bucketSpecAt(root, base).getOrElse(
      throw new IllegalStateException(
        s"$root is not a bucketed store; bootstrap with publishBucketed"))
    val keyColumns = bucketKeyCols(keyCol)
    // on an evolved store (append allowNewColumns) the files straddle two
    // physical schemas; read serves the recorded UNION, so this require
    // and the survivors' rewrite see every column (no footer sampling)
    val baseDf = read(spark, root, base)
    if (allowNewColumns)
      require((baseDf.columns.toSet - "_bucket").subsetOf(batch.columns.toSet)
          && !batch.columns.contains("_bucket"),
        s"evolving batch columns ${batch.columns.sorted.mkString(",")} must " +
          "be a SUPERSET of the store's " +
          s"${baseDf.columns.filterNot(_ == "_bucket").sorted.mkString(",")} " +
          "(schema evolution is additive; _bucket is reserved)")
    else
      require(batch.columns.toSet + "_bucket" == baseDf.columns.toSet,
        s"batch columns ${batch.columns.sorted.mkString(",")} must match the " +
          s"store's ${baseDf.columns.filterNot(_ == "_bucket").sorted.mkString(",")}")
    requireMatchingTypes(batch, baseDf, "merge batch",
      allowWidening = allowWidening, keyColumns = keyColumns)
    // one compute feeding bucket census, anti-join, and write; non-eager so
    // materialization folds into the first consumer's job
    val batchB = batch.withColumn("_bucket", bucketExpr(keyCol, nBuckets))
      .localCheckpoint(eager = false)
    // ONE action feeding both the duplicate-key check and the bucket
    // census (r22, guide §2.4: the two probes shared the same pass shape
    // and ran as two jobs). _bucket is a pure function of the key
    // columns, so max(_bucket) within a key group IS the group's bucket;
    // nulls group together in groupBy exactly as the old
    // groupBy(keys).count() dup check grouped them.
    val touched: Set[Int] =
      if (keysAreDistinct) touchedBuckets(batchB, nBuckets)
      else {
        val census = batchB.groupBy(keyColumns.map(col): _*)
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("_c"),
            org.apache.spark.sql.functions.max(col("_bucket")).as("_b"))
          .groupBy(col("_b"))
          .agg(org.apache.spark.sql.functions.max(col("_c")).as("_m"))
          .collect()
        require(census.forall(_.getLong(1) <= 1L),
          "batch has duplicate keys: ambiguous upsert")
        census.map(_.getInt(0)).toSet
      }
    // empty batch = no-op: nothing to upsert, so no new version is flipped
    // (a recurring caller — e.g. a per-tick stream — would otherwise mint
    // carryover-only versions). The census above is the only job paid.
    if (touched.isEmpty) return base
    val survivors = baseDf
      .filter(col("_bucket").isin(touched.toSeq.map(Int.box): _*))
      .join(batchB.select(keyColumns.map(col): _*), keyColumns, "left_anti")
    staged(root) { staging =>
      // union coercion does the evolution work in the touched-bucket
      // rewrite: allowMissingColumns NULL-fills an added column into the
      // survivors, and a widened batch column up-casts theirs — exactly
      // the semantics every read serves for the untouched buckets
      val merged = survivors.unionByName(batchB,
        allowMissingColumns = allowNewColumns)
      writeBuckets(merged, staging, touched.size)
      tag.foreach(t => Files.write(staging.resolve(TagFile),
        t.getBytes(StandardCharsets.UTF_8)))
      // carry untouched buckets over as hardlinks ([[carryoverBuckets]])
      carryoverBuckets(root, base, staging, nBuckets, skip = touched)
      writeSpecSidecar(staging, keyCol, nBuckets)
      writeVersionManifest(staging, kind = "rewrite", schema = merged.schema)
      commitStaged(root, staging, base, tag, op = "merge")
    }
  }

  /** Key-frame contract shared by [[readKeys]] and [[deleteKeys]]:
    * exactly the bucket-key columns in spec order, each with the store's
    * exact type. TYPE check, not just name: murmur3 bucketing is
    * type-sensitive (hash(3: Int) != hash(3L)), so an Int keys
    * frame against a Long-keyed store would census the WRONG buckets and
    * silently miss every row — an empty lookup, or worse, a takedown
    * that "deletes" nothing while returning success. */
  private def requireKeyFrame(keys: DataFrame, keyColumns: Seq[String],
      baseDf: DataFrame): Unit = {
    require(keys.columns.toSeq == keyColumns,
      s"keys must be the frame of exactly (${keyColumns.mkString(",")}) " +
        s"in that order; got ${keys.columns.mkString(",")}")
    keyColumns.foreach { k => // .sql: ignore nullability (see requireMatchingTypes)
      require(
        keys.schema(k).dataType.sql == baseDf.schema(k).dataType.sql,
        s"keys column $k is ${keys.schema(k).dataType.sql} " +
          s"but the store's key is " +
          s"${baseDf.schema(k).dataType.sql}: bucketing is " +
          "type-sensitive — cast the keys to the store's type first")
    }
  }

  /** The bucketed key frame shared by [[readKeys]] and [[deleteKeys]],
    * so the two legs can never bucket differently. NULL-keyed rows are
    * dropped first: they can never equi-join a stored row (both legs'
    * joins are standard equality), and hash(null) would otherwise
    * touch the seed bucket — wasted IO on the read path, a pointless
    * identical rewrite on the delete path. ([[merge]]'s batch census is
    * NOT this: a null-keyed batch row is a real row to store.) */
  private def bucketedKeys(keys: DataFrame, keySpec: String, nBuckets: Int,
      keyColumns: Seq[String]): DataFrame =
    keys.na.drop("any", keyColumns)
      .withColumn("_bucket", bucketExpr(keySpec, nBuckets))

  // The pruned-lookup plan contract (a scan carrying a `_bucket`
  // membership partition filter) is pinned STRUCTURALLY by
  // [[graft.tools.PlanAudit.prunesOnBucket]]'s AQE-aware tree walk —
  // the plan-string matcher that used to live here is retired (r19
  // VERDICT: string pins go vacuous under Spark plan-string drift).

  /** POINT-LOOKUP read: the rows of `version` (default: current) whose
    * bucket key appears in `keys`, touching ONLY the bucket directories
    * the keys hash to — the READ leg of the touched-bucket census that
    * [[merge]]/[[deleteKeys]] already use for writes. The compliance
    * audit ("show me these N documents"), the CDC spot check, and the
    * secondary-index probe all need exactly this: at 100 TB a WHERE
    * key IN (...) over [[read]] scans the corpus to return a handful of
    * rows, while this reads ≤ `keys` buckets' files (`_bucket` is a
    * partition column, so the isin prunes at the directory level) and
    * semi-joins against the (broadcast) key frame inside them.
    *
    * Contract: `keys` is a POINT-LOOKUP-SIZED frame — it is collected
    * to the driver once and broadcast from there. For a corpus-scale
    * key set use `read` + your own join instead. NULL-keyed rows are
    * dropped before the census ([[bucketedKeys]] — they could never
    * equi-join a stored row, and would otherwise force a read of the
    * seed bucket for nothing; a null row identity is the caller's
    * modeling error, as in [[deleteKeys]]).
    * Duplicate keys are fine (semi-join returns each stored row once).
    * Time travel composes with [[rebucket]]: the census uses the spec
    * `version` was WRITTEN under ([[bucketSpecAt]]), so a lookup pinned
    * to a pre-rebucket version prunes that version's own layout.
    * Returns data rows only (`_bucket` is layout, not data — same
    * posture as [[diff]]). */
  def readKeys(keys: DataFrame, root: String, version: Long = 0L): DataFrame = {
    val spark = keys.sparkSession
    val v = if (version > 0) version else currentVersion(root)
    require(v > 0, s"no published version under $root")
    val (keyCol, nBuckets) = bucketSpecAt(root, v).getOrElse(
      throw new IllegalStateException(
        s"$root is not a bucketed store; point lookups need a bucket " +
          "key — bootstrap with publishBucketed"))
    val keyColumns = bucketKeyCols(keyCol)
    val baseDf = read(spark, root, v)
    requireKeyFrame(keys, keyColumns, baseDf)
    // the key frame is point-lookup-sized (it is broadcast), so ONE
    // collect serves both the touched-bucket census and the broadcast
    // side: no census shuffle, no second distinct at the caller's action
    val keyRows = bucketedKeys(keys, keyCol, nBuckets, keyColumns).collect()
    val touched = keyRows.map(_.getInt(keyColumns.length)).toSet
    val dataCols = baseDf.columns.filterNot(_ == "_bucket")
      .map(col).toSeq
    if (touched.isEmpty) // empty key set: the honest empty answer
      return baseDf.filter(lit(false)).select(dataCols: _*)
    val keySide = spark.createDataFrame(
      java.util.Arrays.asList(keyRows.map(r =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq.init)).distinct: _*),
      keys.schema)
    baseDf
      .filter(col("_bucket").isin(touched.toSeq.map(Int.box): _*))
      .join(org.apache.spark.sql.functions.broadcast(keySide),
        keyColumns, "left_semi")
      .select(dataCols: _*)
  }

  /** DELETE-BY-KEY: remove every row whose key appears in `keys` and
    * publish the result as a new version WITHOUT rewriting unchanged
    * partitions — the takedown / right-to-be-forgotten primitive
    * (q140). [[merge]]'s third leg (insert/replace/DELETE): only the
    * buckets the key set hashes into are read and rewritten (cost ∝
    * touched data, never table size), everything else hardlinks over.
    *
    * Deletion COMPLETES at [[vacuum]] time: older versions still hold
    * the deleted rows for time travel until vacuumed past the retention
    * horizon — the honest lakehouse contract, and why a compliance
    * pipeline pairs every takedown with `vacuum(retainMs = <compliance
    * window>)`. Lineage kind is `rewrite`, so a [[readSince]] window
    * across a deletion refuses loudly instead of resurrecting rows.
    * Same optimistic concurrency (stale-base abort under the flip lock)
    * and `tag` replay protection as merge. `keys` must be the
    * single-column frame of the store's bucket key. Returns the
    * published version — the current one unchanged when `keys` is
    * empty. Note: a DEGENERATE key frame (empty, or all-null keys —
    * null can never equi-match a stored row) mints no version and does
    * NOT record its `tag` (same posture as the empty early-return
    * below); a tagged at-least-once caller gets no replay detection for
    * such a tick, which is harmless because the replayed no-op is
    * content-identical. */
  def deleteKeys(keys: DataFrame, root: String,
      tag: Option[String] = None): Long = {
    val spark = keys.sparkSession
    val alreadyApplied = taggedVersion(root, tag)
    if (alreadyApplied.isDefined) return alreadyApplied.get
    val base = currentVersion(root)
    require(base > 0, s"no published version under $root")
    // spec from the base version — see merge
    val (keyCol, nBuckets) = bucketSpecAt(root, base).getOrElse(
      throw new IllegalStateException(
        s"$root is not a bucketed store; bootstrap with publishBucketed"))
    val keyColumns = bucketKeyCols(keyCol)
    val baseDf = read(spark, root, base)
    requireKeyFrame(keys, keyColumns, baseDf)
    // the key frame is not broadcast here (a takedown list may be large):
    // pin it once, census its touched buckets (≤ nBuckets bits collected)
    val keysB = bucketedKeys(keys, keyCol, nBuckets, keyColumns)
      .localCheckpoint(eager = false)
    val touched = touchedBuckets(keysB, nBuckets)
    if (touched.isEmpty) return base // empty key set: nothing minted
    val survivors = baseDf
      .filter(col("_bucket").isin(touched.toSeq.map(Int.box): _*))
      .join(keysB.select(keyColumns.map(col): _*), keyColumns, "left_anti")
    staged(root) { staging =>
      writeBuckets(survivors, staging, touched.size)
      tag.foreach(t => Files.write(staging.resolve(TagFile),
        t.getBytes(StandardCharsets.UTF_8)))
      carryoverBuckets(root, base, staging, nBuckets, skip = touched)
      writeSpecSidecar(staging, keyCol, nBuckets)
      writeVersionManifest(staging, kind = "rewrite",
        schema = survivors.schema)
      commitStaged(root, staging, base, tag, op = "delete")
    }
  }

  /** APPEND (insert-only) a batch into a new version WITHOUT rewriting
    * ANY existing data — [[merge]]'s LSM-flavored sibling for stores
    * whose bucket key is a PARTITION key rather than a row identity
    * (e.g. an IVF codes table bucketed by coarse cell: a cell holds many
    * vectors, so upsert-by-cell would replace whole cells; what an ingest
    * batch wants is new files INSIDE the touched cells).
    *
    * Mechanics: the batch is written as fresh files into its buckets'
    * directories in a staging version; EVERY base file (touched buckets
    * included) carries over as a hardlink — append never reads, rewrites,
    * or invalidates existing data, so the cost is O(batch) regardless of
    * table size. Part-file names are write-job unique, so fresh files and
    * carried-over links can never collide. Repeated appends fragment the
    * hot buckets; [[compact]] is the maintenance half of that contract,
    * exactly as for per-tick merges.
    *
    * Same optimistic concurrency as merge (stale-base check under the
    * flip lock, staging cleaned on abort), same `tag` replay protection
    * for at-least-once callers. Rows are APPENDED verbatim: if the batch
    * repeats a logical key the store now holds both rows — deduplication
    * is the upstream pipeline's contract (or use [[merge]], whose bucket
    * key IS the row identity). Returns the published version.
    *
    * SCHEMA EVOLUTION (`allowNewColumns = true`): the batch may carry
    * columns the store has never seen — the first time a crawler adds a
    * field, a 100 TB ingest pipeline hits exactly this, and rewriting
    * the corpus to add a NULL column is not an option. Additive only:
    * the batch must still contain every existing column (dropping or
    * retyping a column is a rewrite, not an append), the new files carry
    * the wider schema, and NO existing file is touched — the evolution
    * is O(batch) like any append. Every [[read]] of the new version
    * serves the union recorded in its schema sidecar (pre-evolution
    * files surface the new columns as NULL); a time-traveled
    * pre-evolution version keeps its own narrower schema.
    *
    * TYPE WIDENING (`allowWidening = true`): the batch may carry a
    * WIDER type for an existing column ([[widensTo]]: integer chain,
    * float→double) — the second-most-common crawler drift after new
    * columns (counts outgrow int, scores move to double). Widen-on-
    * write: the new files carry the wider type, NO existing file is
    * touched, and the version's schema sidecar records the widened
    * union — which [[read]] serves by up-casting the narrow files at
    * scan (Spark 4 parquet widening reads; parquet
    * footer-merge would throw CANNOT_MERGE_SCHEMAS on the straddle).
    * NARROWING is always rejected, flag or no flag; widening a
    * BUCKET-KEY column is rejected too (the hash is type-sensitive —
    * [[rebucket]] with the wider key instead). */
  def append(batch: DataFrame, root: String, tag: Option[String] = None,
      allowNewColumns: Boolean = false,
      allowWidening: Boolean = false): Long = {
    val spark = batch.sparkSession
    val alreadyApplied = taggedVersion(root, tag)
    if (alreadyApplied.isDefined) return alreadyApplied.get
    val base = currentVersion(root)
    require(base > 0, s"no published version under $root")
    // spec from the base version — see merge
    val (keyCol, nBuckets) = bucketSpecAt(root, base).getOrElse(
      throw new IllegalStateException(
        s"$root is not a bucketed store; bootstrap with publishBucketed"))
    // the recorded union schema on evolved stores — see merge
    val baseDf = read(spark, root, base)
    if (allowNewColumns)
      require((baseDf.columns.toSet - "_bucket").subsetOf(batch.columns.toSet)
          && !batch.columns.contains("_bucket"),
        s"evolving batch columns ${batch.columns.sorted.mkString(",")} must " +
          "be a SUPERSET of the store's " +
          s"${baseDf.columns.filterNot(_ == "_bucket").sorted.mkString(",")} " +
          "(schema evolution is additive; _bucket is reserved)")
    else
      require(batch.columns.toSet + "_bucket" == baseDf.columns.toSet,
        s"batch columns ${batch.columns.sorted.mkString(",")} must match the " +
          s"store's ${baseDf.columns.filterNot(_ == "_bucket").sorted.mkString(",")}")
    requireMatchingTypes(batch, baseDf, "append batch",
      allowWidening = allowWidening, keyColumns = bucketKeyCols(keyCol))
    staged(root) { staging =>
      val batchB = batch.withColumn("_bucket", bucketExpr(keyCol, nBuckets))
      writeBuckets(batchB, staging, nBuckets)
      // empty batch = no-op: nothing minted (see merge). Detected from the
      // staged write itself — a partitioned write of zero rows stages no
      // part-files — instead of a separate isEmpty probe job, which re-ran
      // the batch's whole lineage once more per append (r22, guide §1.2:
      // don't compute things twice; take(1) over an aggregated/joined batch
      // pays its full upstream shuffles)
      if (!Files.exists(staging) || dataFilesUnder(staging).isEmpty) {
        deleteRecursively(staging)
        base
      } else {
        tag.foreach(t => Files.write(staging.resolve(TagFile),
          t.getBytes(StandardCharsets.UTF_8)))
        // hardlink the ENTIRE base version's data into the staging dirs —
        // metadata-only carryover, fresh files and links merge per bucket dir
        carryoverBuckets(root, base, staging, nBuckets, skip = _ => false)
        writeSpecSidecar(staging, keyCol, nBuckets)
        // the widest schema wins: an evolving/widening append records the
        // batch's union schema (its types are the widened ones — narrowing
        // was rejected above); a plain append records the base's
        writeVersionManifest(staging, kind = "append",
          schema = if (allowNewColumns || allowWidening)
            org.apache.spark.sql.types.StructType(
              batchB.schema.fields ++ baseDf.schema.fields.filterNot(f =>
                batchB.schema.fieldNames.contains(f.name)))
            else baseDf.schema)
        commitStaged(root, staging, base, tag, op = "append")
      }
    }
  }

  /** [[append]] under WRITE CONTENTION: two always-on pipelines feeding
    * one store (the x59/x63 deployment shape) race the optimistic base
    * check — the loser's staging is discarded with a "stale append"
    * error telling it to re-run against the new base. This wrapper IS
    * that re-run loop: recompute-and-retry up to `maxRetries` times.
    * Retries are safe exactly because appends are insert-only (the
    * batch's rows don't depend on the base version's content — only the
    * hardlink carryover does, and that is recomputed per attempt) and a
    * `tag` makes a replayed win idempotent. Callers whose batch DOES
    * read the store first (anti-join dedup, merge) must re-derive the
    * batch per attempt — pass a thunk, not a cached frame. */
  def appendContended(batch: () => DataFrame, root: String,
      tag: Option[String] = None, maxRetries: Int = 16,
      allowNewColumns: Boolean = false,
      allowWidening: Boolean = false): Long = {
    var attempt = 0
    var last: IllegalStateException = null
    while (attempt <= maxRetries) {
      try return append(batch(), root, tag, allowNewColumns, allowWidening)
      catch {
        // the TYPE is the retry protocol (not message-sniffing): only a
        // lost optimistic base race is safe to re-run — the store's other
        // IllegalStateExceptions (lost lock, unsound readSince, reaped
        // staging) must propagate
        case e: StalePublishException =>
          last = e
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"append still stale after $maxRetries retries under $root", last)
  }

  /** COMPACT a bucketed store's current version: rewrite only the buckets
    * whose file count exceeds `maxFilesPerBucket`, hardlink every other
    * bucket, and publish the result as a new version (content identical —
    * this is a pure layout operation).
    *
    * Why it exists: every [[merge]] writes ≥ 1 fresh file into each bucket
    * it touches, so an always-on per-tick caller (the x59/x60 streaming
    * pipelines) fragments its hot buckets without bound — small files are
    * the classic lakehouse decay mode (per-file open/footer cost starts to
    * dominate the scan). Compaction is the maintenance half of that
    * contract, and it follows the same scale posture as merge:
    *  - the FRAGMENTED bucket set is found from driver-side directory
    *    listings (bounded by nBuckets + file counts, the same metadata a
    *    FileIndex holds) — no data job;
    *  - only fragmented buckets are READ (the `_bucket` partition filter
    *    prunes at the directory level) and rewritten, one output file per
    *    bucket over at most the shuffle width of tasks ([[writeBuckets]]
    *    — a shuffle of the fragmented subset only);
    *  - everything else carries over as hardlinks, and the flip happens
    *    under the same lock + stale-base check as merge, so a concurrent
    *    publisher can't be silently overwritten (the compacted output is
    *    content-equal to its BASE — flipping past a newer version would
    *    resurrect rows that version deleted).
    *
    * Returns the new version, or the current version unchanged when no
    * bucket is fragmented (no-op, nothing minted). Time travel keeps
    * working: old versions still reference the small files; [[vacuum]]
    * reclaims them once the horizon passes, and hardlinked carryovers
    * survive vacuum by inode refcount. */
  def compact(spark: SparkSession, root: String,
      maxFilesPerBucket: Int = 1): Long = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    val base = currentVersion(root)
    require(base > 0, s"no published version under $root")
    // spec from the base version — see merge
    val (specKey, nBuckets) = bucketSpecAt(root, base).getOrElse(
      throw new IllegalStateException(
        s"$root is not a bucketed store; bootstrap with publishBucketed"))
    // fragmentation census from the version MANIFEST (the file-listing
    // source of truth — same rationale as read)
    val perBucket = versionMeta(root, base)._1
      .groupBy(_.split('/').head).collect {
        case (d, fs) if d.startsWith("_bucket=") =>
          d.stripPrefix("_bucket=").toInt -> fs.size
      }
    val fragmented = (0 until nBuckets).filter(k =>
      perBucket.getOrElse(k, 0) > maxFilesPerBucket)
    if (fragmented.isEmpty) return base
    staged(root) { staging =>
      // a fragmented bucket of an EVOLVED store holds files of both
      // physical schemas; read's recorded union schema NULL-fills the old
      // files, so the "content identical" rewrite keeps every column
      val compacted = read(spark, root, base)
        .filter(col("_bucket").isin(fragmented.map(Int.box): _*))
      writeBuckets(compacted, staging, fragmented.size)
      carryoverBuckets(root, base, staging, nBuckets,
        skip = fragmented.contains)
      writeSpecSidecar(staging, specKey, nBuckets)
      writeVersionManifest(staging, kind = "rewrite",
        schema = compacted.schema)
      commitStaged(root, staging, base, tag = None, op = "compact")
    }
  }

  /** OPTIMISTIC full content rewrite: publish `df` as the store's next
    * version under its CURRENT bucket spec, aborting (typed
    * [[StalePublishException]]) if any writer advanced the store since
    * entry. This is the compare-and-swap a DERIVED-content compaction
    * needs (e.g. dropping tombstones and their victims): the rewrite's
    * content is COMPUTED FROM the base version, so [[publishBucketed]]'s
    * unconditional claim would silently drop a batch that landed
    * between the read and the publish — exactly the lost update
    * [[merge]]'s base check exists to prevent, applied to whole-store
    * rewrites. Callers retry by recomputing from the new current (the
    * appendContended discipline). Pass `baseVersion` = the version `df`
    * was COMPUTED FROM (r18, found by the race spec's codes storm):
    * resolving the base here-at-entry leaves a gap — a batch landing
    * between the caller's content read and this call would make the
    * entry-time base look current while `df` silently lacks that
    * batch's rows; pinning the caller's read version makes the CAS
    * cover the whole read-compute-commit span. Default 0 keeps the
    * entry-time resolution for callers whose `df` is constructed
    * lazily against CURRENT. Lineage kind is `rewrite`:
    * [[readSince]] across it refuses. */
  def rewriteBucketed(df: DataFrame, root: String,
      tag: Option[String] = None, baseVersion: Long = 0L): Long = {
    val alreadyApplied = taggedVersion(root, tag)
    if (alreadyApplied.isDefined) return alreadyApplied.get
    val base = if (baseVersion > 0L) baseVersion else currentVersion(root)
    require(base > 0, s"no published version under $root")
    val (keyCol, nBuckets) = bucketSpecAt(root, base).getOrElse(
      throw new IllegalStateException(
        s"$root is not a bucketed store; bootstrap with publishBucketed"))
    require(!df.columns.contains("_bucket"), "_bucket is reserved")
    bucketKeyCols(keyCol).foreach(k =>
      require(df.columns.contains(k), s"missing key column $k"))
    val bucketed = df.withColumn("_bucket", bucketExpr(keyCol, nBuckets))
    staged(root) { staging =>
      writeBuckets(bucketed, staging, nBuckets)
      tag.foreach(t => Files.write(staging.resolve(TagFile),
        t.getBytes(StandardCharsets.UTF_8)))
      writeSpecSidecar(staging, keyCol, nBuckets)
      writeVersionManifest(staging, kind = "rewrite",
        schema = bucketed.schema)
      commitStaged(root, staging, base, tag, op = "content rewrite")
    }
  }

  /** REBUCKET a store that outgrew its layout — the maintenance op a
    * growing deployment hits with certainty at 100 TB: the nBuckets
    * chosen at bootstrap bounds merge/deleteKeys parallelism and file
    * sizes, and before this op the only way out was a manual republish
    * that lost version history, tags, and cursors. One bounded full
    * rewrite (`read base → hash under the NEW spec → write`, the cost a
    * republish would pay anyway) minting a `rewrite`-kind version whose
    * SPEC SIDECAR carries the new (key, nBuckets):
    *  - time travel is preserved — every older version keeps its own
    *    layout and its own sidecar ([[bucketSpecAt]]);
    *  - writers after the flip census under the new spec automatically
    *    (they resolve the spec from their base version); a writer that
    *    raced the rebucket aborts on the stale-base check, never
    *    mis-censuses;
    *  - [[readSince]] across the rebucket REFUSES (rewrite kind breaks
    *    append lineage) — consumers resync via [[diff]], the q141 path;
    *  - `newKeyCol` (optional) migrates the key itself, e.g. from a
    *    single column to a composite "doc_id,lang" identity.
    * The root BUCKETSPEC is refreshed after the flip as the
    * observability record; correctness never depends on it for
    * rebucketed stores (the sidecar wins). Output is one file per new
    * bucket (the compacted layout). Returns the new version. */
  def rebucket(spark: SparkSession, root: String, newBuckets: Int,
      newKeyCol: Option[String] = None): Long = {
    require(newBuckets > 0, "newBuckets must be positive")
    val base = currentVersion(root)
    require(base > 0, s"no published version under $root")
    val (oldKey, oldN) = bucketSpecAt(root, base).getOrElse(
      throw new IllegalStateException(
        s"$root is not a bucketed store; bootstrap with publishBucketed"))
    val keySpec = newKeyCol.getOrElse(oldKey)
    require(keySpec != oldKey || newBuckets != oldN,
      s"rebucket to the current spec (key=$keySpec, buckets=$newBuckets) " +
        "is a no-op; nothing to do")
    val df = read(spark, root, base).drop("_bucket")
    bucketKeyCols(keySpec).foreach(k =>
      require(df.columns.contains(k),
        s"new key column $k is not in the store's schema " +
          s"(${df.columns.sorted.mkString(",")})"))
    val rebucketed = df
      .withColumn("_bucket", bucketExpr(keySpec, newBuckets))
    val v = staged(root) { staging =>
      writeBuckets(rebucketed, staging, newBuckets)
      writeSpecSidecar(staging, keySpec, newBuckets)
      writeVersionManifest(staging, kind = "rewrite",
        schema = rebucketed.schema)
      commitStaged(root, staging, base, tag = None, op = "rebucket")
    }
    // refresh the root record (atomic replace) — observability only; a
    // crash landing between the flip and here leaves the sidecar as the
    // binding spec, which every resolution path prefers. Locked and
    // re-checked against the CURRENT version's spec so a paused rebucket
    // resuming after a SECOND rebucket cannot overwrite the newer record
    // with its stale spec (later merges/appends carry our spec forward,
    // so the record still refreshes after them).
    withFlipLock(root) {
      if (bucketSpecAt(root, currentVersion(root))
          .contains((keySpec, newBuckets))) {
        val tmp = Paths.get(root, s".BUCKETSPEC.tmp.${System.nanoTime()}")
        Files.write(tmp,
          s"$keySpec\n$newBuckets".getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, specPath(root), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
    v
  }

  /** Every registered consumer cursor under `root` (consumer name →
    * consumed-through version). An unreadable cursor file maps to 0 —
    * the conservative floor that makes [[vacuum]] retain everything
    * rather than reap a version a consumer whose cursor we cannot parse
    * might still need. In-flight `._CONSUMED_*.tmp.*` writes are dotted
    * and excluded. */
  def consumers(root: String): Map[String, Long] = {
    val d = Paths.get(root)
    if (!Files.exists(d)) Map.empty
    else {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.flatMap { p =>
          val n = p.getFileName.toString
          if (!n.startsWith("_CONSUMED_")) None
          else Some(n.stripPrefix("_CONSUMED_") ->
            (try new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
              .trim.toLong
            catch { case _: Exception => 0L }))
        }.toMap
      } finally s.close()
    }
  }

  /** Drop version dirs older than the newest `keep` versions behind the
    * current pointer (current itself always survives). Returns the dropped
    * version numbers.
    *
    * CONSUMER-AWARE: the reap horizon is additionally floored at
    * `min(consumedThrough)` over every registered [[consumers]] cursor —
    * a consumer at cursor c needs v_c to SURVIVE (its manifest is the
    * base of the next [[readSince]] file-diff) plus everything after it,
    * so only versions strictly below every cursor are reapable. Without
    * the floor, an aggressive vacuum reaps a slow q138/x70 consumer's
    * cursor version and its next readSince throws ("v_from … has no
    * _GRAFT_MANIFEST") forcing a full resync — loud, but the store was already
    * persisting exactly the retention floor the consumer needed.
    * `ignoreConsumers` is the escape hatch for ABANDONED cursors: named
    * consumers are excluded from the floor (and an operator should then
    * delete the stale `_CONSUMED_<name>` file outright).
    *
    * `retainMs` is the TIME-TRAVEL RETENTION horizon (the lakehouse
    * `VACUUM … RETAIN n HOURS` contract): when > 0, a version YOUNGER
    * than the horizon survives even past the `keep` count, so readers
    * pinned to a recent version (a running job that resolved CURRENT
    * before this vacuum, an auditor time-traveling last night's publish)
    * keep their snapshot; only versions both behind the keep window AND
    * older than the horizon drop. Age is the version directory's OWN
    * mtime — set once by the atomic staging rename at publish, never
    * touched again (version dirs are immutable), so it IS the publish
    * instant. The default 0 keeps the count-only behavior every
    * existing caller pins.
    *
    * Also reaps `.staging-*` dirs past the lock
    * staleness horizon — a publisher that crashed (or a pre-fix merge
    * retry loop) strands its staged write there, and nothing else ever
    * deletes them. The age guard keeps a LIVE publisher's in-flight
    * staging safe: staleness is judged by the NEWEST mtime anywhere in
    * the staging subtree, because a running Spark write lands part-files
    * under `_temporary/` task directories without ever touching the
    * top-level dir's mtime — aging by the top-level mtime alone would
    * reap a long in-flight publish mid-write. The subtree walk is
    * bounded by the staged file count (a maintenance-path cost).
    * `stagingStaleMs` must exceed the longest time a FINISHED staging
    * can sit waiting on a contended flip lock (the acquire loop allows
    * 2x the lock's 60 s lease, i.e. 120 s — hence the 300 s
    * default with margin): a reap racing a waiting publisher would
    * half-delete a dir the publisher is about to commit.
    * [[commitStaged]] backstops even that misconfiguration — it
    * re-verifies every manifest-listed file exists under the lock
    * before the move, so the worst case is a loud aborted publish,
    * never a published version with missing files. */
  def vacuum(root: String, keep: Int = 1,
      stagingStaleMs: Long = 300000L, retainMs: Long = 0L,
      ignoreConsumers: Set[String] = Set.empty): Seq[Long] = {
    val rootDir = Paths.get(root)
    def newestMtime(p: java.nio.file.Path): Long = {
      // a LIVE publisher's commit renames files out of _temporary/ while
      // we iterate — a path vanishing mid-walk is itself proof of
      // activity, so it (or any listing failure) reads as "fresh now",
      // never as an error that aborts the whole vacuum
      try {
        val walk = Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .map { f =>
              try Files.getLastModifiedTime(f).toMillis
              catch { case _: Exception => Long.MaxValue }
            }
            .foldLeft(0L)(math.max)
        } finally walk.close()
      } catch { case _: Exception => Long.MaxValue }
    }
    if (Files.exists(rootDir)) {
      val s = Files.list(rootDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith(StagingPrefix))
          .filter(p => {
            val newest = newestMtime(p)
            newest != Long.MaxValue &&
              System.currentTimeMillis() - newest > stagingStaleMs
          })
          .toSeq.foreach(deleteRecursively)
      } finally s.close()
    }
    val cur = currentVersion(root)
    // consumer floor: v_cursor itself must survive (readSince's diff base)
    val cursorFloor = consumers(root)
      .filterNot { case (c, _) => ignoreConsumers(c) }
      .values.foldLeft(Long.MaxValue)(math.min)
    // fold-evidence floor: the NEWEST version of every fold-tag family
    // ("fold:<family>-v<N>", [[foldTag]]'s reserved marker) survives. A
    // fold tag is a crashed consumer's only replay evidence until its
    // cursor advance is durable ([[recoverTaggedFolds]]), and the
    // recovery-time pin cannot protect a fold that landed AFTER the last
    // recovery call — without this floor, a rival's keep=1 vacuum in
    // that window (with a later version interleaved above) silently
    // re-opens the double-apply window. Keying on the structural marker
    // (r18 ADVICE) keeps ORDINARY tags that happen to end in -v<N>
    // ("release-v2") vacuumable — the old generic suffix match exempted
    // them forever. One surviving version per family is the whole cost
    // (superseded by the family's next fold); opt out per family with
    // ignoreConsumers("fold-<family>"), the same override that releases
    // the recovery-time pin.
    val foldTagPattern = "^fold:(.*)-v(\\d+)$".r
    val protectedFolds: Set[Long] = versionTags(root).toSeq
      .flatMap { case (v, t) => t match {
        case foldTagPattern(family, _)
          if !ignoreConsumers(s"fold-$family") => Some(family -> v)
        case _ => None
      }}
      .groupBy(_._1).values.map(_.map(_._2).max).toSet
    (1L until math.min(cur - keep, cursorFloor)).filter { v =>
      val dir = Paths.get(root, s"v$v")
      val pastRetention = retainMs <= 0L ||
        (try System.currentTimeMillis() -
          Files.getLastModifiedTime(dir).toMillis > retainMs
        catch { case _: Exception => false }) // unreadable age -> keep
      if (Files.exists(dir) && v != cur && pastRetention &&
          !protectedFolds(v)) {
        deleteRecursively(dir)
        true
      } else false
    }
  }
}

/** A staged write lost the optimistic base check: a concurrent writer
  * advanced CURRENT past the version this write was computed against.
  * The ONE retryable condition in the store — [[SnapshotStore
  * .appendContended]] catches exactly this type, so the unrelated
  * IllegalStateExceptions (lost lock, unsound readSince, missing
  * manifest) can never be retried into corruption by message-sniffing. */
final class StalePublishException(msg: String)
  extends IllegalStateException(msg)
