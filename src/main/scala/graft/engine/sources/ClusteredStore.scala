package graft.engine.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's ONE clustered layout: [[ZOrder]] clustering THROUGH
  * [[SnapshotStore]] versions, so a store column with range locality
  * (timestamps, doc ids) gets data skipping AND a clustered layout gets
  * atomic versions, time travel, tags, and vacuum.
  *
  * [[publishClustered]] writes a version whose data files are contiguous
  * z-ranges over k BIGINT columns, plus a per-version CLUSTER SIDECAR
  * (`_GRAFT_CLUSTER`): the cluster spec and one line of min/max/count
  * per data file — the rebucket-style posture where layout facts ride
  * inside the version directory and become visible atomically with it.
  * [[readBox]] then serves a k-dimensional box predicate over a version
  * reading only the files whose envelopes touch the box.
  *
  * Scale shape:
  *  - publish = one range-shuffle of the batch (the same one-off cost
  *    class as publishBucketed's hash layout);
  *  - the sidecar is one line per file — at 100 TB with 1 GB files,
  *    ~10⁵ lines, the same order as the store's own manifest and the
  *    driver's FileIndex; box pruning reads the sidecar, never data;
  *  - skipping is an optimization, never a correctness authority: files
  *    the manifest lists but the sidecar does not know are read
  *    UNPRUNED, and the box filter is always re-applied, so the result
  *    is exact even against a damaged sidecar;
  *  - each version's sidecar describes exactly that version's files, so
  *    TIME TRAVEL composes: a box read pinned to v1 prunes and returns
  *    v1's content after any number of later publishes (q148 pins it).
  *
  * A clustered version is otherwise a plain store version: tags, vacuum,
  * diff, rollback all apply. Versions written by other writers carry no
  * sidecar and [[readBox]] refuses them loudly — a silent unpruned scan
  * at 100 TB is the failure mode this integration exists to kill. */
object ClusteredStore {

  private val ClusterFile = "_GRAFT_CLUSTER"

  /** Z-cluster `df` into `staging` as ≈`nFiles` equi-count z-range files
    * and return one sidecar envelope line per staged file — derived from
    * the staged files THEMSELVES (they can never disagree with the
    * data), read back under the schema they were written with.
    * Driver-side rows = nFiles, bounded by the write's own granularity
    * choice — metadata-scale by construction. Shared by publish / append
    * / compact so the three writers cannot drift on the layout or the
    * envelope format. */
  private def stageZRun(df: DataFrame, staging: java.nio.file.Path,
      cols: Seq[String], bits: Int, nFiles: Int,
      mm: org.apache.spark.sql.Row): Seq[String] = {
    val z = ZOrder.zExprScaled(mm, cols, bits)
    df.withColumn("_z", z)
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
    val stats = SnapshotStore.scanFiles(df.sparkSession, staging.toString,
        SnapshotStore.dataFilesUnder(staging), df.schema, None)
      .groupBy(element_at(split(col("_metadata.file_path"), "/"), -1)
        .as("file"))
      .agg(ZOrder.statExprs(cols).head, ZOrder.statExprs(cols).tail: _*)
      .collect()
    stats.toSeq.map { r =>
      val envs = cols.indices.flatMap(i =>
        Seq(r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
      val n = r.getLong(1 + 2 * cols.length)
      (r.getString(0) +: envs :+ n).mkString("\t")
    }
  }

  private def sidecarHeader(cols: Seq[String], bits: Int): String =
    s"cols=${cols.mkString(",")};bits=$bits"

  /** Publish `df` as a new z-clustered version of the store at `root`.
    * `clusterCols` must be BIGINT-castable and non-null (ZOrder's
    * contract); `nFiles` sets the skipping granularity (files are
    * equi-count in z space). Same `tag` replay protection as every
    * other store writer. */
  def publishClustered(df: DataFrame, root: String,
      clusterCols: Seq[String], nFiles: Int, bits: Int = 16,
      tag: Option[String] = None): Long = {
    require(nFiles >= 1, "nFiles must be positive")
    require(clusterCols.nonEmpty, "need at least one cluster column")
    clusterCols.foreach(c => require(df.columns.contains(c),
      s"missing cluster column $c"))
    require(SnapshotStore.readBucketSpec(root).isEmpty,
      s"$root is a bucketed store (hash layout); a clustered publish " +
        "would strip the _bucket layout and wedge incremental writers — " +
        "use a separate root for the clustered copy")
    val alreadyApplied = SnapshotStore.taggedVersion(root, tag)
    if (alreadyApplied.isDefined) return alreadyApplied.get
    // empty batch = no-op on an existing store (append/deleteKeys'
    // documented "empty mints no version" posture); an empty BOOTSTRAP
    // has no version to return and no rows to derive envelopes from —
    // ZOrder's min/max scaling over zero rows has no envelopes either,
    // so refuse loudly at the contract boundary. The probe is FOLDED
    // into the z-scaling aggregate the publish pays anyway (r22 — a
    // separate isEmpty job re-ran the batch lineage once more).
    val mm = ZOrder.minMaxCount(df, clusterCols)
    if (ZOrder.rowCount(mm, clusterCols) == 0L) {
      val cur = SnapshotStore.currentVersion(root)
      require(cur > 0,
        "publishClustered got an EMPTY batch on an unpublished store: " +
          "an empty clustered version has no envelopes to derive — " +
          "publish the first non-empty batch instead")
      return cur
    }
    SnapshotStore.staged(root) { staging =>
      // per-file envelopes come from the staged files themselves; file
      // names are write-unique, so the relative name survives the atomic
      // staging -> vN rename
      val lines = stageZRun(df, staging, clusterCols, bits, nFiles, mm)
      Files.write(staging.resolve(ClusterFile),
        (sidecarHeader(clusterCols, bits) +: lines.sorted).mkString("\n")
          .getBytes(StandardCharsets.UTF_8))
      tag.foreach(t => Files.write(staging.resolve(SnapshotStore.TagFile),
        t.getBytes(StandardCharsets.UTF_8)))
      SnapshotStore.writeVersionManifest(staging, kind = "base",
        schema = df.schema)
      SnapshotStore.commitStaged(root, staging, base = -1L, tag,
        op = "clustered publish")
    }
  }

  /** APPEND a batch to a clustered store as a new version: the batch is
    * z-clustered WITHIN ITSELF (scaled by its own min/max — sound
    * because z-values are never stored or compared across batches; the
    * sidecar's RAW per-file envelopes are exact filesystem facts
    * regardless of scaling), written as
    * `nFiles` fresh files, and every base file HARDLINKS over with its
    * sidecar envelope line carried verbatim (file names are
    * write-unique, so the lines stay valid). Lineage kind is `append` —
    * a file diff equals the row delta, so [[SnapshotStore.readSince]]
    * composes with clustered layout (q149 pins it). A time-ordered
    * append stream even helps skipping: each batch's files envelope
    * that batch's range, so time-window boxes prune whole appends.
    * Steady-state cost: O(batch) + O(base files) metadata. */
  def appendClustered(df: DataFrame, root: String, nFiles: Int,
      bits: Int = 16, tag: Option[String] = None): Long = {
    require(nFiles >= 1, "nFiles must be positive")
    val alreadyApplied = SnapshotStore.taggedVersion(root, tag)
    if (alreadyApplied.isDefined) return alreadyApplied.get
    val base = SnapshotStore.currentVersion(root)
    require(base > 0, s"no published version under $root")
    val baseSidecar = sidecarLines(root, base).getOrElse(
      throw new IllegalStateException(
        s"v$base under $root is not clustered — bootstrap with " +
          "publishClustered"))
    val (cols, baseBits) = parseSpec(baseSidecar.head)
    cols.foreach(c => require(df.columns.contains(c),
      s"missing cluster column $c"))
    // empty batch = no-op (append's "empty mints no version" posture),
    // detected from the z-scaling aggregate the append pays anyway
    // instead of a separate isEmpty probe job (r22; the spec fetch above
    // is metadata-only, so reordering it before the probe adds no work)
    val mm = ZOrder.minMaxCount(df, cols)
    if (ZOrder.rowCount(mm, cols) == 0L) return base
    val (baseManifest, baseSchema) = SnapshotStore.versionMeta(root, base)
    require(df.columns.toSet == baseSchema.fieldNames.toSet,
      s"append batch columns ${df.columns.sorted.mkString(",")} must " +
        s"match the store's ${baseSchema.fieldNames.sorted.mkString(",")} " +
        "(clustered appends do not evolve the schema)")
    // name match alone is not enough (r18 ADVICE): a same-named column
    // with a drifted TYPE would land silently, and whichever schema the
    // manifest recorded would then be applied to the OTHER write's
    // hardlinked files on every later read — types must match the
    // store's exactly (no widening either: the recorded version schema
    // is served over ALL files of the version, old and new alike)
    SnapshotStore.requireMatchingTypes(df.schema, baseSchema,
      "clustered append", allowWidening = false, keyColumns = Seq.empty)
    val baseDir = Paths.get(root, s"v$base")
    SnapshotStore.staged(root) { staging =>
      // fresh-file envelopes: everything staged so far IS the batch
      val freshLines = stageZRun(df, staging, cols, baseBits, nFiles, mm)
      // base carryover: link data files, keep lines. Base and batch files
      // share this one flat staging dir, so a name collision must fail
      // the append, never overwrite a batch file (linkOrCopy)
      baseManifest.foreach(rel =>
        SnapshotStore.linkOrCopy(baseDir.resolve(rel), staging.resolve(rel)))
      Files.write(staging.resolve(ClusterFile),
        (baseSidecar.head +:
          (baseSidecar.tail ++ freshLines).sorted).mkString("\n")
          .getBytes(StandardCharsets.UTF_8))
      tag.foreach(t => Files.write(staging.resolve(SnapshotStore.TagFile),
        t.getBytes(StandardCharsets.UTF_8)))
      // record the STORE's schema, not the batch's (r18 ADVICE): the types
      // are verified equal above, but the batch's column ORDER may differ,
      // and the recorded schema is what every later read applies to the
      // hardlinked base files too — mirror append's base-schema posture
      SnapshotStore.writeVersionManifest(staging, kind = "append",
        schema = baseSchema)
      SnapshotStore.commitStaged(root, staging, base, tag,
        op = "clustered append")
    }
  }

  /** COMPACT a clustered store: re-z-order the current version's rows
    * into ONE global equi-count z-run of `nFiles` files, rebuild the
    * sidecar (one envelope line per file), and publish as a new version.
    *
    * This is the maintenance action [[appendClustered]] points at, and
    * the r18-verdict gap it left open: each append is z-clustered only
    * WITHIN ITSELF, so k appends leave k overlapping z-runs whose
    * envelopes all intersect the same boxes (skipping quality decays as
    * batch envelopes pile up), the sidecar grows without bound, and —
    * because every append re-hardlinks every base file — k appends cost
    * O(k²) total link operations. One compact restores one global
    * clustering, a one-line-per-file sidecar, and a fresh (small)
    * hardlink base for the appends that follow. Same cost class as a
    * bootstrap publish (one range-shuffle of the live rows) — the rare
    * repair, not the steady-state write ([[SnapshotStore.compact]]'s
    * contract, applied to z layout).
    *
    * Lineage kind is `rewrite`: a compaction rewrites files, so the file
    * diff no longer equals the row delta and [[SnapshotStore.readSince]]
    * across it refuses (exactly the bucketed compact's posture).
    * Time travel keeps working: pre-compact versions keep their own
    * files, sidecars, and envelopes; [[vacuum]] reclaims them once the
    * horizon passes.
    *
    * No-op (current version returned, nothing minted) when the current
    * version is already a single global z-run (lineage `base`/`rewrite`)
    * — a recurring maintenance caller pays one metadata read.
    *
    * Concurrency: the rewrite's content is COMPUTED FROM the base
    * version, so the commit is CAS'd on it ([[SnapshotStore.commitStaged]]'s
    * stale-base abort, the rewriteBucketed discipline): an append landing
    * mid-compact aborts the COMPACT — never the reverse — and the caller
    * retries against the new current. */
  def compactClustered(spark: SparkSession, root: String, nFiles: Int,
      tag: Option[String] = None): Long = {
    require(nFiles >= 1, "nFiles must be positive")
    val alreadyApplied = SnapshotStore.taggedVersion(root, tag)
    if (alreadyApplied.isDefined) return alreadyApplied.get
    val base = SnapshotStore.currentVersion(root)
    require(base > 0, s"no published version under $root")
    val (cols, bits) = clusterSpecAt(root, base).getOrElse(
      throw new IllegalStateException(
        s"v$base under $root is not clustered — compactClustered serves " +
          "clustered stores only (SnapshotStore.compact is the bucketed " +
          "layout's compaction)"))
    if (!SnapshotStore.versionKind(root, base).contains("append"))
      return base // already one global z-run: nothing to repair
    val df = SnapshotStore.read(spark, root, base)
    SnapshotStore.staged(root) { staging =>
      val lines =
        stageZRun(df, staging, cols, bits, nFiles, ZOrder.minMaxCount(df, cols))
      Files.write(staging.resolve(ClusterFile),
        (sidecarHeader(cols, bits) +: lines.sorted).mkString("\n")
          .getBytes(StandardCharsets.UTF_8))
      tag.foreach(t => Files.write(staging.resolve(SnapshotStore.TagFile),
        t.getBytes(StandardCharsets.UTF_8)))
      SnapshotStore.writeVersionManifest(staging, kind = "rewrite",
        schema = SnapshotStore.versionMeta(root, base)._2)
      SnapshotStore.commitStaged(root, staging, base, tag,
        op = "clustered compact")
    }
  }

  /** RETENTION TRIM — drop every row with `column < cutoff` (the TTL /
    * data-retention action a 100 TB fact table takes daily) at FILE
    * economics, not table economics. The sidecar envelopes classify
    * each file without opening it:
    *
    *  - `max < cutoff` → DROPPED whole (metadata-only — the entire
    *    point of time-clustered layout: expired data lives in its own
    *    files);
    *  - `min >= cutoff` → CARRIED by hardlink, envelope line verbatim
    *    (no data movement, inode-pinned by q152);
    *  - straddling (and any manifest file the sidecar does not know —
    *    the fail-safe posture) → the ONLY files read: their surviving
    *    rows re-z-run into ≈`nFiles` fresh files.
    *
    * Cost is O(straddling files) data + O(files) metadata — for a
    * time-ordered append stream the straddle set is the one batch
    * spanning the cutoff, so a daily trim touches a day's data, never
    * the table. Lineage kind is `rewrite` (a trim deletes rows — the
    * file diff is not a row delta; readSince refuses). Commit is CAS'd
    * on the base version; time travel to pre-trim versions keeps
    * working until vacuum passes (hardlinked carryovers survive by
    * inode refcount). No-op (current version, nothing minted) when no
    * file drops and none straddles. A trim that leaves ZERO rows is
    * legitimate (full retention expiry) — the recorded version schema
    * keeps the empty version readable, deleteKeys' posture. */
  def trimBelow(spark: SparkSession, root: String, column: String,
      cutoff: Long, nFiles: Int, tag: Option[String] = None): Long = {
    require(nFiles >= 1, "nFiles must be positive")
    val alreadyApplied = SnapshotStore.taggedVersion(root, tag)
    if (alreadyApplied.isDefined) return alreadyApplied.get
    val base = SnapshotStore.currentVersion(root)
    require(base > 0, s"no published version under $root")
    val sidecar = sidecarLines(root, base).getOrElse(
      throw new IllegalStateException(
        s"v$base under $root is not clustered — trimBelow prunes by " +
          "sidecar envelopes; use a filtered republish for unclustered " +
          "stores"))
    val (cols, bits) = parseSpec(sidecar.head)
    val ci = cols.indexOf(column)
    require(ci >= 0,
      s"trim column $column is not a cluster column of v$base " +
        s"(${cols.mkString(",")}) — its envelopes are not in the sidecar")
    val baseDir = Paths.get(root, s"v$base")
    val (manifest, schema) = SnapshotStore.versionMeta(root, base)
    val lineByFile = sidecar.tail.map(l => l.split("\t")(0) -> l).toMap
    def envelope(file: String): Option[(Long, Long)] =
      lineByFile.get(file).map { l =>
        val f = l.split("\t")
        (f(1 + 2 * ci).toLong, f(2 + 2 * ci).toLong)
      }
    val dropped = manifest.filter(envelope(_).exists(_._2 < cutoff))
    val carried = manifest.filter(envelope(_).exists(_._1 >= cutoff))
    // straddlers AND unknown-envelope files: the only files READ
    val straddle = manifest.filterNot(dropped.toSet)
      .filterNot(carried.toSet)
    if (dropped.isEmpty && straddle.isEmpty) return base // nothing below
    SnapshotStore.staged(root) { staging =>
      val freshLines: Seq[String] =
        if (straddle.isEmpty) Seq.empty
        else {
          val survivors = SnapshotStore.scan(spark, root, base, straddle)
            .filter(col(column) >= cutoff)
          // emptiness folded into the z-scaling aggregate (r22): the
          // isEmpty probe re-read the straddle files once more
          val mm = ZOrder.minMaxCount(survivors, cols)
          if (ZOrder.rowCount(mm, cols) == 0L) Seq.empty
          else stageZRun(survivors, staging, cols, bits, nFiles, mm)
        }
      Files.createDirectories(staging) // straddle-free trims stage no data
      carried.foreach(rel =>
        SnapshotStore.linkOrCopy(baseDir.resolve(rel), staging.resolve(rel)))
      Files.write(staging.resolve(ClusterFile),
        (sidecarHeader(cols, bits) +:
          (carried.map(lineByFile) ++ freshLines).sorted).mkString("\n")
          .getBytes(StandardCharsets.UTF_8))
      tag.foreach(t => Files.write(staging.resolve(SnapshotStore.TagFile),
        t.getBytes(StandardCharsets.UTF_8)))
      SnapshotStore.writeVersionManifest(staging, kind = "rewrite",
        schema = schema)
      SnapshotStore.commitStaged(root, staging, base, tag,
        op = "clustered trim")
    }
  }

  /** POLICY compaction — the always-on writer's maintenance hook (the
    * x59 per-tick-compact posture applied to clustered layout): compact
    * only when the current version sits atop MORE THAN `maxAppendRuns`
    * consecutive `append` versions, else no-op at the current version.
    * The census is a metadata walk of lineage kinds from CURRENT
    * downward (bounded by the retention window; a vacuumed-away kind
    * file ends the walk early, which UNDERCOUNTS — conservative: at
    * worst a compaction is deferred one tick, never run spuriously).
    * Keeps a steady append stream's box-read cost bounded (the
    * clustered_box vs clustered_compact_box rehearsal pair) while
    * paying the full-rewrite price only every maxAppendRuns ticks. */
  def maybeCompactClustered(spark: SparkSession, root: String,
      maxAppendRuns: Int, nFiles: Int, tag: Option[String] = None): Long = {
    require(maxAppendRuns >= 1, "maxAppendRuns must be positive")
    val cur = SnapshotStore.currentVersion(root)
    require(cur > 0, s"no published version under $root")
    var v = cur
    var runs = 0
    while (v >= 1 && SnapshotStore.versionKind(root, v).contains("append")) {
      runs += 1; v -= 1
    }
    if (runs > maxAppendRuns) compactClustered(spark, root, nFiles, tag)
    else cur
  }

  /** The cluster spec a version was published with: (cols, bits), or
    * None for versions without a sidecar (not clustered). */
  def clusterSpecAt(root: String, version: Long): Option[(Seq[String], Int)] =
    sidecarLines(root, version).map(lines => parseSpec(lines.head))

  /** Version `v`'s raw sidecar lines (header first), or None when it
    * carries no sidecar. */
  private def sidecarLines(root: String, v: Long): Option[Seq[String]] = {
    val f = Paths.get(root, s"v$v", ClusterFile)
    if (!Files.exists(f)) None
    else Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      .linesIterator.toSeq)
  }

  private def parseSpec(header: String): (Seq[String], Int) = {
    val parts = header.split(";")
    (parts(0).stripPrefix("cols=").split(",").toSeq,
      parts(1).stripPrefix("bits=").toInt)
  }

  /** A clustered version as every metadata reader (readBox / countBox /
    * tableStats / readTopK) plans from it: the resolved version
    * (`version = 0` → current), its cluster columns, per-file
    * `(envelopes, rowCount)` from ONE read of its sidecar, and its
    * manifest. The sidecar line format (`file \t min1 \t max1 … \t
    * count`) lives in exactly two places: [[stageZRun]] writes it, this
    * parses it (trimBelow carries raw lines VERBATIM into the next
    * version's sidecar). Refuses a root with no published version, and
    * a version without a sidecar: a `what` over an unclustered version
    * would silently scan every file. */
  private def clusteredVersion(root: String, version: Long, what: String)
      : (Long, Seq[String], Map[String, (IndexedSeq[(Long, Long)], Long)],
        Seq[String]) = {
    val v = if (version == 0L) SnapshotStore.currentVersion(root) else version
    require(v > 0, s"no published version under $root")
    val lines = sidecarLines(root, v).getOrElse(
      throw new IllegalStateException(
        s"v$v under $root carries no cluster sidecar — a $what over an " +
          "unclustered version would silently scan every file; " +
          "publishClustered the version (or read + filter explicitly if " +
          "a full scan is intended)"))
    val (cols, _) = parseSpec(lines.head)
    val envelopes = lines.tail.map { line =>
      val f = line.split("\t")
      f(0) -> ((cols.indices.map(i =>
        (f(1 + 2 * i).toLong, f(2 + 2 * i).toLong)),
        f(1 + 2 * cols.length).toLong))
    }.toMap
    (v, cols, envelopes, SnapshotStore.versionMeta(root, v)._1)
  }

  /** METADATA-ONLY BOX COUNT over a clustered store version — the
    * "how many rows landed in March" / retention-audit query a 100 TB
    * fact table answers daily, priced in FILES like [[trimBelow]]:
    * the sidecar already records each file's exact per-column envelope
    * AND row count (both derived from the staged files themselves), so
    *
    *  - a file whose envelope sits WHOLLY INSIDE the box on every box
    *    column contributes its sidecar count without being opened;
    *  - a file DISJOINT from the box on any column contributes zero,
    *    also unopened;
    *  - only STRADDLERS — plus any manifest file the sidecar does not
    *    know, the standing fail-safe — are read and counted under the
    *    real filter.
    *
    * For a 1-D time-clustered store the straddle set is the (≤2) files
    * containing the box edges, so the count costs two file reads at any
    * table size — and a bin-ALIGNED box (the whole domain, a whole
    * dropped-file range) reads ZERO files. The count is exact, never
    * estimated: every unopened file's contribution is a filesystem fact
    * the writer derived from that file's own rows ([[stageZRun]]), and
    * anything uncertain is read. Returns (count, filesRead, filesTotal)
    * — the same honest pruning observable as [[readBox]] (q154's
    * contract booleans). Time travel: pin `version` as with readBox. */
  def countBox(spark: SparkSession, root: String,
      box: Seq[(String, Long, Long)],
      version: Long = 0L): (Long, Int, Int) = {
    require(box.nonEmpty, "need at least one box clause")
    val (v, cols, sidecar, manifest) =
      clusteredVersion(root, version, "box count")
    box.foreach { case (c, _, _) => require(cols.contains(c),
      s"box column $c is not a cluster column of v$v (${cols.mkString(",")})") }
    // per file: disjoint on ANY box column -> 0 rows; inside on EVERY
    // box column -> sidecar count; anything else (straddle, unknown
    // envelope) -> read
    sealed trait Rel
    object Inside extends Rel; object Disjoint extends Rel
    object MustRead extends Rel
    def classify(file: String): Rel = sidecar.get(file) match {
      case None => MustRead // unknown envelope -> fail-safe read
      case Some((envs, _)) =>
        val rel = box.map { case (c, lo, hi) =>
          val (mn, mx) = envs(cols.indexOf(c))
          if (mx < lo || mn > hi) Disjoint
          else if (lo <= mn && mx <= hi) Inside
          else MustRead
        }
        if (rel.contains(Disjoint)) Disjoint
        else if (rel.forall(_ == Inside)) Inside
        else MustRead
    }
    val byRel = manifest.groupBy(classify)
    val inside = byRel.getOrElse(Inside, Seq.empty)
    val toRead = byRel.getOrElse(MustRead, Seq.empty)
    val metaCount = inside.map(sidecar(_)._2).sum
    val readCount =
      if (toRead.isEmpty) 0L
      else {
        SnapshotStore.scan(spark, root, v, toRead)
          .filter(box.map { case (c, lo, hi) => col(c).between(lo, hi) }
            .reduce(_ && _))
          .count()
      }
    (metaCount + readCount, toRead.size, manifest.size)
  }

  /** METADATA-ONLY TABLE STATS — exact row count plus per-cluster-column
    * min/max for a version, normally with ZERO file reads: every
    * envelope and count in the sidecar is a fact the writer derived from
    * that file's own rows, so the table-wide count is the sum of file
    * counts and the table-wide min/max is the min/max over file
    * envelopes ("SELECT count(*), min(ts), max(ts)" — the dashboard
    * freshness probe a 100 TB table answers every minute). Files the
    * sidecar does not know (the standing fail-safe) are read and folded
    * in, so the answer is exact against any sidecar damage. A zero-file
    * version (full retention expiry) returns count 0 with null-free
    * semantics left to the caller: min/max maps are EMPTY. Returns
    * (rows, min/max per cluster column, filesRead, filesTotal). */
  def tableStats(spark: SparkSession, root: String, version: Long = 0L)
      : (Long, Map[String, (Long, Long)], Int, Int) = {
    val (v, cols, sidecar, manifest) =
      clusteredVersion(root, version, "table-stats probe")
    val (known, unknown) = manifest.partition(sidecar.contains)
    val metaRows = known.map(sidecar(_)._2).sum
    val metaEnvs: Map[String, (Long, Long)] =
      if (known.isEmpty) Map.empty
      else cols.zipWithIndex.map { case (c, i) =>
        c -> ((known.map(sidecar(_)._1(i)._1).min,
          known.map(sidecar(_)._1(i)._2).max))
      }.toMap
    if (unknown.isEmpty) return (metaRows, metaEnvs, 0, manifest.size)
    // fail-safe: fold the unknown files' real rows in (one narrow job)
    val aggs = count(lit(1L)).as("_n") +: cols.flatMap(c =>
      Seq(min(col(c)).cast(org.apache.spark.sql.types.LongType),
        max(col(c)).cast(org.apache.spark.sql.types.LongType)))
    val r = SnapshotStore.scan(spark, root, v, unknown)
      .agg(aggs.head, aggs.tail: _*).head()
    val readRows = r.getLong(0)
    // an unknown file can be EMPTY (range partitioning mints empty
    // cuts): its min/max aggregate is null and contributes nothing
    val merged =
      if (readRows == 0L) metaEnvs
      else cols.zipWithIndex.map { case (c, i) =>
        val (mn, mx) = (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i))
        c -> (metaEnvs.get(c) match {
          case Some((m0, m1)) => (math.min(m0, mn), math.max(m1, mx))
          case None => (mn, mx)
        })
      }.toMap
    (metaRows + readRows, merged, unknown.size, manifest.size)
  }

  /** METADATA-ASSISTED TOP-K — "the newest k rows" (or oldest, the
    * retention probe), the other daily dashboard query a 100 TB fact
    * table answers, priced in FILES like [[countBox]]:
    *
    *  1. sort the sidecar envelopes by file max, descending (min
    *     ascending for `descending = false`); take the smallest prefix
    *     whose summed row counts reach `k` — unknown-envelope files
    *     sort FIRST (they might hold anything: the standing fail-safe);
    *  2. one job over that prefix finds the k-th extreme value `kth`;
    *  3. any remaining file whose envelope still reaches `kth`
    *     (`max >= kth` desc / `min <= kth` asc) joins the read set —
    *     rows outside it can never place in the top k, REGARDLESS of
    *     tiebreaker, because their ordering column is strictly beyond
    *     `kth` (lexicographic order decides on the first column);
    *  4. the returned frame is every candidate row at-or-beyond `kth`
    *     from the read set — a superset of the top k that the caller
    *     orders and limits with their own tiebreaker (ties at the `kth`
    *     boundary are all present, so any total order is exact).
    *
    * For a time-ordered append stream the newest-k read set is the one
    * or two newest files at any table size. Exact by the same authority
    * rule as every clustered read: the sidecar only ever SHRINKS the
    * read set where its facts prove exclusion; anything uncertain is
    * read. Returns (candidates, filesRead, filesTotal). Time travel:
    * pin `version`. Driver-side state is one collected column of k
    * values from the prefix (bounded by k — size k to dashboard scale,
    * not table scale) plus the envelope list (one entry per file, the
    * manifest's own order of magnitude).
    *
    * `filesRead` counts DISTINCT files in the read set (prefix ∪
    * extra), not physical opens: the prefix files are opened twice —
    * once by the k-th-threshold job, again when the returned candidate
    * frame executes. The double open is deliberate, not an oversight to
    * cache away: the first pass projects the ONE ordering column (a
    * narrow columnar read feeding a k-bounded sort), while
    * caching/localCheckpointing the prefix to save it would materialize
    * EVERY column of file-scale rows — more I/O and memory than the
    * narrow re-scan it avoids. The pruning booleans callers pin
    * (filesRead < filesTotal) are about which files the answer touches
    * and are unaffected. */
  def readTopK(spark: SparkSession, root: String, column: String,
      k: Int, descending: Boolean = true,
      version: Long = 0L): (DataFrame, Int, Int) = {
    require(k >= 1, s"k must be positive, got $k")
    val (v, cols, sidecar, manifest) =
      clusteredVersion(root, version, "top-k")
    require(cols.contains(column),
      s"top-k column $column is not a cluster column of v$v " +
        s"(${cols.mkString(",")}) — its envelopes are not in the sidecar")
    val ci = cols.indexOf(column)
    // unknown-envelope files sort first (read them no matter what):
    // None < Some under Option's ordering, and the known files follow
    // under an EXPLICIT per-direction Ordering — max descending for the
    // newest-k read, min ascending for the retention probe. An explicit
    // Ordering (not `-min` arithmetic negation) so a file min of
    // Long.MinValue cannot overflow to "sorts last" and quietly invert
    // the prefix economics (the pruning would survive — the `extra`
    // step readmits any file whose envelope reaches the threshold —
    // but the smallest-prefix reasoning would not).
    def extremity(file: String): Option[Long] = sidecar.get(file).map {
      case (envs, _) => if (descending) envs(ci)._2 else envs(ci)._1
    }
    val known: Ordering[Long] =
      if (descending) Ordering[Long].reverse else Ordering[Long]
    val ordered = manifest.sortBy(extremity)(Ordering.Option(known))
    val counts = ordered.map(f => sidecar.get(f).map(_._2).getOrElse(0L))
    val cum = counts.scanLeft(0L)(_ + _).tail
    val nPrefix = math.max(1,
      cum.indexWhere(_ >= k.toLong) match {
        case -1 => ordered.size // fewer than k rows: read everything
        case i => i + 1
      })
    val prefix = ordered.take(nPrefix)
    if (prefix.isEmpty) // zero-file version (full retention expiry)
      return (SnapshotStore.read(spark, root, v), 0, 0)
    def readFiles(fs: Seq[String]) = SnapshotStore.scan(spark, root, v, fs)
    val sortCol = if (descending) col(column).desc else col(column).asc
    // the k-th extreme of the prefix: one narrow job, k collected values
    // (cast: cluster columns are BIGINT-castable, not necessarily BIGINT)
    val prefixTop = readFiles(prefix)
      .select(col(column).cast(org.apache.spark.sql.types.LongType)
        .as(column))
      .orderBy(sortCol).limit(k).collect()
    if (prefixTop.length < k) // whole store holds fewer than k rows
      return (SnapshotStore.read(spark, root, v).filter(lit(true)),
        manifest.size, manifest.size)
    val kth = prefixTop.last.getLong(0)
    val extra = ordered.drop(nPrefix).filter { f =>
      sidecar.get(f) match {
        case None => true // unreachable (unknowns sorted into the prefix)
        case Some((envs, _)) =>
          if (descending) envs(ci)._2 >= kth else envs(ci)._1 <= kth
      }
    }
    val cut = if (descending) col(column) >= lit(kth)
      else col(column) <= lit(kth)
    (readFiles(prefix ++ extra).filter(cut),
      nPrefix + extra.size, manifest.size)
  }

  /** Box read over a clustered store VERSION (`version = 0` → current):
    * every `lo <= col <= hi` clause must name a cluster column; files
    * whose sidecar envelope misses the box are never opened. Returns
    * (data, filesRead, filesTotal) — the honest pruning observable
    * (q148's `pruned` contract boolean). Time travel: pin `version` and
    * the box is answered from that version's files and envelopes alone.
    * Fail-safe: manifest files the sidecar does not know are read
    * unpruned and the box filter is re-applied, so the result is exact
    * against any sidecar damage. */
  def readBox(spark: SparkSession, root: String,
      box: Seq[(String, Long, Long)],
      version: Long = 0L): (DataFrame, Int, Int) = {
    require(box.nonEmpty, "need at least one box clause")
    val (v, cols, sidecar, manifest) =
      clusteredVersion(root, version, "box read")
    box.foreach { case (c, _, _) => require(cols.contains(c),
      s"box column $c is not a cluster column of v$v (${cols.mkString(",")})") }
    val selected = manifest.filter { file =>
      sidecar.get(file) match {
        case None => true // unknown envelope -> must read (fail-safe)
        case Some((envs, _)) => box.forall { case (c, lo, hi) =>
          val (mn, mx) = envs(cols.indexOf(c))
          mx >= lo && mn <= hi
        }
      }
    }
    val boxFilter = box.map { case (c, lo, hi) => col(c).between(lo, hi) }
      .reduce(_ && _)
    val data =
      if (selected.isEmpty)
        SnapshotStore.read(spark, root, v).filter(lit(false))
      else SnapshotStore.scan(spark, root, v, selected).filter(boxFilter)
    (data, selected.size, manifest.size)
  }
}
