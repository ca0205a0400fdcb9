package graft.engine.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark

class SnapshotStoreSpec extends AnyFunSuite {
  import spark.implicits._

  private def root(): String =
    Files.createTempDirectory("graft-snap").toString + "/tbl"

  test("publish bumps the version; read resolves the pointer") {
    val r = root()
    assert(SnapshotStore.publish(Seq((1L, "a")).toDF("id", "v"), r) == 1L)
    assert(SnapshotStore.publish(Seq((1L, "b"), (2L, "b")).toDF("id", "v"), r) == 2L)
    assert(SnapshotStore.currentVersion(r) == 2L)
    assert(SnapshotStore.read(spark, r).count() == 2L)
    // time travel: pinned read of v1 still sees the old snapshot
    val v1 = SnapshotStore.read(spark, r, version = 1L).collect()
    assert(v1.length == 1 && v1(0).getString(1) == "a")
  }

  test("a reader resolved before a publish keeps its consistent snapshot") {
    val r = root()
    SnapshotStore.publish(spark.range(10).toDF("id"), r)
    val pinned = SnapshotStore.currentVersion(r)
    val reader = SnapshotStore.read(spark, r, pinned)
    SnapshotStore.publish(spark.range(99).toDF("id"), r)
    assert(reader.count() == 10L, "pinned reader must not see the new version")
    assert(SnapshotStore.read(spark, r).count() == 99L)
  }

  test("rollback is a pointer flip; vacuum keeps the current + keep window") {
    val r = root()
    (1 to 4).foreach(i => SnapshotStore.publish(
      spark.range(i * 10).toDF("id"), r))
    SnapshotStore.rollback(r, 3L)
    assert(SnapshotStore.read(spark, r).count() == 30L)
    intercept[IllegalArgumentException] { SnapshotStore.rollback(r, 99L) }
    val dropped = SnapshotStore.vacuum(r, keep = 1)
    assert(dropped == Seq(1L), s"got $dropped")
    assert(SnapshotStore.read(spark, r).count() == 30L, "current survives vacuum")
    assert(SnapshotStore.read(spark, r, 2L).count() == 20L, "kept window survives")
  }

  test("stale publisher cannot regress the pointer (forward-only flip)") {
    val r = root()
    SnapshotStore.publish(Seq((1L, "a")).toDF("id", "v"), r)
    SnapshotStore.publish(Seq((2L, "b")).toDF("id", "v"), r)
    // a slow publisher that computed its version before the fast one
    // finished now tries to flip CURRENT back — it must fail, not regress
    intercept[IllegalStateException] { SnapshotStore.advancePointer(r, 1L) }
    intercept[IllegalStateException] { SnapshotStore.advancePointer(r, 2L) }
    assert(SnapshotStore.currentVersion(r) == 2L,
      "CURRENT must still point at the newest publish")
    // rollback remains an intentional backward flip, and publish-after-
    // rollback moves forward from the max version, not the pointer
    SnapshotStore.rollback(r, 1L)
    assert(SnapshotStore.currentVersion(r) == 1L)
    val v = SnapshotStore.publish(Seq((3L, "c")).toDF("id", "v"), r)
    assert(v == 3L && SnapshotStore.currentVersion(r) == 3L)
  }

  test("concurrent publishers: every completed publish lands a distinct version and CURRENT ends at the max") {
    val r = root()
    SnapshotStore.publish(Seq((0L, "seed")).toDF("id", "v"), r)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.traverse((1 to 4).toList) { i =>
        Future {
          // staging-write + locked claim/flip: every publisher should land
          // its own version; a failure here would mean corrupted state
          try Right(SnapshotStore.publish(Seq((i.toLong, s"w$i")).toDF("id", "v"), r))
          catch { case e: Exception => Left(e.toString) }
        }
      }, 60.seconds)
    val winners = results.collect { case Right(v) => v }
    assert(winners.size == 4, s"every concurrent publish must land: $results")
    assert(winners.distinct.size == winners.size, s"duplicate versions: $winners")
    assert(SnapshotStore.currentVersion(r) == winners.max,
      "CURRENT must resolve to the newest successfully-published version")
    assert(SnapshotStore.read(spark, r).count() == 1L)
  }

  test("an abandoned flip lock is broken and the next publish proceeds") {
    val r = root()
    SnapshotStore.publish(Seq((1L, "a")).toDF("id", "v"), r)
    // a crashed writer left its lock behind, 2 minutes stale
    val lock = java.nio.file.Paths.get(r, ".CURRENT.lock")
    Files.write(lock, "dead-writer-token".getBytes)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    val v = SnapshotStore.publish(Seq((2L, "b")).toDF("id", "v"), r)
    assert(v == 2L && SnapshotStore.currentVersion(r) == 2L,
      "publish must break the stale lock instead of waiting forever")
    assert(!Files.exists(lock), "released lock must not linger")
  }

  test("a holder that lost lock ownership never deletes the new owner's lock") {
    val r = root()
    Files.createDirectories(java.nio.file.Paths.get(r))
    val lock = java.nio.file.Paths.get(r, ".CURRENT.lock")
    val out = SnapshotStore.withFlipLock(r) {
      // simulate: this holder stalled past its lease, another writer broke
      // the lock and re-acquired with its own token
      Files.write(lock, "new-owner-token".getBytes)
      42
    }
    assert(out == 42)
    assert(Files.exists(lock) &&
      new String(Files.readAllBytes(lock)) == "new-owner-token",
      "release must skip the delete when the token no longer matches")
    Files.delete(lock)
    // and with ownership intact, release must clean up normally
    SnapshotStore.withFlipLock(r) { 1 }
    assert(!Files.exists(lock), "owned lock must be released")
  }

  test("failed publish leaves the pointer on the last good version; next publish recovers") {
    val r = root()
    SnapshotStore.publish(spark.range(5).toDF("id"), r)
    // a write that fails mid-job (assert_true raises on execution)
    intercept[Exception] {
      SnapshotStore.publish(
        spark.range(7).select(assert_true(col("id") < 0).as("x")), r)
    }
    assert(SnapshotStore.currentVersion(r) == 1L,
      "pointer must still reference the last good version")
    assert(SnapshotStore.read(spark, r).count() == 5L)
    // recovery: the next publish takes a FRESH version number past any
    // partial dir the failed job left, and flips the pointer to it
    val v = SnapshotStore.publish(spark.range(7).toDF("id"), r)
    assert(v > 1L && SnapshotStore.currentVersion(r) == v)
    assert(SnapshotStore.read(spark, r).count() == 7L)
  }

  test("diff tags added/removed rows between versions with multiset semantics") {
    val r = Files.createTempDirectory("snap_diff").toString + "/tbl"
    // v1: {1, 2, 2, 3}; v2: {2, 3, 4} — duplicates must count
    SnapshotStore.publish(Seq(1L, 2L, 2L, 3L).toDF("id"), r)
    SnapshotStore.publish(Seq(2L, 3L, 4L).toDF("id"), r)
    val d = SnapshotStore.diff(spark, r, 1L, 2L)
      .collect().map(row => (row.getLong(0), row.getString(1))).sorted.toSeq
    assert(d == Seq((1L, "removed"), (2L, "removed"), (4L, "added")),
      s"diff must be one removed 1, ONE removed 2 (multiset), one added 4; got $d")
    // identical versions diff to empty
    SnapshotStore.publish(Seq(2L, 3L, 4L).toDF("id"), r)
    assert(SnapshotStore.diff(spark, r, 2L, 3L).isEmpty)
  }

  test("merge: upsert semantics, touched-only rewrite, hardlinked carry-over") {
    val r = root()
    val base = (0L until 64L).map(i => (i, s"v$i")).toDF("id", "v")
    SnapshotStore.publishBucketed(base, r, "id", nBuckets = 8)
    val batch = Seq((3L, "UPDATED"), (100L, "NEW")).toDF("id", "v")
    assert(SnapshotStore.merge(batch, r) == 2L)
    val out = SnapshotStore.read(spark, r).collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    assert(out.size == 65)
    assert(out(3L) == "UPDATED" && out(100L) == "NEW" && out(5L) == "v5")
    // time travel: v1 still sees the pre-merge row
    val v1 = SnapshotStore.read(spark, r, 1L).filter(col("id") === 3L)
      .head().getString(1)
    assert(v1 == "v3")
    // untouched buckets must be the SAME inodes (linked, not rewritten)
    val touched = batch.withColumn("_b", SnapshotStore.bucketExpr("id", 8))
      .select("_b").distinct().collect().map(_.getInt(0)).toSet
    assert(touched.size < 8, "fixture must leave untouched buckets")
    def inos(v: Long, k: Int): Set[Any] = {
      val d = java.nio.file.Paths.get(r, s"v$v", s"_bucket=$k")
      if (!Files.exists(d)) Set.empty
      else {
        val s = Files.list(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .map(f => Files.getAttribute(f, "unix:ino")).toSet
        } finally s.close()
      }
    }
    (0 until 8).filterNot(touched).foreach { k =>
      assert(inos(1L, k) == inos(2L, k), s"bucket $k must be hardlink-reused")
    }
    (0 until 8).filter(touched).foreach { k =>
      assert(inos(1L, k).intersect(inos(2L, k)).isEmpty,
        s"touched bucket $k must be rewritten, not linked")
    }
  }

  test("merge: duplicate batch keys and non-bucketed stores are rejected") {
    val r = root()
    SnapshotStore.publish(Seq((1L, "a")).toDF("id", "v"), r)
    val e1 = intercept[IllegalStateException] {
      SnapshotStore.merge(Seq((1L, "b")).toDF("id", "v"), r)
    }
    assert(e1.getMessage.contains("not a bucketed store"))
    val r2 = root()
    SnapshotStore.publishBucketed(Seq((1L, "a")).toDF("id", "v"), r2, "id", 4)
    val e2 = intercept[IllegalArgumentException] {
      SnapshotStore.merge(Seq((2L, "x"), (2L, "y")).toDF("id", "v"), r2)
    }
    assert(e2.getMessage.contains("duplicate keys"))
  }

  test("merge: an empty batch is a no-op — no new version flips") {
    val r = root()
    SnapshotStore.publishBucketed(Seq((1L, "a")).toDF("id", "v"), r, "id", 4)
    assert(SnapshotStore.merge(
      Seq.empty[(Long, String)].toDF("id", "v"), r) == 1L,
      "empty merge must return the base version, not mint a new one")
    assert(SnapshotStore.currentVersion(r) == 1L)
    assert(SnapshotStore.read(spark, r).count() == 1L)
  }

  test("tagged publish/merge: an already-applied tag is returned, not " +
      "re-applied — the at-least-once replay guard") {
    val r = root()
    // tagged bootstrap: replaying it returns v1 and writes nothing
    val v1 = SnapshotStore.publishBucketed(
      Seq((1L, 10.0)).toDF("id", "v"), r, "id", 4, tag = Some("batch-0"))
    assert(v1 == 1L)
    assert(SnapshotStore.publishBucketed(
      Seq((1L, 999.0)).toDF("id", "v"), r, "id", 4, tag = Some("batch-0")) == 1L,
      "replayed tagged bootstrap must return the applied version")
    // tagged merge applied twice: second call is a version-stable no-op
    val v2 = SnapshotStore.merge(Seq((2L, 20.0)).toDF("id", "v"), r,
      tag = Some("batch-1"))
    assert(v2 == 2L)
    assert(SnapshotStore.merge(Seq((2L, 777.0)).toDF("id", "v"), r,
      tag = Some("batch-1")) == 2L)
    assert(SnapshotStore.currentVersion(r) == 2L)
    val out = SnapshotStore.read(spark, r).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(out == Map(1L -> 10.0, 2L -> 20.0),
      s"replays must not re-apply or overwrite; got $out")
    assert(SnapshotStore.versionTags(r) == Map(1L -> "batch-0", 2L -> "batch-1"))
    // untagged writes still mint versions freely alongside tagged ones
    assert(SnapshotStore.merge(Seq((3L, 30.0)).toDF("id", "v"), r) == 3L)
    assert(SnapshotStore.versionTags(r).keySet == Set(1L, 2L))
    // tagged APPEND replay no-ops too — the cursor-fold crash guard
    // (a consumer that crashed between its fold append and its cursor
    // advance replays the fold; insert-only append would double rows)
    val v4 = SnapshotStore.append(Seq((4L, 40.0)).toDF("id", "v"), r,
      tag = Some("fold-v4"))
    assert(SnapshotStore.append(Seq((4L, 40.0)).toDF("id", "v"), r,
      tag = Some("fold-v4")) == v4)
    assert(SnapshotStore.currentVersion(r) == v4 &&
      SnapshotStore.read(spark, r).filter(col("id") === 4L).count() == 1L,
      "a replayed tagged append must not re-insert")
  }

  test("merge: a rival pinned to a stale base fails the flip-lock re-check " +
      "without flipping; its retry against CURRENT lands both changes") {
    val r = root()
    SnapshotStore.publishBucketed(
      (0L until 16L).map(i => (i, "base")).toDF("id", "v"), r, "id", 4) // v1
    // a competitor lands v2 while the rival's transaction is pinned to v1
    assert(SnapshotStore.merge(Seq((2L, "winner")).toDF("id", "v"), r) == 2L)
    val e = intercept[IllegalStateException] {
      SnapshotStore.merge(Seq((1L, "rival")).toDF("id", "v"), r,
        baseVersion = 1L)
    }
    assert(e.getMessage.contains("stale merge"))
    assert(SnapshotStore.currentVersion(r) == 2L,
      "a failed merge must not move the pointer")
    // the aborted attempt must clean up its staged rewrite — a retrying
    // caller would otherwise leak one full rewrite per attempt
    assert(stagingDirs(r).isEmpty,
      s"stale merge left staging dirs: ${stagingDirs(r)}")
    // retry against the new current: both writers' changes are present
    assert(SnapshotStore.merge(Seq((1L, "rival")).toDF("id", "v"), r) == 3L)
    val out = SnapshotStore.read(spark, r).collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    assert(out(1L) == "rival" && out(2L) == "winner" && out(0L) == "base")
  }

  private def stagingDirs(r: String): Seq[String] = {
    val s = Files.list(java.nio.file.Paths.get(r))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".staging-")).toSeq
    } finally s.close()
  }

  test("reads consume the version manifest, never the directory listing") {
    val r = root()
    SnapshotStore.publish(spark.range(100).toDF("id"), r)
    // healthy version: manifest exists and matches disk exactly
    val files = SnapshotStore.manifestFiles(r, 1L)
    assert(files.exists(_.nonEmpty), "publish must write a manifest")
    assert(SnapshotStore.auditVersion(r, 1L) == ((Seq.empty, Seq.empty)))
    // an alien file dropped into the version dir (an external writer, or
    // debris from a torn copy) is INVISIBLE to manifest-backed reads —
    // proof the listing is not the source of truth — and the audit
    // surfaces it
    spark.range(5000L, 5050L).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$r/v1")
    assert(SnapshotStore.read(spark, r).count() == 100L,
      "read must see exactly the manifested files")
    val (missing, unknown) = SnapshotStore.auditVersion(r, 1L)
    assert(missing.isEmpty && unknown.nonEmpty,
      s"audit must surface the alien file, got ($missing, $unknown)")
    // a version missing its manifest or its schema is damaged: every
    // reader rejects it loudly, naming the version and the missing file
    SnapshotStore.publish(spark.range(10).toDF("id"), r)
    Files.delete(java.nio.file.Paths.get(r, "v1", "_GRAFT_MANIFEST"))
    Files.delete(java.nio.file.Paths.get(r, "v2", "_GRAFT_SCHEMA"))
    for ((v, f) <- Seq(1L -> "_GRAFT_MANIFEST", 2L -> "_GRAFT_SCHEMA")) {
      val e = intercept[IllegalStateException](SnapshotStore.read(spark, r, v))
      assert(e.getMessage.contains(s"v$v under") && e.getMessage.contains(f),
        e.getMessage)
    }
    intercept[IllegalStateException](SnapshotStore.auditVersion(r, 1L))
  }

  test("linkOrCopy: a name collision throws, planted bytes unchanged") {
    val dir = Files.createTempDirectory("graft-carry")
    val src = dir.resolve("base/part-0.parquet")
    val dst = dir.resolve("staging/part-0.parquet")
    Files.createDirectories(src.getParent)
    Files.createDirectories(dst.getParent)
    Files.write(src, "base rows".getBytes)
    Files.write(dst, "fresh batch rows".getBytes)
    intercept[java.nio.file.FileAlreadyExistsException] {
      SnapshotStore.linkOrCopy(src, dst)
    }
    assert(new String(Files.readAllBytes(dst)) == "fresh batch rows",
      "a collision must never overwrite the staged file")
    // a free name carries by hardlink: the same inode, no copy
    val free = dir.resolve("staging/sub/part-1.parquet")
    SnapshotStore.linkOrCopy(src, free)
    assert(Files.getAttribute(free, "unix:ino") ==
      Files.getAttribute(src, "unix:ino"))
  }

  test("vacuum reaps stranded .staging-* dirs past the staleness horizon") {
    val r = root()
    SnapshotStore.publish(spark.range(10).toDF("id"), r)
    val stranded = java.nio.file.Paths.get(r, ".staging-dead-1")
    Files.createDirectories(stranded)
    Files.write(stranded.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    // fresh staging (a live publisher's in-flight write) must survive
    val live = java.nio.file.Paths.get(r, ".staging-live-2")
    Files.createDirectories(live)
    // age the WHOLE subtree: staleness is judged by the newest mtime
    // anywhere under the staging dir (a live Spark write lands files in
    // _temporary/ without touching the top-level mtime, so the top-level
    // timestamp alone must never be reap evidence) — a genuinely crashed
    // publisher's tree is uniformly old
    Seq(stranded, stranded.resolve("part-0.parquet")).foreach(p =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 3600 * 1000L)))
    SnapshotStore.vacuum(r, keep = 99)
    assert(stagingDirs(r) == Seq(".staging-live-2"),
      s"stale staging reaped, live staging kept — got ${stagingDirs(r)}")
  }

  private def bucketListing(r: String, v: Long, k: Int): Map[String, Any] = {
    val d = java.nio.file.Paths.get(r, s"v$v", s"_bucket=$k")
    if (!Files.exists(d)) Map.empty
    else {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => f.getFileName.toString ->
            Files.getAttribute(f, "unix:ino")).toMap
      } finally s.close()
    }
  }

  test("compact: fragmented buckets to one file, untouched hardlinked, " +
      "content intact, no-op when clean, links survive vacuum") {
    val r = root()
    val df = (0L until 200L).map(i => (i, i * 7)).toDF("id", "v")
    // fragmentation arises the way it does in production — a publish
    // plus appends each land their own file per touched bucket (the
    // write path itself now caps files at one per bucket PER WRITE:
    // the r18 one-file-per-bucket repartition)
    SnapshotStore.publishBucketed(df.filter(col("id") < 100L), r, "id",
      nBuckets = 4) // v1
    SnapshotStore.append(
      df.filter(col("id") >= 100L && col("id") < 150L), r) // v2
    SnapshotStore.append(df.filter(col("id") >= 150L), r) // v3
    assert((0 until 4).exists(k => bucketListing(r, 3L, k).size > 1),
      "fixture must be fragmented or the test proves nothing")
    val v4 = SnapshotStore.compact(spark, r)
    assert(v4 == 4L)
    assert((0 until 4).forall(k => bucketListing(r, 4L, k).size <= 1),
      "compaction must leave at most one data file per bucket")
    val got = SnapshotStore.read(spark, r).drop("_bucket").collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(got == (0L until 200L).map(i => i -> i * 7).toMap,
      "compaction is a pure layout op — content must be identical")
    // nothing fragmented now: compact is a no-op, no version minted
    assert(SnapshotStore.compact(spark, r) == v4)
    assert(SnapshotStore.currentVersion(r) == v4)
    // a small merge links its untouched buckets to v4's inodes...
    val batch = Seq((0L, -1L), (1L, -2L)).toDF("id", "v")
    assert(SnapshotStore.merge(batch, r) == 5L)
    val touched = batch
      .withColumn("_b", SnapshotStore.bucketExpr("id", 4))
      .select("_b").distinct().collect().map(_.getInt(0)).toSet
    val untouched = (0 until 4).filterNot(touched)
    assert(untouched.nonEmpty, "2 keys cannot touch all 4 buckets")
    assert(untouched.forall(k =>
      bucketListing(r, 5L, k) == bucketListing(r, 4L, k)),
      "untouched buckets must carry over by hardlink (same inodes)")
    // ...and those links survive vacuuming the version they point into
    val dropped = SnapshotStore.vacuum(r, keep = 0)
    assert(dropped == Seq(1L, 2L, 3L, 4L), s"got $dropped")
    val after = SnapshotStore.read(spark, r).drop("_bucket").collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(after.size == 200 && after(0L) == -1L && after(1L) == -2L &&
      after(199L) == 199L * 7,
      "current version must read fully after its link sources are vacuumed")
  }

  test("readSince: manifest-diff delta read — only appended rows, None " +
      "when drained, full snapshot from cursor 0") {
    val r = root()
    val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    SnapshotStore.publishBucketed(df, r, "k", nBuckets = 4) // v1
    SnapshotStore.append(
      Seq((11L, "v11"), (12L, "v12")).toDF("k", "s"), r) // v2
    SnapshotStore.append(Seq((13L, "v13")).toDF("k", "s"), r) // v3
    // cursor 0 = nothing consumed: the whole current snapshot
    assert(SnapshotStore.readSince(spark, r, 0L).get.count() == 13L)
    // delta since v1: only the two appends' rows
    val since1 = SnapshotStore.readSince(spark, r, 1L).get
      .select("k").as[Long].collect().toSet
    assert(since1 == Set(11L, 12L, 13L))
    assert(SnapshotStore.readSince(spark, r, 2L).get
      .select("k").as[Long].collect().toSet == Set(13L))
    // fully consumed → None, not an empty-file read error
    assert(SnapshotStore.readSince(spark, r, 3L).isEmpty)
  }

  test("deleteKeys: touched-bucket-only delete, rewrite lineage, " +
      "empty/no-op and wrong-shape rejection") {
    val r = root()
    val df = (1L to 40L).map(k => (k, s"v$k")).toDF("k", "s")
    SnapshotStore.publishBucketed(df, r, "k", nBuckets = 16) // v1
    val keys = Seq(7L, 23L).toDF("k")
    val v2 = SnapshotStore.deleteKeys(keys, r, tag = Some("td"))
    assert(v2 == 2L)
    val left = SnapshotStore.read(spark, r).select("k").as[Long]
      .collect().toSet
    assert(left == (1L to 40L).toSet -- Set(7L, 23L))
    assert(SnapshotStore.versionKind(r, 2L).contains("rewrite"))
    // untouched buckets carried by link (inode-identical)
    val touched = keys.withColumn("_b", SnapshotStore.bucketExpr("k", 16))
      .select("_b").distinct().collect().map(_.getInt(0)).toSet
    def bucketOf(rel: String) =
      rel.split('/').head.stripPrefix("_bucket=").toInt
    val v1u = SnapshotStore.versionFileInodes(r, 1L)
      .filterNot { case (rel, _) => touched(bucketOf(rel)) }
    val v2i = SnapshotStore.versionFileInodes(r, 2L)
    assert(v1u.nonEmpty && v1u.forall { case (rel, ino) =>
      v2i.get(rel).contains(ino) })
    // tagged replay: same version back, nothing minted
    assert(SnapshotStore.deleteKeys(keys, r, tag = Some("td")) == 2L)
    assert(SnapshotStore.currentVersion(r) == 2L)
    // empty key set: no-op, no version
    assert(SnapshotStore.deleteKeys(
      Seq.empty[Long].toDF("k"), r) == 2L)
    // wrong shape rejected
    intercept[IllegalArgumentException] {
      SnapshotStore.deleteKeys(Seq((1L, "x")).toDF("k", "s"), r)
    }
    // a readSince window across the deletion refuses (rewrite lineage)
    val e = intercept[IllegalStateException](
      SnapshotStore.readSince(spark, r, 1L))
    assert(e.getMessage.contains("unsound"))
    // TYPE mismatch is a loud error, not a silent no-delete: an Int
    // keys frame hashes to different buckets than the Long-keyed store
    val te = intercept[IllegalArgumentException] {
      SnapshotStore.deleteKeys(Seq(7, 23).toDF("k"), r)
    }
    assert(te.getMessage.contains("type-sensitive"))
  }

  test("a plain publish on a bucketed store is refused (it would strip " +
      "the _bucket layout and wedge incremental writers)") {
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, "a")).toDF("k", "s"), r, "k", nBuckets = 2)
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.publish(Seq((2L, "b")).toDF("k", "s"), r)
    }
    assert(e.getMessage.contains("bucketed store"))
  }

  test("diff across a schema evolution NULL-aligns the columns instead " +
      "of throwing or silently dropping the evolved column") {
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), r, "k", nBuckets = 2) // v1
    SnapshotStore.append(Seq((3L, "c", 0.5)).toDF("k", "s", "q"),
      r, allowNewColumns = true) // v2, wider
    val d = SnapshotStore.diff(spark, r, 1L, 2L)
    assert(d.columns.contains("q"), "the evolved column must survive")
    val added = d.filter(col("change") === "added")
      .select("k").as[Long].collect().toSet
    assert(added == Set(3L), s"only the appended row is added, got $added")
    assert(d.filter(col("change") === "removed").isEmpty)
  }

  test("readSince from cursor 0 returns the UNION schema of an evolved " +
      "store (a new consumer must not bootstrap narrow)") {
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, "a")).toDF("k", "s"), r, "k", nBuckets = 2)
    SnapshotStore.append(Seq((2L, "b", 0.7)).toDF("k", "s", "q"),
      r, allowNewColumns = true)
    val boot = SnapshotStore.readSince(spark, r, 0L).get
    assert(boot.columns.contains("q"),
      "cursor-0 bootstrap must carry the evolved column")
    assert(boot.count() == 2L)
  }

  test("deleteKeys FULL takedown: the emptied version reads back via " +
      "the schema sidecar and the store stays writable") {
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), r, "k", nBuckets = 2)
    SnapshotStore.deleteKeys(Seq(1L, 2L).toDF("k"), r) // everything gone
    val empty = SnapshotStore.read(spark, r)
    assert(empty.count() == 0L,
      "a fully-taken-down store must read as zero rows, not throw")
    assert(empty.columns.toSet == Set("k", "s", "_bucket"),
      "the sidecar must preserve the store's schema")
    // …and the store is not bricked: later writes see the empty base
    SnapshotStore.append(Seq((3L, "c")).toDF("k", "s"), r)
    assert(SnapshotStore.read(spark, r).select("k").as[Long]
      .collect().toSet == Set(3L))
  }

  test("vacuum retainMs: a version inside the retention horizon " +
      "survives the keep count (time-travel retention contract)") {
    val r = root()
    val df = Seq((1L, "a")).toDF("k", "s")
    SnapshotStore.publish(df, r) // v1
    SnapshotStore.publish(df, r) // v2
    SnapshotStore.publish(df, r) // v3 (current)
    // v1 published "10 days ago" (version dirs are immutable — their
    // mtime IS the publish instant; the spec just backdates it)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(r, "v1"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10L * 24 * 3600 * 1000))
    // keep=0 would drop v1 AND v2 — the 1 h retention horizon saves the
    // freshly-published v2 for pinned readers, drops only the stale v1
    val dropped = SnapshotStore.vacuum(r, keep = 0, retainMs = 3600000L)
    assert(dropped == Seq(1L))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(r, "v2")),
      "a version younger than the retention horizon must survive keep=0")
    // default retainMs=0 keeps the count-only behavior
    assert(SnapshotStore.vacuum(r, keep = 0) == Seq(2L))
  }

  test("readSince REFUSES a rewrite in the interval (lineage kinds " +
      "make the unsound file-diff a loud error, not an overcount)") {
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), r, "k", nBuckets = 4) // v1 base
    SnapshotStore.append(Seq((3L, "c")).toDF("k", "s"), r) // v2 append
    SnapshotStore.merge(Seq((1L, "A")).toDF("k", "s"), r) // v3 REWRITE
    SnapshotStore.append(Seq((4L, "d")).toDF("k", "s"), r) // v4 append
    assert(SnapshotStore.versionKind(r, 1L).contains("base"))
    assert(SnapshotStore.versionKind(r, 2L).contains("append"))
    assert(SnapshotStore.versionKind(r, 3L).contains("rewrite"))
    // a delta window crossing the rewrite must throw…
    val e = intercept[IllegalStateException](
      SnapshotStore.readSince(spark, r, 1L))
    assert(e.getMessage.contains("unsound"))
    // …while a window starting AFTER the rewrite stays sound
    assert(SnapshotStore.readSince(spark, r, 3L).get
      .select("k").as[Long].collect().toSet == Set(4L))
  }

  test("consumer cursor: monotonic mark-consumed + vacuum = drained " +
      "dead-letter economics (second fold reads nothing)") {
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, "a")).toDF("k", "s"), r, "k", nBuckets = 2) // v1
    SnapshotStore.append(Seq((2L, "b")).toDF("k", "s"), r) // v2
    assert(SnapshotStore.consumedThrough(r, "c") == 0L)
    val cur = SnapshotStore.currentVersion(r)
    // consume everything, advance, vacuum
    assert(SnapshotStore.readSince(spark, r, 0L, cur).get.count() == 2L)
    SnapshotStore.setConsumedThrough(r, "c", cur)
    SnapshotStore.vacuum(r, keep = 0)
    assert(SnapshotStore.consumedThrough(r, "c") == cur)
    // a replayed epoch cannot un-consume (monotonic cursor)…
    SnapshotStore.setConsumedThrough(r, "c", 1L)
    assert(SnapshotStore.consumedThrough(r, "c") == cur)
    // …and the second fold pass sees nothing
    assert(SnapshotStore.readSince(spark, r,
      SnapshotStore.consumedThrough(r, "c")).isEmpty)
    // new data after the drain is picked up from the cursor
    SnapshotStore.append(Seq((3L, "d")).toDF("k", "s"), r)
    val fresh = SnapshotStore.readSince(spark, r,
      SnapshotStore.consumedThrough(r, "c"))
    assert(fresh.get.select("k").as[Long].collect().toSet == Set(3L))
  }

  test("cursor-aware vacuum: a slow consumer's cursor version survives an " +
      "aggressive vacuum; ignoreConsumers overrides an abandoned cursor") {
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, "a")).toDF("k", "s"), r, "k", nBuckets = 2) // v1
    SnapshotStore.append(Seq((2L, "b")).toDF("k", "s"), r) // v2
    SnapshotStore.append(Seq((3L, "c")).toDF("k", "s"), r) // v3
    SnapshotStore.append(Seq((4L, "d")).toDF("k", "s"), r) // v4
    SnapshotStore.setConsumedThrough(r, "slow", 2L)
    assert(SnapshotStore.consumers(r) == Map("slow" -> 2L))
    // keep = 0 would reap v1..v3 — the floor holds it at the cursor:
    // v2 itself must survive (it is the next readSince's diff base)
    val dropped = SnapshotStore.vacuum(r, keep = 0)
    assert(dropped == Seq(1L), s"got $dropped")
    // the slow consumer resumes exactly where it left off, no resync
    val delta = SnapshotStore.readSince(spark, r, 2L)
    assert(delta.get.select("k").as[Long].collect().toSet == Set(3L, 4L))
    // abandoned-cursor escape hatch: excluded from the floor, the reap
    // proceeds past it…
    val dropped2 =
      SnapshotStore.vacuum(r, keep = 0, ignoreConsumers = Set("slow"))
    assert(dropped2 == Seq(2L, 3L), s"got $dropped2")
    // …and the abandoned consumer then fails LOUDLY, never silently
    intercept[IllegalStateException] {
      SnapshotStore.readSince(spark, r, 2L)
    }
  }

  test("rebucket: new spec binds new writers, history keeps its own " +
      "layout, tags/cursors survive, readSince across it refuses") {
    val r = root()
    SnapshotStore.publishBucketed(
      (1L to 20L).map(i => (i, s"s$i")).toDF("k", "s"),
      r, "k", nBuckets = 2) // v1
    SnapshotStore.merge(Seq((1L, "x")).toDF("k", "s"), r,
      tag = Some("t1")) // v2
    SnapshotStore.setConsumedThrough(r, "c", 2L)
    assert(SnapshotStore.readBucketSpec(r) == Some(("k", 2)))
    val v3 = SnapshotStore.rebucket(spark, r, 8)
    assert(v3 == 3L)
    assert(SnapshotStore.readBucketSpec(r) == Some(("k", 8)),
      "current spec must track the rebucket")
    assert(SnapshotStore.bucketSpecAt(r, 1L) == Some(("k", 2)),
      "history keeps its own spec")
    val cur = SnapshotStore.read(spark, r)
    assert(cur.count() == 20L, "rebucket must preserve every row")
    assert(cur.filter(col("_bucket") =!=
      SnapshotStore.bucketExpr("k", 8)).isEmpty,
      "every row must sit in its new-spec bucket")
    // a merge AFTER the rebucket censuses under the NEW spec
    SnapshotStore.merge(Seq((2L, "y")).toDF("k", "s"), r) // v4
    val after = SnapshotStore.read(spark, r)
    assert(after.count() == 20L)
    assert(after.filter(col("k") === 2L)
      .select("s").as[String].collect().toSeq == Seq("y"))
    assert(after.filter(col("_bucket") =!=
      SnapshotStore.bucketExpr("k", 8)).isEmpty)
    // lifecycle state survives: the tag, the cursor, time travel
    assert(SnapshotStore.versionTags(r).get(2L).contains("t1"))
    assert(SnapshotStore.consumedThrough(r, "c") == 2L)
    assert(SnapshotStore.read(spark, r, 2L).count() == 20L)
    // a rewrite-kind version breaks append lineage: refuse, don't resurrect
    intercept[IllegalStateException] {
      SnapshotStore.readSince(spark, r, 2L)
    }
    // …and the diff-based resync across the rebucket is EMPTY: the rows
    // are identical, only the layout changed — a consumer must not be
    // told to churn its whole derived store (_bucket is not data)
    assert(SnapshotStore.diff(spark, r, 2L, 3L).isEmpty,
      "diff across a pure rebucket must be empty")
    // the old spec is gone: a republish against it is rejected…
    intercept[IllegalArgumentException] {
      SnapshotStore.publishBucketed(
        Seq((9L, "z")).toDF("k", "s"), r, "k", 2)
    }
    // …and a no-op rebucket is too
    intercept[IllegalArgumentException] {
      SnapshotStore.rebucket(spark, r, 8)
    }
  }

  test("a writer that raced a rebucket aborts stale (never mis-censuses " +
      "buckets under the old spec), and its retry lands on the new spec") {
    val r = root()
    SnapshotStore.publishBucketed(
      (1L to 10L).map(i => (i, i * 10)).toDF("k", "n"), r, "k",
      nBuckets = 2) // v1
    // a slow writer resolves its base (and hence its spec) at v1…
    val staleBase = SnapshotStore.currentVersion(r)
    // …then the rebucket lands first
    SnapshotStore.rebucket(spark, r, 8) // v2
    // the slow writer's merge, still pinned to the pre-rebucket base,
    // must abort on the stale-base check — committing its old-spec
    // census would scatter keys across the new layout
    intercept[StalePublishException] {
      SnapshotStore.merge(Seq((1L, 999L)).toDF("k", "n"), r,
        baseVersion = staleBase)
    }
    // the retry against CURRENT picks up the new spec and lands
    SnapshotStore.merge(Seq((1L, 999L)).toDF("k", "n"), r) // v3
    val cur = SnapshotStore.read(spark, r)
    assert(cur.filter(col("k") === 1L).select("n").as[Long]
      .collect().toSeq == Seq(999L))
    assert(cur.filter(col("_bucket") =!=
      SnapshotStore.bucketExpr("k", 8)).isEmpty,
      "the retried merge must census under the NEW spec")
    // appendContended is the always-on writer's loop: the same abort is
    // its ONE retryable condition, so a live writer survives a rebucket
    val v = SnapshotStore.appendContended(
      () => Seq((11L, 110L)).toDF("k", "n"), r)
    assert(v == 4L && SnapshotStore.read(spark, r).count() == 11L)
  }

  test("LIVE writers racing a rebucket: no row lost, every row in its " +
      "current-spec bucket, maintenance retries through stale aborts") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.DurationInt
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((0L, 0L)).toDF("k", "n"), r, "k", nBuckets = 2)
    // four always-on writers, three tagged-free appends each
    val writers = (1 to 4).map { w =>
      Future {
        (0 until 3).foreach { i =>
          val key = w * 100L + i
          SnapshotStore.appendContended(
            () => Seq((key, key)).toDF("k", "n"), r)
        }
      }
    }
    // the operator's loop: a rebucket that loses the optimistic race
    // re-reads the (now larger) base and tries again — exactly what a
    // runbook would do
    var attempts = 0
    var done = false
    while (!done) {
      try { SnapshotStore.rebucket(spark, r, 8); done = true }
      catch {
        case _: StalePublishException =>
          attempts += 1
          assert(attempts < 50, "rebucket starved by writer churn")
      }
    }
    Await.result(Future.sequence(writers), 180.seconds)
    val cur = SnapshotStore.read(spark, r)
    assert(cur.count() == 13L, "a row was lost in the interleave")
    assert(cur.select("k").as[Long].collect().toSet ==
      (Set(0L) ++ (for (w <- 1 to 4; i <- 0 until 3)
        yield w * 100L + i).toSet))
    assert(SnapshotStore.readBucketSpec(r) == Some(("k", 8)))
    // rows appended BEFORE the flip were rewritten by it; rows appended
    // AFTER censused under the new sidecar — either way, every row must
    // sit where the CURRENT spec says it does
    assert(cur.filter(col("_bucket") =!=
      SnapshotStore.bucketExpr("k", 8)).isEmpty,
      "a concurrent writer mis-censused a bucket across the rebucket")
  }

  test("composite bucket key: publish/merge/deleteKeys on a two-column " +
      "identity; per-column type checks hold") {
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, "en", 10), (1L, "fr", 20), (2L, "en", 30), (2L, "de", 40))
        .toDF("id", "lang", "n"),
      r, "id,lang", nBuckets = 4)
    assert(SnapshotStore.readBucketSpec(r) == Some(("id,lang", 4)))
    // upsert by the composite identity replaces exactly (1, en)
    SnapshotStore.merge(Seq((1L, "en", 99)).toDF("id", "lang", "n"), r)
    assert(SnapshotStore.read(spark, r).select("id", "lang", "n")
      .as[(Long, String, Int)].collect().toSet ==
      Set((1L, "en", 99), (1L, "fr", 20), (2L, "en", 30), (2L, "de", 40)))
    // (3, en) + (3, fr) is NOT a duplicate composite key…
    SnapshotStore.merge(
      Seq((3L, "en", 1), (3L, "fr", 2)).toDF("id", "lang", "n"), r)
    // …(4, en) twice IS
    intercept[IllegalArgumentException] {
      SnapshotStore.merge(
        Seq((4L, "en", 1), (4L, "en", 2)).toDF("id", "lang", "n"), r)
    }
    // takedown by composite key removes only that (id, lang)
    SnapshotStore.deleteKeys(Seq((1L, "en")).toDF("id", "lang"), r)
    val left = SnapshotStore.read(spark, r).select("id", "lang")
      .as[(Long, String)].collect().toSet
    assert(!left.contains((1L, "en")) && left.contains((1L, "fr")))
    // the keys frame must be exactly the composite, in spec order
    intercept[IllegalArgumentException] {
      SnapshotStore.deleteKeys(Seq(1L).toDF("id"), r)
    }
    // per-column type check: an Int id against the Long-keyed store
    // would hash to the wrong buckets — rejected, not silently empty
    intercept[IllegalArgumentException] {
      SnapshotStore.deleteKeys(Seq((1, "fr")).toDF("id", "lang"), r)
    }
  }

  test("type-widening evolution: widened append up-casts old files at " +
      "read, narrowing and key-widening stay rejected, diff aligns wide") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, 10), (2L, 20)).toDF("k", "n"), r, "k", nBuckets = 2) // v1
    // an int-typed store meets a long-typed batch: rejected by default…
    intercept[IllegalArgumentException] {
      SnapshotStore.append(Seq((3L, 30L)).toDF("k", "n"), r)
    }
    // …accepted as widening, with a value only a long can hold
    SnapshotStore.append(
      Seq((3L, 3000000030L)).toDF("k", "n"), r,
      allowWidening = true) // v2
    val cur = SnapshotStore.read(spark, r)
    assert(cur.schema("n").dataType == LongType,
      "merged read must serve the widened union type")
    assert(cur.select("n").as[Long].collect().toSet ==
      Set(10L, 20L, 3000000030L),
      "old int files must up-cast at scan, not crash the footer merge")
    // NARROWING is rejected even with the flag
    intercept[IllegalArgumentException] {
      SnapshotStore.append(Seq((4L, 40)).toDF("k", "n"), r,
        allowWidening = true)
    }
    // widening the BUCKET-KEY column is rejected (hash type-sensitivity)
    val r2 = root()
    SnapshotStore.publishBucketed(
      Seq((1, "a")).toDF("k", "s"), r2, "k", nBuckets = 2)
    intercept[IllegalArgumentException] {
      SnapshotStore.append(Seq((2L, "b")).toDF("k", "s"), r2,
        allowWidening = true)
    }
    // time travel: v1 keeps its own narrow schema
    assert(SnapshotStore.read(spark, r, 1L)
      .schema("n").dataType == IntegerType)
    // readSince across the widening serves the union type (append kind)
    val delta = SnapshotStore.readSince(spark, r, 1L)
    assert(delta.get.schema("n").dataType == LongType &&
      delta.get.select("n").as[Long].collect().toSeq == Seq(3000000030L))
    // diff across the straddle aligns on the wider type: the unchanged
    // rows cancel, only the appended row surfaces
    val d = SnapshotStore.diff(spark, r, 1L, 2L)
    assert(d.select("change").as[String].collect().toSeq == Seq("added"))
    // merge on the widened store keeps working (batch cast to the union)
    SnapshotStore.merge(Seq((1L, 111L)).toDF("k", "n"), r) // v3
    assert(SnapshotStore.read(spark, r)
      .select("n").as[Long].collect().toSet ==
      Set(111L, 20L, 3000000030L))
  }

  test("merge evolution: upserting batches may add columns and widen " +
      "types (append's flags mirrored — the re-crawl drift path)") {
    import org.apache.spark.sql.types.LongType
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, 10), (2L, 20)).toDF("k", "n"), r, "k", nBuckets = 2)
    // default merge still rejects both drifts
    intercept[IllegalArgumentException] {
      SnapshotStore.merge(Seq((1L, 10L)).toDF("k", "n"), r)
    }
    intercept[IllegalArgumentException] {
      SnapshotStore.merge(Seq((1L, 10, 0.5)).toDF("k", "n", "q"), r)
    }
    // widening UPSERT: an existing key's count outgrew int — append
    // (insert-only) cannot express this; without the flag there was no
    // path at all
    SnapshotStore.merge(Seq((1L, 3000000030L)).toDF("k", "n"), r,
      allowWidening = true)
    val w = SnapshotStore.read(spark, r)
    assert(w.schema("n").dataType == LongType)
    assert(w.select("k", "n").as[(Long, Long)].collect().toSet ==
      Set((1L, 3000000030L), (2L, 20L)),
      "untouched narrow files must up-cast under the recorded union")
    // evolving UPSERT: a new column lands on an existing key; the
    // touched bucket's survivors NULL-fill it in the rewrite
    SnapshotStore.merge(Seq((2L, 21L, 0.7)).toDF("k", "n", "q"), r,
      allowNewColumns = true)
    val e = SnapshotStore.read(spark, r)
    val byK = e.select(col("k"), col("n"), col("q")).collect()
      .map(rw => rw.getLong(0) -> ((rw.getLong(1),
        if (rw.isNullAt(2)) None else Some(rw.getDouble(2))))).toMap
    assert(byK == Map(
      1L -> ((3000000030L, None)), 2L -> ((21L, Some(0.7)))),
      s"got $byK")
    // narrowing stays rejected, flag or no flag
    intercept[IllegalArgumentException] {
      SnapshotStore.merge(Seq((1L, 5)).toDF("k", "n"), r,
        allowWidening = true)
    }
  }

  test("lifecycle composition: widen + evolve + compact + merge + " +
      "rebucket + cursors on ONE store stay coherent end to end") {
    import org.apache.spark.sql.types.LongType
    val r = root()
    // v1: int-typed, 2 buckets
    SnapshotStore.publishBucketed(
      Seq((1L, 10), (2L, 20)).toDF("k", "n"), r, "k", nBuckets = 2)
    // v2: widening append (n -> long, with a value only long holds)
    SnapshotStore.append(Seq((3L, 3000000030L)).toDF("k", "n"), r,
      allowWidening = true)
    // v3: additive evolution on the WIDENED store (new column q)
    SnapshotStore.append(Seq((4L, 40L, 0.5)).toDF("k", "n", "q"), r,
      allowNewColumns = true)
    val cursor = SnapshotStore.currentVersion(r) // a consumer parks here
    SnapshotStore.setConsumedThrough(r, "c", cursor)
    // v4: compact the straddling store (narrow + wide + evolved files
    // rewrite into union-schema buckets; carryover keeps the rest)
    SnapshotStore.compact(spark, r)
    // v5: merge against the compacted union (batch at union types)
    SnapshotStore.merge(
      Seq((1L, 111L, 0.9)).toDF("k", "n", "q"), r)
    // v6: rebucket the evolved store 2 -> 8
    SnapshotStore.rebucket(spark, r, 8)
    val cur = SnapshotStore.read(spark, r)
    assert(cur.schema("n").dataType == LongType)
    assert(cur.filter(col("_bucket") =!=
      SnapshotStore.bucketExpr("k", 8)).isEmpty)
    val byK = cur.select(col("k"), col("n"), col("q")).collect()
      .map(rw => rw.getLong(0) -> ((rw.getLong(1),
        if (rw.isNullAt(2)) None else Some(rw.getDouble(2))))).toMap
    assert(byK == Map(
      1L -> ((111L, Some(0.9))), 2L -> ((20L, None)),
      3L -> ((3000000030L, None)), 4L -> ((40L, Some(0.5)))),
      s"composition must preserve every value, got $byK")
    // point lookup on the fully-evolved store: serves the union schema
    // (widened long, NULL-filled q) under the post-rebucket spec, and a
    // lookup pinned BEFORE the widening still reads v1's own int schema
    val hit = SnapshotStore.readKeys(Seq(3L).toDF("k"), r).collect()
    assert(hit.length == 1 && hit(0).getLong(1) == 3000000030L &&
      hit(0).isNullAt(2), "lookup must serve the evolved union schema")
    val v1Hit = SnapshotStore.readKeys(Seq(2L).toDF("k"), r, version = 1L)
    assert(v1Hit.schema("n").dataType ==
      org.apache.spark.sql.types.IntegerType &&
      v1Hit.collect()(0).getInt(1) == 20,
      "time-traveled lookup must keep the pre-widening schema")
    // the parked consumer: cursor survived the whole pipeline, its
    // version survives an aggressive vacuum, readSince refuses across
    // the rewrites, and the diff resync serves the TRUE data delta
    assert(SnapshotStore.consumedThrough(r, "c") == cursor)
    SnapshotStore.vacuum(r, keep = 0)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(r, s"v$cursor")))
    intercept[IllegalStateException] {
      SnapshotStore.readSince(spark, r, cursor)
    }
    val d = SnapshotStore.diff(spark, r, cursor,
      SnapshotStore.currentVersion(r))
    val changes = d.select(col("change"), col("k"))
      .as[(String, Long)].collect().toSet
    assert(changes == Set(("added", 1L), ("removed", 1L)),
      s"only the merged key changed after the cursor, got $changes")
  }

  test("schema evolution: additive append widens, merged read NULL-fills " +
      "old files, time travel keeps each version's own schema") {
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), r, "k", nBuckets = 2) // v1
    // non-evolving append with an extra column must be rejected…
    intercept[IllegalArgumentException] {
      SnapshotStore.append(
        Seq((3L, "c", 0.5)).toDF("k", "s", "q"), r)
    }
    // …and an evolving append that DROPS a column too (additive only)
    intercept[IllegalArgumentException] {
      SnapshotStore.append(
        Seq((3L, 0.5)).toDF("k", "q"), r, allowNewColumns = true)
    }
    SnapshotStore.append(
      Seq((3L, "c", 0.5), (4L, "d", 0.7)).toDF("k", "s", "q"),
      r, allowNewColumns = true) // v2, wider
    val cur = SnapshotStore.read(spark, r)
    assert(cur.columns.toSet == Set("k", "s", "q", "_bucket"))
    val byK = cur.select(col("k"), col("q")).collect()
      .map(rw => rw.getLong(0) -> (if (rw.isNullAt(1)) None
        else Some(rw.getDouble(1)))).toMap
    assert(byK == Map(1L -> None, 2L -> None,
      3L -> Some(0.5), 4L -> Some(0.7)),
      "pre-evolution rows must read the new column as NULL")
    // time travel: v1 keeps its own 2-column schema even with merging on
    assert(SnapshotStore.read(spark, r, 1L)
      .columns.toSet == Set("k", "s", "_bucket"))
  }

  test("recoverTaggedFolds: a landed-but-uncursored fold replayed after " +
      "a CONCURRENT source publish does not re-apply — the crash window " +
      "a same-range tag alone cannot close") {
    val src = root(); val dst = root()
    SnapshotStore.publishBucketed(
      Seq((1L, "a")).toDF("k", "s"), src, "k", 2) // src v1
    SnapshotStore.publishBucketed(
      SnapshotStore.read(spark, src, 1L).select(col("k"), col("s")),
      dst, "k", 2) // mirror bootstrap
    SnapshotStore.setConsumedThrough(src, "c", 1L)
    SnapshotStore.append(Seq((2L, "b")).toDF("k", "s"), src) // src v2
    // fold 1 lands covering (1, 2] under its tag… then the consumer
    // CRASHES before advancing its cursor
    val d12 = SnapshotStore.readSince(spark, src, 1L, 2L).get
      .select(col("k"), col("s"))
    SnapshotStore.append(d12, dst,
      tag = Some(SnapshotStore.foldTag("f", "c", 2L)))
    // a rival publish moves the source before the replay: the naive
    // replay would fold (1, 3] under the FRESH tag f-v3 — no tag
    // match, and row 2 re-appends into the insert-only destination
    SnapshotStore.append(Seq((3L, "c")).toDF("k", "s"), src) // src v3
    val cursor = SnapshotStore.recoverTaggedFolds(src, "c", dst, "f")
    assert(cursor == 2L, "recovery must advance to the landed fold")
    val cur = SnapshotStore.currentVersion(src)
    val delta = SnapshotStore.readSince(spark, src, cursor, cur).get
      .select(col("k"), col("s"))
    SnapshotStore.append(delta, dst,
      tag = Some(SnapshotStore.foldTag("f", "c", cur)))
    SnapshotStore.setConsumedThrough(src, "c", cur)
    val out = SnapshotStore.read(spark, dst)
      .select("k").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 2L, 3L), s"no duplicate, no loss: $out")
    // recovery after a clean fold is a cursor no-op
    assert(SnapshotStore.recoverTaggedFolds(src, "c", dst, "f") == cur)
  }

  test("recoverTaggedFolds: fold tags are scoped to (prefix, consumer) — " +
      "a rival consumer sharing the destination cannot cross-advance the " +
      "cursor — and recovery pins the destination's vacuum floor at the " +
      "newest fold-tagged version") {
    val src = root(); val src2 = root(); val dst = root()
    SnapshotStore.publishBucketed(
      Seq((1L, "a")).toDF("k", "s"), src, "k", 2) // src v1
    SnapshotStore.publishBucketed(
      Seq((10L, "x")).toDF("k", "s"), src2, "k", 2) // src2 v1
    SnapshotStore.publishBucketed(
      Seq((1L, "a"), (10L, "x")).toDF("k", "s"), dst, "k", 2) // dst v1
    // advance src2 to v5 and land ITS fold (same prefix, other consumer)
    (2L to 5L).foreach(i => SnapshotStore.append(
      Seq((10L + i, "x")).toDF("k", "s"), src2))
    SnapshotStore.append(
      SnapshotStore.readSince(spark, src2, 1L, 5L).get
        .select(col("k"), col("s")),
      dst, tag = Some(SnapshotStore.foldTag("f", "c2", 5L))) // dst v2
    // consumer c on src has folded nothing past v1; the r17 footgun was
    // c2's "f-…-v5" tag advancing c's cursor on src to 5 and silently
    // skipping src v2..v5
    SnapshotStore.setConsumedThrough(src, "c", 1L)
    SnapshotStore.append(Seq((2L, "b")).toDF("k", "s"), src) // src v2
    assert(SnapshotStore.recoverTaggedFolds(src, "c", dst, "f") == 1L,
      "a rival consumer's fold tag must not advance this consumer's cursor")
    // c2's own recovery sees its fold and pins the destination floor
    assert(SnapshotStore.recoverTaggedFolds(src2, "c2", dst, "f") == 5L)
    assert(SnapshotStore.consumers(dst).get("fold-f-c2").contains(2L),
      "recovery must register the dst-side pin at the fold's dst version")
    // non-fold versions interleave ABOVE the fold (the x72 shape)…
    SnapshotStore.append(Seq((99L, "z")).toDF("k", "s"), dst) // dst v3
    SnapshotStore.append(Seq((98L, "z")).toDF("k", "s"), dst) // dst v4
    // …and a keep=1 vacuum would have reaped dst v2 (the tag evidence)
    // before the pin; with it, v2 survives
    SnapshotStore.vacuum(dst, keep = 1)
    assert(SnapshotStore.versionTags(dst)
      .get(2L).contains(SnapshotStore.foldTag("f", "c2", 5L)),
      "the newest fold-tagged dst version must survive a plain vacuum")
    // cursor advance durable -> the NEXT fold supersedes the pin and the
    // old evidence may go: explicit override releases it
    SnapshotStore.setConsumedThrough(src2, "c2", 5L)
    SnapshotStore.vacuum(dst, keep = 1,
      ignoreConsumers = Set("fold-f-c2"))
    assert(!SnapshotStore.versionTags(dst).contains(2L),
      "the override must release the pin once the cursor is durable")
  }

  test("vacuum: the fold-evidence floor keys on foldTag's structural " +
      "marker — an ordinary tag ending in -v<N> is NOT exempt") {
    val r = root()
    SnapshotStore.publishBucketed(Seq((1L, "a")).toDF("k", "s"), r, "k", 2) // v1
    // an ordinary replay tag whose name merely LOOKS fold-shaped: under
    // the old generic "-v<N>" suffix match it was permanently exempt
    // from vacuum (unbounded retention for every such tag family)
    SnapshotStore.append(Seq((2L, "b")).toDF("k", "s"), r,
      tag = Some("release-v2")) // v2
    SnapshotStore.append(Seq((3L, "c")).toDF("k", "s"), r,
      tag = Some(SnapshotStore.foldTag("f", "c", 7L))) // v3: real evidence
    SnapshotStore.append(Seq((4L, "d")).toDF("k", "s"), r) // v4
    SnapshotStore.append(Seq((5L, "e")).toDF("k", "s"), r) // v5 (current)
    val dropped = SnapshotStore.vacuum(r, keep = 1)
    assert(dropped.contains(2L),
      "an ordinary -v<N> tag must not exempt its version from vacuum")
    assert(!dropped.contains(3L) && SnapshotStore.versionTags(r).get(3L)
      .contains(SnapshotStore.foldTag("f", "c", 7L)),
      "the newest fold-tagged version must survive the same vacuum")
  }

  test("readKeys: point lookup returns exactly the requested rows, " +
      "prunes to the touched buckets, and broadcasts the key frame") {
    val r = root()
    SnapshotStore.publishBucketed(
      (1L to 64L).map(i => (i, s"s$i")).toDF("k", "s"),
      r, "k", nBuckets = 16)
    val looked = SnapshotStore.readKeys(
      Seq(3L, 7L, 7L, 999L).toDF("k"), r) // dup + miss are both fine
    assert(looked.columns.toSeq == Seq("k", "s"),
      "_bucket is layout, not data")
    assert(looked.collect().map(rw => rw.getLong(0) -> rw.getString(1))
      .toSet == Set(3L -> "s3", 7L -> "s7"))
    // plan pins AFTER the action, on the AQE-final tree (the q147 idiom)
    import graft.tools.PlanAudit
    assert(PlanAudit.prunesOnBucket(looked),
      "lookup must prune on the _bucket partition column")
    assert(PlanAudit.hasBroadcastHashJoin(looked),
      "point-lookup key frame must broadcast, never shuffle the store")
    // non-vacuity: the same walk reads FALSE on a full-table scan of
    // the same store (no membership filter to find). foreach, not
    // count: Dataset.count spawns a NEW QueryExecution, so only an
    // action on `full` itself finalizes the plan this walk reads
    // (the q146 idiom; ADVICE r20)
    val full = SnapshotStore.read(spark, r)
    full.foreach(_ => ())
    assert(!PlanAudit.prunesOnBucket(full),
      "a full read carries no _bucket membership filter — a TRUE here " +
        "would mean the structural pin is vacuous")
    // empty key frame: the honest empty answer, data schema intact
    val empty = SnapshotStore.readKeys(
      Seq.empty[Long].toDF("k"), r)
    assert(empty.columns.toSeq == Seq("k", "s") && empty.isEmpty)
  }

  test("readKeys: mistyped or misordered key frames are rejected " +
      "(type-sensitive bucketing), composite keys look up exactly") {
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, "en", "a"), (1L, "de", "b"), (2L, "en", "c"))
        .toDF("k", "lang", "s"),
      r, "k,lang", nBuckets = 4)
    intercept[IllegalArgumentException] { // Int keys vs Long store
      SnapshotStore.readKeys(Seq((1, "en")).toDF("k", "lang"), r)
    }
    intercept[IllegalArgumentException] { // columns out of spec order
      SnapshotStore.readKeys(Seq(("en", 1L)).toDF("lang", "k"), r)
    }
    val hit = SnapshotStore.readKeys(
      Seq((1L, "en")).toDF("k", "lang"), r).collect()
    assert(hit.map(_.getString(2)).toSeq == Seq("a"),
      "composite lookup must match the full identity, not just doc_id")
  }

  test("readKeys: a lookup pinned to a pre-rebucket version censuses " +
      "that version's OWN spec") {
    val r = root()
    SnapshotStore.publishBucketed(
      (1L to 20L).map(i => (i, s"s$i")).toDF("k", "s"),
      r, "k", nBuckets = 2) // v1
    SnapshotStore.rebucket(spark, r, 8) // v2, new layout
    // current lookup uses the new spec…
    assert(SnapshotStore.readKeys(Seq(5L).toDF("k"), r)
      .collect().map(_.getString(1)).toSeq == Seq("s5"))
    // …and the time-traveled lookup censuses v1's 2-bucket layout —
    // hashing 5L into the NEW 8-bucket space against v1's directories
    // would read the wrong (possibly absent) partition and return empty
    assert(SnapshotStore.readKeys(Seq(5L).toDF("k"), r, version = 1L)
      .collect().map(_.getString(1)).toSeq == Seq("s5"))
  }
}
