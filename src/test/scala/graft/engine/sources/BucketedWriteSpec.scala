package graft.engine.sources

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark
import graft.tools.SparkEvents

/** Every bucketed store writer writes in one wave: at most the session's
  * shuffle width of write tasks (4 under the `local[4]` test session),
  * never one task per bucket, while each bucket directory it writes
  * still gets exactly one fresh file. `merge(keysAreDistinct = true)`
  * and `deleteKeys` census their touched buckets in one job, so each
  * runs 4 jobs: the census, then three for the anti-join and the write
  * (two shuffle-map jobs under AQE, and the write itself). */
class BucketedWriteSpec extends AnyFunSuite {
  import spark.implicits._

  private val width = 4

  private def root(): String = {
    val r = s"${System.getProperty("java.io.tmpdir")}/" +
      s"bucketed_write_spec_${ProcessHandle.current().pid()}_" +
      s"${System.nanoTime()}/tbl"
    SnapshotStore.deleteRecursively(Paths.get(r).getParent)
    r
  }

  private def docs(lo: Long, hi: Long, tag: String = "t"): DataFrame =
    (lo until hi).map(i => (i, s"$tag$i")).toDF("k", "text")

  /** Bucket dir -> files of version `v` that `base` does not hold, i.e.
    * the files the op wrote (carried-over links keep their names). */
  private def fresh(r: String, base: Long, v: Long): Map[String, Seq[String]] = {
    val old = if (base > 0) SnapshotStore.manifestFiles(r, base).get.toSet
      else Set.empty[String]
    SnapshotStore.manifestFiles(r, v).get.filterNot(old).groupBy(f =>
      f.split('/').head)
  }

  /** Run one writer against the current version and check its write:
    * one file per bucket dir it wrote, `dirs` dirs, at most `width`
    * tasks in its one file-writing stage. Returns (version, jobs). */
  private def checkWrite(r: String, dirs: Int)(op: => Long): (Long, Int) = {
    val base = SnapshotStore.currentVersion(r)
    val (v, seen) = SparkEvents.during(op)
    assert(v > base, "the op minted no version")
    val wrote = fresh(r, base, v)
    assert(wrote.keySet.forall(_.startsWith("_bucket=")), wrote.keySet)
    assert(wrote.size == dirs, s"wrote ${wrote.size} bucket dirs")
    wrote.foreach { case (d, fs) =>
      assert(fs.size == 1, s"$d holds ${fs.size} fresh files: $fs")
    }
    assert(seen.writeTasks.size == 1,
      s"file-writing stages: ${seen.writeStages}")
    assert(seen.writeTasks.head <= width,
      s"write stage ran ${seen.writeTasks.head} tasks (> $width)")
    (v, seen.jobs)
  }

  private def buckets(df: DataFrame, n: Int): Int =
    df.select(SnapshotStore.bucketExpr("k", n)).distinct().count().toInt

  test("each bucketed writer writes one file per bucket in at most " +
      "shuffle-width tasks; the key censuses run in one job") {
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt == width)
    val r = root()
    checkWrite(r, dirs = buckets(docs(0, 400), 16)) {
      SnapshotStore.publishBucketed(docs(0, 400), r, "k", nBuckets = 16)
    }
    val upserts = docs(0, 50, "u")
    val (_, mergeJobs) = checkWrite(r, dirs = buckets(upserts, 16)) {
      SnapshotStore.merge(upserts, r, keysAreDistinct = true)
    }
    assert(mergeJobs == 4, s"merge(keysAreDistinct) ran $mergeJobs jobs")
    val gone = spark.range(100, 160).toDF("k")
    val (_, deleteJobs) = checkWrite(r, dirs = buckets(gone, 16)) {
      SnapshotStore.deleteKeys(gone, r)
    }
    assert(deleteJobs == 4, s"deleteKeys ran $deleteJobs jobs")
    checkWrite(r, dirs = buckets(docs(400, 450), 16)) {
      SnapshotStore.append(docs(400, 450), r)
    }
    val cur = SnapshotStore.currentVersion(r)
    val fragmented = SnapshotStore.manifestFiles(r, cur).get
      .groupBy(_.split('/').head).count(_._2.size > 1)
    assert(fragmented > width)
    checkWrite(r, dirs = fragmented) {
      SnapshotStore.compact(spark, r)
    }
    val content = SnapshotStore.read(spark, r).drop("_bucket")
      .filter(col("k") % 2 === 0)
    checkWrite(r, dirs = buckets(content, 16)) {
      SnapshotStore.rewriteBucketed(content, r)
    }
    checkWrite(r, dirs = buckets(content, 8)) {
      SnapshotStore.rebucket(spark, r, newBuckets = 8)
    }
    assert(SnapshotStore.read(spark, r).select("k").as[Long].collect()
      .sorted.toSeq == (0L until 450L).filter(k =>
        k % 2 == 0 && (k < 100 || k >= 160)))
  }
}
