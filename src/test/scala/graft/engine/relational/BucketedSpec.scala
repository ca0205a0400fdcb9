package graft.engine.relational

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark
import graft.engine.sources.SnapshotStore

/** Bucketed/SMB contracts: zero shuffle exchanges on a co-bucketed store
  * join, value equality with the plain join, and the refusals that keep a
  * silently-degraded (re-shuffling) join from masquerading as SMB. */
class BucketedSpec extends AnyFunSuite {
  import spark.implicits._

  private lazy val base = graft.engine.Artifacts.scratch("bucketed_spec")
  private def store(s: String) = s"$base/$s"

  private lazy val facts = (1L to 2000L)
    .map(i => (i % 97, i, (i % 13).toDouble)).toDF("k", "row_id", "v")
  private lazy val dims = (0L until 97L).map(k => (k, s"grp${k % 5}"))
    .toDF("k", "grp")

  test("co-bucketed join: zero shuffles, same values as the plain join") {
    SnapshotStore.publishBucketed(facts, store("facts"), "k", nBuckets = 8)
    SnapshotStore.publishBucketed(dims, store("dims"), "k", nBuckets = 8)
    val joined = Bucketed.smbJoin(spark, store("facts"), store("dims"),
      Seq("k"))
    assert(Bucketed.shuffleCount(joined) == 0,
      s"SMB join must add no exchange:\n${joined.queryExecution.executedPlan}")
    val smb = joined.groupBy("grp").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = facts.join(dims, Seq("k")).groupBy("grp")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(smb == plain && smb.values.sum == 2000L)
  }

  test("a store holds one file per bucket, named by its bucket") {
    // the bucket id in each file name is what Spark's bucketed scan
    // groups files by: it must equal the _bucket dir the file sits in
    val root = store("layout")
    SnapshotStore.publishBucketed(facts.repartition(7), root, "k",
      nBuckets = 8)
    val files = SnapshotStore.manifestFiles(root, 1L).get
    val bucketOfFile = "^_bucket=(\\d+)/part-[^.]*_(\\d{5})\\.".r
    val ids = files.map(f => bucketOfFile.findFirstMatchIn(f)
      .map(m => (m.group(1).toInt, m.group(2).toInt)))
    assert(ids.forall(_.exists { case (dir, name) => dir == name }),
      s"every file must carry its dir's bucket id: $files")
    assert(ids.flatten.map(_._1).distinct.size == files.size &&
      files.size <= 8, s"expected at most one file per bucket, got $files")
    // and the layout still reads back value-complete
    assert(SnapshotStore.read(spark, root).count() == 2000L)
  }

  test("mismatched bucket counts are refused") {
    SnapshotStore.publishBucketed(facts, store("f8"), "k", nBuckets = 8)
    SnapshotStore.publishBucketed(dims, store("d4"), "k", nBuckets = 4)
    val ex = intercept[IllegalArgumentException] {
      Bucketed.smbJoin(spark, store("f8"), store("d4"), Seq("k"))
    }
    assert(ex.getMessage.contains("re-shuffle"))
  }

  test("joining on non-bucket keys or unbucketed tables is refused") {
    SnapshotStore.publishBucketed(facts, store("fk"), "k", nBuckets = 4)
    SnapshotStore.publishBucketed(dims, store("dk"), "k", nBuckets = 4)
    val keyMismatch = intercept[IllegalArgumentException] {
      Bucketed.smbJoin(spark, store("fk"), store("dk"), Seq("row_id"))
    }
    assert(keyMismatch.getMessage.contains("co-location"))
    SnapshotStore.publish(dims, store("flat"))
    val unbucketed = intercept[IllegalArgumentException] {
      Bucketed.smbJoin(spark, store("fk"), store("flat"), Seq("k"))
    }
    assert(unbucketed.getMessage.contains("not bucketed"))
  }
}
