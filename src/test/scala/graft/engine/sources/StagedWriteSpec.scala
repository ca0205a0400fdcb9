package graft.engine.sources

import java.io.IOException
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark
import graft.engine.Artifacts

/** A staged store write that fails AFTER its tasks wrote their files —
  * the job commit throws — removes its `.staging-*` dir and mints no
  * version (the [[SnapshotStore.staged]] contract, for a bucketed and a
  * clustered writer). */
class StagedWriteSpec extends AnyFunSuite {
  import spark.implicits._

  private def stagingDirs(root: String): Seq[String] = {
    val s = Files.list(Paths.get(root))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".staging-")).toSeq
    finally s.close()
  }

  /** Run `write` with every file write under `root` failing its job
    * commit. */
  private def failingCommits[T](root: String)(write: => T): T = {
    val key = "spark.sql.sources.commitProtocolClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    FailingCommitProtocol.root = root
    try write
    finally {
      FailingCommitProtocol.root = null
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  private def assertFailedCleanly(root: String)(write: => Long): Unit = {
    val before = SnapshotStore.currentVersion(root)
    val e = intercept[Exception](failingCommits(root)(write))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == FailingCommitProtocol.Message), e)
    assert(stagingDirs(root).isEmpty, "the failed write left its staging dir")
    assert(SnapshotStore.currentVersion(root) == before)
  }

  test("a merge whose write fails leaves no staging dir and no version") {
    val root = Artifacts.scratch("staged_write_merge") + "/tbl"
    SnapshotStore.publishBucketed(
      (0L until 40L).map(i => (i, s"v$i")).toDF("id", "v"), root, "id", 4)
    assertFailedCleanly(root)(SnapshotStore.merge(
      Seq((1L, "x"), (100L, "y")).toDF("id", "v"), root))
  }

  test("an appendClustered whose write fails leaves no staging dir and no version") {
    val root = Artifacts.scratch("staged_write_clustered") + "/tbl"
    val grid = (0L until 200L).map(i => (i, i, 199L - i)).toDF("id", "x", "y")
    ClusteredStore.publishClustered(grid, root, Seq("x", "y"), nFiles = 4)
    assertFailedCleanly(root)(ClusteredStore.appendClustered(
      grid.filter($"id" < 50L), root, nFiles = 2))
  }
}

/** A commit protocol whose job commit fails for writes under the armed
  * root, after every task has written and committed its files. */
class FailingCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path,
      dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext,
      taskCommits: Seq[TaskCommitMessage]): Unit = {
    val armed = FailingCommitProtocol.root
    if (armed != null && path.contains(armed))
      throw new IOException(FailingCommitProtocol.Message)
    super.commitJob(jobContext, taskCommits)
  }
}

object FailingCommitProtocol {
  @volatile var root: String = _
  val Message = "planted job-commit failure"
}
