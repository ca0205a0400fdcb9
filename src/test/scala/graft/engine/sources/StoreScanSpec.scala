package graft.engine.sources

import java.nio.file.Paths

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark
import graft.engine.relational.Bucketed
import graft.tools.{PlanAudit, PlanCaptureUtil}
import graft.tools.SparkEvents.jobsDuring

/** Store reads are planned from the version's own metadata: the
  * manifest names the files, the schema sidecar is the schema. So
  * building a read's DataFrame starts no Spark job (no listing job, no
  * footer job), evolved versions serve their recorded union schema,
  * an empty version is the empty answer, and a point lookup's scan
  * lists only the buckets its keys hash to. A bucketed version scans
  * bucketed where a join on its key benefits, and at its file-split
  * width everywhere else. */
class StoreScanSpec extends AnyFunSuite {
  import spark.implicits._

  private def root(): String = {
    val r = s"${System.getProperty("java.io.tmpdir")}/" +
      s"store_scan_spec_${ProcessHandle.current().pid()}_" +
      s"${System.nanoTime()}/tbl"
    SnapshotStore.deleteRecursively(Paths.get(r).getParent)
    r
  }

  private def docs(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"t$i", i.toDouble)).toDF("k", "text", "score")

  /** Every node of an AQE-expanded physical plan. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  test("read, readSince and readBox start no job before their action " +
      "on versions holding more than 32 files") {
    val r = root()
    SnapshotStore.publishBucketed(docs(0, 400), r, "k", nBuckets = 16)
    SnapshotStore.append(docs(400, 600), r)
    SnapshotStore.append(docs(600, 800), r)
    val v = SnapshotStore.currentVersion(r)
    assert(SnapshotStore.manifestFiles(r, v).get.size > 32)
    val (full, readJobs) = jobsDuring(SnapshotStore.read(spark, r))
    val (delta, sinceJobs) = jobsDuring(SnapshotStore.readSince(spark, r, 1L))
    assert(readJobs == 0, s"read started $readJobs job(s) before an action")
    assert(sinceJobs == 0,
      s"readSince started $sinceJobs job(s) before an action")
    assert(full.count() == 800L && delta.get.count() == 400L)
    assert(full.columns.toSeq == Seq("k", "text", "score", "_bucket"))

    val e = root()
    val events = (0L until 3000L).map(i => (i, i % 97)).toDF("ts", "user")
    ClusteredStore.publishClustered(events.filter($"ts" < 1000L), e,
      Seq("ts"), nFiles = 16)
    ClusteredStore.appendClustered(
      events.filter($"ts" >= 1000L && $"ts" < 2000L), e, nFiles = 16)
    ClusteredStore.appendClustered(events.filter($"ts" >= 2000L), e,
      nFiles = 16)
    val ((box, read, total), boxJobs) = jobsDuring(
      ClusteredStore.readBox(spark, e, Seq(("ts", 0L, 2999L))))
    assert(read > 32 && read == total, s"box read $read of $total files")
    assert(boxJobs == 0, s"readBox started $boxJobs job(s) before an action")
    val (n, actionJobs) = jobsDuring(box.count())
    assert(n == 3000L && actionJobs >= 1)
  }

  test("a plain read serves an evolved version's union schema; a " +
      "version pinned before the evolution keeps its narrower one") {
    val r = root()
    SnapshotStore.publishBucketed(
      Seq((1L, 10), (2L, 20)).toDF("k", "n"), r, "k", nBuckets = 4) // v1
    SnapshotStore.append(Seq((3L, 3000000030L)).toDF("k", "n"), r,
      allowWidening = true) // v2: n widens to bigint
    SnapshotStore.append(Seq((4L, 40L, 0.5)).toDF("k", "n", "q"), r,
      allowNewColumns = true) // v3: q is new
    val cur = SnapshotStore.read(spark, r)
    assert(cur.schema("n").dataType == LongType)
    assert(cur.schema("q").dataType == DoubleType)
    val rows = cur.select("k", "n", "q").collect().map(w =>
      (w.getLong(0), w.getLong(1), Option(w.get(2)))).toSet
    assert(rows == Set((1L, 10L, None), (2L, 20L, None),
      (3L, 3000000030L, None), (4L, 40L, Some(0.5))))
    val v1 = SnapshotStore.read(spark, r, 1L)
    assert(v1.columns.toSeq == Seq("k", "n", "_bucket"))
    assert(v1.schema("n").dataType == IntegerType)
    assert(v1.count() == 2L)
  }

  test("a full-takedown version reads empty with its recorded schema") {
    val r = root()
    SnapshotStore.publishBucketed(docs(0, 50), r, "k", nBuckets = 4)
    val v = SnapshotStore.deleteKeys(spark.range(50).toDF("k"), r)
    assert(SnapshotStore.manifestFiles(r, v).contains(Seq.empty))
    val (empty, jobs) = jobsDuring(SnapshotStore.read(spark, r))
    assert(jobs == 0)
    assert(empty.isEmpty)
    val recorded = SnapshotStore.versionSchema(r, v).get
    assert(empty.schema.map(f => f.name -> f.dataType) ==
      recorded.map(f => f.name -> f.dataType))
  }

  test("a readKeys scan lists only the touched buckets' files") {
    val r = root()
    SnapshotStore.publishBucketed(docs(0, 400), r, "k", nBuckets = 16)
    SnapshotStore.append(docs(400, 800), r)
    val keys = Seq(7L, 7L, 123L, 650L).toDF("k")
    val touched = keys.select(SnapshotStore.bucketExpr("k", 16))
      .as[Int].collect().toSet
    val hit = SnapshotStore.readKeys(keys, r)
    assert(hit.select("k").as[Long].collect().sorted.toSeq ==
      Seq(7L, 123L, 650L))
    assert(PlanAudit.prunesOnBucket(hit))
    val scans = PlanAudit.storeScans(hit.queryExecution.executedPlan, r)
    assert(scans.size == 1)
    val listed = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, Nil)
      .flatMap(_.files.map(_.getPath.toString))
    val want = SnapshotStore.manifestFiles(r, SnapshotStore.currentVersion(r))
      .get.filter(f => touched.exists(b => f.startsWith(s"_bucket=$b/")))
    assert(want.nonEmpty && want.size < 16)
    assert(listed.map(_.split('/').takeRight(2).mkString("/")).sorted ==
      want.sorted)
  }

  test("a global aggregate over a read keeps the file-split scan width") {
    // three files per bucket: a bucketed scan would run 16 tasks, the
    // plain file-split scan packs the 48 small files into fewer
    val r = root()
    SnapshotStore.publishBucketed(docs(0, 400), r, "k", nBuckets = 16)
    SnapshotStore.append(docs(400, 800), r)
    SnapshotStore.append(docs(800, 1200), r)
    val agg = SnapshotStore.read(spark, r).agg(count(lit(1)), sum("score"))
    assert(agg.head().getLong(0) == 1200L)
    val scans = PlanAudit.storeScans(agg.queryExecution.executedPlan, r)
    assert(scans.size == 1 && !scans.head.bucketedScan,
      "no operator benefits from the buckets: autoBucketedScan drops them")
    val dir = s"$r/v${SnapshotStore.currentVersion(r)}"
    val plain = spark.read.parquet(dir).agg(count(lit(1)))
    plain.collect()
    def width(p: SparkPlan) = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDDs().head.getNumPartitions
    }
    assert(width(agg.queryExecution.executedPlan) ==
      width(plain.queryExecution.executedPlan))
    assert(width(agg.queryExecution.executedPlan) != Seq(16))
  }

  test("a key join of two co-bucketed stores plans no exchange") {
    val (a, b) = (root(), root())
    SnapshotStore.publishBucketed(docs(0, 400), a, "k", nBuckets = 16)
    SnapshotStore.publishBucketed(docs(200, 600), b, "k", nBuckets = 16)
    val joined = SnapshotStore.read(spark, a).drop("_bucket").hint("merge")
      .join(SnapshotStore.read(spark, b).drop("_bucket")
        .select(col("k"), col("score").as("score_b")), Seq("k"))
    assert(joined.count() == 200L)
    val plan = joined.queryExecution.executedPlan
    assert(nodes(plan).exists(_.isInstanceOf[SortMergeJoinExec]))
    assert(Bucketed.shuffleCount(joined) == 0, s"exchange in:\n$plan")
    assert(PlanAudit.storeScans(plan, a).forall(_.bucketedScan) &&
      PlanAudit.storeScans(plan, b).forall(_.bucketedScan))
  }

  test("merge's anti-join reads the store side with no exchange") {
    val r = root()
    SnapshotStore.publishBucketed(docs(0, 400), r, "k", nBuckets = 16)
    // no broadcast: a broadcast batch would hide the store side's layout
    val (_, captured) = PlanCaptureUtil.capturing(spark) {
      graft.engine.GraftSession.withConf(spark,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        SnapshotStore.merge(docs(390, 420), r)
      }
    }
    val storeSides = captured.flatMap { case (_, qe) =>
      nodes(qe.executedPlan).collect { case j: BaseJoinExec =>
        Seq(j.left, j.right).filter(PlanAudit.storeScans(_, r).nonEmpty)
      }.flatten
    }
    assert(storeSides.nonEmpty, "the merge's anti-join was not captured")
    storeSides.foreach(side => assert(
      !nodes(side).exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"the store side of merge's join is shuffled:\n$side"))
    assert(SnapshotStore.read(spark, r).count() == 420L)
  }
}
