package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.relational.Exact
import graft.engine.sources.{ClusteredStore, SnapshotStore}

/** `store`: a closed loop with one client over a bucketed docs table and a
  * z-clustered events table. A fixed op sequence mixes writes and reads at
  * fixed shares; the seed picks the skewed keys, the box positions and
  * the rows, and the versions read follow a fixed rotation. Compaction
  * and vacuum close every cycle of the mix. Correctness is checked
  * outside the timed calls: each docs version's digest is recorded when it
  * becomes current, time-travel reads must match it, point lookups must
  * match a filtered read, and the final state of both tables must equal
  * the op log folded by plain Spark. */
final class Store(ctx: Ctx, val baseDocs: Long, val baseEvents: Long,
    val nBuckets: Int) extends Workload {
  import Store._
  private val spark = ctx.spark
  private val rnd = new java.util.Random(ctx.seed * 7919L + 17L)
  private var docsRoot = ""
  private var eventsRoot = ""
  private var nextKey = 0L
  private var nextEvent = 0L
  private var opNo = 0L
  private var reads = 0L
  /** The op log the fold replays: (kind, batch rows). */
  private val log = mutable.ArrayBuffer.empty[(String, DataFrame)]
  private val eventsLog = mutable.ArrayBuffer.empty[(Long, Long)]
  private val digests = mutable.HashMap.empty[Long, Digest]
  /** Per op: (name, wall ms). */
  val ops = mutable.ArrayBuffer.empty[(String, Double)]
  var spaceAmp = 0.0

  /** Fresh roots with both base tables published. */
  def setup(): Unit = {
    log.clear(); eventsLog.clear(); digests.clear()
    val dir = ctx.fresh("store")
    docsRoot = s"$dir/docs"
    eventsRoot = s"$dir/events"
    val base = Gen.storeDocs(spark, 0L, baseDocs, ctx.seed, 0L)
    SnapshotStore.publishBucketed(base, docsRoot, "doc_id", nBuckets)
    log += (("base", base))
    nextKey = baseDocs
    ClusteredStore.publishClustered(
      Gen.clusteredEvents(spark, 0L, baseEvents, ctx.seed), eventsRoot,
      Seq("t_us", "v100"), nFiles = EventFiles)
    eventsLog += ((0L, baseEvents))
    nextEvent = baseEvents
    record()
  }

  private def digest(df: DataFrame): Digest = {
    val r = df.agg(count(lit(1)), Exact.dsum(col("score")),
      sum(xxhash64(col("doc_id"), col("text"), col("score"), col("gen"))
        .cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1),
      if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2)))
  }

  private def docsOf(df: DataFrame): DataFrame =
    df.select("doc_id", "text", "score", "gen")

  /** Record the digest of the docs version that just became current. */
  private def record(): Unit = ctx.span("bench.check") {
    val v = SnapshotStore.currentVersion(docsRoot)
    if (!digests.contains(v))
      digests(v) = digest(docsOf(SnapshotStore.read(spark, docsRoot, v)))
  }

  /** Cubed-uniform keys over the live range (the corpus's vocabulary
    * skew): low keys are hot, as the rehearsal's merge and lookup keys are
    * the lowest ones. */
  private def skewedKeys(n: Int): Seq[Long] = {
    val s = mutable.LinkedHashSet.empty[Long]
    while (s.size < n) {
      val u = rnd.nextDouble()
      s += (u * u * u * nextKey).toLong
    }
    s.toSeq
  }

  private def timed(checks: Checks, name: String)(body: => Unit): Unit = {
    val t0 = Ctx.now()
    ctx.span(name)(body)
    ops += ((name, Ctx.secs(t0) * 1000.0))
    checks.op()
  }

  /** A warm cycle's 18 timed ops take 5–7 s on the 4-core host and its
    * checks about 1.5 s more, outside the op timers; the default 12 s run
    * measures three cycles. */
  def nominalUnitS: Double = 4.0
  /** The first full-size cycles after the small warm-up still run ~30 %
    * slower while the JIT catches up, and how much slower varies from run
    * to run; one untimed cycle on the measured store absorbs most of it. */
  override def settleUnits: Int = 1
  def reset(): Unit = ops.clear()

  def unit(checks: Checks): Unit = cycle(checks, Cycle.toSeq)

  /** The warm-up touches each op kind once. */
  override def warmup(checks: Checks): Unit = {
    cycle(checks, Cycle.distinct.toSeq)
    reset()
  }

  /** The given ops in order, then a compaction and a vacuum. */
  private def cycle(checks: Checks, codes: Seq[Int]): Unit = {
    codes.foreach { u =>
      opNo += 1
      if (u < 40) write(checks, u) else read(checks, u)
    }
    timed(checks, "sources.SnapshotStore.compact") {
      SnapshotStore.compact(spark, docsRoot)
    }
    record()
    timed(checks, "sources.SnapshotStore.vacuum") {
      SnapshotStore.vacuum(docsRoot, keep = Retain)
    }
  }

  private def write(checks: Checks, u: Int): Unit = {
    val gen = opNo
    if (u < 12) {
      val batch = Gen.storeDocs(spark, nextKey, nextKey + AppendRows, ctx.seed, gen)
      nextKey += AppendRows
      timed(checks, "sources.SnapshotStore.append") {
        SnapshotStore.append(batch, docsRoot)
      }
      log += (("append", batch))
    } else if (u < 24) {
      val batch = Gen.storeDocsFor(spark, skewedKeys(MergeRows), ctx.seed, gen)
      timed(checks, "sources.SnapshotStore.merge") {
        SnapshotStore.merge(batch, docsRoot, keysAreDistinct = true)
      }
      log += (("merge", batch))
    } else if (u < 32) {
      val keys = keyFrame(skewedKeys(DeleteRows))
      timed(checks, "sources.SnapshotStore.deleteKeys") {
        SnapshotStore.deleteKeys(keys, docsRoot)
      }
      log += (("delete", keys))
    } else {
      // x73's shape: each clustered append is as large as the base
      val (lo, hi) = (nextEvent, nextEvent + baseEvents)
      val batch = Gen.clusteredEvents(spark, lo, hi, ctx.seed)
      nextEvent = hi
      timed(checks, "sources.ClusteredStore.appendClustered") {
        ClusteredStore.appendClustered(batch, eventsRoot, nFiles = EventFiles)
      }
      eventsLog += ((lo, hi))
    }
    record()
  }

  private def keyFrame(keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    keys.toDF("doc_id")
  }

  private def read(checks: Checks, u: Int): Unit = {
    if (u < 58) {
      val keys = skewedKeys(LookupKeys)
      var got: Digest = null
      timed(checks, "sources.SnapshotStore.readKeys") {
        got = digest(docsOf(SnapshotStore.readKeys(keyFrame(keys), docsRoot)))
      }
      val want = ctx.span("bench.check")(digest(docsOf(
        SnapshotStore.read(spark, docsRoot)).filter(col("doc_id").isin(keys: _*))))
      checks.check(got == want, s"store: readKeys $got != filtered read $want")
    } else if (u < 76) {
      val cur = SnapshotStore.currentVersion(docsRoot)
      val retained = digests.keySet.filter(v =>
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$docsRoot/v$v")))
      val back = retained.toSeq.sorted.takeRight(Retain)
      reads += 1
      // the back versions in a fixed rotation, the same for every seed:
      // versions differ in how many files they hold, so a seeded pick
      // moved the upper reads, and with them the tail, from seed to seed
      val v = if (reads % 2 == 1) cur else back((reads / 2 % back.size).toInt)
      var got: Digest = null
      timed(checks, "sources.SnapshotStore.read") {
        got = digest(docsOf(SnapshotStore.read(spark, docsRoot, v)))
      }
      checks.check(got == digests(v),
        s"store: time-travel read of v$v $got != recorded ${digests(v)}")
    } else if (u < 88) {
      val cur = SnapshotStore.currentVersion(eventsRoot)
      val from = math.max(1L, cur - 3L)
      timed(checks, "sources.SnapshotStore.readSince") {
        SnapshotStore.readSince(spark, eventsRoot, from)
          .foreach(_.agg(count(lit(1)), Exact.dsum(col("value"))).head())
      }
    } else {
      // q148's box: a fifth of the event-time span by v100 in [1000, 3000]
      val spanUs = nextEvent * 733000L
      val t = Gen.T0Ms * 1000L + (rnd.nextDouble() * spanUs * 0.8).toLong
      val box = Seq(("t_us", t, t + spanUs / 5L), ("v100", 1000L, 3000L))
      timed(checks, "sources.ClusteredStore.readBox") {
        ClusteredStore.readBox(spark, eventsRoot, box)._1
          .agg(count(lit(1))).head()
      }
    }
  }

  /** After the loop: fold the op log with plain Spark and compare with the
    * current versions; measure space amplification. */
  override def finish(checks: Checks): Unit = {
    var folded: DataFrame = null
    var mergesSeen = 0
    log.foreach {
      case ("base", df) => folded = df
      case ("append", df) => folded = folded.unionByName(df)
      case ("merge", df) =>
        mergesSeen += 1
        if (!(ctx.plant == "drop_merge" && mergesSeen == 1))
          folded = folded.join(df.select("doc_id"), Seq("doc_id"), "left_anti")
            .unionByName(df)
      case ("delete", keys) =>
        folded = folded.join(keys, Seq("doc_id"), "left_anti")
      case _ =>
    }
    val want = digest(folded)
    val got = digest(docsOf(SnapshotStore.read(spark, docsRoot)))
    checks.check(got == want, s"store: docs $got != folded op log $want")
    if (ctx.plant == "drop_merge")
      checks.check(mergesSeen > 0, "store: no merge ran to drop from the fold")
    val evWant = eventsLog.map { case (lo, hi) => hi - lo }.sum
    val evGot = SnapshotStore.read(spark, eventsRoot).count()
    checks.check(evGot == evWant, s"store: events $evGot != appended $evWant")
    // space amplification is a per-layer metric: untraced runs skip the
    // rewrite of the live tables it needs
    if (ctx.trace.nonEmpty) {
      val live = ctx.fresh("store-live")
      SnapshotStore.read(spark, docsRoot).write.parquet(s"$live/docs")
      SnapshotStore.read(spark, eventsRoot).write.parquet(s"$live/events")
      spaceAmp = (Ctx.duBytes(docsRoot) + Ctx.duBytes(eventsRoot)).toDouble /
        Ctx.duBytes(live)
      Ctx.rm(live)
    }
  }

  def filesPerVersion: Double = SnapshotStore.manifestFiles(docsRoot,
    SnapshotStore.currentVersion(docsRoot)).map(_.size).getOrElse(0).toDouble

  def versionsRetained: Double = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(docsRoot))
    try s.filter(p => p.getFileName.toString.matches("v\\d+")).count().toDouble
    finally s.close()
  }

  /** Rate: ops per second of op wall; latency: the reads. The writers'
    * latency (vacuum, which only deletes, is on neither side) goes to the
    * context line. */
  def report(out: Out): Unit = {
    def walls(names: Seq[String]) = ops.filter(o => names.contains(o._1)).map(_._2).toSeq
    val (w, r) = (walls(Writers), walls(Readers))
    out.e2e("rate_per_s") = (ops.size / (ops.map(_._2).sum / 1000.0), "1/s")
    latency(out, r)
    val (wt, wq, wn) = Stats.tail(w)
    out.context("store.write_ms") = s"p50 ${Stats.median(w)}, p$wq $wt of $wn"
    out.context("store.op_ms_p50") = ops.groupBy(_._1).map { case (k, v) =>
      k.split('.').last -> Stats.median(v.map(_._2).toSeq) }
    if (ctx.trace.nonEmpty) out.context("store.space_amp") = spaceAmp
    out.context("store.ops") = ops.size
    out.context("store.base") = s"$baseDocs docs in $nBuckets buckets, $baseEvents events"
  }
}

object Store {
  final case class Digest(rows: Long, scoreSum: Double, hashSum: BigDecimal)
  // Sizes from the repo's own store callers where one exists: the scale
  // rehearsal's 1x store families (5 000 docs in 16 buckets, a 50-key
  // merge, a 10-key lookup) and x73's clustered ingest (8 files per
  // append, each append as large as the base). The rest are chosen.
  val BaseDocs = 5000L
  val Buckets = 16
  val MergeRows = 50
  val LookupKeys = 10
  val BaseEvents = 10000L
  val EventFiles = 8
  /** Chosen: small docs appends and deletes, four versions kept. */
  val AppendRows = 50L
  val DeleteRows = 10
  val Retain = 4
  /** One cycle of the op mix (chosen, not observed: no caller in the repo
    * records a mix), as the op codes `write`/`read` take: one each of
    * appendClustered (32), merge (12), deleteKeys (24) and append (0), two
    * each of readKeys (40), readSince (76) and readBox (88), six of read
    * (58), every other one of the current version. A quarter of the ops
    * write; the 12 reads give three cycles 36 latency samples, and `read`,
    * whose cost sits between the other readers', holds the middle of the
    * sorted sample, so its p50 and tail do not jump between op kinds.
    *
    * The order is the same for every seed, each write followed by three
    * reads: under a seeded order the read median moved with where reads
    * fell among the writes that add files. The events append comes first,
    * so even the first cycle's `readSince` has a delta to read; the docs
    * append is the last docs write, so its fragments are still there for
    * the cycle's compaction to merge. */
  val Cycle = Array(32, 58, 76, 58, 12, 58, 40, 58, 24, 58, 88, 58, 0, 40, 76, 88)
  val Writers = Seq("sources.SnapshotStore.append", "sources.SnapshotStore.merge",
    "sources.SnapshotStore.deleteKeys", "sources.SnapshotStore.compact",
    "sources.ClusteredStore.appendClustered")
  val Readers = Seq("sources.SnapshotStore.readKeys", "sources.SnapshotStore.read",
    "sources.SnapshotStore.readSince", "sources.ClusteredStore.readBox")
  val Ops = Writers ++ Readers :+ "sources.SnapshotStore.vacuum"
}
