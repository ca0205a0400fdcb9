package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import graft.engine.relational.Exact
import graft.engine.sources.SnapshotStore
import graft.engine.streaming.Streaming

/** `stream`: an open loop. Equal pre-written parquet files are delivered
  * into a watched directory by a generator thread, one per interval; the
  * query reads one file per trigger, keeps 1-hour tumbling counts in the
  * state store, and appends each micro-batch's finished windows to a
  * bucketed store with a per-batch tag. A staged backlog is then drained
  * at full speed, and two sentinel files far in event time flush every
  * window. */
final class Stream(ctx: Ctx, val scheduled: Int, val backlog: Int,
    val eventsPerFile: Int, val intervalMs: Long) extends Workload {
  import Stream._
  private val spark = ctx.spark
  private var filesDir = ""
  private val nFiles = scheduled + backlog
  val latencyMs = mutable.ArrayBuffer.empty[Double]
  val drainEventsPerS = mutable.ArrayBuffer.empty[Double]
  /** Per pass: progress of every batch, sink append wall per batch. */
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  val sinkMs = mutable.ArrayBuffer.empty[Double]
  /** How late the generator delivered each scheduled file. */
  val generatorLateMs = mutable.ArrayBuffer.empty[Double]

  /** Write every file once, in one job; passes hard-link them into their
    * own dirs. Files `nFiles` and `nFiles + 1` are the two sentinels. */
  def setup(): Unit = {
    filesDir = ctx.fresh("stream-files")
    val tmp = s"$filesDir/tmp"
    val (seed, epf, nf) = (ctx.seed, eventsPerFile.toLong, nFiles.toLong)
    val users = math.max(1L, nf * epf / 66L)
    val stepMs = FileSpanMs / eventsPerFile
    import spark.implicits._
    spark.range(0L, nf * epf + 2L, 1L, 4).map { b =>
      val id = b.longValue
      if (id < nf * epf) {
        val (t, user, v) = Gen.event(seed, id, users)
        (id / epf, id, new java.sql.Timestamp(tsMs(id, stepMs)), user, t, v)
      } else {
        val k = id - nf * epf
        (nf + k, -1L - k, new java.sql.Timestamp(SentinelMs + k * HourMs), 0L, Flush, 0.0)
      }
    }.toDF("file", "event_id", "ts", "user_id", "event_type", "value")
      .repartition(nFiles + 2, col("file"))
      .write.partitionBy("file").parquet(tmp)
    val base = System.currentTimeMillis() - 3600000L
    (0 until nFiles + 2).foreach { i =>
      val part = Files.list(Paths.get(s"$tmp/file=$i")).filter(
        _.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val dst = Paths.get(f"$filesDir/f-$i%05d.parquet")
      Files.move(part, dst)
      // the source orders files by mtime: pin delivery order
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
    Ctx.rm(tmp)
  }

  private val schema = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  var passes = 0
  def reset(): Unit = {
    Seq(latencyMs, drainEventsPerS, progress, sinkMs, generatorLateMs).foreach(_.clear())
    passes = 0
  }

  def nominalUnitS: Double = 10.0

  /** One delivery schedule through a fresh query. */
  def unit(checks: Checks): Unit = {
    val dir = ctx.fresh("stream-pass")
    val (staged, watch, sink, ckpt) =
      (s"$dir/staged", s"$dir/watch", s"$dir/sink", s"$dir/ckpt")
    Files.createDirectories(Paths.get(staged))
    Files.createDirectories(Paths.get(watch))
    (0 until nFiles + 2).foreach { i =>
      val name = f"f-$i%05d.parquet"
      Files.createLink(Paths.get(s"$staged/$name"), Paths.get(s"$filesDir/$name"))
    }
    ctx.span("bench.setup")(SnapshotStore.publishBucketed(spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(new java.sql.Timestamp(0L),
          Boot, 0L, 0.0)), SinkSchema), sink, "win_start,event_type", 4))

    val mine = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        mine.synchronized(mine += e)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val sinkWall = mutable.ArrayBuffer.empty[Double]
    val doubled = new java.util.concurrent.atomic.AtomicBoolean(false)
    def deliver(i: Int): Unit = {
      val name = f"f-$i%05d.parquet"
      Files.move(Paths.get(s"$staged/$name"), Paths.get(s"$watch/$name"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(watch)
      .transform(df => Streaming.tumblingCounts(df))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ts = Ctx.now()
        ctx.span("streaming.sink.SnapshotStore.append") {
          SnapshotStore.append(batch, sink, tag = Some(s"b-$batchId"))
          if (ctx.plant == "double_append" && !batch.isEmpty &&
              doubled.compareAndSet(false, true))
            SnapshotStore.append(batch, sink, tag = Some(s"again-$batchId"))
        }
        sinkWall.synchronized(sinkWall += Ctx.secs(ts) * 1000.0)
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    val due = new Array[Long](nFiles)
    var drainStart = 0L
    try {
      // scheduled phase: one file per interval
      val start = System.currentTimeMillis() + intervalMs
      (0 until scheduled).foreach { i =>
        due(i) = start + i * intervalMs
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        deliver(i)
        generatorLateMs += (System.currentTimeMillis() - due(i)).toDouble
      }
      q.processAllAvailable()
      // backlog: everything at once, drained at full speed
      drainStart = System.currentTimeMillis()
      (scheduled until nFiles).foreach { i => due(i) = drainStart; deliver(i) }
      q.processAllAvailable()
      deliver(nFiles)
      q.processAllAvailable()
      deliver(nFiles + 1)
      q.processAllAvailable()
    } finally {
      q.stop()
      org.apache.spark.graft.ListenerBridge.drainListenerBus(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    val prog = mine.synchronized(mine.toSeq).sortBy(_.progress.batchId)
    checks.check(q.exception.isEmpty, s"stream: query failed: ${q.exception}")
    // the k-th batch that read rows read the k-th delivered file
    val dataBatches = prog.filter(_.progress.numInputRows > 0).take(nFiles)
    def commitMs(e: StreamingQueryListener.QueryProgressEvent): Long =
      java.time.Instant.parse(e.progress.timestamp).toEpochMilli +
        e.progress.durationMs.get("triggerExecution").longValue
    checks.check(dataBatches.size == nFiles &&
      dataBatches.forall(_.progress.numInputRows == eventsPerFile),
      s"stream: ${dataBatches.size} data batches for $nFiles files")
    dataBatches.zipWithIndex.foreach { case (e, i) =>
      if (i < scheduled) latencyMs += (commitMs(e) - due(i)).toDouble
    }
    if (dataBatches.size == nFiles)
      drainEventsPerS += backlog.toLong * eventsPerFile * 1000.0 /
        math.max(1L, commitMs(dataBatches.last) - drainStart)
    progress ++= prog
    passes += 1
    sinkMs ++= sinkWall
    checks.op()
    ctx.span("bench.check")(verify(watch, sink, prog, dataBatches, checks))
    Ctx.rm(dir)
  }

  private def verify(watch: String, sink: String,
      prog: Seq[StreamingQueryListener.QueryProgressEvent],
      dataBatches: Seq[StreamingQueryListener.QueryProgressEvent],
      checks: Checks): Unit = {
    val out = SnapshotStore.read(spark, sink)
      .filter(col("event_type") =!= Boot && col("event_type") =!= Flush)
      .select("win_start", "event_type", "n_events", "sum_value")
    val counted = out.agg(sum(col("n_events"))).head()
    val nCounted = if (counted.isNullAt(0)) 0L else counted.getLong(0)
    val dropped = replayDropped(prog, dataBatches)
    val delivered = nFiles.toLong * eventsPerFile
    checks.check(nCounted + dropped == delivered,
      s"stream: counted $nCounted + dropped $dropped != delivered $delivered")
    val dups = out.groupBy("win_start", "event_type").count()
      .filter(col("count") > 1L).count()
    checks.check(dups == 0L, s"stream: $dups window pairs appended more than once")
    val all = spark.read.schema(schema).parquet(watch)
      .filter(col("event_type") =!= Flush)
    val lateWindows = all.filter(pmod(col("event_id"), lit(LateEvery)) === LateSlot)
      .select(window(col("ts"), "1 hour").getField("start").as("win_start"))
      .distinct()
    val batch = all.groupBy(window(col("ts"), "1 hour").getField("start")
        .as("win_start"), col("event_type"))
      .agg(Exact.lcount().as("n_events"), Exact.dsum(col("value")).as("sum_value"))
      .join(lateWindows, Seq("win_start"), "left_anti")
    val streamed = out.join(lateWindows, Seq("win_start"), "left_anti")
    val diff = batch.exceptAll(streamed).count() + streamed.exceptAll(batch).count()
    val compared = batch.count()
    checks.check(diff == 0L && compared > 0L,
      s"stream: $diff rows differ from the batch groupBy over $compared on-time windows")
  }

  /** Rate: backlog events drained per second; latency: from a file's due
    * time to the commit of the batch that read it. */
  /** Events the engine must drop, replayed from the generator's event
    * times: a batch filters late rows with the watermark of the batch
    * before it (a no-data batch included, which is why the replay reads
    * each batch's watermark from its progress instead of recomputing it),
    * and an event is late when its window ends at or before that mark.
    * The engine's own dropped-row metric counts rows after partial
    * aggregation, not events, so it cannot close this sum. */
  private def replayDropped(prog: Seq[StreamingQueryListener.QueryProgressEvent],
      dataBatches: Seq[StreamingQueryListener.QueryProgressEvent]): Long = {
    val stepMs = FileSpanMs / eventsPerFile
    val wm = prog.map { e =>
      e.progress.batchId -> Option(e.progress.eventTime.get("watermark"))
        .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(0L)
    }.toMap
    dataBatches.zipWithIndex.map { case (e, k) =>
      val lateWm = wm.getOrElse(e.progress.batchId - 1L, 0L)
      (k.toLong * eventsPerFile until (k + 1L) * eventsPerFile).count { id =>
        Math.floorDiv(tsMs(id, stepMs), HourMs) * HourMs + HourMs <= lateWm
      }.toLong
    }.sum
  }

  def report(out: Out): Unit = {
    out.e2e("rate_per_s") = (Stats.median(drainEventsPerS.toSeq), "1/s")
    latency(out, latencyMs.toSeq)
    out.context("stream.files") = s"$scheduled scheduled every $intervalMs ms + " +
      s"$backlog backlog, $eventsPerFile events each"
    out.context("stream.generator_late_ms") =
      s"p50 ${Stats.median(generatorLateMs.toSeq)}, max ${generatorLateMs.max}"
    out.context("stream.event_lateness") = s"1 in $LateEvery events arrives " +
      s"${LateByMs / 60000L} min behind its file (watermark delay 10 min)"
  }
}

object Stream {
  val Boot = "boot"
  val Flush = "flush"
  /** Event time one file covers. */
  val FileSpanMs = 20L * 60000L
  /** One event in `LateEvery` is `LateByMs` older than its neighbours:
    * past the 10-minute watermark delay, so its window is usually closed. */
  val LateEvery = 20L
  val LateSlot = 13L
  val LateByMs = 3L * 3600000L
  def isLate(id: Long): Boolean = id % LateEvery == LateSlot
  val HourMs = 3600000L
  /** Event time of the sentinels: far past every window. */
  val SentinelMs = Gen.T0Ms + 400L * 86400000L
  def tsMs(id: Long, stepMs: Long): Long =
    Gen.T0Ms + id * stepMs - (if (isLate(id)) LateByMs else 0L)
  val SinkSchema = StructType(Seq(StructField("win_start", TimestampType),
    StructField("event_type", StringType), StructField("n_events", LongType),
    StructField("sum_value", DoubleType)))
}
