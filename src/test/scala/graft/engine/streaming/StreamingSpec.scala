package graft.engine.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.{sfDir, spark}
import graft.engine.Tables
import graft.engine.relational.RelationalQueries

/** Batch/stream equivalence: the streaming plans must produce exactly the
  * batch q25/q27 answers when fed the same bounded data. */
class StreamingSpec extends AnyFunSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def eventsData: Array[Streaming.Event] =
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Streaming.Event].collect()

  test("streaming tumbling agg == batch q25 on the same data") {
    val stream = MemoryStream[Streaming.Event]
    stream.addData(eventsData.toSeq)
    val q = Streaming.tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("t_tumbling")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_tumbling")
      .select(unix_timestamp(col("win_start")).as("win_start"),
        col("event_type"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = RelationalQueries.q25.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("x55 file-source readStream (no driver replay) == batch q25") {
    val streamed = StreamQueries.x55.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = RelationalQueries.q25.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("stream-static enrichment join + rollup == the same plan run as batch") {
    val stream = MemoryStream[Streaming.Event]
    stream.addData(eventsData.toSeq)
    val customers = Tables.customer(spark, sfDir)
    val q = Streaming.enrichedTumblingByNation(stream.toDF(), customers)
      .writeStream.format("memory").queryName("t_enrich")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.get(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(4, BigDecimal.RoundingMode.HALF_UP))).toSet
    val streamed = key(spark.table("t_enrich")
      .select(unix_timestamp(col("win_start")).as("w"), col("c_nationkey"),
        col("n_events"), col("sum_value")).collect())
    val batch = key(Streaming.enrichedTumblingByNation(
        Tables.events(spark, sfDir), customers)
      .select(unix_timestamp(col("win_start")).as("w"), col("c_nationkey"),
        col("n_events"), col("sum_value")).collect())
    assert(streamed == batch)
    // every event matched a customer row (left join produced no null nation)
    assert(!streamed.exists(_._2 == null))
  }

  test("stateful sessionizer closed sessions match batch session_window") {
    // Split into two micro-batches by time so state crosses a batch border.
    val evs = eventsData.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val stream = MemoryStream[Streaming.Event]
    val q = Streaming.sessionizeWithState(stream.toDS())
      .writeStream.format("memory").queryName("t_sessions")
      .outputMode("append").start()
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table("t_sessions")
      .select(col("user_id"), unix_timestamp(col("session_start")).as("s"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = RelationalQueries.q27.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every closed streaming session must equal the batch session exactly
    assert(closed.nonEmpty)
    closed.foreach { case (k, n) =>
      assert(batch.get(k).contains(n), s"session $k: stream=$n batch=${batch.get(k)}")
    }
    // and the only sessions NOT closed are the per-user last ones still in state
    val users = closed.keys.map(_._1).toSet
    assert(batch.size - closed.size >= users.size)
  }

  test("stateful sessionizer is state-store-portable: identical closed sessions on RocksDB") {
    // Same two-micro-batch flow as the HDFS-backed test above, but with the
    // RocksDB state store provider — proving the flatMapGroupsWithState
    // operator's state round-trips through the store a production cluster
    // would actually run (off-heap, incremental-checkpoint capable).
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(provider,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = eventsData.sortBy(e => (e.ts.getTime, e.event_id))
      val (b1, b2) = evs.splitAt(evs.length / 2)
      val stream = MemoryStream[Streaming.Event]
      val dir = java.nio.file.Files.createTempDirectory("graft-rocks").toString
      val q = Streaming.sessionizeWithState(stream.toDS())
        .writeStream.format("memory").queryName("t_sessions_rocks")
        .option("checkpointLocation", s"$dir/chk")
        .outputMode("append").start()
      try {
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
      } finally q.stop()
      val closed = spark.table("t_sessions_rocks")
        .select(col("user_id"), unix_timestamp(col("session_start")).as("s"),
          col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = RelationalQueries.q27.run(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(closed.nonEmpty)
      closed.foreach { case (k, n) =>
        assert(batch.get(k).contains(n),
          s"RocksDB session $k: stream=$n batch=${batch.get(k)}")
      }
      // the state really lived in RocksDB: its working dir was materialized
      assert(new java.io.File(s"$dir/chk/state").exists,
        "state checkpoint dir must exist")
    } finally spark.conf.set(provider, prev)
  }

  test("session_window streaming (append + watermark) emits finalized sessions") {
    val evs = eventsData.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val stream = MemoryStream[Streaming.Event]
    val q = Streaming.sessionCounts(stream.toDF())
      .writeStream.format("memory").queryName("t_swindow")
      .outputMode("append").start()
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("t_swindow")
    assert(emitted.count() > 0, "watermark advance must finalize some sessions")
    val batch = RelationalQueries.q27.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    emitted.select(col("user_id"), unix_timestamp(col("sess_start")).as("s"),
        col("n_events")).collect().foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(batch.get(k).contains(r.getLong(2)), s"emitted session $k mismatch")
    }
  }

  test("file-source streaming: readStream over parquet → writeStream with checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    // stage the bounded events table as a file source fed in two chunks
    val all = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    all.filter(col("event_id") % 2 === 0).write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(all.schema).parquet(s"$dir/in")
    val q = Streaming.tumblingCounts(stream)
      .writeStream.format("memory").queryName("t_filesrc")
      .option("checkpointLocation", s"$dir/chk")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // second chunk arrives as new files — the source must pick them up
      all.filter(col("event_id") % 2 === 1).write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
    } finally q.stop()
    val streamedTotal = spark.table("t_filesrc")
      .agg(sum(col("n_events"))).collect()(0).getLong(0)
    assert(streamedTotal == all.count(),
      "all events from both file batches must be aggregated")
    assert(new java.io.File(s"$dir/chk").exists, "checkpoint dir must be written")
  }

  test("file sink: watermarked windows append to parquet exactly once, values = batch") {
    // the fully-distributed path: parquet file source → watermarked tumbling
    // agg → parquet file SINK (append mode emits only watermark-finalized
    // windows; the sink's transaction log gives exactly-once files)
    val dir = java.nio.file.Files.createTempDirectory("graft-fsink").toString
    val all = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // disjoint event-time chunks on an hour-aligned boundary: no event may
    // arrive after its window was finalized, or append mode drops it as
    // late (an overlapping split re-delivers events into closed windows)
    val split = "2024-01-20 00:00:00"
    all.filter(col("ts") < split).write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(all.schema).parquet(s"$dir/in")
    val q = Streaming.tumblingCounts(stream)
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // later events advance the watermark, finalizing earlier windows
      all.filter(col("ts") >= split).write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.read.parquet(s"$dir/out")
    assert(emitted.count() > 0, "watermark advance must finalize windows")
    assert(emitted.count() ==
      emitted.select("win_start", "event_type").distinct().count(),
      "append mode must emit each finalized window exactly once")
    // every emitted window's values equal the batch aggregate over the same
    // staged data (finalized windows saw all their events)
    val staged = spark.read.parquet(s"$dir/in")
    val batch = staged
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.engine.relational.Exact.dsum(col("value")).as("s"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("s"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    emitted.collect().foreach { r =>
      val k = (r.getTimestamp(0), r.getString(1))
      assert(batch(k) == ((r.getLong(2), r.getDouble(3))),
        s"finalized window $k must match the batch aggregate")
    }
  }

  test("checkpoint restart: a new query resumes from the checkpoint without re-emitting") {
    // stop the query mid-stream, start a FRESH query over the same
    // checkpoint + sink dirs, feed the rest: recovery must neither drop
    // nor duplicate finalized windows — the exactly-once story ACROSS
    // process restarts, which is what a 1000-executor job actually needs.
    val dir = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val all = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val split = "2024-01-20 00:00:00"
    all.filter(col("ts") < split).write.parquet(s"$dir/in")
    def startQuery() = Streaming.tumblingCounts(
        spark.readStream.schema(all.schema).parquet(s"$dir/in"))
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val afterFirst = spark.read.parquet(s"$dir/out").count()
    // restart from checkpoint, then deliver the remaining events
    all.filter(col("ts") >= split).write.mode("append").parquet(s"$dir/in")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val emitted = spark.read.parquet(s"$dir/out")
    assert(emitted.count() > afterFirst, "restarted query must emit new windows")
    assert(emitted.count() ==
      emitted.select("win_start", "event_type").distinct().count(),
      "restart must not re-emit windows already written before the stop")
    // values still match the batch aggregate over everything staged
    val batch = spark.read.parquet(s"$dir/in")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    emitted.collect().foreach { r =>
      assert(batch((r.getTimestamp(0), r.getString(1))) == r.getLong(2))
    }
  }

  test("stream-stream interval join (inner) == batch interval join across micro-batches") {
    // Two event-time-ordered micro-batches split at the median ts: every
    // cross-batch matchable row is still in the join state (a view is only
    // evicted once watermark > view_ts + joinWindow, by which point all its
    // clicks are already processed), so stream must equal batch EXACTLY.
    val evs = eventsData.sortBy(e => (e.ts.getTime, e.event_id))
    // batch twin first: the same plan over bounded frames (watermarks no-op);
    // also pick the split point INSIDE a matched pair's [view_ts, click_ts]
    // interval so the stream run provably matches across the batch border.
    val ve = Tables.events(spark, sfDir).filter(col("event_type") === "view")
    val ce = Tables.events(spark, sfDir).filter(col("event_type") === "click")
    val batchRows = Streaming.intervalJoin(ve, ce, "6 hours")
      .select(col("view_id"), col("click_id"), col("view_ts"), col("click_ts"))
      .collect()
    val spanning = batchRows
      .filter(r => r.getTimestamp(3).getTime > r.getTimestamp(2).getTime)
      .maxBy(r => r.getTimestamp(3).getTime - r.getTimestamp(2).getTime)
    val splitTs = spanning.getTimestamp(3).getTime // view lands in b1, click in b2
    def halves(a: Array[Streaming.Event]) = a.partition(_.ts.getTime < splitTs)
    val (v1, v2) = halves(evs.filter(_.event_type == "view"))
    val (c1, c2) = halves(evs.filter(_.event_type == "click"))
    val views = MemoryStream[Streaming.Event]
    val clicks = MemoryStream[Streaming.Event]
    val q = Streaming.intervalJoin(views.toDF(), clicks.toDF(), "6 hours")
      .writeStream.format("memory").queryName("t_ijoin")
      .outputMode("append").start()
    try {
      views.addData(v1.toSeq); clicks.addData(c1.toSeq); q.processAllAvailable()
      views.addData(v2.toSeq); clicks.addData(c2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_ijoin")
      .select(col("view_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = batchRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, "inner interval join must equal its batch twin")
    assert(batch.nonEmpty, "fixture must produce matches")
    // the split genuinely crossed batches: some pair has view in b1, click in b2
    val b1ViewIds = v1.map(_.event_id).toSet
    val b2ClickIds = c2.map(_.event_id).toSet
    assert(streamed.exists(p => b1ViewIds(p._1) && b2ClickIds(p._2)),
      "at least one match must span the micro-batch boundary (state kept the view)")
  }

  test("left-outer interval join: null-padded views appear only after watermark passes view_ts + joinWindow") {
    val base = Timestamp.valueOf("2024-06-01 10:00:00")
    def ev(id: Long, offsetMin: Long, user: Long, typ: String): Streaming.Event =
      Streaming.Event(id, new Timestamp(base.getTime + offsetMin * 60000L),
        user, typ, 1.0)
    val views = MemoryStream[Streaming.Event]
    val clicks = MemoryStream[Streaming.Event]
    // joinWindow 30 min, watermark delay 10 min
    val q = Streaming.intervalJoinLeftOuter(views.toDF(), clicks.toDF(),
        "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("t_ijoin_outer")
      .outputMode("append").start()
    try {
      // batch 1: user 1 view+click (match), user 2 view with no click ever
      views.addData(Seq(ev(1, 0, 1, "view"), ev(3, 0, 2, "view")))
      clicks.addData(Seq(ev(2, 10, 1, "click")))
      q.processAllAvailable()
      val after1 = spark.table("t_ijoin_outer").collect()
      // watermark is only ~09:50–10:00 < 10:30 = view_ts + joinWindow: the
      // engine cannot yet prove view 3 is unmatched, so NO null row may exist
      assert(after1.map(_.getLong(2)).toSet == Set(1L),
        s"only the matched view may be out (got ${after1.mkString(";")})")
      assert(!after1.exists(_.isNullAt(3)), "no null-padded row before the watermark")
      // batch 2: far-future events on BOTH sides (global watermark = min of
      // the two stream watermarks) advance the watermark to ~11:50 > 10:30
      views.addData(Seq(ev(90, 120, 90, "view")))
      clicks.addData(Seq(ev(91, 120, 91, "click")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("t_ijoin_outer")
      .select(col("view_id"), col("user_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // view 3 is now provably unmatched -> emitted null-padded; view 90 is
    // still inside its window (watermark 11:50 < 12:30) -> NOT emitted
    assert(rows == Set((1L, 1L, 2L), (3L, 2L, -1L)),
      s"expected matched view 1 + null-padded view 3 only, got $rows")
  }

  test("streaming dedup within watermark drops re-sent events") {
    val evs = eventsData.sortBy(e => (e.ts.getTime, e.event_id)).take(2000)
    val stream = MemoryStream[Streaming.Event]
    val q = Streaming.dedupWithinWatermark(stream.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    try {
      stream.addData(evs.toSeq); q.processAllAvailable()
      stream.addData(evs.take(500).toSeq) // duplicate re-delivery
      q.processAllAvailable()
    } finally q.stop()
    // every event id appears exactly once despite the re-delivery
    val n = spark.table("t_dedup").count()
    val distinct = spark.table("t_dedup").select("event_id").distinct().count()
    assert(n == distinct, "no duplicate ids may survive")
    assert(n == evs.length.toLong, s"all original events must survive (got $n of ${evs.length})")
  }

  test("late events beyond the watermark are dropped") {
    val base = Timestamp.valueOf("2024-06-01 10:00:00")
    def ev(id: Long, offsetMin: Long): Streaming.Event =
      Streaming.Event(id, new Timestamp(base.getTime + offsetMin * 60000L),
        1L, "click", 1.0)
    val stream = MemoryStream[Streaming.Event]
    val q = Streaming.tumblingCounts(stream.toDF(), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("t_late")
      .outputMode("append").start()
    try {
      stream.addData(Seq(ev(1, 0), ev(2, 30)))       // window [10:00,11:00)
      q.processAllAvailable()
      stream.addData(Seq(ev(3, 300)))                 // advance watermark to ~14:50
      q.processAllAvailable()
      stream.addData(Seq(ev(4, 5)))                   // LATE: before watermark
      q.processAllAvailable()
    } finally q.stop()
    val counts = spark.table("t_late")
      .select(unix_timestamp(col("win_start")), col("n_events")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val win1 = Timestamp.valueOf("2024-06-01 10:00:00").getTime / 1000
    assert(counts(win1) == 2L, "late event must NOT be counted")
  }

  test("streaming curation: quarantine routed and dedup state carried " +
      "ACROSS micro-batches; each tick publishes a store version") {
    import graft.engine.llm.Dedup
    import graft.engine.sources.SnapshotStore
    val base = java.nio.file.Files.createTempDirectory("curation_stream")
      .toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    def put(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/in/$name"),
        java.util.Arrays.asList(lines: _*),
        java.nio.charset.StandardCharsets.UTF_8)
    put("a.jsonl",
      """{"doc_id":1,"text":"alpha text unique one"}""",
      """{"doc_id":2,"text":"history doc text h1"}""", // copy of history
      """{"doc_id":3,"text":"gamma text unique three"}""",
      "this is { not json")
    put("b.jsonl",
      """{"doc_id":4,"text":"alpha text unique one"}""", // cross-batch dup
      """{"doc_id":5,"text":"delta text unique five"}""",
      "neither is this {")
    val history = Seq((100L, "history doc text h1")).toDF("doc_id", "text")
    val exSigs = Dedup.minHashSignatures(history, "text", "doc_id")
    val bandTable = graft.engine.Artifacts.table("spec_bands",
      s"${System.nanoTime()}")
    Dedup.publishBandedSignatures(exSigs, bandTable, numBuckets = 4)
    val exKeys = history.select(col("doc_id").as("id_ex"),
      Dedup.contentKey(col("text")).as("ck_ex"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // one file per trigger forces the dup (doc 1 vs doc 4) and the two
    // corrupt lines into DIFFERENT micro-batches — the cross-batch claims
    // are only proven if the state/sinks span ticks
    val q = Streaming.streamingCuration(spark, s"$base/in", schema,
      spark.table(bandTable), exSigs, exKeys,
      s"$base/store/tbl", s"$base/quarantine",
      readOptions = Map("maxFilesPerTrigger" -> "1"))
    try q.processAllAvailable() finally q.stop()
    assert(SnapshotStore.currentVersion(s"$base/store/tbl") == 2L,
      "each single-file micro-batch has a unique survivor, so each must " +
        "publish a version (bootstrap publish, then merge)")
    val kept = SnapshotStore.read(spark, s"$base/store/tbl")
      .select("text").collect().map(_.getString(0)).toSet
    assert(kept == Set("alpha text unique one", "gamma text unique three",
      "delta text unique five"),
      s"history copy dropped, cross-batch dup collapsed to one; got $kept")
    val quarantined = spark.read
      .option("recursiveFileLookup", "true") // per-batchId subdirs
      .parquet(s"$base/quarantine")
      .collect().map(_.getString(0)).toSet
    assert(quarantined == Set("this is { not json", "neither is this {"),
      s"corrupt lines from BOTH micro-batches must be quarantined; got " +
        quarantined)
  }

  test("streaming curation compaction policy: per-tick compact bounds " +
      "files per bucket without changing the published content") {
    import graft.engine.llm.Dedup
    import graft.engine.sources.SnapshotStore
    val base = java.nio.file.Files.createTempDirectory("curation_compact")
      .toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    def put(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/in/$name"),
        java.util.Arrays.asList(lines: _*),
        java.nio.charset.StandardCharsets.UTF_8)
    // three ticks, each with fresh docs: every merge writes new files
    // into the touched buckets of a 2-bucket store, so fragmentation is
    // structural by tick 3
    put("a.jsonl", (1 to 6).map(i =>
      s"""{"doc_id":$i,"text":"tick one doc $i"}"""): _*)
    put("b.jsonl", (11 to 16).map(i =>
      s"""{"doc_id":$i,"text":"tick two doc $i"}"""): _*)
    put("c.jsonl", (21 to 26).map(i =>
      s"""{"doc_id":$i,"text":"tick three doc $i"}"""): _*)
    val history = Seq((100L, "unrelated history doc")).toDF("doc_id", "text")
    val exSigs = Dedup.minHashSignatures(history, "text", "doc_id")
    val bandTable = graft.engine.Artifacts.table("spec_compact_bands",
      s"${System.nanoTime()}")
    Dedup.publishBandedSignatures(exSigs, bandTable, numBuckets = 4)
    val exKeys = history.select(col("doc_id").as("id_ex"),
      Dedup.contentKey(col("text")).as("ck_ex"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val store = s"$base/store/tbl"
    val q = Streaming.streamingCuration(spark, s"$base/in", schema,
      spark.table(bandTable), exSigs, exKeys, store, s"$base/quarantine",
      readOptions = Map("maxFilesPerTrigger" -> "1"),
      nBuckets = 2, compactEvery = 1, compactMaxFilesPerBucket = 1)
    try q.processAllAvailable() finally q.stop()
    // content is exactly the union of the three ticks' docs
    val kept = SnapshotStore.read(spark, store)
      .select("text").collect().map(_.getString(0)).toSet
    val want = ((1 to 6).map(i => s"tick one doc $i") ++
      (11 to 16).map(i => s"tick two doc $i") ++
      (21 to 26).map(i => s"tick three doc $i")).toSet
    assert(kept == want, s"compaction must not change content; got $kept")
    // the final (post-compact) version holds at most one data file per
    // bucket — the small-files decay is actually repaired
    val cur = SnapshotStore.currentVersion(store)
    (0 until 2).foreach { k =>
      val d = java.nio.file.Paths.get(store, s"v$cur", s"_bucket=$k")
      if (java.nio.file.Files.exists(d)) {
        val s = java.nio.file.Files.list(d)
        val n = try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .count(_.getFileName.toString.endsWith(".parquet"))
        } finally s.close()
        assert(n <= 1, s"bucket $k still has $n files after compaction")
      }
    }
    // r18: the write path itself now repartitions on _bucket (one file
    // per touched bucket per write), so merge-publishing ticks never
    // fragment and the per-tick compact policy correctly minted NO
    // repair versions — the policy still guards the append path, whose
    // repair mechanics SnapshotStoreSpec's compact test pins on a
    // genuinely fragmented (publish + 2 appends) fixture
    assert(cur == 3L,
      s"healthy store: compact must be a no-op per tick, CURRENT=v$cur")
  }

  test("streaming curation restart/replay: a stop/start on the same " +
      "checkpoint + store neither duplicates publishes nor loses " +
      "survivors; a replayed committed epoch is a no-op") {
    import graft.engine.llm.Dedup
    import graft.engine.sources.SnapshotStore
    val base = java.nio.file.Files.createTempDirectory("curation_restart")
      .toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    def put(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/in/$name"),
        java.util.Arrays.asList(lines: _*),
        java.nio.charset.StandardCharsets.UTF_8)
    val history = Seq((100L, "history doc text h1")).toDF("doc_id", "text")
    val exSigs = Dedup.minHashSignatures(history, "text", "doc_id")
    val bandTable = graft.engine.Artifacts.table("spec_restart_bands",
      s"${System.nanoTime()}")
    Dedup.publishBandedSignatures(exSigs, bandTable, numBuckets = 4)
    val exKeys = history.select(col("doc_id").as("id_ex"),
      Dedup.contentKey(col("text")).as("ck_ex"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val store = s"$base/store/tbl"
    val ckpt = s"$base/ckpt"
    def run(): Unit = {
      val q = Streaming.streamingCuration(spark, s"$base/in", schema,
        spark.table(bandTable), exSigs, exKeys, store, s"$base/quarantine",
        readOptions = Map("maxFilesPerTrigger" -> "1"),
        checkpointDir = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    def keptTexts(): Set[String] = SnapshotStore.read(spark, store)
      .select("text").collect().map(_.getString(0)).toSet
    // ---- session 1: two ticks (one file each), then a clean stop
    put("a.jsonl",
      """{"doc_id":1,"text":"alpha text unique one"}""",
      "this is { not json")
    put("b.jsonl",
      """{"doc_id":2,"text":"beta text unique two"}""",
      """{"doc_id":3,"text":"alpha text unique one"}""") // cross-tick dup
    run()
    // micro-batch file order is not contractual: if the dup-carrying file
    // lands first, the OTHER tick has no fresh survivor and publishes
    // nothing — so pin the observables that hold either way and record
    // the version for the replay-invariance check below
    val vAfterSession1 = SnapshotStore.currentVersion(store)
    assert(vAfterSession1 >= 1L && vAfterSession1 <= 2L,
      s"bootstrap publish (+ maybe one merge): $vAfterSession1")
    assert(keptTexts() == Set("alpha text unique one", "beta text unique two"))
    // ---- at-least-once replay: kill tick 2's COMMITTED epoch. On restart
    // the engine re-executes batch 1 (offsets exist, commit doesn't) —
    // exactly the mid-commit crash foreachBatch's contract warns about.
    val killed = java.nio.file.Paths.get(ckpt, "commits", "1")
    assert(java.nio.file.Files.deleteIfExists(killed),
      s"expected a commit-log entry at $killed to kill")
    // drop Hadoop ChecksumFileSystem's sidecar too, or the replayed
    // epoch's commit rewrite trips over the stale checksum
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(SnapshotStore.currentVersion(store) == vAfterSession1,
      "replayed epoch must mint NO extra version: its survivors are all " +
        "already published, the pruned anti-join empties the batch, and " +
        "merge's empty-batch path is a no-op")
    assert(keptTexts() == Set("alpha text unique one", "beta text unique two"),
      "replay must not lose previously published survivors")
    // quarantine stays duplicate-free as a MULTISET: the replayed tick
    // overwrote its own batch-1 directory instead of appending
    val qRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/quarantine").collect().map(_.getString(0)).toSeq
    assert(qRows.sorted == Seq("this is { not json"),
      s"exactly one copy of the corrupt line after replay; got $qRows")
    // ---- session 3: restart again with NEW data — processing continues,
    // state (seen dkeys) and store semantics intact across the restart
    put("c.jsonl",
      """{"doc_id":4,"text":"beta text unique two"}""", // dup of published
      """{"doc_id":5,"text":"gamma text unique three"}""")
    run()
    assert(SnapshotStore.currentVersion(store) == vAfterSession1 + 1,
      "the new tick's unique survivor publishes exactly one more version")
    assert(keptTexts() == Set("alpha text unique one", "beta text unique two",
      "gamma text unique three"),
      "published dup dropped by cross-version dedup; new doc kept")
  }

  test("streaming incremental-agg restart/replay: a replayed committed " +
      "epoch does NOT double-add (tagged exactly-once on an " +
      "at-least-once engine)") {
    import graft.engine.sources.{IncrementalAgg, Jsonl, SnapshotStore}
    val base = java.nio.file.Files.createTempDirectory("magg_restart").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    def put(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/in/$name"),
        java.util.Arrays.asList(lines: _*),
        java.nio.charset.StandardCharsets.UTF_8)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    val root = s"$base/store/agg"
    def run(): Unit = {
      val q = Jsonl.readJsonlStream(spark, s"$base/in", schema,
          Map("maxFilesPerTrigger" -> "1"))
        .filter(col(Jsonl.corruptCol).isNull).select(col("k"), col("v"))
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          IncrementalAgg.refresh(b, root, "k", "v", nBuckets = 4,
            tag = Some(s"batch-$id"))
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def agg(): Map[String, (Long, Double)] =
      IncrementalAgg.read(spark, root).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    // session 1: two one-file ticks
    put("a.jsonl", """{"k":"x","v":1.5}""", """{"k":"y","v":2.0}""")
    put("b.jsonl", """{"k":"x","v":10.0}""")
    run()
    val expected = Map("x" -> ((2L, 11.5)), "y" -> ((1L, 2.0)))
    assert(agg() == expected)
    val vAfter = SnapshotStore.currentVersion(root)
    // kill the last epoch's commit marker: the restart re-executes that
    // batch with the SAME data and batchId — the tag must absorb it
    val lastCommit = java.nio.file.Files
      .list(java.nio.file.Paths.get(s"$base/ckpt", "commits"))
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .sorted(java.util.Comparator.comparingLong[java.nio.file.Path](
        p => p.getFileName.toString.toLong))
      .reduce((_, b) => b).orElseThrow()
    assert(java.nio.file.Files.deleteIfExists(lastCommit))
    java.nio.file.Files.deleteIfExists(lastCommit.resolveSibling(
      s".${lastCommit.getFileName}.crc"))
    run()
    assert(agg() == expected,
      s"replayed epoch double-added: ${agg()} (additive refresh without " +
        "the tag guard would read x -> (3, 21.5))")
    assert(SnapshotStore.currentVersion(root) == vAfter,
      "replay must mint no version")
    // session 3: new data continues normally after the replay
    put("c.jsonl", """{"k":"y","v":0.5}""")
    run()
    assert(agg() == Map("x" -> ((2L, 11.5)), "y" -> ((2L, 2.5))))
    assert(SnapshotStore.currentVersion(root) == vAfter + 1)
  }

  test("x63 media key store: a stream killed after staging but before " +
      "the flip restarts to exactly-once — no duplicate key, no lost " +
      "batch, orphan staging reaped (VERDICT r11 item 3)") {
    import graft.engine.llm.Multimodal
    import graft.engine.sources.SnapshotStore
    val base = java.nio.file.Files.createTempDirectory("media_torn").toString
    val keysRoot = s"$base/keys"
    def media(lo: Long, hi: Long) = Multimodal.syntheticImages(
      spark.range(lo, hi).select(col("id").as("doc_id")))
    SnapshotStore.publishBucketed(
      Multimodal.imageSignatures(media(0L, 100L)).toDF()
        .select(col("pixkey"), col("media_id")),
      keysRoot, "pixkey", nBuckets = 4)
    val v1 = SnapshotStore.currentVersion(keysRoot)
    // one ingest file: 50 fresh pixel classes plus a content-carried copy
    // of base image 0 (must dedup against the STORE, not within-batch)
    media(100L, 150L).unionByName(
        media(0L, 1L).map(m => m.copy(media_id = m.media_id + 100000)))
      .toDF().coalesce(1).write.mode("append").parquet(s"$base/in")
    val mediaSchema = media(0L, 1L).schema
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the x63 micro-batch body: decode + within-batch min-id dedup +
    // touched-bucket-pruned anti-join against the published keys
    def freshKeys(batch: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val sigs = Multimodal.imageSignatures(
        batch.as[Multimodal.MediaRow]).toDF()
      val withinBatch = sigs.groupBy(col("pixkey"))
        .agg(min(col("media_id")).as("media_id")).localCheckpoint()
      val (_, nb) = SnapshotStore.readBucketSpec(keysRoot).get
      val touched = withinBatch
        .select(SnapshotStore.bucketExpr("pixkey", nb).as("_bucket"))
        .distinct().collect().map(_.getInt(0)).toSeq
      withinBatch.join(
        SnapshotStore.read(spark, keysRoot)
          .filter(col("_bucket").isin(touched.map(Int.box): _*))
          .select(col("pixkey")),
        Seq("pixkey"), "left_anti")
        .select(col("pixkey"), col("media_id"))
    }
    def start(failFirst: Boolean) = spark.readStream.schema(mediaSchema)
      .parquet(s"$base/in")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val fresh = freshKeys(batch)
        if (failFirst && crashed.compareAndSet(false, true)) {
          // the crash is planted INSIDE the real micro-batch: stage the
          // batch exactly as append would (bucket layout + tag file) and
          // die BEFORE the flip — the post-staging, pre-flip window a
          // process kill can land in
          val (_, nb) = SnapshotStore.readBucketSpec(keysRoot).get
          val staging = java.nio.file.Paths.get(keysRoot,
            s".staging-torn-${System.nanoTime()}")
          fresh.withColumn("_bucket",
              SnapshotStore.bucketExpr("pixkey", nb))
            .write.partitionBy("_bucket").parquet(staging.toString)
          java.nio.file.Files.write(staging.resolve("_GRAFT_TAG"),
            s"batch-$id".getBytes)
          throw new RuntimeException("simulated crash: staged, not flipped")
        }
        SnapshotStore.append(fresh, keysRoot, tag = Some(s"batch-$id"))
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    val q1 = start(failFirst = true)
    intercept[Throwable] { q1.processAllAvailable() }
    q1.stop()
    assert(crashed.get(), "the planted crash must have fired")
    // nothing flipped: still the bootstrap version, torn staging on disk
    assert(SnapshotStore.currentVersion(keysRoot) == v1)
    // restart over the same checkpoint: the SAME logical batch replays
    // with the SAME tag and must apply exactly once
    val q2 = start(failFirst = false)
    try q2.processAllAvailable() finally q2.stop()
    val v2 = SnapshotStore.currentVersion(keysRoot)
    assert(v2 == v1 + 1, "exactly one version minted across the crash")
    assert(SnapshotStore.versionTags(keysRoot).get(v2).contains("batch-0"))
    val ids = SnapshotStore.read(spark, keysRoot)
      .select(col("media_id")).collect().map(_.getLong(0)).sorted.toSeq
    // base classes once, the 50 fresh classes once, the planted copy
    // deduped against the store — no duplicate, no lost batch
    assert(ids == (0L until 150L).toSeq,
      s"expected 150 exactly-once keys, got ${ids.length}")
    // the orphan never becomes a version; the staleness-gated reaper
    // reclaims it and the store is unchanged afterwards
    Thread.sleep(150)
    SnapshotStore.vacuum(keysRoot, keep = 10, stagingStaleMs = 100L)
    val leftover = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(keysRoot))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(".staging-")).toList
      } finally s.close()
    }
    assert(leftover.isEmpty, s"vacuum must reap the torn staging, left $leftover")
    assert(SnapshotStore.read(spark, keysRoot).count() == 150L)
  }

  test("two concurrent micro-batch writers against ONE store: the flip " +
      "lock serializes appends under streaming cadence — version " +
      "arithmetic exact, no lost batch, every row exactly once " +
      "(VERDICT r11 item 6)") {
    import graft.engine.sources.SnapshotStore
    val base = java.nio.file.Files.createTempDirectory("two_writer").toString
    val root = s"$base/store"
    SnapshotStore.publishBucketed(
      spark.range(0L, 10L).select(col("id")), root, "id", nBuckets = 4)
    val v1 = SnapshotStore.currentVersion(root)
    // two independent ingest dirs, three one-file ticks each, disjoint
    // id ranges so exactly-once accounting is unambiguous
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/inA"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/inB"))
    (0 until 3).foreach { i =>
      spark.range(100L + i * 10, 110L + i * 10).select(col("id"))
        .coalesce(1).write.mode("append").parquet(s"$base/inA")
      spark.range(200L + i * 10, 210L + i * 10).select(col("id"))
        .coalesce(1).write.mode("append").parquet(s"$base/inB")
    }
    val schema = spark.range(1L).select(col("id")).schema
    def writer(tagPrefix: String, in: String, ckpt: String) =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          // appendContended: the loser of the optimistic base-version
          // race recomputes against the new base and retries — the
          // documented two-writer contract (a bare append would abort
          // the losing stream on "stale append")
          val rows = b.select(col("id")).localCheckpoint()
          SnapshotStore.appendContended(() => rows, root,
            tag = Some(s"$tagPrefix-$id"))
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
    // both queries run concurrently on the same session — their
    // foreachBatch bodies contend for the SAME store's flip lock at
    // micro-batch cadence (the x59/x63 deployment shape, two pipelines
    // feeding one artifact)
    val qa = writer("a", s"$base/inA", s"$base/ckptA")
    val qb = writer("b", s"$base/inB", s"$base/ckptB")
    try {
      qa.processAllAvailable()
      qb.processAllAvailable()
      // a second wave lands while BOTH queries are live — genuine
      // interleaved contention rather than sequential drains
      spark.range(130L, 140L).select(col("id"))
        .coalesce(1).write.mode("append").parquet(s"$base/inA")
      spark.range(230L, 240L).select(col("id"))
        .coalesce(1).write.mode("append").parquet(s"$base/inB")
      qa.processAllAvailable()
      qb.processAllAvailable()
    } finally { qa.stop(); qb.stop() }
    // 8 non-empty tagged appends == exactly 8 minted versions, in SOME
    // interleaving — the lock admits one flip at a time, so the version
    // counter is dense regardless of order
    assert(SnapshotStore.currentVersion(root) == v1 + 8,
      s"expected ${v1 + 8} versions, got ${SnapshotStore.currentVersion(root)}")
    val tags = SnapshotStore.versionTags(root).values.toSet
    assert(tags == (0 until 4).flatMap(i => Seq(s"a-$i", s"b-$i")).toSet,
      s"every batch of both writers must have landed once, got $tags")
    val ids = SnapshotStore.read(spark, root)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L until 10L) ++ (100L until 140L) ++
        (200L until 240L)).toSeq,
      s"exactly-once rows across both writers, got ${ids.length}")
  }

  test("x67 watermark drop rule: a late row whose window end EQUALS the " +
      "watermark is dropped (<= in ms), and the engine reports the drop") {
    // batch 1: one event at exactly 02:10:00.000 → with a 10 min delay
    // the watermark lands at exactly 02:00:00.000 — the END of the
    // [01:00, 02:00) window. x67's oracle replays survivors as
    // window_end_ms > wm_ms, i.e. the equality case must DROP.
    def ev(id: Long, s: String) =
      Streaming.Event(id, Timestamp.valueOf(s), 1L, "click", 1.0)
    val stream = MemoryStream[Streaming.Event]
    val name = s"t_x67_boundary_${System.nanoTime()}"
    val q = Streaming.tumblingCounts(stream.toDF(),
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      stream.addData(Seq(ev(1, "2024-01-01 02:10:00.0")))
      q.processAllAvailable() // watermark := 02:00:00.000 exactly
      stream.addData(Seq(
        ev(2, "2024-01-01 01:30:00.0"),   // window end 02:00 == wm → drop
        ev(3, "2024-01-01 01:59:59.999"), // same closed window → drop
        ev(4, "2024-01-01 02:05:00.0")))  // open window [02:00,03:00) → keep
      q.processAllAvailable()
      stream.addData(Seq(ev(5, "2024-03-01 00:00:00.0"))) // flush
      q.processAllAvailable()
    } finally q.stop()
    val drops = q.recentProgress
      .flatMap(p => Option(p.stateOperators).map(_.toSeq).getOrElse(Nil))
      .map(_.numRowsDroppedByWatermark).sum
    val rows = spark.table(name)
      .select(unix_timestamp(col("win_start")).as("s"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val h2 = Timestamp.valueOf("2024-01-01 02:00:00.0").getTime / 1000
    val h1 = h2 - 3600
    assert(!rows.contains(h1),
      "the window ending exactly AT the watermark must have dropped " +
        "its late rows and emitted nothing")
    assert(rows.get(h2).contains(2L),
      s"the open window must hold the on-time + late-but-open rows, got $rows")
    assert(drops > 0, "numRowsDroppedByWatermark must report the drop")
  }

  test("x68 router == the engine: the replayed-watermark late split " +
      "quarantines EXACTLY the rows the stateful aggregation drops, " +
      "including the exact-boundary case") {
    // same exact-boundary fixture as the x67 rule test: tick 1 pushes
    // the watermark to exactly 02:00:00.000; tick 2 carries two rows in
    // the window ENDING at the watermark (engine: dropped) and one in
    // the open window (engine: kept)
    def ev(id: Long, s: String) =
      Streaming.Event(id, Timestamp.valueOf(s), 1L, "click", 1.0)
    val tick1 = Seq(ev(1, "2024-01-01 02:10:00.0"))
    val tick2 = Seq(
      ev(2, "2024-01-01 01:30:00.0"),
      ev(3, "2024-01-01 01:59:59.999"),
      ev(4, "2024-01-01 02:05:00.0"))
    // engine side: run the real stateful aggregation and flush
    val stream = MemoryStream[Streaming.Event]
    val name = s"t_x68_engine_${System.nanoTime()}"
    val q = Streaming.tumblingCounts(stream.toDF(),
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      stream.addData(tick1); q.processAllAvailable()
      stream.addData(tick2); q.processAllAvailable()
      stream.addData(Seq(ev(5, "2024-03-01 00:00:00.0")))
      q.processAllAvailable()
    } finally q.stop()
    val engineKept = spark.table(name)
      .agg(sum(col("n_events"))).head().getLong(0)
    // router side: the same ticks through lateFor/advanceWatermarkMs
    var wm = Long.MinValue
    val quarantined = scala.collection.mutable.ListBuffer.empty[Long]
    var kept = 0L
    Seq(tick1, tick2).foreach { tick =>
      val b = tick.toDF()
        .withColumn("win_start",
          (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long"))
      quarantined ++= b.filter(Streaming.lateFor(col("win_start"), wm))
        .select(col("event_id")).collect().map(_.getLong(0))
      kept += b.filter(!Streaming.lateFor(col("win_start"), wm)).count()
      wm = Streaming.advanceWatermarkMs(wm, b, "ts", delayMs = 600000L)
    }
    assert(quarantined.sorted == Seq(2L, 3L),
      "the router must quarantine exactly the engine-dropped rows " +
        "(window end == watermark included)")
    // sentinel excluded from both sides: engine kept == router kept
    assert(engineKept == kept,
      s"engine kept $engineKept but the router kept $kept — the two " +
        "watermark algebras diverged")
  }
}
