package graft.engine.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.engine.{Artifacts, GraftQuery, Par, Tables}

/** Driver queries that run the streaming plans end-to-end inside a query
  * call: events enter either through a MemoryStream replay (x52–x54) or a
  * real file-source readStream (x55), the streaming aggregation executes
  * via the micro-batch engine, and the in-memory sink table is returned.
  * Each windowed aggregation is DuckDB-oracle-checked against its batch
  * twin SQL (exact decimal sums make the answers order-independent);
  * batch/stream equivalence is additionally asserted in StreamingSpec.
  */
object StreamQueries {

  /** Premise guard for the file-tick streaming queries (x64/x65): their
    * oracle constant n_versions = `expected` presumes `repartition(n)`
    * produced exactly `expected` NON-EMPTY data files (an empty parquet
    * part file still triggers a micro-batch, but its empty append mints
    * no store version). Counting part-* files alone would let the assert
    * pass while the premise it documents fails, so each file's row count
    * is checked too (3 tiny single-file count jobs, metadata-cheap). */
  private def requireTickFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String, expected: Int, who: String): Unit = {
    val files = {
      val d = java.nio.file.Paths.get(dir)
      val s = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .map(_.toString).toList
      } finally s.close()
    }
    require(files.size == expected,
      s"$who expects exactly $expected ingest tick files (one " +
        s"micro-batch each, n_versions contract = $expected); got " +
        s"${files.size} data files under $dir — the engine or SF " +
        "changed the file layout, re-derive the oracle constant")
    // ONE per-file census job instead of a count per file (r22): a
    // zero-row parquet file contributes no group, so every file is
    // non-empty ⇔ the group count equals the (already-checked) file count
    val nonEmpty = spark.read.parquet(files: _*)
      .groupBy(org.apache.spark.sql.functions.input_file_name())
      .count().count()
    require(nonEmpty == expected,
      s"$who has ${expected - nonEmpty} EMPTY tick file(s) under $dir — " +
        s"an empty tick appends no store version, breaking the " +
        s"n_versions = $expected oracle constant; re-derive it or " +
        "re-balance the ingest repartition")
  }

  /** X5 — tumbling-window streaming aggregation through the real
    * micro-batch engine (complete mode; the 20k-event cap bounds the
    * driver-side replay buffer, not the operator). */
  val x52 = GraftQuery(
    "x52_stream_tumbling",
    (spark, sfDir) => {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val events = Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .orderBy(col("event_id")).limit(20000)
        .as[Streaming.Event].collect()
      val stream = MemoryStream[Streaming.Event]
      stream.addData(events.toSeq)
      val name = s"x52_out_${System.nanoTime()}"
      val q = Streaming.tumblingCounts(stream.toDF())
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try { q.processAllAvailable() } finally q.stop()
      spark.table(name)
        .select(unix_timestamp(col("win_start")).as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    },
    // The replayed subset is the 20k lowest event_ids (the whole table at
    // the verify SF); the decimal-exact sum makes the streaming answer
    // bit-identical to this batch SQL regardless of micro-batch boundaries.
    Some(s"""WITH ev AS (SELECT * FROM events ORDER BY event_id LIMIT 20000)
      SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
        event_type, COUNT(*) AS n_events,
        ${graft.engine.relational.Exact.sqlDsum("value")} AS sum_value
      FROM ev GROUP BY 1, 2 ORDER BY win_start, event_type"""),
    doc = "streaming tumbling agg via MemoryStream micro-batches")

  /** X5 — custom stateful sessionization (flatMapGroupsWithState), fed in
    * two micro-batches so cross-batch state transitions really happen. */
  val x53 = GraftQuery(
    "x53_stream_sessionize",
    (spark, sfDir) => {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val events = Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .orderBy(col("ts"), col("event_id")).limit(10000)
        .as[Streaming.Event].collect()
      val (batch1, batch2) = events.splitAt(events.length / 2)
      val stream = MemoryStream[Streaming.Event]
      val name = s"x53_out_${System.nanoTime()}"
      val q = Streaming.sessionizeWithState(stream.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        stream.addData(batch1.toSeq); q.processAllAvailable()
        stream.addData(batch2.toSeq); q.processAllAvailable()
      } finally q.stop()
      spark.table(name)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_closed_sessions"),
          sum(col("n_events")).cast("long").as("n_events"))
        .orderBy(col("user_id")).limit(1000)
    },
    // Batch twin of "closed sessions only": sessionize the same 10k-event
    // subset with lag + cumulative-sum session ids, then drop each user's
    // LAST session — exactly the one flatMapGroupsWithState leaves open in
    // state when the stream ends (a session only closes when a later event
    // arrives past the gap). Gap break matches the state logic: a session
    // continues iff ts - last < 30 min.
    Some("""WITH ev AS (
        SELECT user_id, ts, event_id FROM events
        ORDER BY ts, event_id LIMIT 10000),
      marked AS (
        SELECT user_id, ts, event_id,
          CASE WHEN LAG(ts) OVER w IS NULL
                 OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS new_sess
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id,
          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
        FROM marked),
      agg AS (SELECT user_id, sid, COUNT(*) AS n FROM sess GROUP BY 1, 2),
      mx AS (SELECT user_id, MAX(sid) AS max_sid FROM agg GROUP BY 1)
      SELECT a.user_id,
        CAST(COUNT(*) AS BIGINT) AS n_closed_sessions,
        CAST(SUM(a.n) AS BIGINT) AS n_events
      FROM agg a JOIN mx m ON a.user_id = m.user_id AND a.sid < m.max_sid
      GROUP BY 1 ORDER BY 1 LIMIT 1000"""),
    doc = "flatMapGroupsWithState sessionizer over 2 micro-batches")

  /** X5 — stream–static broadcast enrichment join + windowed rollup. */
  val x54 = GraftQuery(
    "x54_stream_enrich",
    (spark, sfDir) => {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val events = Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .orderBy(col("event_id")).limit(20000)
        .as[Streaming.Event].collect()
      val customers = Tables.customer(spark, sfDir)
      val stream = MemoryStream[Streaming.Event]
      stream.addData(events.toSeq)
      val name = s"x54_out_${System.nanoTime()}"
      val q = Streaming.enrichedTumblingByNation(stream.toDF(), customers)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try { q.processAllAvailable() } finally q.stop()
      spark.table(name)
        .select(unix_timestamp(col("win_start")).as("win_start"),
          col("c_nationkey"), col("n_events"), col("sum_value"))
        // Spark sorts nulls first by default; the left join can emit a null
        // nationkey, so the DuckDB twin says NULLS FIRST explicitly (its
        // ASC default is nulls last).
        .orderBy(col("win_start"), col("c_nationkey"))
    },
    Some(s"""WITH ev AS (SELECT * FROM events ORDER BY event_id LIMIT 20000)
      SELECT CAST(FLOOR(epoch(e.ts) / 3600) * 3600 AS BIGINT) AS win_start,
        c.c_nationkey, COUNT(*) AS n_events,
        ${graft.engine.relational.Exact.sqlDsum("e.value")} AS sum_value
      FROM ev e LEFT JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2 ORDER BY win_start, c_nationkey NULLS FIRST"""),
    doc = "stream-static broadcast enrichment join + tumbling rollup per nation")

  /** X5 — the same tumbling aggregation fed by a REAL distributed source:
    * `readStream` directly over the events parquet directory. No driver-side
    * collect/replay anywhere — executors scan the files, the micro-batch
    * engine drives the same logical plan as x52, and the result must match
    * the batch twin q25 row-for-row (asserted in StreamingSpec). This is the
    * ingest shape a 100 TB/day file-drop pipeline runs. */
  val x55 = GraftQuery(
    "x55_stream_file_tumbling",
    (spark, sfDir) => {
      val name = s"x55_out_${System.nanoTime()}"
      val q = Streaming.tumblingCounts(Tables.eventsStream(spark, sfDir))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try { q.processAllAvailable() } finally q.stop()
      spark.table(name)
        .select(unix_timestamp(col("win_start")).as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    },
    // The streaming answer must equal the batch q25 answer exactly (decimal
    // sum → order-independent), so it shares q25's DuckDB oracle verbatim.
    graft.engine.relational.RelationalQueries.q25.oracle,
    doc = "file-source readStream over events parquet → tumbling agg (no driver replay)")

  /** X5 — stream–stream interval join through the real micro-batch engine:
    * views and clicks arrive on two MemoryStreams in two event-time-ordered
    * micro-batches (so cross-batch matches really flow through the join
    * state store), each click attributed to same-user views within the
    * preceding 6 h. Inner join emission is watermark-independent, so the
    * streamed pairs equal the batch interval join exactly and the per-user
    * rollup is DuckDB-oracle-checked (decimal-exact sum). */
  val x56 = GraftQuery(
    "x56_stream_interval_join",
    (spark, sfDir) => {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val events = Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .orderBy(col("ts"), col("event_id")).limit(20000)
        .as[Streaming.Event].collect()
      val splitTs = events(events.length / 2).ts.getTime
      def halves(a: Array[Streaming.Event]) = a.partition(_.ts.getTime < splitTs)
      val (v1, v2) = halves(events.filter(_.event_type == "view"))
      val (c1, c2) = halves(events.filter(_.event_type == "click"))
      val views = MemoryStream[Streaming.Event]
      val clicks = MemoryStream[Streaming.Event]
      val name = s"x56_out_${System.nanoTime()}"
      // A stream-stream join runs FOUR state stores per shuffle partition
      // per micro-batch, and a watermark advance appends no-data batches
      // that re-commit every store; at the session's 32 partitions this
      // 20k-row harness stream spent ~10 s on store setup/commit I/O
      // alone. Neither dial is a result input (inner interval-join
      // emission is micro-batch-, partitioning-, and watermark-invariant),
      // so run the stream at 4 partitions with no-data batches off and
      // restore after. Production sizes partitions to throughput; the
      // state-per-partition SHAPE is what carries to 100 TB.
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      val prevNoData = spark.conf
        .getOption("spark.sql.streaming.noDataMicroBatches.enabled")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      // everything from the first conf.set is guarded: a failed .start()
      // must not leave the SHARED session at 4 partitions for every later
      // query in the run
      try {
        val q = Streaming.intervalJoin(views.toDF(), clicks.toDF(), "6 hours")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          views.addData(v1.toSeq); clicks.addData(c1.toSeq); q.processAllAvailable()
          views.addData(v2.toSeq); clicks.addData(c2.toSeq); q.processAllAvailable()
        } finally q.stop()
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        prevNoData match {
          case Some(v) => spark.conf
            .set("spark.sql.streaming.noDataMicroBatches.enabled", v)
          case None => spark.conf
            .unset("spark.sql.streaming.noDataMicroBatches.enabled")
        }
      }
      spark.table(name)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          graft.engine.relational.Exact.dsum(col("click_value")).as("sum_click_value"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH ev AS (SELECT * FROM events ORDER BY ts, event_id LIMIT 20000),
      v AS (SELECT user_id, ts AS view_ts FROM ev WHERE event_type = 'view'),
      c AS (SELECT user_id, ts AS click_ts, value AS click_value
            FROM ev WHERE event_type = 'click')
      SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        ${graft.engine.relational.Exact.sqlDsum("c.click_value")} AS sum_click_value
      FROM v JOIN c ON v.user_id = c.user_id
        AND c.click_ts >= v.view_ts
        AND c.click_ts <= v.view_ts + INTERVAL 6 HOUR
      GROUP BY 1 ORDER BY 1"""),
    doc = "stream-stream interval join over two MemoryStreams, per-user rollup oracle")

  /** X5 — LEFT-OUTER stream–stream interval join: the emission-timing class
    * x56 pins for the inner case, pinned for the outer case. A view with no
    * click in [view_ts, view_ts + 6 h] is emitted null-padded only once the
    * watermark proves no match can arrive; the harness flushes with
    * far-future sentinel events on BOTH streams (global watermark = min of
    * the two), advancing the watermark past every real view's window — so
    * the streamed output equals the full batch LEFT JOIN exactly and DuckDB
    * replays it. Sentinels use negative user ids (reals are >= 0) so they
    * can never match, and are excluded from the rollup. Unlike x56,
    * no-data micro-batches stay ENABLED: the null-padding batch runs on
    * watermark advance, which is the very semantics under test. */
  val x57 = GraftQuery(
    "x57_stream_interval_join_outer",
    (spark, sfDir) => {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val events = Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .orderBy(col("ts"), col("event_id")).limit(20000)
        .as[Streaming.Event].collect()
      val splitTs = events(events.length / 2).ts.getTime
      val maxTs = events.map(_.ts.getTime).max
      def halves(a: Array[Streaming.Event]) = a.partition(_.ts.getTime < splitTs)
      val (v1, v2) = halves(events.filter(_.event_type == "view"))
      val (c1, c2) = halves(events.filter(_.event_type == "click"))
      // watermark must clear max(view_ts) + 6 h window + 10 min delay
      val flushTs = new java.sql.Timestamp(maxTs + 7L * 3600 * 1000)
      val vFlush = Streaming.Event(-1L, flushTs, -1L, "view", 0.0)
      val cFlush = Streaming.Event(-2L, flushTs, -2L, "click", 0.0)
      val views = MemoryStream[Streaming.Event]
      val clicks = MemoryStream[Streaming.Event]
      val name = s"x57_out_${System.nanoTime()}"
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      // x56's state-store dial; unlike x56, no-data micro-batches stay
      // ENABLED (null emission rides the watermark-advance batch — the
      // very semantics under test). 2 partitions measured WORSE than 4
      // (the batch stages lose parallelism faster than store-commit I/O
      // shrinks), so 4 it is.
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = Streaming.intervalJoinLeftOuter(
            views.toDF(), clicks.toDF(), "6 hours")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          views.addData(v1.toSeq); clicks.addData(c1.toSeq); q.processAllAvailable()
          views.addData(v2.toSeq); clicks.addData(c2.toSeq); q.processAllAvailable()
          views.addData(Seq(vFlush)); clicks.addData(Seq(cFlush))
          q.processAllAvailable()
        } finally q.stop()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.table(name)
        .filter(col("user_id") >= 0)
        .groupBy(col("user_id"))
        .agg(count(col("click_id")).cast("long").as("n_pairs"),
          sum(when(col("click_id").isNull, 1L).otherwise(0L))
            .cast("long").as("n_unmatched"),
          coalesce(graft.engine.relational.Exact.dsum(col("click_value")),
            lit(0.0)).as("sum_click_value"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH ev AS (SELECT * FROM events ORDER BY ts, event_id LIMIT 20000),
      v AS (SELECT user_id, ts AS view_ts FROM ev WHERE event_type = 'view'),
      c AS (SELECT user_id AS cu, ts AS click_ts, value AS click_value
            FROM ev WHERE event_type = 'click'),
      j AS (SELECT v.user_id, c.click_ts, c.click_value
            FROM v LEFT JOIN c ON v.user_id = c.cu
              AND c.click_ts >= v.view_ts
              AND c.click_ts <= v.view_ts + INTERVAL 6 HOUR)
      SELECT user_id, CAST(COUNT(click_ts) AS BIGINT) AS n_pairs,
        CAST(SUM(CASE WHEN click_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_unmatched,
        COALESCE(${graft.engine.relational.Exact.sqlDsum("j.click_value")}, 0.0)
          AS sum_click_value
      FROM j GROUP BY 1 ORDER BY 1"""),
    doc = "left-outer stream-stream interval join, watermark-flushed to batch equality")

  /** X5/S — STREAMING JSONL ingest: the exchange-format reader as an
    * always-on pipeline. `Jsonl.readJsonlStream` applies the identical
    * declared-schema/PERMISSIVE/quarantine parse as the batch reader
    * (shared code path) over a file-source readStream; the streamed
    * clean rows must equal the parquet original and the three planted
    * corrupt lines must surface as quarantine rows — no silent loss,
    * micro-batch by micro-batch. Oracle = q86's shape plus the planted
    * quarantine literals. */
  val x58 = GraftQuery(
    "x58_stream_jsonl",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      val dir = Artifacts.scratch("x58_jsonl")
      graft.engine.sources.Jsonl.writeJsonl(docs.coalesce(8), s"$dir/docs")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/docs/planted_bad_lines.txt"),
        java.util.Arrays.asList("{ this is not valid json", "null", ""),
        java.nio.charset.StandardCharsets.UTF_8)
      val stream = graft.engine.sources.Jsonl.readJsonlStream(
        spark, s"$dir/docs", docs.schema)
      val name = s"x58_out_${System.nanoTime()}"
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val all = spark.table(name)
      val corrupt = col(graft.engine.sources.Jsonl.corruptCol)
      all.filter(corrupt.isNull)
        .select(col("doc_id"), col("lang"), col("source"),
          md5(col("text").cast("binary")).as("text_md5"), col("n_chars"))
        .unionByName(all.filter(corrupt.isNotNull)
          .select(
            when(corrupt === "{ this is not valid json", -3L)
              .when(corrupt === "null", -2L).otherwise(-1L).as("doc_id"),
            lit("quarantine").as("lang"), lit("quarantine").as("source"),
            md5(corrupt.cast("binary")).as("text_md5"),
            lit(-1L).as("n_chars")))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, source, md5(text) AS text_md5, n_chars
      FROM documents
      UNION ALL SELECT * FROM (VALUES
        (CAST(-3 AS BIGINT), 'quarantine', 'quarantine',
          md5('{ this is not valid json'), CAST(-1 AS BIGINT)),
        (CAST(-2 AS BIGINT), 'quarantine', 'quarantine', md5('null'),
          CAST(-1 AS BIGINT)),
        (CAST(-1 AS BIGINT), 'quarantine', 'quarantine', md5(''),
          CAST(-1 AS BIGINT)))
      ORDER BY doc_id"""),
    doc = "streaming JSONL ingest == parquet original + quarantined corrupt lines")

  /** x59 — ALWAYS-ON end-to-end curation, the streaming twin of q88:
    * JSONL micro-batches → quarantine routing → watermark-state exact
    * dedup → incremental near-dup against the PUBLISHED banded signature
    * snapshot (q91's store posture) → per-tick append-publish through the
    * bucketed SnapshotStore merge (q95's write path). Every planted
    * species is observable: corrupt lines land in quarantine, stream
    * duplicates collapse to one representative, copies of historical
    * documents are dropped by the verified near-dup stage, and genuinely
    * new content is published.
    *
    * The emitted rows are micro-batch-boundary INVARIANT (which
    * micro-batch a file lands in is scheduler-dependent): the surviving
    * CONTENT-KEY set and the quarantined line set are identical under any
    * batch split, so DuckDB replays them from the planting predicates
    * alone. Representative doc_ids are deliberately NOT emitted — that
    * identity is first-arrival, the one boundary-dependent fact. */
  val x59 = GraftQuery(
    "x59_stream_curation",
    (spark, sfDir) => {
      import graft.engine.llm.Dedup
      import graft.engine.sources.SnapshotStore
      val base = Artifacts.scratch("x59")
      val docs = Tables.documents(spark, sfDir)
      val history = docs.filter(col("doc_id") < 250)
        .select(col("doc_id"), col("text"))
      // bootstrap: history exists ONLY as published signature artifacts.
      // Non-eager checkpoints — the band-table publish materializes the
      // signatures, the first tick's survivors probe materializes the keys
      val exSigs = Dedup.minHashSignatures(history, "text", "doc_id")
        .localCheckpoint(eager = false)
      // session-shared artifact (Artifacts scaladoc): the frozen-history
      // band table is deterministic — the cold catalog write (3.7 s
      // measured) is paid once per session
      val bandTable = graft.engine.Artifacts.table("x59bands", sfDir)
      Dedup.ensureBandedSignatures(spark, exSigs, bandTable, numBuckets = 8)
      val exKeys = history.select(col("doc_id").as("id_ex"),
        Dedup.contentKey(col("text")).as("ck_ex"))
        .localCheckpoint(eager = false)
      // incoming: new docs + copies of history (near-dup drops) + stream
      // duplicates of incoming docs (watermark-state drops)
      // bounded fixture (x56's 20k-event precedent): the contract under
      // test is the pipeline SHAPE per tick, not scan throughput — the
      // batch queries already measure that
      val incoming = docs
        .filter(col("doc_id") >= 250 && col("doc_id") < 2000)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 25 === 0 && col("doc_id") < 250)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 40 === 7 &&
            col("doc_id") >= 250 && col("doc_id") < 2000)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      graft.engine.sources.Jsonl.writeJsonl(incoming.coalesce(4), s"$base/in")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/in/planted_bad_lines.txt"),
        java.util.Arrays.asList("{ this is not valid json", "null", ""),
        java.nio.charset.StandardCharsets.UTF_8)
      // per-tick state-store + merge costs dominate at harness scale; the
      // x56 partition dial (result-neutral: emission is partition-invariant,
      // and dropDuplicates state emits rows immediately, so watermark-only
      // no-data batches add nothing but store re-commits)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      val prevNoData = spark.conf
        .get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      try {
        val q = Streaming.streamingCuration(spark, s"$base/in",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType))),
          spark.table(bandTable), exSigs, exKeys,
          s"$base/store/tbl", s"$base/quarantine",
          readOptions = Map("maxFilesPerTrigger" -> "3"))
        try q.processAllAvailable() finally q.stop()
        SnapshotStore.read(spark, s"$base/store/tbl")
          .select(col("ck").as("k")).distinct()
          .withColumn("kind", lit("kept"))
          .unionByName(spark.read
            .option("recursiveFileLookup", "true") // per-batchId subdirs
            .parquet(s"$base/quarantine")
            .select(md5(col("raw").cast("binary")).as("k")).distinct()
            .withColumn("kind", lit("quarantine")))
          .select(col("kind"), col("k"))
          .localCheckpoint() // small; total sort's sampling pass re-runs upstream
          .orderBy(col("kind"), col("k"))
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
          prevNoData)
      }
    },
    Some("""WITH hist AS (SELECT DISTINCT md5(lower(trim(text))) AS ck
          FROM documents WHERE doc_id < 250),
      inc AS (SELECT md5(lower(trim(text))) AS ck FROM documents
          WHERE doc_id >= 250 AND doc_id < 2000
        UNION ALL SELECT md5(lower(trim(text))) FROM documents
          WHERE doc_id % 25 = 0 AND doc_id < 250
        UNION ALL SELECT md5(lower(trim(text))) FROM documents
          WHERE doc_id % 40 = 7 AND doc_id >= 250 AND doc_id < 2000)
      SELECT 'kept' AS kind, ck AS k
      FROM (SELECT DISTINCT ck FROM inc
            WHERE ck NOT IN (SELECT ck FROM hist))
      UNION ALL
      SELECT 'quarantine' AS kind, md5(x) AS k
      FROM (VALUES ('{ this is not valid json'), ('null'), ('')) t(x)
      ORDER BY kind, k"""),
    doc = "always-on curation: stream ingest + dedup + published-signature " +
      "near-dup + merge-publish == batch-derivable content-key sets")

  /** q80 — video frame sampling (every-2nd-frame over byte-chunk frames),
    * ORACLE-checked at the VALUE level: the chunk arithmetic is pure
    * integer math over the UTF-8 byte length, so DuckDB replays every
    * media's emitted-frame count and total frame bytes exactly. Replaces
    * the former rows-only x60 summary — together with q58 (decode path)
    * the whole multimodal pipeline is now value-verified. */
  val q80 = GraftQuery(
    "q80_frame_sample",
    (spark, sfDir) => {
      val media = graft.engine.llm.Multimodal.fromDocuments(
        Tables.documents(spark, sfDir))
      graft.engine.llm.Multimodal.frameSample(media, everyK = 2).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).cast("bigint").as("n_frames_emitted"),
          sum(length(col("frame_bytes"))).cast("bigint").as("total_frame_bytes"))
        .orderBy(col("media_id"))
    },
    Some("""WITH v AS (SELECT doc_id AS media_id,
          octet_length(encode(text)) AS len,
          CAST(doc_id % 30 + 1 AS INT) AS n
        FROM documents WHERE doc_id % 3 = 2),
      c AS (SELECT media_id, len, n, greatest(len // n, 1) AS c FROM v),
      f AS (SELECT media_id, list_transform(range(0, n, 2),
          f -> greatest(least(f * c + c, len) - f * c, 0)) AS fb FROM c)
      SELECT media_id, CAST(len(fb) AS BIGINT) AS n_frames_emitted,
        CAST(list_aggregate(fb, 'sum') AS BIGINT) AS total_frame_bytes
      FROM f ORDER BY media_id"""),
    doc = "frame sampling byte-chunk arithmetic, value-level DuckDB twin")

  /** Oracle-checked multimodal decode: the stub decoder's bin-7 byte mass
    * is integer-recoverable (see Multimodal.oracleSummary), so DuckDB can
    * replay the whole binary-column → mapPartitions-decode → aggregate
    * pipeline from the raw text with a byte-class regexp. */
  val q58 = GraftQuery(
    "q58_multimodal_decode",
    (spark, sfDir) =>
      graft.engine.llm.Multimodal.oracleSummary(spark, Tables.documents(spark, sfDir)),
    Some("""SELECT
        CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
          WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        COUNT(*) AS n_media,
        CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        CAST(SUM(length(regexp_replace(text, '[^\x70-\x7f]', '', 'g')))
          AS BIGINT) AS n_bin7_bytes
      FROM documents GROUP BY 1 ORDER BY 1"""),
    doc = "binary media decode (stub histogram) with integer-exact DuckDB twin")

  /** q94 — REAL image decode (JDK ImageIO), value-pinned: planted
    * checkerboard PNGs are encoded on the executors, decoded by the real
    * `javax.imageio` reader, and every decoded statistic (width, height,
    * per-channel byte sums, 16-bin luminance histogram counts) is emitted
    * as BIGINT. The DuckDB twin recomputes all of them from doc_id
    * arithmetic alone — a hash match proves the PNG encode → decode round
    * trip reproduced the planted pixels exactly. Closes the multimodal
    * decoder-stub gap: the decode step is now a real codec, not a
    * byte-histogram stand-in. */
  val q94 = GraftQuery(
    "q94_image_decode",
    (spark, sfDir) =>
      graft.engine.llm.Multimodal.imageDecodeAudit(
        Tables.documents(spark, sfDir)),
    Some("""WITH g AS (SELECT doc_id,
          doc_id % 16 + 1 AS w, doc_id % 8 + 1 AS h,
          doc_id % 256 AS ra, doc_id * 7 % 256 AS ga, doc_id * 13 % 256 AS ba,
          doc_id * 3 % 256 AS rb, doc_id * 11 % 256 AS gb, doc_id * 17 % 256 AS bb
        FROM documents),
      c AS (SELECT *, w * h AS n,
          (w * h + (w % 2) * (h % 2)) // 2 AS na,
          w * h - (w * h + (w % 2) * (h % 2)) // 2 AS nb,
          ((299 * ra + 587 * ga + 114 * ba) // 1000) // 16 AS bin_a,
          ((299 * rb + 587 * gb + 114 * bb) // 1000) // 16 AS bin_b
        FROM g)
      SELECT c.doc_id AS media_id,
        CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        CAST(na * ra + nb * rb AS BIGINT) AS sum_r,
        CAST(na * ga + nb * gb AS BIGINT) AS sum_g,
        CAST(na * ba + nb * bb AS BIGINT) AS sum_b,
        CAST(t.bin AS BIGINT) AS bin,
        CAST(CASE WHEN bin_a = t.bin THEN na ELSE 0 END
           + CASE WHEN bin_b = t.bin THEN nb ELSE 0 END AS BIGINT) AS cnt
      FROM c CROSS JOIN range(16) t(bin)
      ORDER BY media_id, bin"""),
    doc = "real JDK-ImageIO decode pinned to a DuckDB arithmetic twin")

  /** q107 — REAL audio decode (JDK AudioSystem), value-pinned: planted
    * PCM clips are WAV-encoded on the executors, decoded by the real
    * `javax.sound.sampled` reader, and every decoded statistic (sample
    * rate from the container header, frame count, |sample| sum, 16-bin
    * amplitude histogram counts) is emitted as BIGINT. The DuckDB twin
    * recomputes all of them from doc_id arithmetic alone — a hash match
    * proves the WAV encode → decode round trip reproduced the planted
    * samples exactly. Closes the q94 gap for audio: of the three
    * modalities only video (genuinely no JDK codec) keeps the
    * byte-histogram stand-in. */
  val q107 = GraftQuery(
    "q107_audio_decode",
    (spark, sfDir) =>
      graft.engine.llm.Multimodal.audioDecodeAudit(
        Tables.documents(spark, sfDir)),
    Some("""WITH s AS (SELECT doc_id,
          ((doc_id * 2654435761 + i.generate_series * 40503) % 65536)
            - 32768 AS smp
        FROM documents, generate_series(0, 31) i
        WHERE i.generate_series <= doc_id % 32),
      agg AS (SELECT doc_id,
          CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
          CAST(COUNT(*) AS BIGINT) AS n_frames,
          CAST(SUM(ABS(smp)) AS BIGINT) AS sum_abs
        FROM s GROUP BY doc_id),
      bins AS (SELECT doc_id, CAST((smp + 32768) // 4096 AS BIGINT) AS bin,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM s GROUP BY doc_id, bin)
      SELECT a.doc_id AS media_id, a.sample_rate, a.n_frames, a.sum_abs,
        b.bin, b.cnt
      FROM agg a JOIN bins b ON a.doc_id = b.doc_id
      ORDER BY media_id, bin"""),
    doc = "real JDK-AudioSystem WAV decode pinned to a DuckDB arithmetic twin")

  /** x60 — ALWAYS-ON incremental aggregate maintenance (a streaming
    * materialized view): JSONL micro-batches fold into the
    * [[graft.engine.sources.IncrementalAgg]] store tick by tick — each
    * tick partial-aggregates ITS batch alone, reads only the touched
    * `_bucket` partitions, and merge-upserts (untouched buckets
    * hardlink-carry). The maintained table is batch-boundary INVARIANT
    * (addition commutes), so DuckDB replays it as one full-corpus
    * GROUP BY; `n_versions` = 3 is deterministic because the input is
    * written as exactly three JSONL part-files and `maxFilesPerTrigger=1`
    * caps each tick at one file — three non-empty ticks, three versions
    * (bootstrap + two delta merges). The q93 HLL twin maintains
    * distinct-count sketches under this exact posture; this closes the
    * loop for exact additive aggregates. */
  val x60 = GraftQuery(
    "x60_stream_incremental_agg",
    (spark, sfDir) => {
      import graft.engine.sources.{IncrementalAgg, Jsonl, SnapshotStore}
      val base = Artifacts.scratch("x60_magg")
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"), col("value"))
      // exactly three part-files -> exactly three one-file ticks
      Jsonl.writeJsonl(ev.repartition(3), s"$base/in")
      val schema = ev.schema
      val root = s"$base/store/agg"
      val q = Jsonl.readJsonlStream(spark, s"$base/in", schema,
          Map("maxFilesPerTrigger" -> "1"))
        .filter(col(Jsonl.corruptCol).isNull)
        .select(col("event_type"), col("value"))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          // foreachBatch is at-least-once and addition is not idempotent:
          // the per-batch tag makes a replayed committed epoch a no-op
          // (recorded atomically with the version flip)
          IncrementalAgg.refresh(batch, root,
            keyCol = "event_type", valueCol = "value", nBuckets = 8,
            tag = Some(s"batch-$batchId"))
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      IncrementalAgg.read(spark, root)
        .select(col("event_type"), col("n").as("n_events"),
          col("s").cast("double").as("sum_value"))
        .withColumn("n_versions", lit(SnapshotStore.currentVersion(root)))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value,
        CAST(3 AS BIGINT) AS n_versions
      FROM events GROUP BY event_type ORDER BY event_type"""),
    doc = "streaming materialized view: per-tick delta-cost aggregate maintenance")

  /** x61 — the binned range join under the MICRO-BATCH engine: streaming
    * events (file-source readStream, no driver replay) range-joined
    * against the STATIC view-window table — the stream-static enrichment
    * shape where the enrichment key is an interval, not an equality.
    * [[graft.engine.relational.RangeJoin.pointInInterval]] works on the
    * unbounded side unchanged because it only adds a narrow bin column
    * before a plain stream-static equi-join; the per-window aggregate is
    * batch-boundary invariant (counts add, decimal sums are
    * order-independent), and the final left-join back to the window list
    * runs as a batch step over the complete-mode sink. Shares q96's
    * DuckDB oracle verbatim — the streamed execution is value-verified
    * equivalent to the batch plan, the q51/q92 pattern. */
  val x61 = GraftQuery(
    "x61_stream_range_join",
    (spark, sfDir) => {
      import graft.engine.relational.RangeJoin
      val ev = Tables.events(spark, sfDir)
      val windows = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"),
          unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) +
            expr("CAST(FLOOR(value * 10) AS BIGINT)") * 1000000L).as("e_us"))
      val streamPoints = Tables.eventsStream(spark, sfDir)
        .select(col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us"), col("value").as("p_value"))
      val name = s"x61_out_${System.nanoTime()}"
      val q = RangeJoin
        .pointInInterval(streamPoints, windows, "p_us", "s_us", "e_us",
          binWidth = 3600L * 1000000L)
        .groupBy(col("view_id"))
        .agg(graft.engine.relational.Exact.lcount().as("n_hits"),
          graft.engine.relational.Exact.dsum(col("p_value")).as("sum_value"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      windows.select(col("view_id"))
        .join(spark.table(name), Seq("view_id"), "left_outer")
        .select(col("view_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("sum_value"))
        .orderBy(col("view_id"))
    },
    graft.engine.relational.StatsQueries.q96.oracle,
    doc = "stream-static binned range join == batch q96 (shared oracle)")

  /** x62 — ALWAYS-ON ANN ingestion: the q111 published-index lifecycle
    * under the micro-batch engine. Codebooks train and publish ONCE;
    * each streamed ingest file encodes against the SAME published
    * codebooks and lands in the cell-bucketed codes store through the
    * insert-only [[graft.engine.sources.SnapshotStore.append]] (O(batch)
    * per tick — new files into touched cells, hardlink carryover, no
    * history re-encoded). `foreachBatch` is at-least-once and append is
    * not idempotent, so the per-batch tag makes a replayed epoch a
    * no-op, recorded atomically with the version flip. The final probe
    * runs against the store's CURRENT version at q87's exact settings
    * (nprobe = nlist, lossless codebooks), so the result must equal
    * DuckDB's brute-force cosine ranking — any row lost or doubled
    * across the three ticks breaks the rows. Version arithmetic is
    * asserted inline: bootstrap + two one-file ticks = 3 versions. */
  val x62 = GraftQuery(
    "x62_stream_ann_ingest",
    (spark, sfDir) => {
      import graft.engine.llm.{AnnIndex, Similarity}
      import graft.engine.sources.SnapshotStore
      val base = Artifacts.scratch("x62_ann")
      val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 100)
      AnnIndex.publishIndex(spark, s"$base/index",
        Similarity.ivfCentroids(emb, nlist = 4, iters = 1),
        Similarity.pqCodebooksExact(emb, m = 4))
      val (cents, books) = AnnIndex.loadIndex(spark, s"$base/index")
      val codesRoot = s"$base/codes"
      // bootstrap with the first ingest batch; stream the rest as
      // exactly two one-file ticks
      AnnIndex.publishCodes(emb.filter(col("vec_id") < 34), codesRoot,
        cents, books, nBuckets = 4)
      emb.filter(col("vec_id") >= 34).repartition(2)
        .write.parquet(s"$base/in")
      val q = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          AnnIndex.appendCodes(batch, codesRoot, cents, books,
            tag = Some(s"batch-$batchId"))
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      require(SnapshotStore.currentVersion(codesRoot) == 3L,
        "bootstrap + two one-file ticks must mint exactly 3 versions")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), 5,
          cents, books, nprobe = 4,
          codes = Some(AnnIndex.readCodes(spark, codesRoot)))
        .select(col("qid"), col("rnk"), col("nid"))
        .orderBy(col("qid"), col("rnk"))
    },
    graft.engine.llm.LlmQueries.q84.oracle,
    doc = "streaming ANN ingest: per-tick encode+append into the " +
      "published store == exact cosine ranking (shared q84 oracle)")

  /** x63 — ALWAYS-ON multimodal ingestion dedup: the q68/q91 incremental
    * posture applied to IMAGE blobs through the real decode. Bootstrap
    * publishes the base corpus's decoded-pixel content keys as a
    * pixkey-BUCKETED store; each micro-batch then (a) decodes and
    * signature-hashes ITSELF ([[graft.engine.llm.Multimodal
    * .imageSignatures]] — the codec boundary, batch-sized), (b) dedups
    * within-batch by min media_id, (c) anti-joins the published key
    * store (bucketed → the recurring probe reads stay pruned; history
    * blobs are NEVER re-decoded — only their 16-byte keys live in the
    * store), and (d) appends the surviving keys with a per-batch tag
    * (exactly-once across restarts, the x62 discipline). Survivors are
    * read back from the STORE — the maintained artifact is the answer.
    *
    * Determinism: the two stream batches carry disjoint pixel classes
    * (ids 100–179 and 180–299: classes mod 256 never collide across
    * them), so the survivor set is identical under any tick order or
    * coalescing; planted duplicates are copies of BASE images (dropped
    * against the store whatever the order) plus one within-batch copy
    * (dropped by the min-id rule). The DuckDB twin enumerates survivors
    * from the same mod-256 arithmetic as q122 — ids 100..255 exactly —
    * and pins n_versions = 3 (bootstrap + one append per batch). */
  val x63 = GraftQuery(
    "x63_stream_media_dedup",
    (spark, sfDir) => {
      import graft.engine.llm.Multimodal
      import graft.engine.sources.SnapshotStore
      import spark.implicits._
      val base = Artifacts.scratch("x63_media")
      val ids = Tables.documents(spark, sfDir).select(col("doc_id"))
      def media(lo: Long, hi: Long) = Multimodal.syntheticImages(
        ids.filter(col("doc_id") >= lo && col("doc_id") < hi))
      val keysRoot = s"$base/keys"
      // bootstrap: base corpus keys, bucketed on the content key
      SnapshotStore.publishBucketed(
        Multimodal.imageSignatures(media(0L, 100L)).toDF()
          .select(col("pixkey"), col("media_id")),
        keysRoot, "pixkey", nBuckets = 4)
      // two ingest files with disjoint pixel classes; the second also
      // carries planted dups: copies of base images + one in-batch copy
      media(100L, 180L).toDF().coalesce(1)
        .write.mode("append").parquet(s"$base/in")
      media(180L, 300L).unionByName(
          media(0L, 100L).filter(_.media_id % 25 == 0)
            .map(m => m.copy(media_id = m.media_id + 100000)))
        .unionByName(media(180L, 181L)
          .map(m => m.copy(media_id = m.media_id + 100000)))
        .toDF().coalesce(1)
        .write.mode("append").parquet(s"$base/in")
      val mediaSchema = media(0L, 1L).schema
      val q = spark.readStream.schema(mediaSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val sigs = Multimodal.imageSignatures(
            batch.as[Multimodal.MediaRow]).toDF()
          val withinBatch = sigs.groupBy(col("pixkey"))
            .agg(min(col("media_id")).as("media_id"))
            .localCheckpoint() // feeds the bucket probe AND the anti-join
          // touched-bucket pruned history read (the IncrementalAgg
          // idiom): the batch's keys name their buckets, the store scan
          // reads ONLY those _bucket partitions — the 100 TB key history
          // stays cold, and blobs are never re-decoded. Spec AND data
          // are pinned to ONE version (bucketSpecAt(base) + read(base)):
          // resolving them separately would let a rebucket landing in
          // between prune the anti-join by the WRONG buckets — silent
          // duplicate re-admission, not an error.
          val base = SnapshotStore.currentVersion(keysRoot)
          val (specKey, nb) = SnapshotStore.bucketSpecAt(keysRoot, base)
            .getOrElse(throw new IllegalStateException(
              s"$keysRoot lost its bucket spec"))
          require(specKey == "pixkey", s"unexpected bucket key $specKey")
          val touched = withinBatch
            .select(SnapshotStore.bucketExpr("pixkey", nb).as("_bucket"))
            .distinct().collect().map(_.getInt(0)).toSeq
          val fresh = withinBatch.join(
            SnapshotStore.read(spark, keysRoot, base)
              .filter(col("_bucket").isin(touched.map(Int.box): _*))
              .select(col("pixkey")),
            Seq("pixkey"), "left_anti")
          SnapshotStore.append(fresh.select(col("pixkey"), col("media_id")),
            keysRoot, tag = Some(s"batch-$batchId"))
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      SnapshotStore.read(spark, keysRoot)
        .filter(col("media_id") >= 100L)
        .select(col("media_id"))
        .withColumn("n_versions", lit(SnapshotStore.currentVersion(keysRoot)))
        .orderBy(col("media_id"))
    },
    Some("""SELECT doc_id AS media_id, CAST(3 AS BIGINT) AS n_versions
      FROM documents WHERE doc_id >= 100 AND doc_id < 256
      ORDER BY media_id"""),
    doc = "streaming image-blob ingestion dedup: per-tick decode + " +
      "within-batch min-id dedup + anti-join against the published " +
      "bucketed key store + tagged append; survivors == the mod-256 " +
      "first-seen classes, enumerated arithmetically by the twin")

  /** x64 — ALWAYS-ON decontamination: q129's published-benchmark posture
    * under the micro-batch engine. The benchmark 13-gram store freezes
    * ONCE (catalog bucketed+sorted `ng_key` table); each streamed ingest
    * file gates against it — the frozen side contributes zero exchanges
    * per tick — and the per-doc flags land in a doc-bucketed SnapshotStore
    * through the insert-only tagged append (documents never straddle
    * ticks, so per-tick per-doc aggregation is complete and the appends
    * are disjoint; the tag makes a replayed epoch a no-op). The union of
    * the ticks must equal q64's one-shot batch answer — DuckDB replays it
    * as the full-corpus contamination — and `n_versions` pins three
    * one-file ticks = 3 real versions (the first tick bootstraps with
    * the same tag, so its replay is the same no-op as an append's). */
  val x64 = GraftQuery(
    "x64_stream_decontamination",
    (spark, sfDir) => {
      import graft.engine.llm.Curation
      import graft.engine.sources.SnapshotStore
      val base = Artifacts.scratch("x64_decon")
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      // session-shared with q129/q133 (Artifacts scaladoc)
      val table = graft.engine.Artifacts.table("bench13", sfDir)
      Curation.ensureBenchmarkNgrams(spark,
        docs.filter(col("doc_id") < 25), "text", table, n = 13)
      locally {
        val bench = spark.table(table)
        // exactly three one-file ticks of the recurring ingest
        docs.filter(col("doc_id") >= 25).repartition(3)
          .write.mode("overwrite").parquet(s"$base/in")
        // n_versions below is oracle-pinned to 3 (bootstrap + 2 appends),
        // which presumes repartition(3) landed three non-empty data files
        // and maxFilesPerTrigger=1 made each its own tick. Assert the
        // premise HERE so a drift (a tiny SF emptying a partition, an
        // engine change skipping empty files) fails naming the real cause
        // instead of surfacing as an opaque oracle hash mismatch.
        requireTickFiles(spark, s"$base/in", 3, "x64")
        val root = s"$base/store/flags"
        val q = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
          .writeStream.outputMode("append")
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              val flags = Curation.contaminationBucketed(batch, bench,
                "text", "doc_id", n = 13)
              // first tick bootstraps the store (same tag, so a replayed
              // first epoch is the same no-op as a replayed append)
              if (SnapshotStore.currentVersion(root) == 0)
                SnapshotStore.publishBucketed(flags, root, "doc_id",
                  nBuckets = 8, tag = Some(s"batch-$batchId"))
              else
                SnapshotStore.append(flags, root,
                  tag = Some(s"batch-$batchId"))
              ()
          }
          .option("checkpointLocation", s"$base/ckpt")
          .start()
        try q.processAllAvailable() finally q.stop()
        SnapshotStore.read(spark, root)
          .select(col("doc_id"), col("n_ngrams"), col("n_contaminated"),
            col("contamination"))
          .withColumn("n_versions",
            lit(SnapshotStore.currentVersion(root)))
          .orderBy(col("doc_id"))
      }
    },
    Some("""WITH t AS (SELECT doc_id,
        string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
      ng AS (SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(ws) < 13 THEN [array_to_string(ws, ' ')]
          ELSE list_transform(generate_series(1, len(ws) - 12),
            i -> array_to_string(ws[i:i+12], ' ')) END)) AS ng
        FROM t),
      b AS (SELECT DISTINCT ng FROM ng WHERE doc_id < 25)
      SELECT ng.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
        CAST(COUNT(b.ng) AS BIGINT) AS n_contaminated,
        ROUND(CAST(COUNT(b.ng) AS DOUBLE) / COUNT(*), 6) AS contamination,
        CAST(3 AS BIGINT) AS n_versions
      FROM ng LEFT JOIN b USING (ng) WHERE ng.doc_id >= 25
      GROUP BY 1 ORDER BY 1"""),
    doc = "always-on decontamination: per-tick gate vs the frozen " +
      "benchmark n-gram table, flags into a doc-bucketed store via " +
      "tagged appends; union of ticks == one-shot batch answer, " +
      "n_versions pins bootstrap + 3 ticks")

  /** x65 — ALWAYS-ON boilerplate span-trim (VERDICT r12 item 4): the
    * q128/q131 span machinery under the micro-batch engine, via the
    * x64/q129 published-artifact posture. The boilerplate MODEL — md5
    * keys of every 40-char window occurring >= 2 times in the frozen
    * reference half — publishes ONCE as a catalog bucketed+sorted `wk`
    * table ([[graft.engine.llm.Dedup.publishBoilerplateWindows]]); each
    * streamed ingest file then trims itself against it
    * ([[graft.engine.llm.Dedup.trimAgainstPublished]] — the frozen side
    * contributes zero exchanges per tick, plan-gated in
    * StreamingPlanAuditSpec) and appends (doc_id, trimmed_text,
    * n_trimmed_chars) into a doc-bucketed store with tagged
    * exactly-once appends. Because the model is frozen, a doc's spans
    * depend only on its own text — so the union of the ticks MUST equal
    * the one-shot batch trim (`union_eq_oneshot`, computed in-query),
    * and DuckDB replays the whole thing from raw text: the planted
    * boilerplate suffix (appended to every doc on both sides, so its
    * internal windows repeat 250× in the reference) must come off every
    * streamed doc, junction windows (doc text meets boilerplate —
    * unique per doc) must NOT be trimmed, and the trimmed TEXT itself
    * is value-compared. */
  val x65 = GraftQuery(
    "x65_stream_span_trim",
    (spark, sfDir) => {
      import graft.engine.llm.Dedup
      import graft.engine.sources.SnapshotStore
      val base = Artifacts.scratch("x65_trim")
      val bp = " === subscribe to our newsletter for daily updates " +
        "and exclusive offers === "
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), concat(col("text"), lit(bp)).as("text"))
      // Session-amortized model publish (VERDICT r14 item 1): the
      // reference half + planted boilerplate is a pure function of
      // (sfDir, minLen, the doc_id<250 split, the bp literal), so the
      // frozen model publishes once per session via the
      // Artifacts/ensure* pattern (x59/q127/q129/q133's posture) —
      // the ~4.6 s cold bucketed-table write is first-run-only.
      val table = graft.engine.Artifacts.table("x65model",
        s"$sfDir|minLen=40|ref<250|bp=$bp")
      Dedup.ensureBoilerplateModel(spark,
        docs.filter(col("doc_id") < 250), "text", "doc_id", table,
        minLen = 40)
      Par.overlap(spark) { s =>
        val model = spark.table(table)
        val stream = docs.filter(col("doc_id") >= 250)
        stream.repartition(3).write.mode("overwrite").parquet(s"$base/in")
        // same premise assert as x64: the oracle's n_versions = 3 rides
        // on three non-empty one-file ticks
        requireTickFiles(spark, s"$base/in", 3, "x65")
        val root = s"$base/store/trims"
        val outCols = Seq("doc_id", "trimmed_text", "n_trimmed_chars")
        // the ONE-SHOT batch trim is a pure function of (stream, model) —
        // independent of every tick, so it runs CONCURRENTLY with the
        // micro-batch engine (the engine's per-tick planning leaves most
        // cores idle) and is joined only at the equality
        val oneShotF = s.fork(
          Dedup.trimAgainstPublished(stream, model,
              "text", "doc_id", minLen = 40)
            .select(outCols.map(col): _*)
            .localCheckpoint())
        val q = spark.readStream.schema(stream.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
          .writeStream.outputMode("append")
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              val trims = Dedup.trimAgainstPublished(batch, model,
                  "text", "doc_id", minLen = 40)
                .select(col("doc_id"), col("trimmed_text"),
                  col("n_trimmed_chars"))
              if (SnapshotStore.currentVersion(root) == 0)
                SnapshotStore.publishBucketed(trims, root, "doc_id",
                  nBuckets = 8, tag = Some(s"batch-$batchId"))
              else
                SnapshotStore.append(trims, root,
                  tag = Some(s"batch-$batchId"))
              ()
          }
          .option("checkpointLocation", s"$base/ckpt")
          .start()
        try q.processAllAvailable() finally q.stop()
        val ticks = SnapshotStore.read(spark, root)
          .select(outCols.map(col): _*)
        val oneShot = oneShotF.join()
        // ONE fused equality pass (VERDICT r17 item 2; was two exceptAll
        // join-probes over two localCheckpoint materializations — four
        // jobs). The signed row-digest aggregate now lives in
        // Exact.sameMultiset (r22 generalized it to every invariant
        // check); `ticks` content is separately value-checked by the
        // DuckDB oracle.
        val eq = graft.engine.relational.Exact.sameMultiset(ticks, oneShot)
        ticks
          .withColumn("n_versions",
            lit(SnapshotStore.currentVersion(root)))
          .withColumn("union_eq_oneshot", lit(eq))
          .orderBy(col("doc_id"))
      }
    },
    Some("""WITH bp AS (SELECT ' === subscribe to our newsletter for """ +
      """daily updates and exclusive offers === ' AS b),
      ref AS (SELECT doc_id, text || (SELECT b FROM bp) AS text
        FROM documents WHERE doc_id < 250),
      strm AS (SELECT doc_id, text || (SELECT b FROM bp) AS text
        FROM documents WHERE doc_id >= 250),
      rw AS (SELECT substr(text, i+1, 40) AS w
        FROM ref, UNNEST(generate_series(0, length(text)-40)) AS u(i)
        WHERE length(text) >= 40),
      d AS (SELECT w FROM rw GROUP BY w HAVING count(*) >= 2),
      sw AS (SELECT doc_id, i AS pos, substr(text, i+1, 40) AS w
        FROM strm, UNNEST(generate_series(0, length(text)-40)) AS u(i)
        WHERE length(text) >= 40),
      h AS (SELECT doc_id, pos FROM sw SEMI JOIN d USING (w)),
      isl AS (SELECT doc_id, pos,
          CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
              IS NULL
            OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40
            THEN 1 ELSE 0 END AS nw
        FROM h),
      sp AS (SELECT doc_id, pos,
          SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS s
        FROM isl),
      spans AS (SELECT doc_id, MIN(pos) AS st, MAX(pos) + 40 AS en
        FROM sp GROUP BY doc_id, s),
      pieces AS (
        SELECT doc_id,
          COALESCE(lag(en) OVER (PARTITION BY doc_id ORDER BY st), 0)
            AS ks, st AS ke
        FROM spans
        UNION ALL
        SELECT sp2.doc_id, MAX(sp2.en) AS ks, MAX(length(c.text)) AS ke
        FROM spans sp2 JOIN strm c USING (doc_id)
        GROUP BY sp2.doc_id),
      tr AS (SELECT p.doc_id,
          string_agg(substr(c.text, p.ks + 1, p.ke - p.ks), ''
            ORDER BY p.ks) AS trimmed
        FROM pieces p JOIN strm c USING (doc_id)
        GROUP BY p.doc_id)
      SELECT c.doc_id,
        COALESCE(tr.trimmed, c.text) AS trimmed_text,
        CAST(length(c.text) - length(COALESCE(tr.trimmed, c.text))
          AS BIGINT) AS n_trimmed_chars,
        CAST(3 AS BIGINT) AS n_versions, TRUE AS union_eq_oneshot
      FROM strm c LEFT JOIN tr USING (doc_id)
      ORDER BY c.doc_id"""),
    doc = "always-on boilerplate span-trim: frozen window-key model " +
      "(catalog bucketed table) published once, each tick trims itself " +
      "and appends into a doc-bucketed store; union of ticks == " +
      "one-shot batch trim, trimmed text value-replayed from raw text",
    costClass = GraftQuery.FixedLifecycle)

  /** x66 — ALWAYS-ON ANN ingest WITH DELETIONS (x62 + q135 composed
    * under the micro-batch engine): the encoded-corpus store consumes a
    * CDC-style stream of (op, vec_id, embedding) ticks — `add` ticks
    * encode against the published codebooks and append (x62's
    * insert-only wire), a `del` tick tombstones its victims into their
    * own cell buckets ([[graft.engine.llm.AnnIndex.deleteCodes]]) —
    * each under a per-batch tag so a replayed epoch is a no-op. The
    * planted victims live in the BOOTSTRAP half, so tick order cannot
    * change the outcome (adds are disjoint, the delete only touches
    * pre-stream rows — the commutativity a file-source's
    * timestamp-ordered-but-racy delivery requires). After the stream, a
    * compaction rewrites the store without tombstones/victims; the live
    * probe at exact settings (nprobe = nlist, lossless codebooks) must
    * equal DuckDB's brute-force cosine ranking over the SURVIVORS, with
    * the version arithmetic (bootstrap + 2 adds + tombstones +
    * compaction = 5) and probe-invariance-across-compaction pinned
    * in-query. */
  val x66 = GraftQuery(
    "x66_stream_ann_deletion",
    (spark, sfDir) => {
      import graft.engine.llm.{AnnIndex, Similarity}
      import graft.engine.sources.SnapshotStore
      val base = Artifacts.scratch("x66_anndel")
      val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("embedding"))
      AnnIndex.publishIndex(spark, s"$base/index",
        Similarity.ivfCentroids(emb, nlist = 4, iters = 1),
        Similarity.pqCodebooksExact(emb, m = 4))
      val (cents, books) = AnnIndex.loadIndex(spark, s"$base/index")
      val codesRoot = s"$base/codes"
      AnnIndex.publishCodes(emb.filter(col("vec_id") < 40), codesRoot,
        cents, books, nBuckets = 4)
      // three CDC tick files: two disjoint adds + one delete of planted
      // bootstrap-half victims (14, 21, 28, 35 — none of them a query)
      def asOps(df: org.apache.spark.sql.DataFrame, op: String) =
        df.select(lit(op).as("op"), col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val delIds = emb.filter(col("vec_id") % 7 === 0 &&
          col("vec_id") >= 14 && col("vec_id") < 40)
        .select(col("vec_id"))
      asOps(emb.filter(col("vec_id") >= 40 && col("vec_id") < 70), "add")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
      asOps(emb.filter(col("vec_id") >= 70), "add")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
      delIds.select(lit("del").as("op"), col("vec_id"),
          lit(null).cast("array<double>").as("embedding"))
        .coalesce(1).write.mode("append").parquet(s"$base/in")
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("op",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType)))))
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .writeStream.outputMode("append")
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            val adds = batch.filter(col("op") === "add")
              .select(col("vec_id"), col("embedding"))
            if (!adds.isEmpty)
              AnnIndex.appendCodes(adds, codesRoot, cents, books,
                tag = Some(s"add-$batchId"))
            val dels = batch.filter(col("op") === "del")
              .select(col("vec_id").as("nid"))
            if (!dels.isEmpty)
              AnnIndex.deleteCodes(dels, codesRoot,
                tag = Some(s"del-$batchId"))
            ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val queries = emb.filter(col("vec_id") < 10)
      def probe(codes: org.apache.spark.sql.DataFrame) =
        Similarity.ivfPqTopK(emb, queries, 5, cents, books, nprobe = 4,
            codes = Some(codes))
          .select(col("qid"), col("rnk"), col("nid"))
      val pre = probe(AnnIndex.readCodesLive(spark, codesRoot))
        .localCheckpoint()
      val vCompact = AnnIndex.compactCodes(spark, codesRoot)
      val post = probe(AnnIndex.readCodes(spark, codesRoot))
        .localCheckpoint()
      val invariant = // one-pass multiset equality (r22)
        graft.engine.relational.Exact.sameMultiset(pre, post)
      pre.withColumn("n_versions", lit(vCompact))
        .withColumn("compact_invariant", lit(invariant))
        .orderBy(col("qid"), col("rnk"))
    },
    Some("""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings WHERE vec_id < 100
          AND NOT (vec_id % 7 = 0 AND vec_id >= 14 AND vec_id < 40)),
      q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 10),
      pairs AS (SELECT q.qid, e.vec_id AS nid,
          list_dot_product(q.qe, e.emb) AS dot,
          sqrt(list_dot_product(q.qe, q.qe))
            * sqrt(list_dot_product(e.emb, e.emb)) AS nrm
        FROM q, e WHERE e.vec_id <> q.qid),
      ranked AS (SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END DESC,
              nid ASC) AS rnk
        FROM pairs)
      SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid,
        CAST(5 AS BIGINT) AS n_versions, TRUE AS compact_invariant
      FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk"""),
    doc = "always-on ANN ingest with CDC deletions: add ticks append " +
      "encoded codes, a delete tick tombstones bootstrap victims, " +
      "compaction rewrites; live probe == exact ranking over survivors, " +
      "5-version arithmetic + compaction invariance pinned")

  /** X5 — LATE-DATA DROP ACCOUNTING under the watermark: the contract
    * x52–x58 leave unpinned. Windows/joins pin what the engine KEPT;
    * a production pipeline must also account for what the watermark
    * THREW AWAY (data-loss audits, SLA alerts on late upstreams). The
    * harness replays the event stream out of order on purpose: batch 1
    * carries the LATER half (by ts), advancing the watermark to
    * max(batch1.ts) − 10 min; batch 2 then delivers the EARLIER half as
    * late arrivals — every row whose 1 h window already closed
    * (window end ≤ watermark, the engine's eviction predicate in
    * event-time MILLISECONDS) is dropped by the stateful aggregation; a
    * far-future sentinel then flushes every real window out of append
    * mode. Pinned at value level: the surviving windowed aggregates AND
    * `n_dropped_late` (input minus emitted mass — the loss ledger),
    * both against DuckDB replaying the watermark algebra itself
    * (max-eventtime-ms − delay, window-end comparison included);
    * `engine_saw_drops` additionally ties the engine's own
    * `numRowsDroppedByWatermark` telemetry to the ledger (boolean, not
    * count: the metric counts post-partial-aggregation rows at the
    * state store, a partitioning-dependent number — nonzero-ness is
    * the deterministic contract; StreamingSpec pins the ms boundary
    * rule with an exact-equality fixture). */
  /** The late-data trilogy's shared event subset: the 20k lowest
    * (ts, event_id) events — the total order both the Scala splits and
    * the oracles' ROW_NUMBER replay rank by. One definition for
    * x67/x68/x69 so the three can never load different subsets. */
  private def eventSubset(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Array[Streaming.Event] = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy(col("ts"), col("event_id")).limit(20000)
      .as[Streaming.Event].collect()
  }

  /** The trilogy's shared ORACLE prologue: the subset, its total-order
    * rank, the on-time half (b1), the watermark it implies (ms algebra),
    * and the LATE set (early-half rows whose window closed). ONE string
    * so a change to the subset size, ordering, or watermark rule can
    * never desynchronize the x67/x68/x69 oracles. */
  private val lateCtePrologue: String =
    """ev AS (SELECT ts, event_id, event_type, value
        FROM events ORDER BY ts, event_id LIMIT 20000),
      ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn,
        (SELECT COUNT(*) FROM ev) AS n FROM ev),
      b1 AS (SELECT * FROM ranked WHERE rn > n // 2),
      wm AS (SELECT MAX(epoch_us(ts)) // 1000 - 600000 AS wm_ms FROM b1),
      late AS (SELECT * FROM ranked WHERE rn <= n // 2
        AND (CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600 + 3600)
          * 1000 <= (SELECT wm_ms FROM wm))"""

  val x67 = GraftQuery(
    "x67_stream_late_drop_accounting",
    (spark, sfDir) => {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val events = eventSubset(spark, sfDir)
      val (early, onTime) = events.splitAt(events.length / 2)
      val sentinel = Streaming.Event(-1L,
        new java.sql.Timestamp(
          events.last.ts.getTime + 30L * 24 * 3600 * 1000),
        -1L, "sentinel", 0.0)
      val stream = MemoryStream[Streaming.Event]
      val name = s"x67_out_${System.nanoTime()}"
      val q = Streaming.tumblingCounts(stream.toDF(),
          watermarkDelay = "10 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // batch 1: the LATER half — the watermark advances
        stream.addData(onTime.toSeq); q.processAllAvailable()
        // batch 2: the EARLIER half arrives late — closed windows drop
        stream.addData(early.toSeq); q.processAllAvailable()
        // flush: close every real window (append-mode emission); the
        // sentinel's own window stays open and never reaches the sink
        stream.addData(Seq(sentinel)); q.processAllAvailable()
      } finally q.stop()
      val engineDrops = q.recentProgress
        .flatMap(p => Option(p.stateOperators).map(_.toSeq).getOrElse(Nil))
        .map(_.numRowsDroppedByWatermark).sum
      val out = spark.table(name)
        .select(unix_timestamp(col("win_start")).as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
      // coalesce: an empty sink (degenerate empty events table) must give
      // the honest all-dropped-zero report, not an NPE (ADVICE r15)
      val emitted = out.agg(coalesce(sum(col("n_events")), lit(0L)))
        .head.getLong(0)
      out
        .withColumn("n_dropped_late", lit(events.length - emitted))
        .withColumn("engine_saw_drops", lit(engineDrops > 0))
        .orderBy(col("win_start"), col("event_type"))
    },
    Some(s"""WITH $lateCtePrologue,
      surv AS (SELECT * FROM ranked WHERE rn <= n // 2
        AND event_id NOT IN (SELECT event_id FROM late)),
      keep AS (SELECT ts, event_type, value FROM b1
        UNION ALL SELECT ts, event_type, value FROM surv),
      agg AS (SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT)
          AS win_start, event_type, COUNT(*) AS n_events,
          ${graft.engine.relational.Exact.sqlDsum("value")} AS sum_value
        FROM keep GROUP BY 1, 2)
      SELECT win_start, event_type, n_events, sum_value,
        CAST((SELECT COUNT(*) FROM late) AS BIGINT) AS n_dropped_late,
        (SELECT COUNT(*) FROM late) > 0 AS engine_saw_drops
      FROM agg ORDER BY win_start, event_type"""),
    doc = "late-data DROP accounting under the watermark: later half " +
      "streams first, earlier half arrives late, closed windows drop " +
      "their rows; survivors + the drop ledger + the engine's " +
      "numRowsDroppedByWatermark signal, all DuckDB-replayed from the " +
      "watermark algebra (max-eventtime-ms - delay)")

  /** The x68/x69 harness: the 20k-event subset streamed as one on-time
    * tick (the LATER half by ts) then two late ticks (the earlier half,
    * split), through the dead-letter router — late rows into the
    * quarantine store, on-time window PARTIALS into the aggregate store.
    * Returns (n input events, quarantine root, aggregate root). Each
    * caller gets its own pid+name-scoped stores, so x68 and x69 can run
    * in the same session without interfering. */
  private def lateRouterHarness(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, who: String): (Int, String, String) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.engine.sources.SnapshotStore
    val base = Artifacts.scratch(s"${who}_quar")
    val events = eventSubset(spark, sfDir)
    val (early, onTime) = events.splitAt(events.length / 2)
    val (late1, late2) = early.splitAt(early.length / 2)
    val quarRoot = s"$base/store/quarantine"
    val aggRoot = s"$base/store/agg"
    // the replayed watermark is CHECKPOINTED with each tick by
    // LateRouter's ledger (write-temp + atomic rename), so a restarted
    // router re-derives the replayed tick's cutoff instead of routing
    // everything as on-time — LateRouterSpec pins both torn positions
    val ledgerDir = s"$base/store/wm"
    val stream = MemoryStream[Streaming.Event]
    val q = stream.toDF().writeStream.outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          LateRouter.routeTick(batch, batchId, quarRoot, aggRoot, ledgerDir)
      }.start()
    try {
      stream.addData(onTime.toSeq); q.processAllAvailable()
      stream.addData(late1.toSeq); q.processAllAvailable()
      stream.addData(late2.toSeq); q.processAllAvailable()
    } finally q.stop()
    (events.length, quarRoot, aggRoot)
  }

  /** X5 — LATE-DATA QUARANTINE: the actionable complement of [[x67]]'s
    * ledger. x67 pins how much the watermark throws away; a production
    * pipeline must not lose that data — it reroutes it to a dead-letter
    * store for reprocessing. Spark's stateful aggregation has no
    * side-output, so the production shape is a `foreachBatch` split
    * ([[lateRouterHarness]]): per tick, rows whose window already closed
    * (window-end ms ≤ the watermark REPLAYED by the engine's own algebra
    * — max event-time ms of PRIOR ticks − delay, the rule x67 pins
    * engine-side) append to a win_start-bucketed quarantine store
    * (tagged: at-least-once replays are no-ops), while on-time rows fold
    * window PARTIALS into the aggregate store (the x60 incremental-MV
    * posture — partials merge by sum, no history rescan). Pinned at
    * value level: the quarantined per-window masses against DuckDB
    * replaying the same watermark algebra; `n_quarantine_versions` pins
    * WHICH ticks produced quarantine rows (store-version arithmetic);
    * `conservation_holds` pins that kept + quarantined == input from two
    * INDEPENDENT stores — the no-silent-loss contract that is this
    * operator's whole point. Scale posture: both stores are bucketed on
    * win_start (a reprocessing consumer reads only its windows'
    * buckets); per tick the quarantine append is O(late rows) and the
    * agg append O(open windows), never corpus-sized. */
  val x68 = GraftQuery(
    "x68_stream_late_quarantine",
    (spark, sfDir) => {
      import graft.engine.sources.SnapshotStore
      val (nInput, quarRoot, aggRoot) =
        lateRouterHarness(spark, sfDir, "x68")
      val nQuarVersions = SnapshotStore.currentVersion(quarRoot)
      // a subset whose splits produce zero late rows (possible at a tiny
      // SF where the 20k events span under the watermark delay) leaves
      // the quarantine store unbootstrapped — the honest answer is an
      // EMPTY report, matching the oracle's empty `late` set
      val quar = (if (nQuarVersions == 0) {
          import spark.implicits._
          Seq.empty[(Long, Long, String, Double)]
            .toDF("event_id", "win_start", "event_type", "value")
        } else SnapshotStore.read(spark, quarRoot)
          .select(col("event_id"), col("win_start"), col("event_type"),
            col("value")))
        .localCheckpoint()
      // same zero-guard posture as nQuarVersions==0: a degenerate input
      // that never bootstrapped the agg store means zero kept rows
      val keptTotal =
        if (SnapshotStore.currentVersion(aggRoot) == 0) 0L
        else SnapshotStore.read(spark, aggRoot)
          .agg(coalesce(sum(col("n_events")), lit(0L))).head().getLong(0)
      val nQuar = quar.count()
      quar.groupBy(col("win_start"), col("event_type"))
        .agg(graft.engine.relational.Exact.lcount().as("n_late_events"),
          graft.engine.relational.Exact.dsum(col("value"))
            .as("late_value"))
        .withColumn("n_quarantined", lit(nQuar))
        .withColumn("n_quarantine_versions", lit(nQuarVersions))
        .withColumn("conservation_holds",
          lit(keptTotal + nQuar == nInput.toLong))
        .orderBy(col("win_start"), col("event_type"))
    },
    Some(s"""WITH $lateCtePrologue,
      agg AS (SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT)
          AS win_start, event_type, COUNT(*) AS n_late_events,
          ${graft.engine.relational.Exact.sqlDsum("value")} AS late_value
        FROM late GROUP BY 1, 2)
      SELECT win_start, event_type, n_late_events, late_value,
        CAST((SELECT COUNT(*) FROM late) AS BIGINT) AS n_quarantined,
        CAST((CASE WHEN EXISTS (SELECT 1 FROM late
              WHERE rn <= (n // 2) // 2) THEN 1 ELSE 0 END)
          + (CASE WHEN EXISTS (SELECT 1 FROM late
              WHERE rn > (n // 2) // 2) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_quarantine_versions,
        ((SELECT COUNT(*) FROM ranked) - (SELECT COUNT(*) FROM late))
          + (SELECT COUNT(*) FROM late) = (SELECT COUNT(*) FROM ranked)
          AS conservation_holds
      FROM agg ORDER BY win_start, event_type"""),
    doc = "late-data QUARANTINE (dead-letter reroute): per tick, rows " +
      "whose window closed under the replayed watermark append to a " +
      "bucketed quarantine store (tagged), on-time rows fold window " +
      "partials into the aggregate store; quarantined masses, the " +
      "tick-version arithmetic, and kept+quarantined==input all pinned " +
      "(x67's ledger made actionable — nothing is silently lost)")

  /** X5 — LATE-DATA BACKFILL: the trilogy's closing contract. x67
    * ledgers what the watermark drops, x68 captures it in the
    * quarantine store, x69 folds it BACK: the quarantined rows
    * aggregate into the same window partials the on-time path wrote and
    * append to the aggregate store as one tagged correction batch (the
    * classic speed-layer + batch-correction shape). The final merged
    * aggregate must equal the PLAIN BATCH GROUP BY over the complete
    * input — the eventual-consistency contract, pinned by the simplest
    * possible oracle: no watermark CTEs, just `SELECT win_start,
    * event_type, COUNT(*), SUM(value) FROM ev GROUP BY 1, 2`. A drift
    * anywhere in the chain (routing predicate, partial merge, backfill
    * fold) breaks value equality. `n_backfilled` (the correction batch
    * size) rides along, replayed from the watermark algebra. Scale
    * posture: the backfill is one aggregation over the UNCONSUMED slice
    * of the quarantine store ([[graft.engine.sources.SnapshotStore
    * .readSince]] the backfill cursor) + one tagged append of window
    * partials — O(new late data), never a recomputation of history —
    * and RETENTION is part of the contract (VERDICT r15 item 5): after
    * the fold the cursor advances ([[graft.engine.sources.SnapshotStore
    * .setConsumedThrough]]) and consumed versions vacuum, so the
    * dead-letter store cannot grow forever and a restarted operator
    * cannot double-fold even if a tag were vacuumed away; a literal
    * second fold pass pins both (`n_live_after_drain`,
    * `quarantine_drained`). */
  val x69 = GraftQuery(
    "x69_stream_late_backfill",
    (spark, sfDir) => {
      import graft.engine.sources.SnapshotStore
      val (_, quarRoot, aggRoot) = lateRouterHarness(spark, sfDir, "x69")
      // ONE fold pass: consume only what the backfill cursor has not seen
      // (readSince — O(new late data), never the store), append the
      // correction as tagged window partials, ADVANCE THE CURSOR, and
      // vacuum the consumed versions (VERDICT r15 item 5 — without the
      // drain the dead-letter store grows forever and a lost tag would
      // double-fold). Cursor + tag cover each other's torn window: a
      // crash after the append replays into a tag no-op; a crash after
      // the cursor write replays into an empty readSince.
      val consumer = "backfill"
      def foldOnce(): Long =
        // no late rows (possible at a tiny SF) -> nothing to correct; the
        // on-time aggregate already IS the batch answer
        if (SnapshotStore.currentVersion(quarRoot) == 0) 0L
        else {
          // crash recovery FIRST ([[SnapshotStore.recoverTaggedFolds]]):
          // a fold that landed its tagged partials but crashed before
          // the cursor advance must not re-fold under a fresh tag when
          // NEW late rows arrived in between — the replayed range would
          // widen, miss the old tag, and double-count the folded windows
          val cursor = SnapshotStore.recoverTaggedFolds(
            quarRoot, consumer, aggRoot, "backfill")
          val qv = SnapshotStore.currentVersion(quarRoot)
          if (qv <= cursor) 0L
          else SnapshotStore.readSince(spark, quarRoot, cursor, qv) match {
            case None => 0L
            case Some(quar) =>
              // tag scoped to the quarantine version folded THROUGH: a
              // replay of THIS fold no-ops, but a later fold with
              // genuinely new late data (qv' > qv) mints a fresh tag —
              // a static tag would no-op it while the cursor advanced,
              // silently discarding the new rows
              SnapshotStore.append(
                quar.groupBy(col("win_start"), col("event_type"))
                  .agg(graft.engine.relational.Exact.lcount()
                      .as("n_events"),
                    graft.engine.relational.Exact.dsumPartial(col("value"))
                      .as("sum_dec")),
                aggRoot, tag = Some(SnapshotStore.foldTag("backfill", consumer, qv)))
              val n = quar.count()
              SnapshotStore.setConsumedThrough(quarRoot, consumer, qv)
              // keep = 1, NOT 0: the quarantine versions carry the
              // router's per-batch idempotence tags (batch-<id>), and a
              // drain that runs concurrently with a LIVE router must not
              // reap the newest tag-bearing version inside the one-epoch
              // replay horizon — a replayed foreachBatch epoch whose tag
              // was vacuumed away would re-append its late rows as a new
              // version ABOVE the cursor and the next fold would
              // double-count them. versionTags' own contract: "any
              // keep >= 1 horizon is safe in practice".
              SnapshotStore.vacuum(quarRoot, keep = 1)
              n
          }
        }
      val nBackfilled = foldOnce()
      // SECOND fold pass — the restarted-operator scenario the retention
      // contract exists for: everything is behind the cursor, so the pass
      // must read zero rows and mint zero agg versions. Pinned.
      val aggVBefore = SnapshotStore.currentVersion(aggRoot)
      val secondFold = foldOnce()
      val drained = secondFold == 0L &&
        SnapshotStore.currentVersion(aggRoot) == aggVBefore
      // empty-agg guard, same posture as x68's: a degenerate input that
      // never bootstrapped the store means the honest answer is no rows
      val merged =
        if (SnapshotStore.currentVersion(aggRoot) == 0) {
          import spark.implicits._
          Seq.empty[(Long, String, Long, Double)]
            .toDF("win_start", "event_type", "n_events", "sum_value")
        } else SnapshotStore.read(spark, aggRoot)
          .groupBy(col("win_start"), col("event_type"))
          .agg(sum(col("n_events")).cast("long").as("n_events"),
            sum(col("sum_dec")).cast("double").as("sum_value"))
      merged
        .withColumn("n_backfilled", lit(nBackfilled))
        .withColumn("n_live_after_drain", lit(secondFold))
        .withColumn("quarantine_drained", lit(drained))
        .orderBy(col("win_start"), col("event_type"))
    },
    Some(s"""WITH $lateCtePrologue
      SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
        event_type, COUNT(*) AS n_events,
        ${graft.engine.relational.Exact.sqlDsum("value")} AS sum_value,
        CAST((SELECT COUNT(*) FROM late) AS BIGINT) AS n_backfilled,
        CAST(0 AS BIGINT) AS n_live_after_drain,
        TRUE AS quarantine_drained
      FROM ev GROUP BY 1, 2 ORDER BY win_start, event_type"""),
    doc = "late-data BACKFILL + quarantine RETENTION: the quarantined " +
      "rows fold back into the aggregate store as one tagged correction " +
      "batch of window partials (readSince the backfill cursor — " +
      "O(new late data)); the merged aggregate == the plain batch GROUP " +
      "BY over the complete input, and a SECOND fold pass pins the " +
      "drain: cursor advanced, consumed versions vacuumed, zero rows " +
      "re-read, zero versions minted")

  /** X5/X7 — ALWAYS-ON RESUMABLE EXPORT, the streaming twin of q138:
    * a crawler streams document batches into the corpus store (tagged
    * per-tick appends), while the export consumer syncs on its OWN
    * cadence — each sync reads `readSince(corpus, cursor)` (the
    * manifest-diff delta, O(new docs) regardless of corpus size), shards
    * by the q130/q138 md5 draw, appends into the shard-bucketed export
    * store, and advances its persisted cursor. The harness runs two
    * corpus ticks, sync 1 (bootstraps the export covering BOTH ticks —
    * the cursor skips versions, not rows), a third corpus tick, then
    * sync 2 (exactly the third tick's rows). Pinned: the final export ==
    * a from-scratch md5-shard recompute over every streamed doc (DuckDB
    * twin over the documents table); `n_sync2_delta` (the second sync
    * moved exactly tick 3); `no_rewrite` (every sync-1 export file
    * INODE-identical after sync 2 — incremental means zero rewrite);
    * corpus/export version arithmetic (3 ticks / 2 syncs). Producer and
    * consumer share NO state but the store + cursor — the decoupling
    * that lets a 100 TB crawler and a trainer-export job run on
    * different cadences without either rescanning history. */
  val x70 = GraftQuery(
    "x70_stream_resumable_export",
    (spark, sfDir) => {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import graft.engine.sources.SnapshotStore
      import graft.engine.llm.Curation
      val base = Artifacts.scratch("x70_resume")
      val corpusRoot = s"$base/corpus"
      val exportRoot = s"$base/export"
      // bounded fixture (x56 precedent): the contract under test is the
      // per-tick/per-sync SHAPE, not scan throughput
      val docRows = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)].collect()
      val ticks = (0 until 3).map(r => docRows.filter(_._1 % 3 == r))
      val stream = MemoryStream[(Long, Long)]
      val q = stream.toDS().toDF("doc_id", "n_chars")
        .writeStream.outputMode("append")
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            val b = batch.localCheckpoint()
            if (!b.isEmpty) {
              if (SnapshotStore.currentVersion(corpusRoot) == 0)
                SnapshotStore.publishBucketed(b, corpusRoot, "doc_id",
                  nBuckets = 8, tag = Some(s"batch-$batchId"))
              else SnapshotStore.append(b, corpusRoot,
                tag = Some(s"batch-$batchId"))
            }
            ()
        }.start()
      // the export consumer: cursor -> delta -> shard -> tagged append.
      // cv == 0 guard: a corpus that never bootstrapped (degenerate
      // empty input — the x68/x69 zero-guard posture) means nothing to
      // sync, not a crash
      def exportSync(): Long = {
        // crash recovery FIRST, fold target second: a fold that landed
        // but never advanced its cursor must not re-export under a
        // fresh tag when the corpus moved in between
        // ([[SnapshotStore.recoverTaggedFolds]]); resolving cv BEFORE
        // the recovery could hand a replayed epoch racing a live
        // instance a cursor > cv and a readSince range error — the
        // cursor >= cv guard makes that replay a clean no-op
        val cursor = SnapshotStore.recoverTaggedFolds(
          corpusRoot, "export", exportRoot, "export")
        val cv = SnapshotStore.currentVersion(corpusRoot)
        if (cv == 0 || cursor >= cv) 0L
        else {
          val moved =
            SnapshotStore.readSince(spark, corpusRoot, cursor, cv) match {
              case None => 0L
              case Some(delta) =>
                val rows = Curation
                  .shuffleShards(delta.drop("_bucket"), "doc_id",
                    nShards = 8)
                  .drop("shuffle_key").localCheckpoint()
                if (SnapshotStore.currentVersion(exportRoot) == 0)
                  SnapshotStore.publishBucketed(rows, exportRoot,
                    "shard_id", nBuckets = 8,
                    tag = Some(SnapshotStore.foldTag("export", "export", cv)))
                else SnapshotStore.append(rows, exportRoot,
                  tag = Some(SnapshotStore.foldTag("export", "export", cv)))
                rows.count()
            }
          SnapshotStore.setConsumedThrough(corpusRoot, "export", cv)
          moved
        }
      }
      val nSync2 =
        try {
          stream.addData(ticks(0).toSeq); q.processAllAvailable()
          stream.addData(ticks(1).toSeq); q.processAllAvailable()
          exportSync() // covers corpus v1+v2
          stream.addData(ticks(2).toSeq); q.processAllAvailable()
          exportSync() // exactly tick 3
        } finally q.stop()
      if (SnapshotStore.currentVersion(exportRoot) == 0) {
        // degenerate empty input: honest empty report (oracle is empty
        // over an empty documents table too)
        Seq.empty[(Long, Long, Long)]
          .toDF("shard_id", "n_docs", "shard_chars")
          .withColumn("n_sync2_delta", lit(0L))
          .withColumn("no_rewrite", lit(true))
          .withColumn("n_corpus_versions", lit(0L))
          .withColumn("n_export_versions", lit(0L))
      } else {
        val v1Files = SnapshotStore.versionFileInodes(exportRoot, 1L)
        val v2Files = SnapshotStore.versionFileInodes(exportRoot,
          SnapshotStore.currentVersion(exportRoot)) // sync-1 files must
        val noRewrite = v1Files.nonEmpty && v1Files.forall { // be LINKS
          case (rel, ino) => v2Files.get(rel).contains(ino) }
        SnapshotStore.read(spark, exportRoot)
          .groupBy(col("shard_id"))
          .agg(graft.engine.relational.Exact.lcount().as("n_docs"),
            sum(col("n_chars")).cast("long").as("shard_chars"))
          .withColumn("n_sync2_delta", lit(nSync2))
          .withColumn("no_rewrite", lit(noRewrite))
          .withColumn("n_corpus_versions",
            lit(SnapshotStore.currentVersion(corpusRoot)))
          .withColumn("n_export_versions",
            lit(SnapshotStore.currentVersion(exportRoot)))
          .orderBy(col("shard_id"))
      }
    },
    Some("""WITH sharded AS (SELECT doc_id, n_chars,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) % 8 AS shard_id
        FROM documents)
      SELECT shard_id, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
        (SELECT COUNT(*) FROM documents WHERE doc_id % 3 = 2)
          AS n_sync2_delta,
        TRUE AS no_rewrite,
        CAST((CASE WHEN EXISTS (SELECT 1 FROM documents
              WHERE doc_id % 3 = 0) THEN 1 ELSE 0 END)
          + (CASE WHEN EXISTS (SELECT 1 FROM documents
              WHERE doc_id % 3 = 1) THEN 1 ELSE 0 END)
          + (CASE WHEN EXISTS (SELECT 1 FROM documents
              WHERE doc_id % 3 = 2) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_corpus_versions,
        CAST((CASE WHEN EXISTS (SELECT 1 FROM documents
              WHERE doc_id % 3 < 2) THEN 1 ELSE 0 END)
          + (CASE WHEN EXISTS (SELECT 1 FROM documents
              WHERE doc_id % 3 = 2) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_export_versions
      FROM sharded GROUP BY shard_id ORDER BY shard_id"""),
    doc = "always-on resumable export (q138's streaming twin): per-tick " +
      "tagged corpus appends; the export consumer syncs on its own " +
      "cadence via cursor + readSince (O(delta)), zero rewrite of " +
      "existing export files (inode-pinned), final export == full " +
      "recompute over every streamed doc",
    costClass = GraftQuery.FixedLifecycle)

  /** One atomic compliance-ledger entry (write-temp + rename, the
    * [[LateRouter]] pattern): a torn crash never leaves a half entry,
    * and a replayed tick REPLACE-overwrites its own entry idempotently.
    * Shared by the takedown workers (x71, x72) so the torn-write
    * discipline lives in ONE place. */
  private def writeLedgerTick(dir: java.nio.file.Path, batchId: Long,
      n: Long): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tick-$batchId.tmp.${System.nanoTime()}")
    Files.write(tmp, s"$batchId $n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(s"tick-$batchId"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The ledger's (batchId, count) entries — empty when no tick ever
    * landed one (the dir may not exist yet; the guard lives here so a
    * copy can't lose it). */
  private def readLedgerTicks(
      dir: java.nio.file.Path): Seq[(Long, Long)] = {
    import java.nio.file.Files
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("tick-"))
          .map { p =>
            // loud corruption failure naming the file and its bytes
            // (the LateRouter.recover posture) — a bare destructure
            // would throw an anonymous MatchError pointing at nothing
            val raw = new String(Files.readAllBytes(p),
              java.nio.charset.StandardCharsets.UTF_8)
            val parts = raw.trim.split(' ')
            val parsed =
              if (parts.length == 2)
                parts(0).toLongOption.zip(parts(1).toLongOption)
              else None
            parsed.getOrElse(throw new IllegalStateException(
              s"corrupt ledger entry $p: '$raw' " +
                "(want '<batchId> <count>')"))
          }.toSeq
      } finally s.close()
    }
  }

  /** X5/X9 — STREAMING TAKEDOWN WORKER, q140's always-on shape
    * (VERDICT r16 item 7): in production, right-to-be-forgotten
    * requests arrive as a STREAM, and each tick must propagate to the
    * corpus AND every derived dataset, leave a compliance trail, and
    * survive at-least-once replay. Per tick: `deleteKeys` (touched-
    * bucket-only, O(requests) never O(corpus)) on both stores under ONE
    * per-tick tag, then a per-tick compliance ledger entry (batchId +
    * request count, written tmp + atomic-rename — the [[LateRouter]]
    * ledger pattern, so a torn crash never leaves a half entry).
    * Pinned: `corpus_clean`/`export_clean` (no requested key survives
    * anywhere), `replay_noop` (re-applying the last tick's tag returns
    * its version — the at-least-once worker can't double-mint),
    * `ledger_ticks`/`ledger_ids` (the compliance trail equals the
    * request stream, value-level), and `takedown_complete` (after
    * `vacuum(keep = 0)` the pre-takedown versions are GONE on both
    * stores — deletion completes at vacuum, the q140 contract). The
    * bounded `.collect()` is the request fixture (x56/x70 precedent);
    * the deletes themselves are distributed bucket rewrites. */
  val x71 = GraftQuery(
    "x71_stream_takedown_worker",
    (spark, sfDir) => {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import graft.engine.sources.SnapshotStore
      import graft.engine.llm.Curation
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val base = Artifacts.scratch("x71_takedown")
      val corpusRoot = s"$base/corpus"
      val exportRoot = s"$base/export"
      val ledgerDir = Paths.get(s"$base/ledger")
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars"))
      // corpus and export bootstraps are INDEPENDENT stores, both pure
      // functions of `docs` — overlap them (the same discipline this
      // query's per-tick deletes already follow)
      Par.overlap(spark) { s =>
        s.fork(SnapshotStore.publishBucketed(docs, corpusRoot, "doc_id", 16))
        SnapshotStore.publishBucketed(
          Curation.shuffleShards(docs, "doc_id", nShards = 8)
            .drop("shuffle_key"),
          exportRoot, "doc_id", 16)
      }
      // the request stream fixture: three ticks of fixed, SF-stable ids
      val ids = docs.filter(
        (col("doc_id") % 17 === 3 || col("doc_id") % 19 === 5) &&
          col("doc_id") < 100)
        .select("doc_id").as[Long].collect()
      val tickSets = Seq(
        ids.filter(i => i % 17 == 3 && i < 50),
        ids.filter(i => i % 17 == 3 && i >= 50),
        ids.filter(i => i % 19 == 5)).filter(_.nonEmpty)
      val stream = MemoryStream[Long]
      val worker = stream.toDS().toDF("doc_id")
        .writeStream.outputMode("append")
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            val keys = batch.localCheckpoint()
            val n = keys.count()
            if (n > 0) {
              // the two deletes hit INDEPENDENT stores with the same
              // pinned key frame — overlap them; each store's own
              // version chain is untouched
              Par.overlap(spark) { s =>
                s.fork(SnapshotStore.deleteKeys(keys, corpusRoot,
                  tag = Some(s"takedown-$batchId")))
                SnapshotStore.deleteKeys(keys, exportRoot,
                  tag = Some(s"takedown-$batchId"))
              }
            }
            // compliance ledger: one atomic entry per tick. Written
            // AFTER both deletes — a torn crash replays the tick, the
            // tags no-op the deletes, and the entry lands exactly once
            writeLedgerTick(ledgerDir, batchId, n)
            ()
        }.start()
      try {
        tickSets.foreach { s =>
          stream.addData(s.toSeq); worker.processAllAvailable()
        }
      } finally worker.stop()
      // at-least-once replay of the LAST tick: same tag, same version
      val replayNoop = tickSets.isEmpty || {
        val lastId = tickSets.length - 1
        val cv = SnapshotStore.currentVersion(corpusRoot)
        SnapshotStore.deleteKeys(tickSets.last.toSeq.toDF("doc_id"),
          corpusRoot, tag = Some(s"takedown-$lastId")) == cv &&
          SnapshotStore.currentVersion(corpusRoot) == cv
      }
      val allKeys = ids.toSeq.toDF("doc_id")
      def clean(root: String): Boolean =
        SnapshotStore.read(spark, root)
          .join(allKeys, Seq("doc_id"), "left_semi").isEmpty
      // independent audits of two stores
      val (corpusClean, exportClean) = Par.overlap(spark) { s =>
        val corpusCleanF = s.fork(clean(corpusRoot))
        val exportClean = clean(exportRoot)
        (corpusCleanF.join(), exportClean)
      }
      // the compliance trail equals the request stream
      val entries = readLedgerTicks(ledgerDir)
      // deletion COMPLETES at vacuum: the pre-takedown versions go away
      SnapshotStore.vacuum(corpusRoot, keep = 0)
      SnapshotStore.vacuum(exportRoot, keep = 0)
      val complete = tickSets.isEmpty ||
        (!Files.exists(Paths.get(corpusRoot, "v1")) &&
          !Files.exists(Paths.get(exportRoot, "v1")))
      SnapshotStore.read(spark, exportRoot).groupBy(col("shard_id"))
        .agg(graft.engine.relational.Exact.lcount().as("n_docs"),
          sum(col("n_chars")).cast("long").as("shard_chars"))
        .withColumn("corpus_clean", lit(corpusClean))
        .withColumn("export_clean", lit(exportClean))
        .withColumn("replay_noop", lit(replayNoop))
        .withColumn("ledger_ticks", lit(entries.length.toLong))
        .withColumn("ledger_ids",
          lit(entries.map(_._2).sum))
        .withColumn("takedown_complete", lit(complete))
        .orderBy(col("shard_id"))
    },
    Some("""WITH takedown AS (SELECT doc_id FROM documents
          WHERE (doc_id % 17 = 3 OR doc_id % 19 = 5) AND doc_id < 100),
      kept AS (SELECT doc_id, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM takedown)),
      sharded AS (SELECT doc_id, n_chars,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) % 8 AS shard_id
        FROM kept)
      SELECT shard_id, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
        TRUE AS corpus_clean, TRUE AS export_clean, TRUE AS replay_noop,
        CAST((CASE WHEN EXISTS (SELECT 1 FROM documents
              WHERE doc_id % 17 = 3 AND doc_id < 50) THEN 1 ELSE 0 END)
          + (CASE WHEN EXISTS (SELECT 1 FROM documents
              WHERE doc_id % 17 = 3 AND doc_id >= 50 AND doc_id < 100)
              THEN 1 ELSE 0 END)
          + (CASE WHEN EXISTS (SELECT 1 FROM documents
              WHERE doc_id % 19 = 5 AND doc_id < 100) THEN 1 ELSE 0 END)
          AS BIGINT) AS ledger_ticks,
        CAST((SELECT COUNT(*) FROM takedown) AS BIGINT) AS ledger_ids,
        TRUE AS takedown_complete
      FROM sharded GROUP BY shard_id ORDER BY shard_id"""),
    doc = "streaming takedown worker (q140's always-on shape): per-tick " +
      "deleteKeys on corpus AND derived export under one tag " +
      "(at-least-once replay no-ops), per-tick atomic compliance ledger " +
      "equal to the request stream, deletion completed by vacuum; " +
      "oracle = export recomputed minus every streamed request",
    costClass = GraftQuery.FixedLifecycle)

  /** X5/X9 — STREAMING DOMAIN TAKEDOWN (x71's production request
    * shape + q146's index resolution, composed under interleaving):
    * takedown requests arrive as DOMAINS on a stream while the corpus
    * keeps CRAWLING between ticks, and the inverted (source, doc_id)
    * index must stay exact through all of it. Per tick the worker
    * resolves requests through the index ([[graft.engine.sources
    * .SnapshotStore.readKeys]] — ≤ |requests| index buckets), deletes
    * the resolved doc_ids from the corpus and the requested sources
    * from the index under ONE per-tick tag (a crash between the legs
    * replays the tick; each leg no-ops), then lands an atomic ledger
    * entry (x71's pattern). The interleaving pins what the one-shot
    * q146 cannot:
    *  - POINT-IN-TIME semantics (`src3_recrawl_survives`): a crawl
    *    AFTER src3's takedown re-introduces src3 docs — they survive,
    *    and the index re-populates them;
    *  - the INDEX-MAINTENANCE fallback (`resync_used_diff`): the
    *    takedown mints a rewrite-kind corpus version, so the index
    *    consumer's readSince REFUSES across it and falls back to
    *    diff()-added rows (q141's discipline). Appending only the
    *    ADDED side is sound here because removed rows only arise from
    *    takedowns, which self-clean the index in the same tick — a
    *    general CDC rewrite would need the q141 merge-based resync;
    *  - INDEX EXACTNESS (`index_consistent`): after two crawls, two
    *    takedowns, one diff fallback, and a re-population, the index
    *    is row-identical to the corpus projection — exceptAll both
    *    ways, multiset semantics. */
  val x72 = GraftQuery(
    "x72_stream_domain_takedown",
    (spark, sfDir) => {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import graft.engine.sources.SnapshotStore
      import java.nio.file.Paths
      val base = Artifacts.scratch("x72_domain")
      val corpusRoot = s"$base/corpus"
      val idxRoot = s"$base/idx"
      val ledgerDir = Paths.get(s"$base/ledger")
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      // crawl 1 bootstraps corpus AND index; the index consumer's
      // cursor tracks the corpus version it has mirrored
      SnapshotStore.publishBucketed(
        docs.filter(col("doc_id") % 3 === 0), corpusRoot, "doc_id", 4)
      SnapshotStore.publishBucketed(
        SnapshotStore.read(spark, corpusRoot, 1L)
          .select(col("source"), col("doc_id")), idxRoot, "source", 4)
      SnapshotStore.setConsumedThrough(corpusRoot, "idx", 1L)
      // incremental index maintenance: readSince from the cursor; a
      // takedown rewrite in the interval REFUSES, and the fallback
      // appends the diff()'s added rows (removed rows were self-cleaned
      // from the index by the takedown tick itself)
      def idxSync(): Boolean = {
        // crash recovery BEFORE resolving the fold target: a landed-
        // but-uncursored fold must not re-append when the corpus moved
        // in between (fresh tag, no no-op — recoverTaggedFolds closes
        // it), and reading cur first could hand a replayed instance a
        // cursor > cur and a readSince range error
        val cursor = SnapshotStore.recoverTaggedFolds(
          corpusRoot, "idx", idxRoot, "idx")
        val cur = SnapshotStore.currentVersion(corpusRoot)
        if (cur <= cursor) return false
        // the try scopes readSince ALONE (its lineage-kind refusal is
        // eager, at call time): a StalePublishException from the append
        // below must stay LOUD, not be misread as a lineage refusal
        val sinceOpt =
          try Some(SnapshotStore.readSince(spark, corpusRoot, cursor, cur))
          catch { case _: IllegalStateException => None }
        // the fold is TAGGED by the version it covers (the
        // consumedThrough discipline, x70's exportSync shape): a
        // QUIESCENT crash-replay recomputes the same range, hits the
        // same tag, and no-ops; a replay after a CONCURRENT corpus
        // publish is the recoverTaggedFolds case above
        val tag = Some(SnapshotStore.foldTag("idx", "idx", cur))
        val usedDiff = sinceOpt match {
          case Some(delta) =>
            delta.foreach(d => SnapshotStore.append(
              d.select(col("source"), col("doc_id")), idxRoot, tag))
            false
          case None =>
            // checkpoint: the diff (two exceptAlls) would otherwise
            // recompute for the emptiness probe AND the append write
            val added = SnapshotStore.diff(spark, corpusRoot, cursor, cur)
              .filter(col("change") === "added")
              .select(col("source"), col("doc_id"))
              .localCheckpoint(eager = false)
            if (!added.isEmpty) SnapshotStore.append(added, idxRoot, tag)
            true
        }
        SnapshotStore.setConsumedThrough(corpusRoot, "idx", cur)
        usedDiff
      }
      val stream = MemoryStream[String]
      val worker = stream.toDS().toDF("source")
        .writeStream.outputMode("append")
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            val reqs = batch.distinct().localCheckpoint()
            val n = reqs.count()
            if (n > 0) {
              val hits = SnapshotStore.readKeys(reqs, idxRoot)
              val docKeys = hits.select(col("doc_id")).distinct()
                .localCheckpoint() // pin: the index delete empties hits
              // independent stores, both key frames pinned — overlap
              // the two delete legs (x71's tick shape)
              Par.overlap(spark) { s =>
                s.fork(SnapshotStore.deleteKeys(docKeys, corpusRoot,
                  tag = Some(s"dt-$batchId")))
                SnapshotStore.deleteKeys(reqs, idxRoot,
                  tag = Some(s"dt-$batchId"))
              }
              // ledger AFTER both deletes: a torn crash replays the
              // tick, the tags no-op, the entry lands exactly once
              writeLedgerTick(ledgerDir, batchId, n)
            }
            ()
        }.start()
      var resyncUsedDiff = false
      try {
        // (the plain pre-takedown readSince sync path is q146's
        // index_incremental pin — not re-paid here)
        stream.addData("src3"); worker.processAllAvailable()
        // crawl 2 lands AFTER src3's takedown: the rewrite forces the
        // diff fallback, and crawl 2's src3 docs re-populate the index
        SnapshotStore.append(
          docs.filter(col("doc_id") % 3 === 2), corpusRoot)
        resyncUsedDiff = idxSync()
        stream.addData("src17"); worker.processAllAvailable()
      } finally worker.stop()
      // at-least-once replay of the last tick: the tag short-circuits
      // BEFORE any key evaluation on both stores
      val (cv, iv) = (SnapshotStore.currentVersion(corpusRoot),
        SnapshotStore.currentVersion(idxRoot))
      val replayNoop =
        SnapshotStore.deleteKeys(Seq(-1L).toDF("doc_id"), corpusRoot,
          tag = Some("dt-1")) == cv &&
        SnapshotStore.deleteKeys(Seq("src17").toDF("source"), idxRoot,
          tag = Some("dt-1")) == iv &&
        SnapshotStore.currentVersion(corpusRoot) == cv &&
        SnapshotStore.currentVersion(idxRoot) == iv
      val cur = SnapshotStore.read(spark, corpusRoot).localCheckpoint()
      // one aggregation job for both corpus-side pins
      val pins = cur.agg(
        sum(when(col("source") === "src17" ||
          (col("source") === "src3" && col("doc_id") % 3 =!= 2), 1L)
          .otherwise(0L)).as("dirty"),
        sum(when(col("source") === "src3", 1L).otherwise(0L))
          .as("src3_now")).collect()(0)
      val corpusClean = pins.getLong(0) == 0L
      val src3Survives = pins.getLong(1) ==
        docs.filter(col("source") === "src3" && col("doc_id") % 3 === 2)
          .count()
      val idxPairs = SnapshotStore.read(spark, idxRoot)
        .select(col("source"), col("doc_id"))
      val corpusPairs = cur.select(col("source"), col("doc_id"))
      // symmetric multiset equality in ONE job
      val indexConsistent = idxPairs.exceptAll(corpusPairs)
        .unionByName(corpusPairs.exceptAll(idxPairs)).isEmpty
      val entries = readLedgerTicks(ledgerDir)
      cur.groupBy(col("source"))
        .agg(graft.engine.relational.Exact.lcount().as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .withColumn("corpus_clean", lit(corpusClean))
        .withColumn("src3_recrawl_survives", lit(src3Survives))
        .withColumn("resync_used_diff", lit(resyncUsedDiff))
        .withColumn("index_consistent", lit(indexConsistent))
        .withColumn("replay_noop", lit(replayNoop))
        .withColumn("ledger_ticks", lit(entries.length.toLong))
        .withColumn("ledger_reqs", lit(entries.map(_._2).sum))
        .orderBy(col("source"))
    },
    Some("""WITH kept AS (SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id % 3 <> 1 AND source <> 'src17'
          AND NOT (source = 'src3' AND doc_id % 3 <> 2))
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        TRUE AS corpus_clean, TRUE AS src3_recrawl_survives,
        TRUE AS resync_used_diff, TRUE AS index_consistent,
        TRUE AS replay_noop,
        CAST(2 AS BIGINT) AS ledger_ticks, CAST(2 AS BIGINT) AS ledger_reqs
      FROM kept GROUP BY source ORDER BY source"""),
    doc = "streaming domain takedown: requests arrive as domains while " +
      "the corpus keeps crawling; per tick the index resolves them " +
      "(readKeys), corpus + index delete under one tag, atomic ledger; " +
      "pins point-in-time semantics (a re-crawled domain survives and " +
      "re-indexes), the diff fallback across the takedown rewrite, and " +
      "the index staying row-identical to the corpus through it all",
    costClass = GraftQuery.FixedLifecycle)

  /** x73 — ALWAYS-ON CLUSTERED INGEST with policy compaction: the q149/
    * q150 lifecycle under the micro-batch engine (x62's discipline
    * applied to z-layout). A clustered events store bootstraps with one
    * fifth of the data; four streamed ticks append the rest, each batch
    * z-clustered within itself under a per-tick tag (at-least-once
    * replays no-op), and after every tick [[graft.engine.sources
    * .ClusteredStore.maybeCompactClustered]] runs the maintenance
    * policy: compact only when MORE THAN two append runs have piled up
    * (a metadata-walk census), so the decay the clustered_box rehearsal
    * measures never accumulates unboundedly while the full-rewrite
    * price is paid once, not per tick. With 4 one-file ticks the
    * version chain is deterministic: base, 3 appends, ONE compact at
    * tick 3 (runs 3 > 2), 1 append — 6 versions, exactly one rewrite.
    * Pins: `complete` (the store's current content equals the full
    * corpus — nothing lost across appends/compaction/replayed tags),
    * `pruned` (the q148 box over the final mixed layout — one compacted
    * run + one fresh append — still skips files), `compacted` (exactly
    * one `rewrite` version minted by the policy), `versions_ok` (the
    * deterministic chain arithmetic). Rollup oracle-replayed by DuckDB
    * from raw events with the exact-integer bound arithmetic. */
  val x73 = GraftQuery(
    "x73_stream_clustered_ingest",
    (spark, sfDir) => {
      import graft.engine.sources.{ClusteredStore, SnapshotStore}
      val base = Artifacts.scratch("x73_zstream")
      val root = s"$base/tbl"
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), unix_micros(col("ts")).as("t_us"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("v100"),
          col("event_type"), col("value"))
      ClusteredStore.publishClustered(ev.filter(col("event_id") % 5 === 0),
        root, Seq("t_us", "v100"), nFiles = 8)
      ev.filter(col("event_id") % 5 =!= 0).repartition(4)
        .write.parquet(s"$base/in")
      val schema = spark.read.parquet(s"$base/in").schema
      val cols = Seq("event_id", "t_us", "v100", "event_type", "value")
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          ClusteredStore.appendClustered(batch.select(cols.map(col): _*),
            root, nFiles = 8, tag = Some(s"tick-$batchId"))
          ClusteredStore.maybeCompactClustered(spark, root,
            maxAppendRuns = 2, nFiles = 16, tag = Some(s"cpt-$batchId"))
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      // the raw-events census (count + t_us min/max) is a pure function
      // of the INPUT table — independent of the store the ticks build —
      // so it runs CONCURRENTLY with the micro-batch engine (x74's
      // posture)
      val (evCount, mm) = Par.overlap(spark) { s =>
        val evCensusF = s.fork((ev.count(),
          ev.agg(min(col("t_us")), max(col("t_us"))).collect()(0)))
        try q.processAllAvailable() finally q.stop()
        evCensusF.join()
      }
      val cur = SnapshotStore.currentVersion(root)
      val rewrites = (1L to cur).count(v =>
        SnapshotStore.versionKind(root, v).contains("rewrite"))
      val versionsOk = cur == 6L
      val compacted = rewrites == 1
      val complete = SnapshotStore.read(spark, root).count() == evCount
      val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
      val lo = tmin + (tmax - tmin) * 2L / 5L
      val hi = tmin + (tmax - tmin) * 3L / 5L
      val (box, readN, totalN) = ClusteredStore.readBox(spark, root,
        Seq(("t_us", lo, hi), ("v100", 1000L, 3000L)))
      box.groupBy(col("event_type"))
        .agg(graft.engine.relational.Exact.lcount().as("n_events"),
          graft.engine.relational.Exact.dsum(col("value")).as("sum_value"))
        .withColumn("complete", lit(complete))
        .withColumn("pruned", lit(readN < totalN))
        .withColumn("compacted", lit(compacted))
        .withColumn("versions_ok", lit(versionsOk))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH e AS (SELECT event_type, value, epoch_us(ts) AS t_us,
        CAST(FLOOR(value * 100) AS BIGINT) AS v100 FROM events),
      b AS (SELECT MIN(t_us) + (MAX(t_us) - MIN(t_us)) * 2 // 5 AS lo,
        MIN(t_us) + (MAX(t_us) - MIN(t_us)) * 3 // 5 AS hi FROM e)
      SELECT event_type, COUNT(*) AS n_events,
        ${graft.engine.relational.Exact.sqlDsum("e.value")} AS sum_value,
        TRUE AS complete, TRUE AS pruned, TRUE AS compacted,
        TRUE AS versions_ok
      FROM e, b WHERE e.t_us BETWEEN b.lo AND b.hi
        AND e.v100 BETWEEN 1000 AND 3000
      GROUP BY 1 ORDER BY 1"""),
    doc = "always-on clustered ingest: per-tick tagged z-append + " +
      "policy compaction (compact only past 2 piled append runs); " +
      "deterministic version chain, store complete, final box pruned, " +
      "rollup oracle-replayed from raw events")

  /** x74 — ALWAYS-ON STATS MAINTENANCE: the q153 planner facts kept
    * LIVE under the micro-batch engine. A crawler-style orders store
    * bootstraps with one fifth; streamed ticks merge two more fifths,
    * and EVERY tick also folds its batch into the published
    * [[graft.engine.relational.TableStats]] profile (rows/NDV/bytes,
    * `sourceVersion` = the store version the tick minted) and the
    * [[graft.engine.relational.Histogram]] day histogram — all three
    * writes under the tick's tag, so an at-least-once replay no-ops on
    * every store, and all three at DELTA cost (the batch is scanned,
    * never history). The staleness guard is then exercised for real:
    * a LATE batch merged without its refresh makes
    * [[graft.engine.relational.Planner.keyProfile]] REFUSE
    * (`stale_refused` — the broadcast-OOM-after-big-append hole, shut),
    * and the normal delta refresh recovers it. The recovered facts
    * drive the q153 flip from streamed data: the raw profile refuses
    * the broadcast budget (`raw_refuses`), the histogram-scaled
    * filtered profile earns it (`filtered_broadcasts`, tree-walk
    * pinned), and the bin-aligned estimate equals the exact band count
    * (`estimate_exact` — the streamed histogram saw every slice).
    * The executed join reads the STORE's content (`complete` pins it
    * equal to the raw table), so the rollup is DuckDB-replayable with
    * q153's exact-integer band arithmetic. */
  val x74 = GraftQuery(
    "x74_stream_live_stats",
    (spark, sfDir) => {
      import graft.engine.sources.SnapshotStore
      import graft.engine.relational.{Histogram, Planner, TableStats}
      val base = Artifacts.scratch("x74_stats")
      val root = s"$base/tbl"
      val (profRoot, histRoot) = (s"$base/prof", s"$base/hist")
      val dayUs = 86400000000L
      val ord = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr(s"unix_micros(o_orderdate) div ${dayUs}L").as("o_day"))
      val Array(mm) = ord.agg(min(col("o_day")), max(col("o_day"))).collect()
      val (dmin, dmax) = (mm.getLong(0), mm.getLong(1))
      val w = math.max(1L, (dmax - dmin + 1L) / 16L)
      val lo = (dmin / w + 2L) * w
      val hiEx = lo + 3L * w
      val profCols = Seq("o_orderkey", "o_orderpriority")
      def refreshStats(batch: org.apache.spark.sql.DataFrame,
          storeVersion: Long, tag: String): Unit = {
        // the profile and histogram maintain INDEPENDENT stores; their
        // actions were only sequential because the driver called them
        // sequentially — overlapping them makes a tick's
        // maintenance path cost max(profile, histogram), not the sum,
        // and lets each chain's small jobs back-fill the other's idle
        // cores. Same stores, same tags, same per-store version chains.
        Par.overlap(spark) { s =>
          s.fork(Histogram.refresh(batch, histRoot, "o_day", binWidth = w,
            tag = Some(s"hist-$tag")))
          TableStats.refreshProfile(batch.select(profCols.map(col): _*),
            profRoot, profCols, tag = Some(s"prof-$tag"),
            sourceVersion = storeVersion)
        }
        ()
      }
      val slice0 = ord.filter(pmod(col("o_orderkey"), lit(5L)) === 0L)
      SnapshotStore.publishBucketed(slice0, root, "o_orderkey", 4,
        tag = Some("boot"))
      refreshStats(slice0, SnapshotStore.currentVersion(root), "boot")
      ord.filter(pmod(col("o_orderkey"), lit(5L)).between(1L, 2L))
        .repartition(2).write.parquet(s"$base/in")
      val schema = spark.read.parquet(s"$base/in").schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val v = SnapshotStore.merge(batch, root, keysAreDistinct = true,
            tag = Some(s"tick-$batchId"))
          refreshStats(batch, v, s"tick-$batchId")
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      // the lineitem key profile and the raw-orders census are pure
      // functions of the INPUT tables — independent of every x74 store —
      // so they run CONCURRENTLY with the micro-batch engine (the
      // per-tick planning leaves most cores idle; x65's one-shot-trim
      // posture) and the late-batch checks, joined where they are needed
      val (freshOk, staleRefused, ordKey, liKey, ordCount) =
        Par.overlap(spark) { s =>
          val liKeyF = s.fork {
            TableStats.refreshProfile(
              Tables.lineitem(spark, sfDir).select(col("l_orderkey")),
              s"$base/li", Seq("l_orderkey"))
            Planner.keyProfile(spark, s"$base/li", "l_orderkey")
          }
          val ordCountF = s.fork(ord.count())
          try q.processAllAvailable() finally q.stop()
          val freshOk = Planner.keyProfile(spark, profRoot, "o_orderkey",
            sourceRoot = Some(root)).rows > 0L
          // a late batch lands WITHOUT its refresh: planning must refuse
          val late =
            ord.filter(pmod(col("o_orderkey"), lit(5L)).between(3L, 4L))
          val vLate = SnapshotStore.merge(late, root,
            keysAreDistinct = true, tag = Some("late"))
          val staleRefused =
            try { Planner.keyProfile(spark, profRoot, "o_orderkey",
              sourceRoot = Some(root)); false }
            catch { case e: IllegalArgumentException =>
              e.getMessage.contains("STALE") }
          refreshStats(late, vLate, "late") // the normal delta recovery
          val ordKey = Planner.keyProfile(spark, profRoot, "o_orderkey",
            sourceRoot = Some(root))
          (freshOk, staleRefused, ordKey, liKeyF.join(), ordCountF.join())
        }
      val cfg = Planner.Config(broadcastMaxRows = ordKey.rows / 2L,
        broadcastMaxBytes = math.max(1L, ordKey.bytes / 2L))
      val cRaw = Planner.chooseJoin(liKey, ordKey, cfg)
      val est = Histogram.estimateRange(spark, histRoot, lo, hiEx - 1L)
      val cF = Planner.chooseJoin(liKey,
        Planner.filteredProfile(ordKey, est.fraction), cfg)
      val stored = SnapshotStore.read(spark, root).drop("_bucket")
      val complete = stored.count() == ordCount
      val dim = stored.filter(col("o_day") >= lo && col("o_day") < hiEx)
      val estimateExact = est.straddleRows == 0L &&
        math.abs(est.estimate - dim.count().toDouble) < 0.5
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
      val out = Planner.join(li, dim, "o_orderkey", cF,
          saltSource = col("l_extendedprice"))
        .groupBy(col("o_orderpriority"))
        .agg(graft.engine.relational.Exact.lcount().as("n_rows"),
          graft.engine.relational.Exact.dsum(col("l_extendedprice"))
            .as("sum_price"))
        .orderBy(col("o_orderpriority"))
      // force execution ONCE: the tree walk reads the FINAL plan, and the
      // collected rows ARE the rollup — rebuilding the result from them
      // keeps the caller's action (bench count / verify dump) from
      // re-running the lineitem⋈dim join, the query's biggest job (r22:
      // the join executed twice, once for the audit and once for the
      // caller)
      val outRows = out.collect()
      import graft.tools.PlanAudit
      val filteredBroadcasts = cF == Planner.BroadcastHash &&
        PlanAudit.hasBroadcastHashJoin(out)
      spark.createDataFrame(java.util.Arrays.asList(outRows: _*), out.schema)
        .withColumn("complete", lit(complete))
        .withColumn("fresh_ok", lit(freshOk))
        .withColumn("stale_refused", lit(staleRefused))
        .withColumn("estimate_exact", lit(estimateExact))
        .withColumn("raw_refuses", lit(cRaw == Planner.SortMerge))
        .withColumn("filtered_broadcasts", lit(filteredBroadcasts))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""WITH d AS (SELECT o_orderkey, o_orderpriority,
        epoch_us(o_orderdate) // 86400000000 AS o_day FROM orders),
      b AS (SELECT MIN(o_day) AS dmin, MAX(o_day) AS dmax FROM d),
      p AS (SELECT GREATEST(1, (dmax - dmin + 1) // 16) AS w, dmin FROM b),
      f AS (SELECT d.* FROM d, p WHERE o_day >= (dmin // w + 2) * w
          AND o_day < (dmin // w + 2) * w + 3 * w)
      SELECT f.o_orderpriority, COUNT(*) AS n_rows,
        ${graft.engine.relational.Exact.sqlDsum("l.l_extendedprice")}
          AS sum_price,
        TRUE AS complete, TRUE AS fresh_ok, TRUE AS stale_refused,
        TRUE AS estimate_exact, TRUE AS raw_refuses,
        TRUE AS filtered_broadcasts
      FROM lineitem l JOIN f ON l.l_orderkey = f.o_orderkey
      GROUP BY 1 ORDER BY 1"""),
    doc = "always-on stats maintenance: every streamed tick merges the " +
      "store AND delta-refreshes the published profile + histogram " +
      "under one tag; an unrefreshed late batch makes planning refuse " +
      "(staleness guard live), the delta refresh recovers, and the " +
      "recovered facts drive the q153 broadcast flip from streamed data",
    costClass = GraftQuery.FixedLifecycle)

  def queries: Seq[GraftQuery] =
    Seq(x52, x53, x54, x55, x56, x57, x58, x59, x60, x61, x62, x63, x64,
      x65, x66, x67, x68, x69, x70, x71, x72, x73, x74, q58, q80, q94, q107)
}
