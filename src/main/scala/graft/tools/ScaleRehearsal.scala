package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal (VERDICT r17 item 1): measure — not argue — how the
  * heaviest operator families scale, by timing each one on
  * [[ScaleCorpus]]/[[ClusteredVectors]] corpora at 1×/4×/10× the sf0.1
  * testdata size and fitting the log-log slope (the scaling exponent).
  *
  * Exponent reading: ≈1.0 = linear in data (the contract for the scan-
  * bound families), <1 = sublinear (bounded-rewrite store operations,
  * where bucket count scales with data so touched data stays fixed),
  * >1.2 = superlinear — a fix or an explicit adjudication required.
  * Each (family, size) runs twice and keeps the MIN (JIT/launch noise
  * is one-sided); the fit uses all sizes.
  *
  * Usage: runMain graft.tools.ScaleRehearsal [outJson] [mults] [family…]
  *   outJson default target/scale_rehearsal.json; mults default "1,4,10"
  *   (comma-separated multipliers of the sf0.1-equivalent base sizes:
  *   docs 5k, embeddings 2k, events 100k — so 10 ≈ sf1-equivalent).
  */
object ScaleRehearsal {
  import graft.engine.llm.{AnnIndex, Dedup, Similarity}
  import graft.engine.sources.{ClusteredStore, SnapshotStore}

  private val DocsBase = 5000L
  private val VecsBase = 2000L
  private val EventsBase = 100000L

  private def tmp(name: String): String =
    graft.engine.Artifacts.scratch(s"rehearsal_$name")

  /** One family: untimed setup returns the timed thunk (thunk must force
    * the work — count() or an action inside). */
  final case class Family(name: String,
      setup: (SparkSession, Long) => (Long, () => Unit))

  private val planted = " === subscribe to our newsletter for daily " +
    "updates and exclusive offers === "

  /** Fixed-size events corpus published as 1 clustered bootstrap +
    * `appends` self-clustered appends over (t_us, v100) — the
    * steady-state layout a clustered fact table accumulates. Returns the
    * source frame (for box-bound arithmetic). */
  private def buildClusteredAppends(spark: SparkSession, root: String,
      appends: Int, nFiles: Int,
      clusterCols: Seq[String] = Seq("t_us", "v100")): DataFrame = {
    val ev = ScaleCorpus.events(spark, EventsBase)
      .select(col("event_id"), unix_micros(col("ts")).as("t_us"),
        expr("CAST(FLOOR(value * 100) AS BIGINT)").as("v100"), col("value"))
      .localCheckpoint()
    val slices = appends + 1
    ClusteredStore.publishClustered(
      ev.filter(pmod(col("event_id"), lit(slices.toLong)) === 0L), root,
      clusterCols, nFiles = nFiles)
    (1 to appends).foreach(i => ClusteredStore.appendClustered(
      ev.filter(pmod(col("event_id"), lit(slices.toLong)) === i.toLong),
      root, nFiles = nFiles))
    ev
  }

  /** q148's box shape, placed in the UPPER time band [65%, 85%]: the
    * events time span scales to ~38.6k of the 65.5k 16-bit range, so
    * the z-curve's first equi-count cuts land near the 42% and 85%
    * t-marks — a mid-range box would straddle the 42% cut and touch
    * every coarse file, measuring nothing. The upper band sits between
    * the cuts, so envelope pruning has real work to show. */
  private def middleBox(ev: DataFrame): Seq[(String, Long, Long)] = {
    val Array(mm) = ev.agg(min(col("t_us")), max(col("t_us"))).collect()
    val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
    val lo = tmin + (tmax - tmin) * 13L / 20L
    val hi = tmin + (tmax - tmin) * 17L / 20L
    Seq(("t_us", lo, hi), ("v100", 1000L, 3000L))
  }

  val families: Seq[Family] = Seq(
    Family("minhash_neardups", (spark, m) => {
      val n = DocsBase * m
      val docs = ScaleCorpus.documents(spark, n).localCheckpoint()
      (n, () => { Dedup.minHashNearDups(docs, "text", "doc_id").count(); () })
    }),
    Family("simhash_neardups", (spark, m) => {
      val n = DocsBase * m
      val docs = ScaleCorpus.documents(spark, n).localCheckpoint()
      (n, () => { Dedup.simHashNearDups(docs, "text", "doc_id").count(); () })
    }),
    Family("span_trim", (spark, m) => {
      val n = DocsBase * m
      val docs = ScaleCorpus.documents(spark, n)
        .select(col("doc_id"), concat(col("text"), lit(planted)).as("text"))
        .localCheckpoint()
      val refN = n / 10L
      // model build is the frozen-reference publish (session-amortized
      // in production) — untimed here; the timed kernel is the per-batch
      // trim, x65's data path
      val model = Dedup.publishBoilerplateWindows(
        docs.filter(col("doc_id") < refN), "text", "doc_id",
        graft.engine.Artifacts.table("rehearsal_trim", s"$m"), minLen = 40)
      val stream = docs.filter(col("doc_id") >= refN)
      (n, () => {
        // force the SPLICE, not just the row count: count() alone lets
        // Catalyst prune the window-join (measured flat in the first
        // rehearsal run — a measurement bug, not a scaling miracle)
        Dedup.trimAgainstPublished(stream, model, "text", "doc_id",
            minLen = 40)
          .agg(sum(length(col("trimmed_text")))).head(); ()
      })
    }),
    Family("ivfpq_probe", (spark, m) => {
      // 10x the testdata base: below ~10^5 probed codes the ~1 s
      // job-launch floor hides the data term entirely
      val n = VecsBase * 10L * m
      val corpus = ClusteredVectors.generate(spark, n).localCheckpoint()
      val root = tmp(s"ivfpq_$m")
      val cents = Similarity.ivfCentroids(corpus, nlist = 16, iters = 1)
      val books = Similarity.pqTrain(corpus, m = 8, k = 16)
      AnnIndex.publishCodes(corpus, s"$root/codes", cents, books,
        nBuckets = 8)
      val queries = corpus.filter(col("vec_id") < 10).localCheckpoint()
      val qVecs = queries.select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      // each query's nprobe nearest cells, driver-side over nlist=16
      val cells = qVecs.flatMap { qv =>
        cents.map { case (cid, cv) =>
          val dot = qv.lazyZip(cv).map(_ * _).sum
          (dot, cid)
        }.sortBy(-_._1).take(4).map(_._2)
      }.distinct.toSeq
      (n, () => {
        // sum of scores forces the ADC kernel over every probed code
        Similarity.ivfPqTopK(corpus, queries, 10, cents, books,
            nprobe = 4,
            codes = Some(AnnIndex.probeCodes(spark, s"$root/codes", cells)))
          .agg(sum(col("cosine"))).head(); ()
      })
    }),
    Family("store_merge", (spark, m) => {
      val n = DocsBase * m
      val docs = ScaleCorpus.documents(spark, n).localCheckpoint()
      val root = tmp(s"merge_$m") + "/tbl"
      // the 100 TB posture: bucket count scales WITH the data, so a
      // fixed-key upsert touches a shrinking fraction of the table
      SnapshotStore.publishBucketed(docs, root, "doc_id",
        nBuckets = (16 * m).toInt)
      val upsert = docs.filter(col("doc_id") < 50)
        .withColumn("n_chars", col("n_chars") + 1L)
        .localCheckpoint()
      (n, () => { SnapshotStore.merge(upsert, root); () })
    }),
    Family("store_readkeys", (spark, m) => {
      val n = DocsBase * m
      val docs = ScaleCorpus.documents(spark, n)
      val root = tmp(s"readkeys_$m") + "/tbl"
      SnapshotStore.publishBucketed(docs, root, "doc_id",
        nBuckets = (16 * m).toInt)
      val keys = spark.range(10L).select(col("id").as("doc_id"))
        .localCheckpoint()
      (n, () => { SnapshotStore.readKeys(keys, root).count(); () })
    }),
    // --- clustered-store pair (r18 VERDICT items 1+3): the x-axis is
    // APPEND COUNT at fixed corpus size — appendClustered leaves each
    // batch z-clustered only within itself, so a box read touches every
    // accumulated run (the measured decay); compactClustered rewrites the
    // pile into one global z-run, so the same box read must be FLAT in
    // append history (the measured repair). Both print the pruning
    // fraction alongside the timing.
    Family("clustered_box", (spark, m) => {
      val appends = m.toInt
      val root = tmp(s"zbox_$m") + "/tbl"
      val ev = buildClusteredAppends(spark, root, appends, nFiles = 8)
      val box = middleBox(ev)
      val (_, r0, t0) = ClusteredStore.readBox(spark, root, box)
      println(f"REHEARSE clustered_box      x$m%-3d appends=$appends " +
        f"pruning $r0/$t0 files")
      (appends.toLong,
        () => { ClusteredStore.readBox(spark, root, box)._1.count(); () })
    }),
    Family("clustered_compact_box", (spark, m) => {
      val appends = m.toInt
      val root = tmp(s"zcbox_$m") + "/tbl"
      val ev = buildClusteredAppends(spark, root, appends, nFiles = 8)
      ClusteredStore.compactClustered(spark, root, nFiles = 16)
      val box = middleBox(ev)
      val (_, r0, t0) = ClusteredStore.readBox(spark, root, box)
      println(f"REHEARSE clustered_compact  x$m%-3d appends=$appends " +
        f"pruning $r0/$t0 files")
      (appends.toLong,
        () => { ClusteredStore.readBox(spark, root, box)._1.count(); () })
    }),
    // ANN code-store lifecycle cost vs corpus size (r18 VERDICT item 3):
    // one ingest → takedown → CAS-compact cycle. The compact is a
    // deliberate whole-store rewrite (q104 economics), so the contract
    // is LINEAR in code count — superlinear would mean the cycle
    // re-reads history more than once.
    Family("ann_ingest_compact", (spark, m) => {
      val n = VecsBase * 10L * m
      val all = ClusteredVectors.generate(spark, n + 64L).localCheckpoint()
      val corpus = all.filter(col("vec_id") < n)
      val batch = all.filter(col("vec_id") >= n).localCheckpoint()
      val batchIds = batch.select(col("vec_id").as("nid")).localCheckpoint()
      val root = tmp(s"annlife_$m") + "/codes"
      val cents = Similarity.ivfCentroids(corpus, nlist = 16, iters = 1)
      val books = Similarity.pqTrain(corpus, m = 8, k = 16)
      AnnIndex.publishCodes(corpus, root, cents, books, nBuckets = 8)
      (n, () => {
        // tombstones are compacted away each cycle, so the re-appended
        // batch ids are legitimate re-inserts on the second rep
        AnnIndex.appendCodes(batch, root, cents, books)
        AnnIndex.deleteCodes(batchIds, root)
        AnnIndex.compactCodes(spark, root)
        ()
      })
    }),
    // histogram maintenance (r19, q153/x74): x-axis = ACCUMULATED
    // HISTORY at fixed batch size. The delta-cost contract says one
    // refresh scans its batch once and touches only the metadata-sized
    // bin store — flat in how much history already folded in.
    // Superlinear here would mean the refresh re-reads history.
    Family("hist_refresh", (spark, m) => {
      import graft.engine.relational.Histogram
      val n = DocsBase * m
      val docs = ScaleCorpus.documents(spark, n).localCheckpoint()
      val root = tmp(s"hist_$m") + "/bins"
      Histogram.refresh(docs, root, "n_chars", binWidth = 64L)
      val batch = docs.filter(col("doc_id") < DocsBase).localCheckpoint()
      (n, () => { Histogram.refresh(batch, root, "n_chars",
        binWidth = 64L); () })
    }),
    // metadata-only count (r19, q154): x-axis = APPEND COUNT at fixed
    // corpus size, q154's 1-D TIME-clustered layout (the retention-audit
    // shape — a 2-D layout would leave almost every file a t-straddler
    // and measure clustered_box again). Files are t-contiguous per run,
    // so interior files are counted from their sidecar lines unopened
    // and the read set is the ~2 edge straddlers per accumulated run.
    Family("meta_count", (spark, m) => {
      val appends = m.toInt
      val root = tmp(s"zcount_$m") + "/tbl"
      val ev = buildClusteredAppends(spark, root, appends, nFiles = 8,
        clusterCols = Seq("t_us"))
      val box = middleBox(ev).take(1) // t_us band only
      val (_, r0, t0) = ClusteredStore.countBox(spark, root, box)
      println(f"REHEARSE meta_count         x$m%-3d appends=$appends " +
        f"read $r0/$t0 files")
      (appends.toLong,
        () => { ClusteredStore.countBox(spark, root, box); () })
    }),
    // metadata-assisted top-k (r19, q155): same 1-D layout and x-axis as
    // meta_count. The newest-25 probe reads the newest file(s) whose
    // counts reach k plus any same-threshold envelope — for a
    // time-ordered append stream that set does not grow with history,
    // so the cost curve should track the metadata walk, not the pile.
    Family("meta_topk", (spark, m) => {
      val appends = m.toInt
      val root = tmp(s"ztopk_$m") + "/tbl"
      buildClusteredAppends(spark, root, appends, nFiles = 8,
        clusterCols = Seq("t_us"))
      val (_, r0, t0) = ClusteredStore.readTopK(spark, root, "t_us", 25)
      println(f"REHEARSE meta_topk          x$m%-3d appends=$appends " +
        f"read $r0/$t0 files")
      (appends.toLong,
        () => { ClusteredStore.readTopK(spark, root, "t_us", 25)
          ._1.count(); () })
    }),
    Family("stream_ticks", (spark, m) => {
      val n = EventsBase * m
      val base = tmp(s"ticks_$m")
      ScaleCorpus.events(spark, n).repartition(3)
        .write.parquet(s"$base/in")
      val schema = spark.read.parquet(s"$base/in").schema
      (n, () => {
        val root = s"$base/store_${System.nanoTime()}"
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
          .writeStream.outputMode("append")
          .foreachBatch {
            (batch: DataFrame, batchId: Long) =>
              val agg = batch
                .groupBy(window(col("ts"), "1 hour"), col("event_type"))
                .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
                .select(col("window.start").as("ws"), col("event_type"),
                  col("n"), col("s"))
              if (SnapshotStore.currentVersion(root) == 0L)
                SnapshotStore.publishBucketed(agg, root, "event_type",
                  nBuckets = 4, tag = Some(s"b-$batchId"))
              else SnapshotStore.append(agg, root, tag = Some(s"b-$batchId"))
              ()
          }
          .option("checkpointLocation", s"$base/ckpt_${System.nanoTime()}")
          .start()
        try q.processAllAvailable() finally q.stop()
      })
    })
  )

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("target/scale_rehearsal.json")
    val mults = args.lift(1).getOrElse("1,4,10")
      .split(",").toSeq.map(_.trim.toLong)
    val only = args.drop(2).toSet
    val spark = graft.engine.GraftSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    def loadAvg(): String =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.trim.split("\\s+").take(2).mkString("[", ",", "]")
        finally src.close()
      } catch { case _: Throwable => "[]" }
    // sample the load BEFORE any family runs: the end-of-run sample
    // (kept as `load`) includes the rehearsal's own 32-thread work, so
    // it can never certify a quiet window — `load_start` is the honest
    // ambient-noise evidence (r18's [10.4, 7.6] was largely self-load)
    val loadStart = loadAvg()
    val results = families
      .filter(f => only.isEmpty || only.contains(f.name))
      .map { f =>
        val runs = mults.map { m =>
          val (n, thunk) = f.setup(spark, m)
          val secs = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            thunk()
            (System.nanoTime() - t0) / 1e9
          }
          val best = secs.min
          println(f"REHEARSE ${f.name}%-18s x$m%-3d n=$n%-8d " +
            f"min=$best%7.2f s  (reps ${secs.map(s => f"$s%.2f").mkString(",")})")
          (n, best)
        }
        // least-squares slope of log(t) on log(n) = scaling exponent
        val xs = runs.map(r => math.log(r._1.toDouble))
        val ys = runs.map(r => math.log(r._2))
        val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
        val expo = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
          xs.map(x => (x - mx) * (x - mx)).sum
        val runsJson = runs.map { case (n, t) =>
          s"""{"n":$n,"sec":$t}""" }.mkString("[", ",", "]")
        println(f"REHEARSE ${f.name}%-18s exponent=$expo%.3f")
        s"""{"family":"${f.name}","exponent":${f"$expo%.3f"},""" +
          s""""runs":$runsJson}"""
      }
    val json = s"""{"mults":${mults.mkString("[", ",", "]")},""" +
      s""""load_start":$loadStart,"load":${loadAvg()},""" +
      s""""families":${results.mkString("[", ",", "]")}}"""
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(out).toAbsolutePath.getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println("REHEARSALJSON " + json)
    spark.stop()
  }
}
