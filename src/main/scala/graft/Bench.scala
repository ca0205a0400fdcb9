package graft

object Bench {

  /** First two fields of /proc/loadavg (1- and 5-minute load) — the
    * noise-adjudication context BASELINE.md's quiet-window rule needs
    * recorded next to every reading. Best-effort: absent outside Linux. */
  private def loadAvg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(2).toSeq.map(_.toDouble)
      finally src.close()
    } catch { case _: Throwable => Nil }

  /** Fixed synthetic CPU-bound probe (VERDICT r20 item 1 — in-harness
    * era calibration): one deterministic whole-stage-codegen xxhash64
    * fold over a fixed range, timed at bench start AND end. The probe's
    * seconds move with the host's ambient contention exactly like the
    * query set does, so cross-round comparisons can normalize totals by
    * the probe instead of arguing from /proc/loadavg. Work size scales
    * with the session's cores so the probe measures per-core headroom
    * (the quantity the queries actually contend for), not core count. */
  private def cpuProbe(spark: org.apache.spark.sql.SparkSession): Double = {
    val n = 4L * 1000 * 1000 *
      spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    // max, not sum: xxhash64 spans the full long range and an ANSI-mode
    // sum of 10^8 of them overflows; max folds every hash overflow-free
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("max(xxhash64(id)) AS s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = graft.engine.GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (codegen, parquet footer cache, JIT) with one tiny
    // scan so the first measured query doesn't absorb startup cost.
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    // Warm MLlib too: the r10 adjudication showed ml_cv_rf reads 9-15 s
    // cold vs 5.0 s warm on the same binary — the delta is MLlib/JVM
    // class-load + JIT, not the data path. A 12-row RF fit absorbs it so
    // the measured ml_* readings reflect the operators, not the first
    // touch of the MLlib class graph.
    try {
      import org.apache.spark.ml.classification.RandomForestClassifier
      import org.apache.spark.ml.linalg.Vectors
      import spark.implicits._
      val warm = (0 until 12).map(i =>
        (i % 2, Vectors.dense(i.toDouble, (i % 3).toDouble)))
        .toDF("label", "features")
      new RandomForestClassifier().setNumTrees(2).setMaxDepth(2)
        .setSeed(1L).fit(warm).transform(warm).count()
      // ...and the CV + evaluator class graph (ml_cv_rf runs FIRST of the
      // ml_* block in sort order, so it pays any remaining first-touch)
      import org.apache.spark.ml.classification.GBTClassifier
      import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
      import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
      val rf = new RandomForestClassifier().setNumTrees(2).setMaxDepth(2)
        .setSeed(1L)
      new CrossValidator().setEstimator(rf)
        .setEvaluator(new MulticlassClassificationEvaluator()
          .setMetricName("accuracy"))
        .setEstimatorParamMaps(new ParamGridBuilder()
          .addGrid(rf.maxDepth, Array(2)).build())
        .setNumFolds(2).setSeed(1L).fit(warm)
      new GBTClassifier().setMaxIter(2).setMaxDepth(2).setSeed(1L)
        .fit(warm.filter("label < 2")).transform(warm).count()
      // ...and LogisticRegression (ml_quality_lr's estimator: 3.5 s warm
      // vs 5.3-5.9 s when it pays the L-BFGS/Breeze first touch)
      import org.apache.spark.ml.classification.LogisticRegression
      new LogisticRegression().setMaxIter(2).fit(warm).transform(warm).count()
    } catch { case _: Throwable => () }
    // Same r10-adjudicated warmup rationale, extended (r21) to the text-
    // analysis/AUC plan shapes the ml_* block touches first: a 12-row
    // qualityScore → stack-melt → binaryAucBy dry run absorbs the janino
    // codegen + window first-touch (ProfileQuery measured ml_auc_screen
    // 5.25 s cold vs 1.59 s warm on the same binary — the delta is plan
    // compilation, not the operators), and one tiny parquet write+read
    // round-trip warms the committer/output-writer class graph the
    // scored-artifact queries all use. Operators measured, class loading
    // not — the established warmup contract.
    try {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val docs = (0 until 12).map(i =>
        (i.toLong, s"tiny warm doc number $i with a few words 4$i"))
        .toDF("doc_id", "text")
      val feat = graft.engine.llm.TextAnalysis.qualityScore(docs, "text")
        .select(col("doc_id"), col("keep").cast("long").as("y"),
          col("n_words").cast("double").as("f_words"),
          col("stopword_ratio").as("f_stop"))
      val melted = feat.select(col("y"),
        expr("stack(2, 'f_words', f_words, 'f_stop', f_stop) " +
          "as (measure, score)"))
      graft.engine.ml.Metrics.binaryAucBy(melted, "measure", "y", "score")
        .count()
      val wdir = graft.engine.Artifacts.scratch("bench_warm")
      docs.coalesce(1).write.mode("overwrite").parquet(wdir)
      spark.read.parquet(wdir).count()
      graft.engine.sources.SnapshotStore.deleteRecursively(
        java.nio.file.Paths.get(wdir))
    } catch { case _: Throwable => () }
    // one untimed probe run first: the probe's own codegen/JIT would
    // otherwise inflate the opening reading (measured 0.52 first vs
    // 0.30 second on a quiet host)
    cpuProbe(spark)
    val probeBefore = cpuProbe(spark)
    val loadBefore = loadAvg()
    // Deterministic execution order → comparable per-query numbers across
    // rounds (Map iteration order varies with contents).
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed += name; false
        }
      // A crashed query must not pass for a fast one: negative time flags it.
      val dt = (System.nanoTime() - t0) / 1e9
      name -> (if (ok) dt else -dt)
    }
    val loadAfter = loadAvg()
    val probeAfter = cpuProbe(spark)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2.abs).sum
    // Era-normalized total: value × (probe_ref / mean probe). probe_ref
    // is the quiet-window probe constant stamped in BASELINE.md §r21
    // (0.30 s warm on this host at local[32], measured across the r21
    // quiet reps) — a fixed scalar, so the normalization is a pure
    // rescale any reader can undo; `value` stays the raw driver contract.
    // Overridable (ADVICE r21): the 0.30 reference is host- and
    // core-count-specific, so another machine sets SPARK_GRAFT_PROBE_REF
    // to its own quiet-window reading instead of shipping a silently
    // miscalibrated value_norm.
    val probeRef = sys.env.get("SPARK_GRAFT_PROBE_REF")
      .flatMap(_.toDoubleOption).getOrElse(0.30)
    val probeMean = (probeBefore + probeAfter) / 2.0
    val totalNorm =
      if (probeMean > 0) total * (probeRef / probeMean) else total
    // Cost-class split (VERDICT r17 item 2): fixed-lifecycle queries pay
    // a job-count price that is sf-invariant, so lumping them into one
    // total would let their fixed cost masquerade as data-path time.
    // `value` stays the overall total (the driver contract); `classes`
    // carries the split so the <5 s/query rate is judged on the
    // data-scaling class.
    val classOf = graft.engine.Registry.all
      .map(q => q.name -> q.costClass).toMap
    val classes = results
      .groupBy { case (k, _) =>
        classOf.getOrElse(k, graft.engine.GraftQuery.Data) }
      .map { case (c, rs) =>
        s"""\"$c\":{"sec":${rs.map(_._2.abs).sum},"n":${rs.size}}""" }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def loadJson(l: Seq[Double]) = l.mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":$failedJson,"sf":"$sfDir","n_queries":${results.size},""" +
        s""""classes":$classes,""" +
        s""""probe_sec":[$probeBefore,$probeAfter],""" +
        s""""probe_ref":$probeRef,"value_norm":$totalNorm,""" +
        s""""load_before":${loadJson(loadBefore)},""" +
        s""""load_after":${loadJson(loadAfter)}}"""
    // ONE clean machine-readable artifact: sbt interleaves [info]/[success]
    // noise into stdout, which has repeatedly left the driver's BENCH_r*.json
    // with "parsed": null — the file is the record, the println a courtesy.
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    // The driver's scraper keeps only a ~2000-char TAIL of stdout. At 161
    // queries even a compacted per-query map is ~2.6KB, so any final line
    // carrying it arrives FRONT-TRUNCATED and unparseable — r11-r13 all
    // recorded "parsed": null this way. The final line therefore carries
    // totals ONLY (~160 chars — physically unable to overflow the tail);
    // the per-query map lives solely in bench_out.json (full names, full
    // precision, load context), printed in full above as a courtesy.
    // The compact line carries a CAPPED 5-name sample — a mass-failure
    // run (the case where the record matters most) must not re-grow the
    // line past the driver's ~2000-char stdout tail. The field is named
    // `failed_sample` (not `failed`) so no consumer can mistake it for
    // the complete list (ADVICE r15); the FULL list lives under `failed`
    // in bench_out.json above, with `n_failed` as the authoritative count.
    val failedCapped = failed.take(5).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    def r1(d: Double) = math.round(d * 10.0) / 10.0
    val classesCompact = results
      .groupBy { case (k, _) =>
        classOf.getOrElse(k, graft.engine.GraftQuery.Data) }
      .map { case (c, rs) => s"""\"$c\":${r1(rs.map(_._2.abs).sum)}""" }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${r1(total)},""" +
        s""""unit":"sec","n_queries":${results.size},""" +
        s""""n_failed":${failed.size},"failed_sample":$failedCapped,""" +
        s""""classes":$classesCompact,""" +
        s""""probe_sec":[${r1(probeBefore * 10) / 10},""" +
        s"""${r1(probeAfter * 10) / 10}],"value_norm":${r1(totalNorm)},""" +
        s""""sf":"$sfDir","full_output":"$outPath"}"""
    println(compact)
    // A decoration-free copy of the compact record at a FIXED path
    // (VERDICT r15 item 7): any scraper that can read a file gets the
    // record without fighting sbt's [info] stdout prefixes.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_compact.json"),
      (compact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    // Stop the session BEFORE the final line: nothing (shutdown logging,
    // executor teardown) may print after it. The compact record goes out
    // twice — once as a bare JSON line above (for a parse-any-JSON-line
    // scraper) and once as the ABSOLUTE LAST stdout line under the stable
    // sentinel prefix "BENCHJSON " (for a grep-a-sentinel scraper).
    // README §Bench documents both.
    spark.stop()
    println("BENCHJSON " + compact)
  }
}
