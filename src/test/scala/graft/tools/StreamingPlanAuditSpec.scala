package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark
import graft.engine.llm.Dedup
import graft.engine.sources.SnapshotStore
import graft.engine.streaming.Streaming

/** Plan audit EXTENDED INTO foreachBatch: PlanAuditSpec sweeps registered
  * queries' batch plans, but plans built inside `foreachBatch` closures
  * never surface there — which is exactly where the round-7 unpruned
  * store scan hid. This spec registers a QueryExecutionListener around a
  * streaming run, so every plan the micro-batches actually EXECUTE is
  * captured (writes included — the scan under a parquet-write command is
  * part of its executed plan), then audits the captures with
  * [[PlanAudit.unprunedStoreScans]].
  *
  * Two halves, per the gate-building discipline: first PROVE the audit
  * catches a planted offender (a foreachBatch that anti-joins against the
  * full unpruned store), then run the real curation pipeline under the
  * same audit and require zero violations AND at least one pruned store
  * scan observed (no vacuous pass).
  */
class StreamingPlanAuditSpec extends AnyFunSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def capturing[A](body: => A): (A, Seq[(String, QueryExecution)]) =
    PlanCaptureUtil.capturing(spark)(body)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("audit hardening: tautological _bucket filters are NOT pruning, " +
      "and sibling roots do NOT false-match") {
    val base = tmp("audit_hardening")
    val storeRoot = s"$base/tbl"
    val siblingRoot = s"$base/tbl2" // substring-matching would conflate these
    for (root <- Seq(storeRoot, siblingRoot))
      SnapshotStore.publishBucketed(
        (1L to 50L).map(i => (s"ck$i", i)).toDF("ck", "payload"),
        root, "ck", nBuckets = 4)
    def planOf(df: DataFrame) = df.queryExecution.executedPlan
    // a filter that merely REFERENCES _bucket selects every partition —
    // the audit must still flag the scan as unpruned
    val tautological = planOf(
      SnapshotStore.read(spark, storeRoot).filter(col("_bucket") >= 0))
    assert(PlanAudit.unprunedStoreScans(tautological, storeRoot).nonEmpty,
      "_bucket >= 0 prunes nothing and must be flagged")
    // genuine membership filters pass, single-value and set forms alike
    val isin = planOf(SnapshotStore.read(spark, storeRoot)
      .filter(col("_bucket").isin(0, 2)))
    assert(PlanAudit.unprunedStoreScans(isin, storeRoot).isEmpty)
    val eq = planOf(SnapshotStore.read(spark, storeRoot)
      .filter(col("_bucket") === 1))
    assert(PlanAudit.unprunedStoreScans(eq, storeRoot).isEmpty)
    // an unpruned scan of the SIBLING store must not surface when
    // auditing storeRoot (path-boundary matching, not substring)
    val sibling = planOf(SnapshotStore.read(spark, siblingRoot))
    assert(PlanAudit.storeScans(sibling, storeRoot).isEmpty,
      s"$siblingRoot scan wrongly attributed to $storeRoot")
    assert(PlanAudit.storeScans(sibling, siblingRoot).nonEmpty,
      "the sibling scan itself must still be observable under its own root")
  }

  test("the audit catches a planted unpruned store scan inside foreachBatch") {
    val storeRoot = s"${tmp("audit_bad")}/tbl"
    SnapshotStore.publishBucketed(
      (1L to 200L).map(i => (s"ck$i", i)).toDF("ck", "payload"),
      storeRoot, "ck", nBuckets = 4)
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    stream.addData(Seq("ck1", "ck2", "novel"))
    def runTick(prune: Boolean): Seq[(String, QueryExecution)] = {
      val (_, captured) = capturing {
        val q = stream.toDF().select(col("value").as("ck")).writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val store = SnapshotStore.read(spark, storeRoot)
            val side =
              if (prune) {
                val touched = batch
                  .select(SnapshotStore.bucketExpr("ck", 4).as("_bucket"))
                  .distinct().collect().map(_.getInt(0)).toSeq
                store.filter(col("_bucket").isin(touched.map(Int.box): _*))
              } else store
            batch.join(side.select(col("ck")), Seq("ck"), "left_anti").count()
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      captured
    }
    val badPlans = runTick(prune = false)
    val badViolations = badPlans.flatMap { case (_, qe) =>
      PlanAudit.unprunedStoreScans(qe.executedPlan, storeRoot)
    }
    assert(badViolations.nonEmpty,
      "the planted full-store anti-join must be flagged; captured " +
        s"${badPlans.size} executions: ${badPlans.map(_._1).mkString(",")}")
    stream.addData(Seq("ck3", "novel2"))
    val okPlans = runTick(prune = true)
    val okViolations = okPlans.flatMap { case (_, qe) =>
      PlanAudit.unprunedStoreScans(qe.executedPlan, storeRoot)
    }
    assert(okViolations.isEmpty, s"pruned tick wrongly flagged: $okViolations")
    assert(okPlans.exists { case (_, qe) =>
      PlanAudit.storeScans(qe.executedPlan, storeRoot).nonEmpty },
      "the pruned tick's store scan must still be OBSERVED by the audit")
  }

  test("streamingCuration's micro-batch plans carry _bucket partition " +
      "filters on every store scan (the round-7 scale-killer, gated)") {
    val base = tmp("audit_curation")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    def put(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/in/$name"),
        java.util.Arrays.asList(lines: _*),
        java.nio.charset.StandardCharsets.UTF_8)
    put("a.jsonl",
      """{"doc_id":1,"text":"first tick doc one"}""",
      """{"doc_id":2,"text":"first tick doc two"}""")
    put("b.jsonl",
      """{"doc_id":3,"text":"second tick doc three"}""",
      """{"doc_id":4,"text":"first tick doc one"}""") // published-dup: anti-join must drop
    val history = Seq((100L, "history doc text h1")).toDF("doc_id", "text")
    val exSigs = Dedup.minHashSignatures(history, "text", "doc_id")
    val bandTable = graft.engine.Artifacts.table("audit_curation_bands",
      s"${System.nanoTime()}")
    Dedup.publishBandedSignatures(exSigs, bandTable, numBuckets = 4)
    val exKeys = history.select(col("doc_id").as("id_ex"),
      Dedup.contentKey(col("text")).as("ck_ex"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val storeRoot = s"$base/store/tbl"
    // one file per trigger: tick 1 bootstraps, tick 2 runs the
    // cross-version anti-join + merge — the two store-reading plans
    val (_, captured) = capturing {
      val q = Streaming.streamingCuration(spark, s"$base/in", schema,
        spark.table(bandTable), exSigs, exKeys,
        storeRoot, s"$base/quarantine",
        readOptions = Map("maxFilesPerTrigger" -> "1"),
        nBuckets = 4) // non-default: the bootstrap must honor the dial
      try q.processAllAvailable() finally q.stop()
    }
    assert(SnapshotStore.readBucketSpec(storeRoot) == Some(("ck", 4)),
      "bootstrap must bucket the store at the caller's nBuckets")
    val violations = captured.flatMap { case (fn, qe) =>
      PlanAudit.unprunedStoreScans(qe.executedPlan, storeRoot)
        .map(v => s"[$fn] $v")
    }
    assert(violations.isEmpty,
      s"curation micro-batch executed an unpruned store scan:\n" +
        violations.mkString("\n"))
    val observedStoreScans = captured.flatMap { case (_, qe) =>
      PlanAudit.storeScans(qe.executedPlan, storeRoot)
    }
    assert(observedStoreScans.nonEmpty,
      "audit must observe the cross-version dedup + merge store scans " +
        "(nothing captured = nothing gated)")
    // and the pipeline's answer is still right: published-dup dropped,
    // both ticks' unique docs kept exactly once
    val kept = SnapshotStore.read(spark, storeRoot)
      .select("text").collect().map(_.getString(0)).toSeq
    assert(kept.sorted == Seq("first tick doc one", "first tick doc two",
      "second tick doc three"),
      s"cross-version dedup answer changed under pruning: $kept")
  }

  test("x64-shaped streaming decontamination: every per-tick plan scans " +
      "the frozen benchmark table BUCKETED, contributing no exchange " +
      "(only the batch side and the per-doc agg shuffle)") {
    import graft.engine.llm.Curation
    val base = tmp("audit_decon")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"),
      (2L, "one two three four five six seven eight nine ten eleven twelve thirteen"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"),
      (4L, "totally fresh words appear here nothing benchmark related at all today ok fine")
    ).toDF("doc_id", "text")
    val table = graft.engine.Artifacts.table("audit_decon_bench",
      s"${System.nanoTime()}")
    Curation.publishBenchmarkNgrams(docs.filter(col("doc_id") === 1L),
      "text", table, n = 13)
    // two one-file ticks of the "ingest"
    docs.filter(col("doc_id") === 2L).coalesce(1)
      .write.mode("append").parquet(s"$base/in")
    docs.filter(col("doc_id") >= 3L).coalesce(1)
      .write.mode("append").parquet(s"$base/in")
    val root = s"$base/store/flags"
    val (_, captured) = capturing {
      val bench = spark.table(table)
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, id: Long) =>
          val flags = Curation.contaminationBucketed(b, bench,
            "text", "doc_id", n = 13)
          if (SnapshotStore.currentVersion(root) == 0)
            SnapshotStore.publishBucketed(flags, root, "doc_id",
              nBuckets = 4, tag = Some(s"b-$id"))
          else SnapshotStore.append(flags, root, tag = Some(s"b-$id"))
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // every captured micro-batch plan that reads the frozen table must
    // read it through the bucketed layout (no exchange on its side: at
    // most the batch-ngram exchange + the per-doc agg exchange)
    val benchPlans = captured.map(_._2.executedPlan.toString)
      .filter(_.contains(table))
    assert(benchPlans.nonEmpty,
      "audit must observe the frozen-table scans (nothing captured = " +
        "nothing gated)")
    benchPlans.foreach { p =>
      assert("Bucketed: true".r.findFirstIn(p).isDefined,
        s"frozen benchmark scan lost its bucketed layout:\n$p")
      // the join key is ng_key: a reshuffled frozen side would give each
      // sort-merge join TWO ng_key exchanges. Exactly one per join =
      // only the batch side pays the join shuffle. (The join subtree can
      // legitimately appear more than once in a staged-write plan, and
      // the per-doc agg / bucketed store write add doc_id exchanges —
      // so neither a total bound nor a per-plan count of 1 is right.)
      val nJoins = raw"SortMergeJoin \[ng_key".r.findAllIn(p).size
      val ngKeyExchanges =
        raw"Exchange hashpartitioning\(ng_key[^\]]*\[plan_id=(\d+)\]".r
          .findAllMatchIn(p).map(_.group(1)).toSet
      assert(nJoins >= 1, s"expected the ng_key join in the plan:\n$p")
      assert(ngKeyExchanges.size == nJoins,
        s"expected ONE ng_key exchange per join (the batch side), got " +
          s"${ngKeyExchanges.size} across $nJoins joins — the frozen " +
          "side must not reshuffle")
    }
    // and the gate's values are right across ticks: doc 3 (benchmark
    // copy) fully contaminated, docs 2/4 untouched
    val flags = SnapshotStore.read(spark, root)
      .select(col("doc_id"), col("contamination")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(flags(3L) == 1.0 && flags(2L) == 0.0 && flags(4L) == 0.0,
      s"per-tick contamination values drifted: $flags")
  }

  test("x65-shaped streaming span-trim: every per-tick plan scans the " +
      "frozen boilerplate-window table BUCKETED with no exchange on " +
      "the frozen side, and the per-tick trims are right") {
    import graft.engine.llm.Dedup
    val base = tmp("audit_trim")
    // 50-char boilerplate block shared by both reference docs (so its
    // internal 40-char windows occur >= 2 times and enter the model);
    // each doc's own tail is unique (junction windows occur once)
    val bp = "x" * 25 + "y" * 25
    // tails start with DISTINCT characters so every junction window
    // (boilerplate meets tail) occurs exactly once and stays out of the
    // model — the marked region is precisely the bp block [0, 50)
    val docs = Seq(
      (1L, bp + "A unique reference tail one abcdefghijklmnop"),
      (2L, bp + "B other reference tail entirely different qrs"),
      (3L, bp + "C streamed doc first with its own suffix here"),
      (4L, "clean streamed doc with no boilerplate at all in it ok")
    ).toDF("doc_id", "text")
    val table = graft.engine.Artifacts.table("audit_trim_model",
      s"${System.nanoTime()}")
    Dedup.publishBoilerplateWindows(docs.filter(col("doc_id") <= 2L),
      "text", "doc_id", table, minLen = 40)
    // two one-file ticks
    docs.filter(col("doc_id") === 3L).coalesce(1)
      .write.mode("append").parquet(s"$base/in")
    docs.filter(col("doc_id") === 4L).coalesce(1)
      .write.mode("append").parquet(s"$base/in")
    val root = s"$base/store/trims"
    val (_, captured) = capturing {
      val model = spark.table(table)
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, id: Long) =>
          val trims = Dedup.trimAgainstPublished(b, model, "text",
              "doc_id", minLen = 40)
            .select(col("doc_id"), col("trimmed_text"),
              col("n_trimmed_chars"))
          if (SnapshotStore.currentVersion(root) == 0)
            SnapshotStore.publishBucketed(trims, root, "doc_id",
              nBuckets = 4, tag = Some(s"b-$id"))
          else SnapshotStore.append(trims, root, tag = Some(s"b-$id"))
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // every micro-batch plan reading the frozen model must read it
    // through the bucketed layout with exactly one wk exchange per
    // sort-merge join (the batch window-key side) — the x64 gate
    // applied to the span family
    val modelPlans = captured.map(_._2.executedPlan.toString)
      .filter(_.contains(table))
    assert(modelPlans.nonEmpty,
      "audit must observe the frozen-model scans (nothing captured = " +
        "nothing gated)")
    modelPlans.foreach { p =>
      assert("Bucketed: true".r.findFirstIn(p).isDefined,
        s"frozen boilerplate-model scan lost its bucketed layout:\n$p")
      val nJoins = raw"SortMergeJoin \[wk".r.findAllIn(p).size
      val wkExchanges =
        raw"Exchange hashpartitioning\(wk[^\]]*\[plan_id=(\d+)\]".r
          .findAllMatchIn(p).map(_.group(1)).toSet
      assert(nJoins >= 1, s"expected the wk join in the plan:\n$p")
      assert(wkExchanges.size == nJoins,
        s"expected ONE wk exchange per join (the batch side), got " +
          s"${wkExchanges.size} across $nJoins joins — the frozen side " +
          "must not reshuffle")
    }
    // values: doc 3 loses exactly the 50-char boilerplate block (the
    // maximal marked span is its windows' union [0, 50)), doc 4 is
    // untouched
    val trims = SnapshotStore.read(spark, root)
      .select(col("doc_id"), col("trimmed_text"), col("n_trimmed_chars"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(trims(3L)._1 == "C streamed doc first with its own suffix here"
      && trims(3L)._2 == 50L,
      s"doc 3 must lose exactly the boilerplate prefix: ${trims(3L)}")
    assert(trims(4L)._2 == 0L &&
      trims(4L)._1 == "clean streamed doc with no boilerplate at all in it ok",
      s"doc 4 must pass through untouched: ${trims(4L)}")
  }
}
