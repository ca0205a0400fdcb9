package perfbench

/** Per-layer metrics of a traced run, from the spans and micro-batches
  * recorded after the warm-up. Times are medians per call; counters (jobs,
  * tasks, bytes) are means per call, and repeat exactly for one seed
  * because every run of it does the same units of work. */
object Layers {

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  def report(t: Trace, since: Long, curate: Curate, store: Store,
      stream: Stream, ml: Ml, out: Out): Unit = {
    val all = t.spans().filter(_.startMs >= since).groupBy(_.name)
    def calls(n: String): Seq[t.Span] = all.getOrElse(n, Seq.empty)
    val L = out.layer

    def six(n: String): Unit = {
      L(s"$n.wall_s") = (p50(calls(n).map(_.wallMs / 1000.0)), "s")
      L(s"$n.cpu_s") = (p50(calls(n).map(_.cpuS)), "s")
      L(s"$n.driver_gap_s") = (p50(calls(n).map(_.driverGapMs / 1000.0)), "s")
      L(s"$n.jobs") = (mean(calls(n).map(_.jobs.size.toDouble)), "count")
      L(s"$n.tasks") = (mean(calls(n).map(_.tasks.toDouble)), "count")
      L(s"$n.shuffle_bytes") = (mean(calls(n).map(_.shuffleBytes.toDouble)), "bytes")
    }
    Curate.Spans.foreach(six)
    Ml.SixMeasureSpans.foreach(six)
    val mm = "ml.Metrics.multiclassMetrics"
    L(s"$mm.wall_s") = (p50(calls(mm).map(_.wallMs / 1000.0)), "s")
    L(s"$mm.jobs") = (mean(calls(mm).map(_.jobs.size.toDouble)), "count")
    Seq("ml.Predict.saveStage", "ml.Predict.loadStage").foreach { n =>
      L(s"$n.wall_s") = (p50(calls(n).map(_.wallMs / 1000.0)), "s")
    }

    Store.Ops.foreach { n =>
      L(s"$n.ms_p50") = (p50(calls(n).map(_.wallMs)), "ms")
      L(s"$n.jobs_per_op") = (mean(calls(n).map(_.jobs.size.toDouble)), "count")
      L(s"$n.driver_gap_ms_p50") = (p50(calls(n).map(_.driverGapMs)), "ms")
    }
    Store.Writers.foreach { n =>
      L(s"$n.bytes_written_per_op") =
        (mean(calls(n).map(_.outputBytes.toDouble)), "bytes")
    }
    Store.Readers.foreach { n =>
      L(s"$n.input_bytes_per_op") = (mean(calls(n).map(_.inputBytes.toDouble)), "bytes")
    }
    L("sources.store.files_per_version") = (store.filesPerVersion, "count")
    L("sources.store.versions_retained") = (store.versionsRetained, "count")
    L("sources.store.space_amp") = (store.spaceAmp, "ratio")

    val prog = stream.progress.map(_.progress).toSeq
    Seq("addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit",
      "commitOffsets").foreach { ph =>
      L(s"streaming.${ph}_ms_p50") = (p50(prog.flatMap(p =>
        Option(p.durationMs.get(ph)).map(_.doubleValue))), "ms")
    }
    val ops = prog.flatMap(_.stateOperators)
    L("streaming.state_rows") =
      (if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal).max.toDouble, "rows")
    L("streaming.state_memory_bytes") =
      (if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max.toDouble, "bytes")
    L("streaming.state_commit_ms_p50") = (p50(ops.map(_.commitTimeMs.toDouble)), "ms")
    L("streaming.rows_dropped_by_watermark") =
      (ops.map(_.numRowsDroppedByWatermark).sum.toDouble / math.max(1, stream.passes),
        "rows")
    // data batches only: how many no-data batches run depends on timing
    val batches = t.batchJobs().values.toSeq
      .filter(_.forall(_.start >= since))
      .filter(_.exists(_.inputBytes > 0))
    L("streaming.jobs_per_batch") = (p50(batches.map(_.size.toDouble)), "count")
    L("streaming.tasks_per_batch") =
      (p50(batches.map(_.map(_.tasks.toDouble).sum)), "count")
    L("streaming.sink.SnapshotStore.append.ms_p50") = (p50(stream.sinkMs.toSeq), "ms")

    val (spill, gcS, retries) = t.session()
    L("session.spill_bytes") = (spill.toDouble, "bytes")
    L("session.gc_s") = (gcS, "s")
    L("session.task_retries") = (retries.toDouble, "count")

    val untagged = t.untagged().filter(_.start >= since)
    out.context("untagged_jobs") = untagged.size
    out.context("untagged_tasks") = untagged.map(_.tasks).sum
  }
}
