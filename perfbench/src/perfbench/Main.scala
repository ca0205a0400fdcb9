package perfbench

import scala.collection.mutable
import graft.engine.GraftSession

/** The benchmark's JVM side. One client thread drives the engine through
  * its public layer functions. A run sets up the workload named by
  * `--workload` (a warm-up unit, then its inputs), then measures a fixed
  * number of its units, about `--seconds` of work. A traced run
  * (`--trace 1`) also runs one small companion unit of each other
  * workload, so every per-layer metric is measured on it.
  *
  * Usage: perfbench.Main --workload curate|store|stream|ml --seed N
  *   --seconds S --trace 0|1 --work DIR [--t0-ms EPOCH_MS]
  *   [--plant FAULT] [--tiny]
  *
  * Prints `PERFBENCH_CONTEXT {json}` then `PERFBENCH_RESULT {json}`; exits 1
  * when any check failed. */
object Main {
  val Workloads = Seq("curate", "store", "stream", "ml")

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    // arguments are validated by run.py before the JVM starts
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val plant = a.getOrElse("plant", "none")
    val tiny = args.contains("--tiny")
    val t0Ms = a.get("t0-ms").map(_.toLong).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val (loadBefore, pressureBefore, stealBefore) = (loadavg(), cpuPressure(), cpuTicks())

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val trace = if (traced) {
      val t = new Trace(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val ctx = Ctx(spark, seed, a("work"), trace, plant)
    val checks = new Checks
    // ---- set-up: a warm-up pass at the small size (first touch: JIT,
    // codegen, file-system caches), then the inputs several times (median)
    val tw = Ctx.now()
    ctx.span("bench.warmup") {
      val w = make(workload, ctx, small = true)
      w.setup()
      w.warmup(checks)
    }
    val warmS = Ctx.secs(tw)
    val focus = make(workload, ctx, small = tiny)
    val genS = (1 to SetupRepeats).map { _ =>
      val t = Ctx.now()
      ctx.span("bench.setup")(focus.setup())
      Ctx.secs(t)
    }
    // ---- settling: untimed units at the measured size on the measured
    // inputs, for workloads still warming up after the small pass
    val ts = Ctx.now()
    if (focus.settleUnits > 0) ctx.span("bench.warmup") {
      (1 to focus.settleUnits).foreach(_ => focus.unit(checks))
      focus.reset()
    }
    val settleS = Ctx.secs(ts)
    val setupS = sessionS + Stats.median(genS) + warmS + settleS
    val retained = mutable.ArrayBuffer(retainedMb())
    val measureStart = System.currentTimeMillis()

    // ---- measured: a fixed number of units, about `seconds` of work
    val units = math.max(1, math.round(seconds / focus.nominalUnitS).toInt)
    (1 to units).foreach { _ =>
      focus.unit(checks)
      retained += retainedMb()
    }
    ctx.span("bench.check")(focus.finish(checks))
    val measuredS = (System.currentTimeMillis() - measureStart) / 1000.0

    // ---- traced runs: one small companion unit of every other workload,
    // so every layer is measured
    val companions = if (!traced) Map.empty[String, Workload] else
      Workloads.filterNot(_ == workload).map { w =>
        val c = make(w, ctx, small = true)
        ctx.span("bench.setup")(c.setup())
        c.unit(checks)
        ctx.span("bench.check")(c.finish(checks))
        w -> c
      }.toMap

    val out = new Out
    out.e2e("setup_s") = (setupS, "s")
    out.e2e("retained_mb") = (retained.max, "MB")
    focus.report(out)
    val all = companions + (workload -> focus)
    trace.foreach(t => Layers.report(t, measureStart,
      all("curate").asInstanceOf[Curate], all("store").asInstanceOf[Store],
      all("stream").asInstanceOf[Stream], all("ml").asInstanceOf[Ml], out))

    val c = out.context
    c("workload") = workload; c("seed") = seed; c("seconds") = seconds
    c("traced") = traced; c("plant") = plant; c("tiny") = tiny
    c("nproc") = Runtime.getRuntime.availableProcessors()
    c("SPARK_GRAFT_CPUS") = sys.env.getOrElse("SPARK_GRAFT_CPUS", "")
    c("local_cores") = cpus
    c("driver_max_heap_mb") = Runtime.getRuntime.maxMemory() / (1 << 20)
    c("loadavg_before") = loadBefore; c("loadavg_after") = loadavg()
    c("cpu_pressure_before") = pressureBefore; c("cpu_pressure_after") = cpuPressure()
    c("spark") = spark.version; c("jdk") = System.getProperty("java.version")
    val stealAfter = cpuTicks()
    c("steal_pct") = 100.0 * (stealAfter._1 - stealBefore._1) /
      math.max(1L, stealAfter._2 - stealBefore._2)
    c("setup_parts_s") = Map("session" -> sessionS,
      "inputs_median" -> Stats.median(genS), "warmup" -> warmS,
      "settle" -> settleS)
    c("setup_inputs_s") = genS
    c("retained_mb") = retained.toSeq
    c("vm_hwm_mb") = vmHwmKb() / 1024.0
    c("measured_s") = measuredS; c("units") = units
    c("failures") = checks.failures.toSeq

    println("PERFBENCH_CONTEXT " + Json(c.toMap))
    val metrics = (if (traced) out.layer else out.e2e).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }
    println("PERFBENCH_RESULT " + Json(Map(
      "correct" -> checks.failures.isEmpty, "attempted" -> checks.attempted,
      "failed" -> checks.failures.size, "metrics" -> metrics)))
    spark.stop()
    System.exit(if (checks.failures.isEmpty) 0 else 1)
  }

  val SetupRepeats = 3

  /** The workloads at their measured size, or at the small size used by
    * companions and `--tiny` runs. */
  def make(w: String, ctx: Ctx, small: Boolean): Workload = w match {
    case "curate" => new Curate(ctx, if (small) 500L else 3000L)
    case "store" => new Store(ctx, if (small) 1000L else Store.BaseDocs,
      if (small) 2000L else Store.BaseEvents, Store.Buckets)
    case "stream" => new Stream(ctx, scheduled = if (small) 3 else 5,
      backlog = if (small) 2 else 4, eventsPerFile = if (small) 200 else 2000,
      intervalMs = 2000L)
    case "ml" => new Ml(ctx, if (small) 300L else 3000L)
  }

  private def loadavg(): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim

  /** The host's CPU stall line: on a shared host, the share of time
    * runnable work waited for a CPU. */
  private def cpuPressure(): String = {
    val p = java.nio.file.Paths.get("/proc/pressure/cpu")
    if (java.nio.file.Files.exists(p))
      new String(java.nio.file.Files.readAllBytes(p)).split("\n")(0).trim
    else ""
  }

  /** Memory the run holds at a quiet point, in MB: heap used after a full
    * collection plus non-heap used (metaspace, code cache). Taken after
    * set-up and after each measured unit, outside every timer. Peak RSS
    * follows the collector's heap sizing, which moves with host speed, so
    * it is only reported in the context line. */
  private def retainedMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat: on a virtual
    * machine, steal is the time the host ran something else while this
    * guest had work to run. */
  private def cpuTicks(): (Long, Long) = {
    val p = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val f = new String(java.nio.file.Files.readAllBytes(p)).split("\n")(0)
        .trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }
  }

  private def vmHwmKb(): Double = {
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/status"))).split("\n")
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
  }
}

/** Minimal JSON encoder for the result and context lines. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
