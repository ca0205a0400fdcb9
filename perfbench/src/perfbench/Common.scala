package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the seed, its own work
  * directory, the tracer (traced runs only) and the planted fault
  * (negative controls only). */
final case class Ctx(spark: SparkSession, seed: Long, work: String,
    trace: Option[Trace], plant: String) {
  private var n = 0
  /** A fresh directory under the work dir, never reused in this run. */
  def fresh(name: String): String = synchronized {
    n += 1
    val p = s"$work/$name-$n"
    Ctx.rm(p)
    p
  }
  def span[T](name: String)(body: => T): T = Trace.span(trace, name)(body)
}

object Ctx {
  def rm(p: String): Unit =
    graft.engine.sources.SnapshotStore.deleteRecursively(java.nio.file.Paths.get(p))

  def duBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val w = java.nio.file.Files.walk(root)
      // hard-linked carry-overs share one inode: count each inode once
      val seen = mutable.HashSet.empty[Any]
      try {
        var s = 0L
        w.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
          val key = java.nio.file.Files.getAttribute(f, "unix:ino")
          if (seen.add(key)) s += java.nio.file.Files.size(f)
        }
        s
      } finally w.close()
    }
  }

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Correctness bookkeeping: every failed check is recorded with its
  * message and counts one failed operation. */
final class Checks {
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  def op(): Unit = synchronized(attempted += 1)
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) synchronized(failures += msg)
}

/** Order statistics over a sample of latencies. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least 10 samples beyond it, never
    * below the median: (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val q = math.max(0.5, 1.0 - 10.0 / xs.size)
    val pct = math.floor(q * 1000.0) / 10.0
    (quantile(xs, pct / 100.0), pct, xs.size)
  }
}

/** A workload as the run drives it: inputs, a warm-up, then measured
  * units of work (a whole pass, or one store op). */
trait Workload {
  /** Write fresh inputs. */
  def setup(): Unit
  /** One unit of measured work; checks run after its clock stops. */
  def unit(checks: Checks): Unit
  /** Seconds of timed work one unit is budgeted on the reference host
    * (4 cores). A run measures a fixed number of units, `--seconds` over
    * this, so every run of a seed does the same work and its counters
    * repeat exactly. */
  def nominalUnitS: Double
  /** Untimed first-touch work before measuring; leaves fresh inputs. */
  def warmup(checks: Checks): Unit = { unit(checks); reset() }
  /** Untimed units at the measured size, run on the measured inputs after
    * set-up, for a workload whose first full-size units are still
    * warming up (JIT). */
  def settleUnits: Int = 0
  /** Work after the measured loop, outside the clock. */
  def finish(checks: Checks): Unit = ()
  /** Forget the samples taken so far. */
  def reset(): Unit
  /** `rate_per_s` plus [[latency]], and context. */
  def report(out: Out): Unit

  /** `latency_ms_p50` and `latency_ms_tail` over the latency samples. */
  protected def latency(out: Out, samplesMs: Seq[Double]): Unit = {
    out.e2e("latency_ms_p50") = (Stats.median(samplesMs), "ms")
    val (t, q, n) = Stats.tail(samplesMs)
    out.e2e("latency_ms_tail") = (t, "ms")
    out.context("latency_tail") = s"p$q of $n samples"
  }
}

/** One workload's results: end-to-end metrics, per-layer metrics and the
  * context lines the run prints beside them. */
final class Out {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val context = mutable.LinkedHashMap.empty[String, Any]
}
