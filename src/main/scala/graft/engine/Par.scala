package graft.engine

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, Dataset, SparkSession}

/** Fan-out for CPU-bound per-row kernels over LOW-PARALLELISM inputs —
  * the input-skew remedy of the optimization playbook (guide §2.5
  * "repartition immediately after the read"), applied to the shape this
  * engine actually hits: a tiny single-row-group parquet file (or an
  * AQE-coalesced exchange) hands an expensive kernel — window hashing,
  * codec decode, token encoding, per-query vector scoring — to ONE task
  * while the rest of the machine idles. Parquet cannot split inside a
  * row group, so `maxPartitionBytes`/`minPartitionNum` cannot recover
  * the parallelism; an explicit hash exchange on the row key can.
  *
  * The partition count is pinned to `defaultParallelism` (cluster-wide
  * core count — scale-adaptive, never a local constant) because an
  * UNPINNED `repartition(col)` is fair game for AQE partition
  * coalescing, which would fold the kernel's input right back into one
  * sub-`minPartitionSize` partition — exactly the state being escaped.
  *
  * The session's AQE floor ([[GraftSession]]: `minPartitionSize` 64 KB,
  * not the 1 MB default) already keeps an unpinned sub-MB shuffle of
  * CPU-bound text rows on several tasks — corpusFilter's 870 KB scoring
  * shuffle ran as ONE task under the default. The fan-out stays: the floor
  * acts only on shuffle output, while a single-row-group scan is one task
  * however AQE is set, and a pinned exchange also holds full width where
  * the floor would still coalesce (inputs under ~64 KB per core).
  *
  * Cost discipline: the exchange moves the kernel's INPUT rows once.
  * Every call site sits where the kernel's own downstream volume
  * dominates that exchange at any scale (a window-key table is ~24
  * bytes per input CHARACTER; a per-query scored candidate set is
  * |queries| × the corpus), or where the fanned result is persisted and
  * reused by several passes. Do not use it in front of cheap
  * projections — the exchange would be the most expensive operator in
  * the plan.
  *
  * [[overlap]] is the other half: the engine's ONLY driver-side
  * concurrency, for independent Spark actions a query would otherwise
  * run one after the other.
  */
object Par {
  /** Hash-repartition `df` across the session's full core count on
    * `key` (deterministic under retries — never derive from rand()).
    * Use for kernels whose per-row CPU dwarfs their input bytes (codec
    * encode/decode of blobs born from 8-byte ids, window hashing at
    * ~24 B of downstream volume per input CHARACTER, trie walks): for
    * those, full width is right at ANY input size. */
  def fanOut[T](df: Dataset[T], key: Column): Dataset[T] =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)

  /** Width-GUARDED fan-out for kernels whose cost tracks their input
    * bytes roughly 1:1 (vector scoring/Lloyd passes over a persisted
    * corpus, per-word hashing): width = ceil(input bytes / bytesPerTask)
    * clamped to [1, defaultParallelism]. At production scale the clamp
    * is always the core count (identical to [[fanOut]]); at small inputs
    * it stops the exchange + per-job task-scheduling overhead from
    * exceeding the kernel work it buys — the r21 casualties (x48 0.79×,
    * q116's 0.22 8-vs-32-core ratio) were exactly full-width fans over
    * sub-MB inputs, where every downstream pass over the persisted
    * result scheduled 32 near-empty tasks. Width 1 returns the input
    * unchanged: a one-partition exchange buys nothing.
    *
    * The byte estimate is the optimizer's (`optimizedPlan.stats` — file
    * size for scans, the conservative propagated estimate elsewhere);
    * an unknown/huge estimate degrades to full width, i.e. to
    * [[fanOut]]'s behavior, never to an accidental single task. */
  def fanOutSized[T](df: Dataset[T], key: Column,
      bytesPerTask: Long = 128L << 10): Dataset[T] = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val width = ((bytes + BigInt(bytesPerTask - 1)) / BigInt(bytesPerTask))
      .min(BigInt(cores)).max(BigInt(1)).toInt
    if (width <= 1) df else df.repartition(width, key)
  }

  /** Run independent Spark actions concurrently, as one structured
    * scope. A query's actions are only sequential because the driver
    * calls them sequentially; independent ones (two stores, two reads
    * of a pinned frame, a census beside a micro-batch loop) can share
    * the cores the per-job scheduling leaves idle, so the scope costs
    * max(branch), not the sum.
    *
    * `body` runs on the caller's thread; each [[Scope.fork]] starts one
    * more branch on a new daemon thread, which is created at the fork
    * and so carries a COPY of the caller's Spark local properties as
    * they were at that moment (job tags, job group, execution ids).
    * Every branch, the caller's included, also gets its own job tag.
    *
    * Failure is structured: the first branch to throw (or the body
    * itself) has `cancelJobsWithTag` called on every other branch, the
    * scope waits until each forked branch has returned, and the
    * ORIGINAL error is rethrown with the siblings' errors (typically
    * their cancellations) attached as suppressed. No branch outlives the
    * scope — a normal exit also waits for forks nobody joined — so a
    * store publish or delete in one branch is never left running behind
    * a failed query. Nesting is safe: a nested scope forks its own
    * threads, and its jobs inherit the enclosing branch's tag, so
    * cancelling that branch cancels them too.
    *
    * There is no timeout: a deadline that expired would have to abandon
    * running branches (breaking the guarantee above) or cancel them,
    * which is what a failure already does. */
  def overlap[T](spark: SparkSession)(body: Scope => T): T =
    new Scope(spark.sparkContext).run(body)

  /** A forked branch; [[join]] waits for its value or rethrows its
    * error. */
  final class Branch[T] private[Par] (private[Par] val tag: String) {
    private val done = new CountDownLatch(1)
    @volatile private var outcome: Either[Throwable, T] = _
    private[Par] def settle(o: Either[Throwable, T]): Unit = {
      outcome = o; done.countDown()
    }
    private[Par] def await(ms: Long): Boolean =
      done.await(ms, TimeUnit.MILLISECONDS)
    private[Par] def failure: Option[Throwable] =
      Option(outcome).flatMap(_.swap.toOption)
    def join(): T = { done.await(); outcome.fold(e => throw e, identity) }
  }

  final class Scope private[Par] (sc: SparkContext) {
    private val callerTag = nextTag()
    private val forks = new ConcurrentLinkedQueue[Branch[_]]
    private val first = new AtomicReference[Throwable]

    /** Start `body` now on a new daemon thread. */
    def fork[T](body: => T): Branch[T] = {
      val b = new Branch[T](nextTag())
      forks.add(b)
      val t = new Thread(() => {
        sc.addJobTag(b.tag)
        // record the failure BEFORE settling: the scope reads `first`
        // once every branch has settled
        b.settle(try Right(body) catch { case e: Throwable => fail(e); Left(e) })
      }, b.tag)
      t.setDaemon(true)
      t.start()
      b
    }

    private def fail(e: Throwable): Unit =
      if (first.compareAndSet(null, e))
        (callerTag +: forks.asScala.map(_.tag).toSeq)
          .foreach(sc.cancelJobsWithTag(_, CancelReason))

    private[Par] def run[T](body: Scope => T): T = {
      sc.addJobTag(callerTag)
      val outcome =
        try Right(body(this))
        catch { case e: Throwable => fail(e); Left(e) }
        finally sc.removeJobTag(callerTag)
      var interrupted = false
      forks.forEach { b =>
        var settled = false
        while (!settled) {
          settled =
            try b.await(SettlePollMs)
            catch { case e: InterruptedException =>
              fail(e); interrupted = true; false }
          // a failed scope re-cancels each poll: a branch that was between
          // two actions at the first cancel may have started another job
          if (!settled && first.get != null)
            sc.cancelJobsWithTag(b.tag, CancelReason)
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
      val err = first.get
      if (err == null) return outcome.fold(e => throw e, identity)
      (outcome.swap.toSeq ++ forks.asScala.flatMap(_.failure)).foreach { e =>
        if (!(e eq err) && !err.getSuppressed.exists(_ eq e))
          err.addSuppressed(e)
      }
      throw err
    }
  }

  private val tags = new AtomicLong()
  private def nextTag(): String = s"graft-par-${tags.incrementAndGet()}"

  /** Re-cancel period while a failed scope waits for its branches. */
  private val SettlePollMs = 100L
  private val CancelReason = "because a sibling overlapped branch failed"
}
