package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-layer attribution for a traced run: a SparkListener the benchmark
  * registers itself, plus job-tag spans around each layer call.
  *
  * A span wraps one call in `addJobTag`/`removeJobTag`; every job the call
  * starts on the calling thread (or on a thread it creates) carries the
  * tag. Jobs from pooled threads the program created earlier, and
  * micro-batch jobs, start without it: micro-batch jobs are attributed by
  * their query and batch id job properties, anything else lands in
  * `untagged` — counted, never dropped. The listener bus is drained before
  * any counter is read. */
final class Trace(sc: SparkContext) extends SparkListener {

  final case class Job(id: Int, tags: Set[String], batchId: Option[(String, Long)],
      start: Long, var end: Long = -1L, var tasks: Int = 0,
      var cpuNs: Long = 0L, var shuffleBytes: Long = 0L,
      var inputBytes: Long = 0L, var outputBytes: Long = 0L)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile private var spill = 0L
  @volatile private var gcMs = 0L
  @volatile private var retries = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val batch = for (p <- props;
      q <- Option(p.getProperty("sql.streaming.queryId"));
      b <- Option(p.getProperty("streaming.sql.batchId")).flatMap(_.toLongOption))
      yield (q, b)
    jobs(e.jobId) = Job(e.jobId, tags, batch, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && (e.taskInfo.failed || e.taskInfo.killed))
      retries += 1
    val m = e.taskMetrics
    if (m != null) {
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def drain(): Unit = org.apache.spark.graft.ListenerBridge.drainListenerBus(sc)

  /** Counters of one attributed call: its wall window and its jobs. */
  final case class Span(name: String, startMs: Long, endMs: Long,
      jobs: Seq[Job]) {
    def wallMs: Double = (endMs - startMs).toDouble
    def tasks: Long = jobs.map(_.tasks.toLong).sum
    def cpuS: Double = jobs.map(_.cpuNs).sum / 1e9
    def shuffleBytes: Long = jobs.map(_.shuffleBytes).sum
    def inputBytes: Long = jobs.map(_.inputBytes).sum
    def outputBytes: Long = jobs.map(_.outputBytes).sum
    /** Wall time not covered by any of the span's jobs: analysis,
      * planning, driver-side Scala and metadata I/O between actions. */
    def driverGapMs: Double = {
      val iv = jobs.map(j => (math.max(j.start, startMs),
        math.min(if (j.end < 0) endMs else j.end, endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      math.max(0.0, wallMs - covered)
    }
  }

  private val open = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  private var seq = 0L

  /** Run `body` under a fresh job tag and remember its wall window. */
  def span[T](name: String)(body: => T): T = {
    val tag = synchronized { seq += 1; s"pb-$seq" }
    sc.addJobTag(tag)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.removeJobTag(tag)
      synchronized(open += ((name, tag, t0, t1)))
    }
  }

  /** Every span recorded so far, with its jobs (bus drained first). */
  def spans(): Seq[Span] = {
    drain()
    synchronized {
      open.toSeq.map { case (name, tag, t0, t1) =>
        Span(name, t0, t1, jobs.values.filter(_.tags.contains(tag)).toSeq)
      }
    }
  }

  /** Jobs of the micro-batches, grouped by (query run, batch id). */
  def batchJobs(): Map[(String, Long), Seq[Job]] = {
    drain()
    synchronized {
      jobs.values.filter(_.batchId.isDefined).toSeq.groupBy(_.batchId.get)
    }
  }

  /** Jobs that carry neither a span tag nor a batch id. */
  def untagged(): Seq[Job] = {
    drain()
    synchronized {
      jobs.values.filter(j => j.batchId.isEmpty &&
        !j.tags.exists(_.startsWith("pb-"))).toSeq
    }
  }

  def session(): (Long, Double, Long) = { drain(); (spill, gcMs / 1000.0, retries) }
}

/** Span recorder with tracing off: the same call shape, nothing recorded,
  * so the untraced run executes the identical sequence of layer calls. */
object Trace {
  def span[T](t: Option[Trace], name: String)(body: => T): T = t match {
    case Some(tr) => tr.span(name)(body)
    case None => body
  }
}
