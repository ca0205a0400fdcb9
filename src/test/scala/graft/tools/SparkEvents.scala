package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import graft.SparkTestSession.spark

/** Counts what the shared test session's scheduler ran while a block
  * ran: jobs started, and tasks ended per stage. The listener bus is
  * drained before the listener is added and again before counting
  * (delivery is async — counting without a drain races the queue). */
object SparkEvents {

  /** `jobs` started; `tasks` ended per stage id; `writeStages` = the
    * stages in which some task wrote output records (a file write). */
  final case class Seen(jobs: Int, tasks: Map[Int, Int],
      writeStages: Set[Int]) {
    /** Tasks of every file-writing stage, empty ones included. */
    def writeTasks: Seq[Int] = writeStages.toSeq.sorted.map(tasks)
  }

  def during[T](f: => T): (T, Seen) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val tasks = new ConcurrentHashMap[Int, Int]
    val writing = ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.merge(e.stageId, 1, _ + _)
        val m = e.taskMetrics
        if (m != null && m.outputMetrics.recordsWritten > 0)
          writing.add(e.stageId)
      }
    }
    ListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val out = f
      ListenerBridge.drainListenerBus(sc)
      (out, Seen(jobs.get, tasks.asScala.toMap, writing.asScala.toSet))
    } finally sc.removeSparkListener(l)
  }

  /** Spark jobs started while `f` runs. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val (out, seen) = during(f)
    (out, seen.jobs)
  }
}
