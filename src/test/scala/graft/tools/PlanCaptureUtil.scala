package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Shared test harness for auditing plans that never surface through a
  * returned DataFrame — foreachBatch closures, store-maintenance writes,
  * multi-job operators. Registers a QueryExecutionListener for the scope
  * of `capturing` and hands back every (funcName, QueryExecution) the
  * session executed, writes included. */
object PlanCaptureUtil {

  /** Listener delivery is async on the shared bus; snapshot() drains it
    * before reading, so captures are complete for everything executed
    * before the call. */
  final class PlanCapture extends QueryExecutionListener {
    private val buf =
      scala.collection.mutable.ArrayBuffer.empty[(String, QueryExecution)]
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized { buf += funcName -> qe }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = synchronized { buf += funcName -> qe }
    def snapshot(spark: SparkSession): Seq[(String, QueryExecution)] = {
      org.apache.spark.graft.ListenerBridge.drainListenerBus(spark.sparkContext)
      synchronized(buf.toVector)
    }
  }

  def capturing[A](spark: SparkSession)(body: => A)
      : (A, Seq[(String, QueryExecution)]) = {
    val cap = new PlanCapture
    spark.listenerManager.register(cap)
    try { val a = body; (a, cap.snapshot(spark)) }
    finally spark.listenerManager.unregister(cap)
  }
}
