package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one piece of driver code cost Spark: jobs started, shuffle bytes
  * written, and the executed plan of every named SQL execution (with
  * the routed sub-plans it reads, [[JobProbe.planText]]).
  */
final class JobProbe extends SparkListener with QueryExecutionListener {
  var jobs = 0
  var shuffleBytes = 0L
  val plans = mutable.ArrayBuffer.empty[(String, String)]

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    Option(t.taskMetrics).foreach(m => shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
  }

  override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
    synchronized { plans += name -> JobProbe.planText(qe) }

  override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
}

object JobProbe {
  /** The executed plan of `qe` followed by every prepared plan it reads
    * through GraftSqlBridge.routeFinalAggregate: the plan that runs.
    */
  def planText(qe: QueryExecution): String =
    (qe.executedPlan +: GraftSqlBridge.routedPlans(qe.analyzed)).mkString("\n")

  /** Runs `body` with a fresh probe attached; returns its result and the
    * probe, read after the listener bus drained.
    */
  def apply[T](spark: SparkSession)(body: => T): (T, JobProbe) = {
    val p = new JobProbe
    val sc = spark.sparkContext
    sc.addSparkListener(p)
    spark.listenerManager.register(p)
    try {
      val r = body
      org.apache.spark.SpecBus.drain(sc)
      (r, p)
    } finally {
      sc.removeSparkListener(p)
      spark.listenerManager.unregister(p)
    }
  }
}
