package graft.testlib

import org.apache.spark.GraftTestListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed-plan assertions for specs: the plans of the queries a body
  * ran, as the session's query-execution listeners see them — collects,
  * `localCheckpoint`s and writes all report there — so production code
  * keeps no plan hook of its own. */
object PlanCapture {

  /** Run `body` and return its result with the executed plan, as a string,
    * of every query it ran on `spark` (or on a clone of `spark` made while
    * it ran: a clone copies the listeners). The bus is drained before the
    * listener is added and again before it is read, as in
    * [[JobCount.countJobs]]. */
  def capturePlans[A](body: => A)(implicit spark: SparkSession): (A, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe.executedPlan.toString); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftTestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      val out = body
      GraftTestListenerBus.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }
}
