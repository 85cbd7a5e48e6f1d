package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Every physical plan a block of code executes, checkpoint jobs
  * included, read from a QueryExecutionListener after the block ran.
  */
object ExecutedPlans {
  def of(spark: SparkSession)(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** The part of an executed plan that ran: an adaptive plan's toString
    * prints the final plan, then the INITIAL plan, whose pre-conversion
    * joins never executed.
    */
  def finalSection(plan: String): String = plan.split("== Initial Plan ==")(0)

  /** Shuffle exchanges that ran in `plans`: `Exchange` nodes of each
    * final section, not `BroadcastExchange` or `ReusedExchange`.
    */
  def exchanges(plans: Seq[String]): Int =
    plans.map(p => "\\bExchange\\b".r.findAllMatchIn(finalSection(p)).size).sum
}
