package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The Dataset actions a call runs, as a [[QueryExecutionListener]] sees
  * them: a returned frame's own plan shows only its last step (a
  * checkpointed round state plans as a scan), while the actions show
  * every round's plan as it executed. */
object ActionPlans {

  /** `body`'s result and the (action name, execution) of every action it
    * ran, in completion order. */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[(String, QueryExecution)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(name -> qe)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.sql.GraftTestBus.drain(spark)
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Lines of an execution's optimized plan, cached subplans included. */
  def planLines(qe: QueryExecution): Int = qe.optimizedPlan.treeString.linesIterator.size
}
