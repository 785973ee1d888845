package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Assertions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The queries Spark ran while a body ran, as a QueryExecutionListener
  * sees them: every action, checkpoints included (`localCheckpoint`,
  * eager or lazy, runs as an action whose plan is the full plan of the
  * checkpointed frame). Listener events arrive asynchronously but in
  * order, so a sentinel query run after the body flushes them: once it
  * is seen, every query of the body has been too.
  */
object ExecutedPlans {

  private val Sentinel = "executed_plans_sentinel"

  /** `body`'s result and the successful query executions it ran. A
    * failing body is flushed too before its exception is rethrown, so
    * its queries never reach a later call's listener.
    */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    @volatile var flushed = false
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == Sentinel)) flushed = true
        else ran.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = scala.util.Try(body)
      spark.range(1).select(lit(1).as(Sentinel)).collect()
      eventually(timeout(60.seconds)) { assert(flushed) }
      (result.get, ran.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
