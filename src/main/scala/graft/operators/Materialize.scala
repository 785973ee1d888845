package graft.operators

import org.apache.spark.sql.DataFrame

/** Pipeline materialization: entries with persisted multi-read
  * intermediates localCheckpoint their (small) results with one action,
  * then release the caches — pipeline state must not outlive the call
  * in a long-lived session.
  *
  * A checkpointed frame's executedPlan is just a scan of the checkpoint;
  * the plan that filled it is the checkpoint action's own, which Spark
  * reports to every QueryExecutionListener and writes to the event log
  * (PlanAuditSpec audits those executed plans).
  */
object Materialize {

  def apply(out: DataFrame, caches: DataFrame*): DataFrame = {
    val m = out.localCheckpoint(true)
    caches.foreach(_.unpersist(false))
    m
  }
}
