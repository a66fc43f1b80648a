package graft.metrics

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** O15 as a zero-cost observation: the reference's six per-batch
  * counters (index.js:42-49) attached to the pipeline frame with
  * Dataset.observe — computed inline during whatever action runs the
  * frame, no second pass over the data — and published through a
  * listener (the CloudWatch PutMetricData analog, index.js:617-656).
  *
  * Works identically for batch (QueryExecutionListener) and streaming
  * (StreamingQueryListener's observedMetrics carry the same named row).
  */
object Observability {

  val MetricName = "pipeline_metrics"

  /** The reference's six per-batch counters (index.js:42-49) over a
    * decide()d frame's `action`. Error records do not count as
    * processed (index.js:61-71). [[observed]] attaches them;
    * graft.pipeline.MatchPipeline.metrics aggregates them. */
  val Counters: Seq[Column] = Seq(
    count(lit(1)).as("total_records"),
    sum(when(col("action") =!= "error", 1L).otherwise(0L))
      .as("processed_records"),
    sum(when(col("action") === "email_triggered", 1L).otherwise(0L))
      .as("emails_triggered"),
    sum(when(col("action") === "skipped", 1L).otherwise(0L))
      .as("skipped_records"),
    sum(when(col("action") === "duplicate_prevented", 1L).otherwise(0L))
      .as("duplicates_prevented"),
    sum(when(col("action") === "error", 1L).otherwise(0L))
      .as("error_records"))

  /** Attach the counters to a decide()d frame. */
  def observed(decided: DataFrame, name: String = MetricName): DataFrame =
    decided.observe(name, Counters.head, Counters.tail: _*)

  /** Batch listener: invokes `publish` with the observed row after each
    * successful action on an observed frame — the seam where a metrics
    * backend (CloudWatch, StatsD, …) plugs in. */
  class MetricsListener(publish: (String, Row) => Unit,
      name: String = MetricName) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      // ENABLE_METRICS gate (index.js:82): observation is free either
      // way; the publish side is what the toggle turns off.
      if (graft.GraftConf.metricsEnabled(qe.sparkSession))
        qe.observedMetrics.get(name).foreach(row => publish(name, row))
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Streaming listener: the same counters arrive once per micro-batch
    * in the progress event — the direct analog of the reference's
    * one-PutMetricData-per-Lambda-batch cadence (index.js:83). Register
    * with `spark.streams.addListener`. */
  class StreamingMetricsListener(publish: (String, Row) => Unit,
      name: String = MetricName,
      owner: Option[org.apache.spark.sql.SparkSession] = None)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    // Progress events carry no session, so resolve the toggle's owning
    // session ONCE at construction (the session the caller registered
    // the listener on). Falling back to the default session per event
    // is wrong in a multi-session process — the toggle could be read
    // from an unrelated session — and with no default session at all
    // the old .forall(None) silently meant "always on".
    private val session: Option[org.apache.spark.sql.SparkSession] =
      owner.orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      val enabled = session.forall(graft.GraftConf.metricsEnabled)
      val om = event.progress.observedMetrics
      if (enabled && om.containsKey(name)) publish(name, om.get(name))
    }
  }
}
