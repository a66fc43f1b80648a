package graft

import org.apache.spark.sql.SparkSession

/** Names the jobs a step runs, so the Spark UI, a job listener or a
  * traced run can attribute each job to the step that started it.
  *
  * The label becomes the thread's job description for the length of
  * `body`. A step inside another step appends its label to the outer
  * one (`cas:delivered cas:write`), so each job names both. Afterwards
  * the previous description comes back: on a stream's micro-batch
  * thread that is the engine's own batch description. */
object JobLabel {
  private val DescriptionKey = "spark.job.description"
  private val StepKey = "graft.job.step"

  def apply[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prevDescription = sc.getLocalProperty(DescriptionKey)
    val outer = sc.getLocalProperty(StepKey)
    val step = if (outer == null) label else s"$outer $label"
    sc.setLocalProperty(StepKey, step)
    sc.setLocalProperty(DescriptionKey, step)
    try body
    finally {
      sc.setLocalProperty(StepKey, outer)
      sc.setLocalProperty(DescriptionKey, prevDescription)
    }
  }
}
