package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Plan-level scale guard: an optimizer rule (injected via
  * [[graft.functions.GraftExtensions]]) that FAILS a query at plan
  * time when it contains a window with an EMPTY partition spec — the
  * single-task global window that moves the whole input to one
  * partition (Spark only WARNS, then happily serializes 100 TB
  * through one task; this library hit exactly that building the
  * equi-depth histogram, see Diagnostics.equiDepthHistogram's
  * scaladoc, and ships the two-phase prefix-sum rank as the
  * replacement).
  *
  * Opt-in (`spark.graft.guards.failOnGlobalWindow=true`), not
  * default: an ORDER-BY-only window over a KNOWN-TINY frame is a
  * legitimate pattern this library itself uses (the 32-row
  * per-partition-totals cumsum in globalTokenShards /
  * equiDepthHistogram), and plan-time rules cannot see cardinality.
  * The intended deployment is strict mode on shared production
  * clusters — fail the notebook query at submit, point the author at
  * the distributed form — and off for curated library code whose tiny
  * frames are documented. A rejected plan is a hard error BEFORE any
  * task launches: the cheapest possible place to stop a
  * cluster-wide serialization.
  *
  * Implemented as a VALIDATION rule (inspect + throw, return the plan
  * unchanged) — the rewrite to the prefix-sum form needs a
  * per-partition scan-carry that has no LogicalPlan encoding, so
  * rewriting silently is not an option; failing loudly with the
  * pointer is. */
case class NoGlobalWindowGuard(getConf: String => Option[String])
    extends Rule[LogicalPlan] {

  private def enabled: Boolean = graft.GraftConf.failOnGlobalWindow(getConf)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (enabled) plan.foreach {
      case w: Window if w.partitionSpec.isEmpty =>
        throw new IllegalStateException(
          "graft scale guard: window with no PARTITION BY plans as a " +
            "single-partition sort of its entire input (one task at any " +
            "scale). Partition the window, or compute global ranks with " +
            "a two-phase distributed prefix sum " +
            "(graft.ext.TextOps.globalTokenShards / " +
            "Diagnostics.equiDepthHistogram show the pattern). Disable " +
            "with spark.graft.guards.failOnGlobalWindow=false for " +
            "known-tiny frames.")
      case _ => ()
    }
    plan
  }
}
