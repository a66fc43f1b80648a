package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan-shape audit: print, for each named query at a given SF dir, the
  * physical-operator counts that decide scale behavior (exchanges,
  * join strategies, cartesian products). The scale-rehearsal probe
  * diffs this output between sf0.1 and the 10× replica to prove plan
  * changes are the intended size-estimation flips (broadcast →
  * shuffled join on scale-growing sides) and nothing else.
  *
  * Run: PlanShapes <sfDir> <name,name,...>  — one JSON line per query.
  */
object PlanShapes {

  val Ops = Seq("BroadcastHashJoin", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "BroadcastExchange", "Exchange", "HashAggregate", "SortAggregate",
    "WindowGroupLimit", "Generate")

  /** Scale-deciding operator-NODE counts for one plan string —
    * line-leading occurrences only (never substring hits inside
    * argument lists); "Exchange" counts shuffles, not broadcasts.
    * Shared by this audit tool and PlanShapeSpec's golden pins. */
  def counts(plan: String): Map[String, Int] = {
    val lines = plan.linesIterator.toSeq
    def count(op: String): Int = lines.count { l =>
      val t = l.dropWhile(c => !c.isLetter)
      if (op == "Exchange") t.startsWith("Exchange")
      else t.startsWith(op)
    }
    Ops.map(op => op -> count(op)).filter(_._2 > 0).toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = GraftSession.start(GraftSession.builder(GraftSession.cores)
      // static plans: the probe compares what the planner commits to
      // from size estimates alone; AQE reshaping is measured separately
      .config("spark.sql.adaptive.enabled", "false"))
    for (n <- names) {
      val unknown = !SparkEntry.queries.contains(n)
      if (unknown) println(s"""{"query":"$n","err":"unknown query"}""")
      else {
        val plan = SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.executedPlan.toString
        val body = counts(plan).toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString(",")
        println(s"""{"query":"$n","ops":{$body}}""")
      }
    }
    spark.stop()
  }
}
