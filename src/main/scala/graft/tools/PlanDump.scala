package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump formatted physical plans for the flagship queries to a
  * file (PLANS.md source material). Run:
  *   runMain graft.tools.PlanDump <outFile> [query,query,...] [dataDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/plans.txt")
    val only = args.drop(1).headOption.filter(_.nonEmpty).map(_.split(",").toSet)
    val dir = args.drop(2).headOption.getOrElse("/root/testdata/sf0.001")
    // match the Bench session (GraftSession, AQE off) so dumped plans
    // are the plans the bench actually executes — size estimates, and with them
    // broadcast decisions, depend on the data dir passed as arg 3
    val spark = graft.GraftSession.start(
      graft.GraftSession.builder(graft.GraftSession.cores)
        .config("spark.sql.adaptive.enabled", "false"))
    val sb = new StringBuilder
    graft.SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        val df = fn(spark, dir)
        sb.append(s"===== $name =====\n")
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        sb.append("\n")
      }
    Files.writeString(Paths.get(out), sb.toString)
    spark.stop()
  }
}
