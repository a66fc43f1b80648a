package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev tool: run named SparkEntry queries and print per-stage metrics
  * (duration, task count, shuffle read/write bytes, input bytes, spill)
  * from a SparkListener — the guide-§7 stage view without the UI. Run:
  *   runMain graft.tools.StageProf <dir> <query,query,...> [iters]
  * The listener drains on each query boundary, so stages are attributed
  * to the query that scheduled them (artifact builds land on the first
  * consumer, as in the bench). */
object StageProf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).headOption.map(_.split(",").toSet)
      .getOrElse(Set.empty)
    require(names.nonEmpty, "pass a comma-separated query list")
    val iters = args.drop(2).headOption.map(_.toInt).getOrElse(1)
    // the Bench session: static plans, serialized shuffle writer
    val spark = graft.GraftSession.start(
      graft.GraftSession.builder(graft.GraftSession.cores)
        .config("spark.sql.adaptive.enabled", "false"))

    final case class Row(id: Int, name: String, ms: Long, tasks: Int,
        inMB: Double, srMB: Double, swMB: Double, spillMB: Double,
        cpuMs: Long)
    val rows = mutable.ArrayBuffer.empty[Row]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val ms = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        rows.synchronized {
          rows += Row(si.stageId, si.name.takeWhile(_ != '\n').take(60), ms,
            si.numTasks, m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
            m.executorCpuTime / 1000000L)
        }
      }
    })

    graft.SparkEntry.queries.filter(q => names(q._1)).toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        (1 to iters).foreach { it =>
          rows.synchronized(rows.clear())
          val t0 = System.nanoTime()
          val n = fn(spark, dir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          // listener bus is async; give it a beat to drain
          Thread.sleep(300)
          println(f"==== $name iter $it wall=$wall%.2fs rows=$n")
          val snap = rows.synchronized(rows.toVector).sortBy(_.id)
          snap.foreach { r =>
            println(f"  stage ${r.id}%4d ${r.ms}%7dms tasks=${r.tasks}%3d " +
              f"cpu=${r.cpuMs}%7dms in=${r.inMB}%8.1fMB sr=${r.srMB}%8.1fMB " +
              f"sw=${r.swMB}%8.1fMB spill=${r.spillMB}%6.1fMB  ${r.name}")
          }
          println(f"  TOTAL stages=${snap.size} stage-ms=${snap.map(_.ms).sum} " +
            f"cpu-ms=${snap.map(_.cpuMs).sum} sr=${snap.map(_.srMB).sum}%.1fMB " +
            f"sw=${snap.map(_.swMB).sum}%.1fMB")
        }
      }
    spark.stop()
  }
}
