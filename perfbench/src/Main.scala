package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per JVM:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *
  * Prints a `conditions` line (effective Spark conf, master, host load
  * and CPU steal over the run, each correctness check) and then, as
  * the last line, the result object. `perfbench/run.py` builds this
  * and is the command to run; see perfbench/README.md. */
object Main {

  private val t0 = System.nanoTime()

  /** Time since the run started at the end of a phase, on stderr. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] $name at ${(System.nanoTime() - t0) / 1e9}%.1f s")

  /** Cores the session runs on. Fixed, so a result does not depend on
    * the machine's core count; it matches the 4-core host the numbers
    * in perfbench/README.md were taken on. */
  val Cores = 4

  /** The session conf the repo's own bench uses (graft.Bench): AQE
    * off, serialized shuffle writer, nanos-as-long parquet, UTC, and
    * one shuffle partition per core. Spark's local and warehouse dirs
    * live under the run's work dir. */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    Files.createDirectories(Paths.get(work))
    val (load0, steal0, total0) = Host.sample()
    val spark = session(work)
    phase("session")
    val out = try {
      val run = workload match {
        case "cdc_small_batch" => Cdc.run(spark, work, seed, seconds, trace, Cdc.SmallRecordsPerFile)
        case "cdc_large_batch" => Cdc.run(spark, work, seed, seconds, trace, Cdc.LargeRecordsPerFile)
        case "query_library" => Library.run(spark, work, seed, seconds, trace)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val (load1, steal1, total1) = Host.sample()
      val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      val steal = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
      println(Json.obj(Seq(
        "conditions" -> Json.obj(Seq(
          "workload" -> Json.str(workload),
          "seed" -> seed.toString,
          "seconds" -> Json.num(seconds),
          "trace" -> trace.toString,
          "master" -> Json.str(spark.sparkContext.master),
          "load_avg_1m_start" -> Json.num(load0),
          "load_avg_1m_end" -> Json.num(load1),
          "cpu_steal_share" -> Json.num(steal),
          "spark_version" -> Json.str(spark.version),
          "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
          "checks" -> Json.arr(run.checks.map { case (n, ok, detail) =>
            Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString,
              "detail" -> Json.str(detail)))
          }))))))
      run
    } finally spark.stop()
    phase("stopped")
    println(Json.obj(Seq(
      "correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(out.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
      }))))
  }
}

/** Just enough JSON writing for the two output lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
