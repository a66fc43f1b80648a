package graft

import org.apache.spark.sql.SparkSession

/** The one way this library builds a session — the analog of the
  * reference's single CONFIG block (index.js:11-23), validated once at
  * init (index.js:662-665). Bench, Verify, the tools and the test
  * session all start here; conf only one caller wants (AQE,
  * `.withExtensions`, `appName`) is a plain `.config(...)` on the
  * returned builder at that caller. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the host's processor count. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cores]` with one shuffle partition per core, nanos-as-long
    * parquet, UTC and no UI. The bypass threshold of 1 routes every
    * exchange through the serialized sort writer (one spill file plus
    * index per map task) — the writer any production shuffle with more
    * than 200 reducers uses — instead of the small-R bypass writer's
    * one file per (map task × reducer), whose file creates dominated
    * the anti-scaling queries at 32×32 (r20: −28% bench total). */
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    .config("spark.ui.enabled", "false")

  /** Create (or reuse) the session, then WARN logging, fail-fast
    * validation of every `spark.graft.*` conf and the `graft` logger
    * level. */
  def start(builder: SparkSession.Builder): SparkSession = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftConf.validate(spark)
    GraftLog.applyLevel(spark)
    spark
  }
}
