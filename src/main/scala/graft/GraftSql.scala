package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.GraftExtensions

/** SQL entry point: the library's tables and native functions exposed to
  * `spark.sql(...)`. A user of the reference's data can point this at a
  * parquet directory and query every table by name in ANSI SQL, with the
  * library's native functions and TVFs available in expressions.
  *
  * `attach` registers temp views for one session+dir; views are plain
  * scans, so everything Catalyst does for the DataFrame API (pushdown,
  * pruning, join planning) applies identically to SQL text. */
object GraftSql {

  private val lastAttached =
    scala.collection.concurrent.TrieMap.empty[SparkSession, String]

  /** Register every driver table under its canonical name plus the
    * library's SQL functions. Skipped when this session's views already
    * point at `dir` (repeated SQL calls shouldn't pay re-registration);
    * switching dirs re-registers. */
  def attach(spark: SparkSession, dir: String): Unit = synchronized {
    if (!lastAttached.get(spark).contains(dir)) {
      Tables.names.foreach { n =>
        Tables.load(spark, dir, n).createOrReplaceTempView(n)
      }
      // events.ts needs the nanos→µs normalization the typed accessor does
      Tables.events(spark, dir).createOrReplaceTempView("events")
      // pre-shaped sides for the native as-of TVF (right side renamed:
      // as-of output keeps right non-key columns, names must not
      // collide with the left's)
      Tables.events(spark, dir)
        .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
        .selectExpr("user_id", "ts", "event_id")
        .createOrReplaceTempView("purchases_v")
      Tables.events(spark, dir)
        .filter(org.apache.spark.sql.functions.col("event_type") === "click")
        .selectExpr("user_id", "ts AS c_ts", "event_id AS c_eid")
        .createOrReplaceTempView("clicks_v")
      registerFunctions(spark)
      lastAttached(spark) = dir
    }
  }

  /** Register both [[GraftExtensions]] lists — every TVF and scalar
    * function — into this session: the runtime twin of deploying the
    * extension, for sessions built without it. Idempotent (each
    * registration replaces). */
  def registerFunctions(spark: SparkSession): Unit = {
    GraftExtensions.tableFunctions.foreach { case (id, info, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(id, info, builder)
    }
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
  }

  /** Convenience: attach + run one statement. */
  def sql(spark: SparkSession, dir: String, statement: String): DataFrame = {
    attach(spark, dir)
    spark.sql(statement)
  }
}
