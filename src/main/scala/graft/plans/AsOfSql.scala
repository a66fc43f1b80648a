package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-text spelling for the native as-of join: a table-valued
  * function that expands to [[AsOfJoinPlan]], so `spark.sql` users —
  * the kdb/QuestDB `ASOF JOIN` crowd — reach [[AsOfJoinExec]]/
  * [[BroadcastAsOfJoinExec]] without touching the DataFrame API:
  *
  * {{{
  *   SELECT * FROM asof_join('trades', 'quotes', 'sym', 't_ts', 'q_ts')
  *   -- full form:
  *   asof_join(left, right, keys_csv, left_ts, right_ts
  *             [, tie_csv [, tolerance_us]])
  * }}}
  *
  * The function is a MACRO over [[AsOfJoin.asOf]]: at resolution time
  * the builder looks the two table names up in the active session
  * (temp views and catalog tables alike) — or, for an inline
  * `TABLE(SELECT ...)` argument, analyzes the shipped subquery plan
  * directly ([[TvfArgs.table]]) — applies asOf's full
  * validation (key arity/type agreement, float-key rejection,
  * timestamp typing, fresh right-side expr ids for self-joins), and
  * returns the ANALYZED native plan — the analyzer then treats it as
  * resolved, and the planner strategy picks the merge or broadcast
  * physical form by the usual stats/threshold model. Output columns
  * are the left columns followed by the right non-key columns,
  * exactly the DataFrame entry's contract.
  *
  * Registration: one entry in [[graft.functions.GraftExtensions]]'
  * `tableFunctions`, injected at build time and registered at runtime
  * by [[graft.GraftSql.attach]], so SQL sessions over the driver tables
  * always have it.
  *
  * The reference has no SQL surface at all (index.js is record-at-a-
  * time JS); this is the engine-extension path, mirroring kdb `aj` /
  * QuestDB `ASOF JOIN` / Flink temporal join SQL. */
object AsOfSql {

  val name = "asof_join"

  def info: ExpressionInfo = new ExpressionInfo(
    AsOfSql.getClass.getName, name,
    "asof_join(left, right, keys, left_ts, right_ts[, tie[, tolerance_us" +
      "[, direction]]]) - for each left row, joins the right row with" +
      " equal keys selected by direction (backward: latest with" +
      " right_ts <= left_ts, the default; forward: earliest with" +
      " right_ts >= left_ts; nearest: the closer of the two, distance" +
      " ties backward), within tolerance_us when given; table" +
      " arguments are string-literal names or TABLE(subquery), column" +
      " arguments are string literals, keys/tie comma-separated")

  /** The TVF builder (`Seq[Expression] => LogicalPlan`): argument
    * literals in, analyzed native as-of plan out. Errors are
    * IllegalArgumentException with the argument named — surfaced by
    * the analyzer as the function-resolution failure. */
  val builder: Seq[Expression] => LogicalPlan = { args =>
    require(args.lengthCompare(5) >= 0 && args.lengthCompare(8) <= 0,
      s"asof_join takes 5-8 arguments " +
        "(left, right, keys, left_ts, right_ts[, tie[, tolerance_us" +
        "[, direction]]]), " +
        s"got ${args.length}")
    def str(i: Int, what: String): String = args(i) match {
      case Literal(v: UTF8String, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"asof_join: $what (argument ${i + 1}) must be a string literal, " +
          s"got $other")
    }
    def csv(i: Int, what: String): Seq[String] =
      str(i, what).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = SparkSession.active
    val tol = if (args.lengthCompare(7) >= 0) args(6) match {
      case Literal(v: Long, LongType) => Some(v)
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(null, _) => None // explicit NULL = unbounded, so the
      // 8-arg form can set a direction without inventing a tolerance
      case other => throw new IllegalArgumentException(
        s"asof_join: tolerance_us (argument 7) must be an integer " +
          s"literal or NULL, got $other")
    } else None
    val dir = if (args.lengthCompare(8) == 0) str(7, "direction")
      else "backward"
    AsOfJoin.asOf(
      TvfArgs.table(spark, name, args, 0, "left table"),
      TvfArgs.table(spark, name, args, 1, "right table"),
      csv(2, "key list"),
      str(3, "left timestamp column"),
      str(4, "right timestamp column"),
      if (args.lengthCompare(6) >= 0) csv(5, "tie list") else Nil,
      tol, direction = dir).queryExecution.analyzed
  }
}
