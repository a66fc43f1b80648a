package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.unix_micros
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-text spelling for the range join — the second table-valued
  * function on the [[AsOfSql]] pattern, exercising the TVF registry
  * beyond a single entry:
  *
  * {{{
  *   SELECT * FROM range_join('purchases', 'clicks', 'user_id',
  *                            'p_ts', 'c_ts', 0, 3600000000)
  *   -- keys equal AND lo_us < right_ts − left_ts <= hi_us
  * }}}
  *
  * Unlike asof_join there is no custom operator to reach: the range
  * join's RIGHT plan is a plain inner join with the equi keys in the
  * condition and the time band as a residual — the planner shuffles
  * both sides once on the keys and evaluates the band per candidate
  * pair, NEVER a cross product (the shape
  * [[graft.ext.TemporalJoins.clicksAfterPurchase]] documents for the
  * 100-TB case; a keyless band join would instead need ts bucketing).
  * The TVF is a MACRO over that DataFrame composition: table lookups,
  * key/timestamp validation and fresh right-side expr ids (self-join
  * safety) at resolution time, analyzed plan out. Output columns are
  * the left columns then the right non-key columns, the asof_join
  * contract.
  *
  * Band semantics: strict lower, inclusive upper — `(lo_us, hi_us]`
  * on `right_ts − left_ts` in microseconds, matching
  * `clicksAfterPurchase(band)` at `(0, band]`. Timestamps may be
  * TimestampType (converted via unix_micros) or LongType micros.
  *
  * Registration: one entry in [[graft.functions.GraftExtensions]]'
  * `tableFunctions` (build time and [[graft.GraftSql.attach]]). The reference has no SQL surface (index.js is record-at-a-
  * time JS); the kin here are DuckDB/QuestDB range-join spellings. */
object RangeSql {

  val name = "range_join"

  def info: ExpressionInfo = new ExpressionInfo(
    RangeSql.getClass.getName, name,
    "range_join(left, right, keys, left_ts, right_ts, lo_us, hi_us)" +
      " - joins each left row to the right rows with equal keys and" +
      " lo_us < right_ts - left_ts <= hi_us (microseconds); table" +
      " arguments are string-literal names or TABLE(subquery), column" +
      " arguments are string literals, keys comma-separated")

  /** The TVF builder: argument literals in, analyzed inner-join plan
    * (equi keys + band residual) out. */
  val builder: Seq[Expression] => LogicalPlan = { args =>
    require(args.lengthCompare(7) == 0,
      s"range_join takes exactly 7 arguments " +
        "(left, right, keys, left_ts, right_ts, lo_us, hi_us), " +
        s"got ${args.length}")
    def str(i: Int, what: String): String = args(i) match {
      case Literal(v: UTF8String, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"range_join: $what (argument ${i + 1}) must be a string literal, " +
          s"got $other")
    }
    def long(i: Int, what: String): Long = args(i) match {
      case Literal(v: Long, LongType) => v
      case Literal(v: Int, IntegerType) => v.toLong
      case other => throw new IllegalArgumentException(
        s"range_join: $what (argument ${i + 1}) must be an integer " +
          s"literal, got $other")
    }
    val spark = SparkSession.active
    val left = TvfArgs.table(spark, name, args, 0, "left table")
    val right = TvfArgs.table(spark, name, args, 1, "right table")
    // fresh exprIds on the right so self-joins don't alias attributes
    val rightFresh = right.select(right.columns.map(c =>
      org.apache.spark.sql.functions.col(c).as(c)): _*)
    val keys = str(2, "key list").split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, "range_join needs at least one equi key — " +
      "a keyless time-band join is a cross product at scale")
    val lts = str(3, "left timestamp column")
    val rts = str(4, "right timestamp column")
    val lo = long(5, "lo_us")
    val hi = long(6, "hi_us")
    // strict: the band (lo, hi] is empty when lo == hi — fail loudly at
    // resolution time like every other bad argument
    require(lo < hi, s"range_join: empty band ($lo, $hi]")
    def micros(df: DataFrame, n: String, side: String): Column = {
      val f = df.schema.fields.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"range_join: column $n not found in the $side table " +
            s"(${df.columns.mkString(",")})"))
      f.dataType match {
        case TimestampType => unix_micros(df(n))
        case LongType => df(n)
        case other => throw new IllegalArgumentException(
          s"range_join: timestamp $n must be timestamp/long, got $other")
      }
    }
    keys.foreach { k =>
      require(left.columns.contains(k) && rightFresh.columns.contains(k),
        s"range_join: key $k must exist on both sides")
    }
    val diff = micros(rightFresh, rts, "right") - micros(left, lts, "left")
    val cond = keys.map(k => left(k) === rightFresh(k))
      .reduce(_ && _) && diff > lo && diff <= hi
    left.join(rightFresh, cond)
      .select(left.columns.map(left(_)) ++
        rightFresh.columns.filterNot(keys.contains).map(rightFresh(_)): _*)
      .queryExecution.analyzed
  }
}
