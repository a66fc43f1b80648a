package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-text spelling for DSIR importance resampling — the FIFTH
  * table-valued function on the [[AsOfSql]] / [[RangeSql]] /
  * [[KnnSql]] / [[NearDupSql]] pattern, making hashed-n-gram data
  * selection composable in plain SQL:
  *
  * {{{
  *   SELECT * FROM dsir_sample('documents', 'src0,src1', 200)
  *   -- top-200 raw docs by importance toward the src0/src1 target
  *   SELECT * FROM dsir_sample(TABLE(SELECT * FROM documents
  *                                   WHERE lang = 'en'),
  *                             'src0', 100)
  * }}}
  *
  * The TVF is a MACRO over [[graft.ext.TextOps.dsirResample]]: table
  * lookup (string-literal name or TABLE(subquery) — [[TvfArgs]]),
  * target-source parsing and column validation at resolution time,
  * analyzed plan out — identical plan and scale posture to the engine
  * call (bounded 1024-bucket stats, broadcast bits, TakeOrdered
  * top-k). k is capped at 100 000: the output is a SAMPLE a trainer
  * reads whole, and TakeOrdered merges k·partitions rows on the
  * driver — an unbounded k silently becomes a corpus sort. */
object DsirSql {

  val name = "dsir_sample"

  def info: ExpressionInfo = new ExpressionInfo(
    DsirSql.getClass.getName, name,
    "dsir_sample(docs, target_sources, k) - deterministic top-k raw" +
      " documents by DSIR importance weight toward the comma-separated" +
      " target sources; table argument is a string-literal name or" +
      " TABLE(subquery), k a positive integer literal <= 100000")

  /** The TVF builder: argument literals in, analyzed DSIR plan out. */
  val builder: Seq[Expression] => LogicalPlan = { args =>
    require(args.lengthCompare(3) == 0,
      s"$name takes exactly 3 arguments (docs, target_sources, k), " +
        s"got ${args.length}")
    def str(i: Int, what: String): String = args(i) match {
      case Literal(v: UTF8String, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$name: $what (argument ${i + 1}) must be a string literal, " +
          s"got $other")
    }
    val targets = str(1, "target source list").split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    require(targets.nonEmpty,
      s"$name: target source list must name at least one source")
    // range-check in Long space BEFORE any narrowing: a BIGINT literal
    // like 4294967297 must be rejected loudly, not wrapped by toInt
    // into an in-range value that silently passes
    val kLong = args(2) match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, LongType) => v
      case other => throw new IllegalArgumentException(
        s"$name: k (argument 3) must be an integer literal, got $other")
    }
    require(kLong >= 1L && kLong <= 100000L,
      s"$name: k must be in [1, 100000] (got $kLong) — the result is a" +
        " driver-merged TakeOrdered sample, not a corpus sort")
    val k = kLong.toInt
    val spark = SparkSession.active
    val docs = TvfArgs.spreadTable(spark, name, args, 0, "docs table")
    val shaped = docs.select(
      Seq("doc_id", "source", "text").map { c =>
        org.apache.spark.sql.functions
          .col(TvfArgs.resolveColumn(spark, name, docs, c, s"column $c"))
          .as(c)
      }: _*)
    graft.ext.TextOps.dsirResample(shaped, targets, k = k)
      .queryExecution.analyzed
  }
}
