package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-text spelling for MinHash-LSH near-duplicate detection — the
  * FOURTH table-valued function on the [[AsOfSql]] / [[RangeSql]] /
  * [[KnnSql]] pattern, making the dedup pipeline composable in plain
  * SQL:
  *
  * {{{
  *   SELECT * FROM neardup_pairs('documents', 'doc_id', 'text', 0.5)
  *   -- verified near-dup pairs: (doc_a, doc_b, jaccard >= 0.5)
  *   SELECT * FROM neardup_pairs(TABLE(SELECT * FROM documents
  *                                     WHERE lang = 'en'),
  *                               'doc_id', 'text', 0.7)
  * }}}
  *
  * The TVF is a MACRO over [[graft.ext.DedupOps.minhashNearDups]]:
  * table lookup (string-literal name through the catalog or inline
  * TABLE(subquery) — [[TvfArgs]]), column/type validation and the
  * id/text renames at resolution time, analyzed plan out. Output is
  * (doc_a, doc_b, jaccard), doc_a < doc_b, exact-shingle-verified at
  * `threshold` — identical semantics and identical plan to the engine
  * method, so the scale posture carries over: single-band LSH blocking
  * (triangle-salted band self-join, never all-pairs), relational
  * intersection-count verify.
  *
  * Threshold is bounded to [0.3, 1.0]: below the banding threshold the
  * LSH index's recall collapses (pairs the bands never collide on are
  * silently absent), so a permissive-looking 0.1 would LIE rather than
  * run slow — the same loud-rejection posture as range_join's empty
  * band. The reference has no SQL surface; the kin here are the
  * DataFrame dedup entries (SURVEY §2 extensions), relationalized. */
object NearDupSql {

  val name = "neardup_pairs"

  def info: ExpressionInfo = new ExpressionInfo(
    NearDupSql.getClass.getName, name,
    "neardup_pairs(docs, id_col, text_col, threshold) - verified" +
      " MinHash-LSH near-duplicate pairs (doc_a, doc_b, jaccard) over" +
      " the docs table; table argument is a string-literal name or" +
      " TABLE(subquery), columns are string literals, threshold a" +
      " numeric literal in [0.3, 1.0] (the LSH banding recall floor)")

  /** The TVF builder: argument literals in, analyzed LSH-pairs plan
    * out. */
  val builder: Seq[Expression] => LogicalPlan = { args =>
    require(args.lengthCompare(4) == 0,
      s"$name takes exactly 4 arguments " +
        s"(docs, id_col, text_col, threshold), got ${args.length}")
    def str(i: Int, what: String): String = args(i) match {
      case Literal(v: UTF8String, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$name: $what (argument ${i + 1}) must be a string literal, " +
          s"got $other")
    }
    // SQL `0.5` parses as a decimal literal; accept any numeric literal
    val thr = args(3) match {
      case Literal(v: Decimal, _: DecimalType) => v.toDouble
      case Literal(v: Double, DoubleType) => v
      case Literal(v: Float, FloatType) => v.toDouble
      case Literal(v: Int, IntegerType) => v.toDouble
      case Literal(v: Long, LongType) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"$name: threshold (argument 4) must be a numeric literal, " +
          s"got $other")
    }
    require(thr >= 0.3 && thr <= 1.0,
      s"$name: threshold must be in [0.3, 1.0] (got $thr) — below the" +
        " LSH banding threshold the band index cannot recall the pairs" +
        " it never collides, so the result would be silently incomplete")
    val spark = SparkSession.active
    val docs = TvfArgs.table(spark, name, args, 0, "docs table")
    // resolve with the analyzer's resolver (case-insensitive unless
    // spark.sql.caseSensitive) so 'DOC_ID' finds doc_id exactly where
    // a plain SQL reference would
    val idCol = TvfArgs.resolveColumn(spark, name, docs,
      str(1, "id column"), "id column")
    val textCol = TvfArgs.resolveColumn(spark, name, docs,
      str(2, "text column"), "text column")
    require(idCol != textCol,
      s"$name: id and text columns must differ (both $idCol)")
    val tf = docs.schema.fields.find(_.name == textCol).get
    require(tf.dataType == StringType,
      s"$name: text column $textCol must be string, got ${tf.dataType}")
    // the engine pipeline is written against (doc_id, text)
    val shaped = docs.select(
      org.apache.spark.sql.functions.col(idCol).as("doc_id"),
      org.apache.spark.sql.functions.col(textCol).as("text"))
    graft.ext.DedupOps.minhashNearDups(shaped, thr)
      .queryExecution.analyzed
  }
}
