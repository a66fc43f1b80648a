package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-text spelling for the kNN join — the third table-valued
  * function on the [[AsOfSql]] / [[RangeSql]] pattern, making
  * similarity search composable in plain SQL:
  *
  * {{{
  *   SELECT * FROM knn_join(TABLE(SELECT * FROM embeddings
  *                                 WHERE vec_id % 97 = 0),
  *                          'embeddings', 'vec_id', 'embedding', 5)
  *   -- each query row's 5 nearest corpus rows by cosine
  * }}}
  *
  * The TVF is a MACRO over [[graft.ext.EmbedOps.knnJoin]]: table
  * lookups (string-literal names through the catalog or inline
  * TABLE(subquery) plans — [[TvfArgs]]), column/type validation and
  * fresh right-side expr ids (self-join safety) at resolution time,
  * analyzed plan out. Output is (query_id, rank, neighbor_id, cosine);
  * self-matches are not excluded (documented on the engine method).
  *
  * Contract pinned at resolution: the LEFT argument is the QUERY SET
  * and is broadcast — passing a second corpus as the left side would
  * broadcast it whole, so keep queries serving-sized; k is capped at
  * 1000 because a larger k loses Spark's WindowGroupLimit rewrite and
  * with it the bounded-output scale posture.
  *
  * Registration: one entry in [[graft.functions.GraftExtensions]]'
  * `tableFunctions` (build time and [[graft.GraftSql.attach]]). The reference has no SQL surface (index.js is record-at-a-
  * time JS); the kin here are vector-database `ORDER BY distance
  * LIMIT k` spellings, relationalized to a set-at-a-time join. */
object KnnSql {

  val name = "knn_join"

  def info: ExpressionInfo = new ExpressionInfo(
    KnnSql.getClass.getName, name,
    "knn_join(queries, corpus, id_col, vec_col, k) - joins each query" +
      " row to its k nearest corpus rows by cosine over the quantized" +
      " vec_col (ties on neighbor id); table arguments are" +
      " string-literal names or TABLE(subquery), column arguments are" +
      " string literals, k a positive integer literal <= 1000")

  /** The TVF builder: argument literals in, analyzed broadcast-kNN
    * plan out. */
  val builder: Seq[Expression] => LogicalPlan = { args =>
    require(args.lengthCompare(5) == 0,
      s"knn_join takes exactly 5 arguments " +
        s"(queries, corpus, id_col, vec_col, k), got ${args.length}")
    def str(i: Int, what: String): String = args(i) match {
      case Literal(v: UTF8String, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"knn_join: $what (argument ${i + 1}) must be a string literal, " +
          s"got $other")
    }
    // range-check in Long space BEFORE narrowing (the DsirSql rule:
    // a BIGINT literal like 4294967297 must be rejected on its real
    // value, never wrapped by toInt into an in-range one)
    val kLong = args(4) match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, LongType) => v
      case other => throw new IllegalArgumentException(
        s"knn_join: k (argument 5) must be an integer literal, got $other")
    }
    require(kLong >= 1L && kLong <= 1000L,
      s"knn_join: k must be in [1, 1000] (got $kLong) — above 1000 the" +
        " per-query rank loses its WindowGroupLimit rewrite and the" +
        " join's bounded-output scale posture with it")
    val k = kLong.toInt
    val spark = SparkSession.active
    val left = TvfArgs.table(spark, name, args, 0, "queries table")
    val right = TvfArgs.spreadTable(spark, name, args, 1, "corpus table")
    // fresh exprIds on the right so self-joins don't alias attributes
    val rightFresh = right.select(right.columns.map(c =>
      org.apache.spark.sql.functions.col(c).as(c)): _*)
    val idCol = str(2, "id column")
    val vecCol = str(3, "vector column")
    Seq(("queries", left), ("corpus", rightFresh)).foreach { case (side, df) =>
      require(df.columns.contains(idCol),
        s"knn_join: id column $idCol not found in the $side table " +
          s"(${df.columns.mkString(",")})")
      val f = df.schema.fields.find(_.name == vecCol).getOrElse(
        throw new IllegalArgumentException(
          s"knn_join: vector column $vecCol not found in the $side " +
            s"table (${df.columns.mkString(",")})"))
      f.dataType match {
        case ArrayType(FloatType | DoubleType, _) => ()
        case other => throw new IllegalArgumentException(
          s"knn_join: vector column $vecCol must be array<float>/" +
            s"array<double>, got $other")
      }
    }
    graft.ext.EmbedOps.knnJoin(left, rightFresh, idCol, vecCol, k)
      .queryExecution.analyzed
  }
}
