package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{ArrayType, Decimal, DecimalType, DoubleType, FloatType, IntegerType, LongType}

/** SQL-text spelling for SemDeDup — the sixth table-valued function
  * on the [[AsOfSql]] / [[RangeSql]] / [[KnnSql]] / [[NearDupSql]] /
  * [[DsirSql]] pattern, making semantic dedup composable in plain
  * SQL:
  *
  * {{{
  *   SELECT * FROM semdedup('embeddings', 8, 0.95)
  *   -- (vec_id, centroid_id, group_id, group_size, keep):
  *   -- k-means blocks, quantized-cosine dup groups, keep-the-outlier
  *   SELECT vec_id FROM semdedup(TABLE(SELECT * FROM embeddings
  *                                     WHERE label = 'en'), 8, 0.95)
  *   WHERE keep
  * }}}
  *
  * The TVF is a MACRO over [[graft.ext.EmbedOps.semDedupFrom]] over
  * [[graft.ext.EmbedOps.kmeansAssignments]]: table lookup
  * (string-literal name or TABLE(subquery) — [[TvfArgs]]),
  * resolver-aware column validation, k/threshold guards — all
  * resolution-time loud — analyzed plan out, identical plan and scale
  * posture to the engine call (cluster-blocked pairs, per-cluster
  * union-find, group-bounded windows).
  *
  * Resolution MATERIALIZES the k-means fit: the engine trains the
  * centroids eagerly (pinned Lloyd rounds) and materializes the
  * verified dup edges before labeling, exactly as the direct call
  * does — so EXPLAIN on this TVF pays the fit. That is the artifact-
  * training contract made visible; a pipeline that wants to train
  * once and reuse should persist the geometry with
  * [[graft.ext.CentroidStore]] and assign via
  * [[graft.ext.EmbedOps.assignAgainst]].
  *
  * k is capped at 2²⁰ — [[graft.ext.EmbedOps.scaledK]]'s broadcast
  * bound on the centroid frame; callers should pass scaledK(N) (k ≈
  * N/1024) so the within-cluster pair scan stays linear. */
object SemDedupSql {

  val name = "semdedup"

  def info: ExpressionInfo = new ExpressionInfo(
    SemDedupSql.getClass.getName, name,
    "semdedup(vectors, k, threshold) - SemDeDup semantic duplicate" +
      " groups over a k-means clustering of the quantized embedding" +
      " column: (vec_id, centroid_id, group_id, group_size, keep);" +
      " vectors is a string-literal table name or TABLE(subquery)" +
      " with (vec_id, embedding) columns, k a positive integer" +
      " literal <= 1048576 (pass scaledK(N) ~ N/1024 at corpus" +
      " scale), threshold a cosine in [0.3, 1.0]")

  /** The TVF builder: argument literals in, analyzed SemDeDup plan
    * out. */
  val builder: Seq[Expression] => LogicalPlan = { args =>
    require(args.lengthCompare(3) == 0,
      s"$name takes exactly 3 arguments (vectors, k, threshold), " +
        s"got ${args.length}")
    // range-check in Long space BEFORE narrowing (the DsirSql rule:
    // a BIGINT literal must be rejected on its real value, never
    // wrapped by toInt into an in-range one)
    val kLong = args(1) match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, LongType) => v
      case other => throw new IllegalArgumentException(
        s"$name: k (argument 2) must be an integer literal, got $other")
    }
    require(kLong >= 1L && kLong <= (1L << 20),
      s"$name: k must be in [1, 1048576] (got $kLong) — the centroid" +
        " frame is broadcast, and scaledK caps it at 2^20 rows")
    val k = kLong.toInt
    val thr = args(2) match {
      case Literal(v: Decimal, _: DecimalType) => v.toDouble
      case Literal(v: Double, DoubleType) => v
      case Literal(v: Float, FloatType) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"$name: threshold (argument 3) must be a numeric literal, " +
          s"got $other")
    }
    require(thr >= 0.3 && thr <= 1.0,
      s"$name: threshold must be in [0.3, 1.0] (got $thr) — below 0.3" +
        " the within-cluster dup graph densifies toward all-pairs and" +
        " the group windows lose their dup-sparse posture")
    val spark = SparkSession.active
    val vecs = TvfArgs.table(spark, name, args, 0, "vectors table")
    val idCol = TvfArgs.resolveColumn(spark, name, vecs,
      "vec_id", "id column vec_id")
    val vecCol = TvfArgs.resolveColumn(spark, name, vecs,
      "embedding", "vector column embedding")
    vecs.schema.fields.find(_.name == vecCol).get.dataType match {
      case ArrayType(FloatType | DoubleType, _) => ()
      case other => throw new IllegalArgumentException(
        s"$name: column $vecCol must be array<float>/array<double>, " +
          s"got $other")
    }
    val shaped = vecs.select(
      org.apache.spark.sql.functions.col(idCol).as("vec_id"),
      org.apache.spark.sql.functions.col(vecCol).as("embedding"))
    graft.ext.EmbedOps.semDedupFrom(shaped,
      graft.ext.EmbedOps.kmeansAssignments(shaped, k), thr)
      .queryExecution.analyzed
  }
}
