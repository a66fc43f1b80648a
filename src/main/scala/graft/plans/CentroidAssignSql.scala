package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-text spelling for FROZEN-GEOMETRY centroid assignment — the
  * tenth table-valued function, and the assign-side twin of
  * [[IndexSearchSql]]: where `index_search` serves similarity queries
  * off a persisted artifact, `centroid_assign` serves CLUSTER
  * assignments off the persisted [[graft.ext.CentroidStore]], so a
  * SQL pipeline can bucket new vectors into the exact geometry the
  * corpus was deduped under without re-clustering anything:
  *
  * {{{
  *   SELECT * FROM centroid_assign('/stores/corpus_centroids',
  *                                 TABLE(SELECT vec_id, embedding
  *                                       FROM new_vectors))
  *   -- (vec_id, centroid_id, d2): nearest frozen centroid by exact
  *   -- integer-quantized L2, ties to the lowest centroid id
  * }}}
  *
  * The TVF is a MACRO over [[graft.ext.EmbedOps.assignAgainst]] of the
  * committed centroid generation: the manifest is resolved at
  * resolution time (a missing or torn store is a LOUD error here,
  * naming the dir), the query table comes through [[TvfArgs]], and the
  * plan is the engine's broadcast-argmin — k centroid rows against a
  * streaming scan, bit-equal to the session-trained chain when the
  * store holds that fit ([[graft.ext.CentroidStore]]'s parity pin).
  * This is the SQL face of the incremental-semantic-dedup serving
  * posture: train once, publish, assign forever. */
object CentroidAssignSql {

  val name = "centroid_assign"

  def info: ExpressionInfo = new ExpressionInfo(
    CentroidAssignSql.getClass.getName, name,
    "centroid_assign(store_dir, vectors) - nearest-centroid assignment" +
      " (vec_id, centroid_id, d2) against the PERSISTED k-means" +
      " geometry at store_dir (a committed CentroidStore); vectors is" +
      " a string-literal table name or TABLE(subquery) with (vec_id," +
      " embedding); exact integer-quantized L2, ties to the lowest" +
      " centroid id")

  /** The TVF builder: argument literals in, analyzed loaded-geometry
    * assignment plan out. */
  val builder: Seq[Expression] => LogicalPlan = { args =>
    require(args.lengthCompare(2) == 0,
      s"$name takes exactly 2 arguments (store_dir, vectors), " +
        s"got ${args.length}")
    val dir = args(0) match {
      case Literal(v: UTF8String, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$name: store_dir (argument 1) must be a string literal, " +
          s"got $other")
    }
    val spark = SparkSession.active
    val vecs = TvfArgs.table(spark, name, args, 1, "vectors table")
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
    // resolution-time loudness: a missing/torn/foreign-format store
    // errors HERE, naming the dir — CentroidStore's own guards
    graft.ext.EmbedOps.assignAgainst(shaped,
      graft.ext.CentroidStore.centroids(spark, dir))
      .queryExecution.analyzed
  }
}
