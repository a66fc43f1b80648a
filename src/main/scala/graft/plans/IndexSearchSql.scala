package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-text spelling for PERSISTED-INDEX similarity search — the
  * seventh table-valued function, and the SCALE path the brute-force
  * [[KnnSql]] baseline defers to:
  *
  * {{{
  *   SELECT * FROM index_search('/indexes/corpus_ivfpq',
  *                              TABLE(SELECT vec_id, embedding
  *                                    FROM new_queries), 5, 2)
  *   -- each query's top-5 by IVF-PQ asymmetric distance, probing 2
  *   -- coarse lists — codes + codebooks read OFF THE INDEX, the
  *   -- corpus itself is never rescanned
  * }}}
  *
  * The TVF is a MACRO over [[graft.ext.EmbedIndex.search]]: the
  * committed manifest is resolved at resolution time (a missing or
  * torn store is a LOUD error here, not a runtime surprise), the
  * query table comes through [[TvfArgs]], and the plan is the
  * engine's broadcast-codebook ADC lookup join. Where [[KnnSql]]
  * scans |corpus| rows per query batch (linear in the corpus — its
  * ladder entry goes quadratic when the query set grows WITH the
  * corpus), this path reads nprobe/|lists| of the CODES (4 bytes a
  * vector), which is the deployment posture for similarity search
  * over a 100-TB corpus. */
object IndexSearchSql {

  val name = "index_search"

  def info: ExpressionInfo = new ExpressionInfo(
    IndexSearchSql.getClass.getName, name,
    "index_search(index_dir, queries, k, nprobe) - top-k neighbors" +
      " per query row by IVF-PQ asymmetric distance against the" +
      " PERSISTED index at index_dir (a committed EmbedIndex store);" +
      " queries is a string-literal table name or TABLE(subquery)" +
      " with (vec_id, embedding); k in [1, 1000], nprobe in [1, 64]")

  /** The TVF builder: argument literals in, analyzed loaded-index
    * search plan out. */
  val builder: Seq[Expression] => LogicalPlan = { args =>
    require(args.lengthCompare(4) == 0,
      s"$name takes exactly 4 arguments (index_dir, queries, k, " +
        s"nprobe), got ${args.length}")
    val dir = args(0) match {
      case Literal(v: UTF8String, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$name: index_dir (argument 1) must be a string literal, " +
          s"got $other")
    }
    // Long-safe range checks (the DsirSql rule)
    def intArg(i: Int, what: String, lo: Long, hi: Long): Int = {
      val v = args(i) match {
        case Literal(x: Int, IntegerType) => x.toLong
        case Literal(x: Long, LongType) => x
        case other => throw new IllegalArgumentException(
          s"$name: $what (argument ${i + 1}) must be an integer " +
            s"literal, got $other")
      }
      require(v >= lo && v <= hi,
        s"$name: $what must be in [$lo, $hi] (got $v)")
      v.toInt
    }
    val k = intArg(2, "k", 1L, 1000L)
    val nprobe = intArg(3, "nprobe", 1L, 64L)
    val spark = SparkSession.active
    val queries = TvfArgs.table(spark, name, args, 1, "queries table")
    val idCol = TvfArgs.resolveColumn(spark, name, queries,
      "vec_id", "id column vec_id")
    val vecCol = TvfArgs.resolveColumn(spark, name, queries,
      "embedding", "vector column embedding")
    queries.schema.fields.find(_.name == vecCol).get.dataType match {
      case ArrayType(FloatType | DoubleType, _) => ()
      case other => throw new IllegalArgumentException(
        s"$name: column $vecCol must be array<float>/array<double>, " +
          s"got $other")
    }
    val shaped = queries.select(
      org.apache.spark.sql.functions.col(idCol).as("vec_id"),
      org.apache.spark.sql.functions.col(vecCol).as("embedding"))
    // resolution-time loudness: a missing/torn/foreign-format store
    // errors HERE, naming the dir — EmbedIndex.load's own guards
    graft.ext.EmbedIndex.search(spark, dir, shaped, k, nprobe)
      .queryExecution.analyzed
  }
}
