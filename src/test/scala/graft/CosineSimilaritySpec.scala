package graft

import org.apache.spark.sql.functions._

import graft.ext.EmbedOps
import graft.functions.CosineSimilarity

/** The native codegen'd cosine expression. */
class CosineSimilaritySpec extends SparkSpec {

  test("cosine_sim matches hand-computed values and handles edge cases") {
    GraftSql.registerFunctions(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),   // identical → 1
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),   // orthogonal → 0
      (Array(1.0f, 1.0f), Array(-1.0f, -1.0f)), // opposite → -1
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f)))   // zero norm → null
      .toDF("a", "b")
      .withColumn("c", expr("cosine_sim(a, b)"))
    val c = df.select("c").collect()
    assert(math.abs(c(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(c(1).getDouble(0)) < 1e-12)
    assert(math.abs(c(2).getDouble(0) + 1.0) < 1e-12)
    assert(c(3).isNullAt(0))
  }

  test("native top-k ranks the duplicate vector first") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 2.0f), 0),
      (97L, Array(1.0f, 0.0f, 2.0f), 0),
      (5L, Array(-1.0f, 0.5f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val top = EmbedOps.bruteForceTopKNative(emb, k = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(top((97L, 1)) == 0L)
  }

  test("expression survives codegen (forced) and interpreted paths agree") {
    GraftSql.registerFunctions(spark)
    import spark.implicits._
    val df = Seq((Array.tabulate(64)(i => i.toFloat / 64),
      Array.tabulate(64)(i => (64 - i).toFloat / 64))).toDF("a", "b")
    val viaExpr = df.selectExpr("cosine_sim(a, b) as c").head.getDouble(0)
    // interpreted path directly through eval
    val row = df.select(col("a"), col("b")).head
    val toArrayData = (s: Seq[Float]) =>
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(s.toArray)
    val ev = CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal(
        toArrayData(row.getSeq[Float](0)),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal(
        toArrayData(row.getSeq[Float](1)),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
      .eval(null).asInstanceOf[Double]
    assert(math.abs(viaExpr - ev) < 1e-15)
  }

  test("GraftExtensions installs the cosine_sim builder and SQL resolves it") {
    // applying the installer to a fresh extensions object must register
    // the function builder without error
    new graft.functions.GraftExtensions()(
      new org.apache.spark.sql.SparkSessionExtensions)
    // and the same builder, registered in the live session, resolves in SQL
    GraftSql.registerFunctions(spark)
    import spark.implicits._
    Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .createOrReplaceTempView("vv")
    val r = spark.sql("select cosine_sim(a, b) c from vv").head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }
}
