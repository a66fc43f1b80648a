package graft

import org.apache.spark.sql.functions._

import graft.ext.DedupOps
import graft.functions.SimHash32

/** The native codegen'd SimHash expression: bit-equality with the
  * declarative (built-ins-only) form it replaced, and codegen vs
  * interpreted agreement. */
class SimHashSpec extends SparkSpec {
  import spark.implicits._

  test("native simhash32 equals the declarative 32-pass form on real docs") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val native = DedupOps.simhash(docs)
    val declarative = DedupOps.simhashDeclarative(docs)
    val diff = native.withColumnRenamed("simhash32", "a")
      .join(declarative.withColumnRenamed("simhash32", "b"), Seq("doc_id"))
      .filter(col("a") =!= col("b"))
    assert(diff.isEmpty)
  }

  test("native simhash32 equals the declarative form on adversarial strings") {
    // repeated tokens (distinctness), double spaces (empty tokens),
    // trailing space (split limit -1), single token, unicode
    val docs = Seq(
      (1L, "the the the fox"),
      (2L, "a  b"),
      (3L, "trailing space "),
      (4L, "single"),
      (5L, "héllo wörld héllo"))
      .toDF("doc_id", "text")
    val native = DedupOps.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declarative = DedupOps.simhashDeclarative(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == declarative)
  }

  test("simhash60: codegen/interpreted agree; 60-bit range; distinctness by token") {
    import graft.functions.SimHash60
    val s = org.apache.spark.unsafe.types.UTF8String.fromString(
      "a document with some repeated words a document")
    val interp = SimHash60(
      org.apache.spark.sql.catalyst.expressions.Literal(s)).eval(null)
      .asInstanceOf[Long]
    GraftSql.registerFunctions(spark)
    val gen = Seq(s.toString).toDF("s")
      .withColumn("h", expr("simhash60(s)")).head.getLong(1)
    assert(interp == gen)
    assert(interp >= 0L && interp < (1L << 60))
    // token-multiset invariance (distinct-token fold)
    val h1 = SimHash60.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("x y z"))
    val h2 = SimHash60.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("z z y x x"))
    assert(h1 == h2)
  }

  test("wide hamming pairs: identical docs at distance 0, banded probe complete at k=3") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different words about database query planning"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.simhash60HammingPairs(d)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("codegen and interpreted eval agree") {
    val s = org.apache.spark.unsafe.types.UTF8String.fromString(
      "a document with some repeated words a document")
    val interp = SimHash32(
      org.apache.spark.sql.catalyst.expressions.Literal(s)).eval(null)
    GraftSql.registerFunctions(spark)
    val gen = Seq(s.toString).toDF("s")
      .withColumn("h", expr("simhash32(s)")).head.getLong(1)
    assert(interp == gen)
  }
}
