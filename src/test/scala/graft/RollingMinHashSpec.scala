package graft

import org.apache.spark.sql.functions._

import graft.functions.RollingMinHash

/** The native codegen'd Rabin-Karp rolling-hash fingerprint. */
class RollingMinHashSpec extends SparkSpec {

  test("rolling_min_hash matches hand-computed polynomial hashes") {
    GraftSql.registerFunctions(spark)
    import spark.implicits._
    val df = Seq(
      "abcdefghijklmnop",          // exactly one window
      "xabcdefghijklmnop",         // two windows, rolled
      "the quick brown fox jumps", // ten windows
      "short")                     // < 16 bytes → null
      .toDF("s").withColumn("h", expr("rolling_min_hash(s)"))
    val h = df.select("h").collect()
    // constants from the independent python reference implementation
    assert(h(0).getLong(0) == 955390716L)
    assert(h(1).getLong(0) == 638787021L)
    assert(h(2).getLong(0) == 107997999L)
    assert(h(3).isNullAt(0))
  }

  test("codegen and interpreted eval agree") {
    val s = org.apache.spark.unsafe.types.UTF8String.fromString(
      "a slightly longer document body with several windows in it")
    val interp = RollingMinHash(
      org.apache.spark.sql.catalyst.expressions.Literal(s)).eval(null)
    GraftSql.registerFunctions(spark)
    import spark.implicits._
    val gen = Seq(s.toString).toDF("s")
      .withColumn("h", expr("rolling_min_hash(s)")).head.getLong(1)
    assert(interp == gen)
  }

}
