package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** One function registry for both deployment paths: a session built
  * with [[graft.functions.GraftExtensions]] (the `spark.sql.extensions`
  * deployment) resolves every scalar function and TVF that the runtime
  * path, [[GraftSql.attach]], registers. Both sides are fresh
  * `newSession()`s so no earlier suite's `attach` leaks into the
  * extension side. */
class RegistryParitySpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def registered(s: SparkSession): Set[FunctionIdentifier] =
    s.sessionState.functionRegistry.listFunction().toSet ++
      s.sessionState.tableFunctionRegistry.listFunction().toSet

  test("the extension-built session resolves every name GraftSql.attach registers") {
    val attached = spark.newSession()
    GraftSql.attach(attached, d)
    val fresh = spark.newSession()
    val missing = registered(attached) -- registered(fresh)
    assert(missing.isEmpty, s"only the runtime path registers: ${missing.mkString(", ")}")
    // the names that once existed only on the runtime path
    for (n <- Seq("dup_spans", "dup_islands", "dedup_excise", "centroid_assign"))
      assert(fresh.sessionState.tableFunctionRegistry
        .functionExists(FunctionIdentifier(n)), n)
    for (n <- Seq("simhash60", "bloom_might_contain"))
      assert(fresh.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(n)), n)
  }
}
