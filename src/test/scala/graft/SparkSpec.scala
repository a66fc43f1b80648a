package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * total test time bounded by a single startup + codegen warmup), built
  * by [[GraftSession]] like every main, on a fixed 4 cores so plans do
  * not depend on the host.
  *
  * Built WITH [[graft.functions.GraftExtensions]] — the production
  * deployment (`spark.sql.extensions`) — so every suite observes the
  * library's optimizer rules and planner strategy in their build-time
  * form, and plan goldens are captured against the CANONICAL rule set
  * instead of whatever runtime `install()` calls happened to run
  * first (the r13 suite-order flake: a spec installing WinMagic into
  * `experimental.extraOptimizations` leaked it into later suites'
  * plan captures). Suites must not mutate the shared session's
  * experimental rule lists. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.start(GraftSession.builder(4)
    .withExtensions(new graft.functions.GraftExtensions)
    .appName("graft-tests"))
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  override protected def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    super.beforeAll()
  }
}
