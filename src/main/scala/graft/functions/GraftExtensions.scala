package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.IntegerType

/** SparkSessionExtensions installer — the build-time registration path
  * (`spark.sql.extensions=graft.functions.GraftExtensions`, or
  * `.withExtensions(new GraftExtensions)` on a session builder). The
  * companion's two lists are the library's one function registry: this
  * class injects them, and [[graft.GraftSql.attach]] registers them into
  * a running session, so both paths resolve the same names. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // plan-level scale lint (opt-in; see the rule's scaladoc)
    ext.injectOptimizerRule { session =>
      graft.plans.NoGlobalWindowGuard(k =>
        session.conf.getOption(k))
    }
    // WinMagic self-join-back → window rewrite (on by default; kill
    // switch spark.graft.optimizer.winmagic=false — see the scaladoc)
    ext.injectOptimizerRule { session =>
      graft.plans.WinMagicGated(k => session.conf.getOption(k))
    }
    // physical planning for the native as-of join (AsOfJoin.asOf also
    // self-installs via experimental.extraStrategies at first use —
    // this is the build-time form for spark.sql.extensions deployment)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // filter pushdown / key transitivity / column pruning through the
    // as-of node — injected into the operator-optimization fixed point
    // so the standard rules carry the pushed pieces into the scans
    ext.injectOptimizerRule(_ => graft.plans.AsOfPushdown)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  /** SQL table-valued functions, each a macro expanding to a native
    * plan at resolution time (see each object's scaladoc). */
  val tableFunctions
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] = {
    import graft.plans._
    Seq(
      // the native as-of join (AsOfJoinPlan)
      (AsOfSql.name, AsOfSql.info, AsOfSql.builder),
      // equi+band inner range join — never a cross product
      (RangeSql.name, RangeSql.info, RangeSql.builder),
      // kNN similarity join: broadcast queries × corpus scan top-k
      (KnnSql.name, KnnSql.info, KnnSql.builder),
      // MinHash-LSH near-duplicate pairs: banded self-join + verify
      (NearDupSql.name, NearDupSql.info, NearDupSql.builder),
      // DSIR importance resampling
      (DsirSql.name, DsirSql.info, DsirSql.builder),
      // SemDeDup: k-means blocked pairs + per-cluster union-find
      (SemDedupSql.name, SemDedupSql.info, SemDedupSql.builder),
      // persisted IVF-PQ index search
      (IndexSearchSql.name, IndexSearchSql.info, IndexSearchSql.builder),
      // exact duplicate spans, their islands, and their excision
      (DupSpansSql.spansName, DupSpansSql.spansInfo, DupSpansSql.spansBuilder),
      (DupSpansSql.islandsName, DupSpansSql.islandsInfo, DupSpansSql.islandsBuilder),
      (DupSpansSql.exciseName, DupSpansSql.exciseInfo, DupSpansSql.exciseBuilder),
      // nearest stored centroid per embedding
      (CentroidAssignSql.name, CentroidAssignSql.info, CentroidAssignSql.builder)
    ).map { case (name, info, builder) => (FunctionIdentifier(name), info, builder) }
  }

  private def scalar(name: String, cls: Class[_], usage: String, arity: Int)(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name, usage),
      { children: Seq[Expression] =>
        require(children.length == arity, s"$name takes exactly $arity argument(s)")
        build(children)
      })

  /** Codegen'd scalar expressions. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    scalar("cosine_sim", classOf[CosineSimilarity],
      "cosine_sim(a, b) - cosine similarity of two float vectors", 2) { c =>
      CosineSimilarity(c(0), c(1))
    },
    scalar("rolling_min_hash", classOf[RollingMinHash],
      "rolling_min_hash(s) - min Rabin-Karp hash over 16-byte windows", 1) { c =>
      RollingMinHash(c(0))
    },
    scalar("simhash32", classOf[SimHash32],
      "simhash32(s) - 32-bit SimHash over distinct space-separated tokens", 1) { c =>
      SimHash32(c(0))
    },
    scalar("simhash60", classOf[SimHash60],
      "simhash60(s) - 60-bit SimHash over distinct space-separated tokens", 1) { c =>
      SimHash60(c(0))
    },
    // k is baked into the generated probe loop, so it must be a literal
    scalar("bloom_might_contain", classOf[BloomMightContain],
      "bloom_might_contain(words, hash, k) - k-probe Bloom membership", 3) { c =>
      val k = c(2) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"bloom_might_contain: k must be an int literal, got $other")
      }
      BloomMightContain(c(0), c(1), k)
    })
}
