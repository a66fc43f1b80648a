package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ext.DedupOps
import graft.functions.BloomMightContain

/** The Bloom prefilter pair: relational build (DedupOps.bloomBits) +
  * native codegen'd probe (bloom_might_contain). The load-bearing
  * property is ZERO false negatives — that is what makes the
  * bloom-prefiltered incremental dedup exact. */
class BloomSpec extends SparkSpec {

  private def probeAll(keys: Seq[Long], bloomWords: Seq[Long], k: Int): Seq[Boolean] = {
    GraftSql.registerFunctions(spark)
    import spark.implicits._
    keys.toDF("h")
      .crossJoin(broadcast(Seq(Tuple1(bloomWords)).toDF("bloom")))
      .selectExpr(s"bloom_might_contain(bloom, h, $k)")
      .collect().map(_.getBoolean(0)).toSeq
  }

  private def buildWords(keys: Seq[Long], words: Int, k: Int): Seq[Long] = {
    import spark.implicits._
    DedupOps.bloomBits(keys.toDF("h"), words, k)
      .head.getSeq[Long](0)
  }

  test("no false negatives: every inserted key probes positive (incl. negative hashes)") {
    val r = new Random(7)
    val keys = Seq.fill(500)(r.nextLong())   // full signed range
    val bloom = buildWords(keys, words = 1024, k = 5)
    assert(probeAll(keys, bloom, 5).forall(identity))
  }

  test("false-positive rate on absent keys is within the sizing bound") {
    val r = new Random(11)
    val present = Seq.fill(500)(r.nextLong())
    val bloom = buildWords(present, words = 1024, k = 5)
    val absent = Seq.fill(2000)(r.nextLong()).filterNot(present.toSet)
    val fps = probeAll(absent, bloom, 5).count(identity)
    // n/m ≈ 0.0076 keys/bit, k=5 → theoretical FP ≈ 1e-7; allow 1%
    assert(fps <= absent.size / 100, s"$fps false positives of ${absent.size}")
  }

  test("probe codegen and interpreted eval agree") {
    val r = new Random(13)
    val present = Seq.fill(100)(r.nextLong())
    val bloom = buildWords(present, words = 64, k = 3)
    val mixed = present.take(20) ++ Seq.fill(50)(r.nextLong())
    val viaCodegen = probeAll(mixed, bloom, 3)
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(bloom.toArray)
    val at = org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)
    val viaEval = mixed.map { h =>
      BloomMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(arr, at),
        org.apache.spark.sql.catalyst.expressions.Literal(h), 3)
        .eval(null).asInstanceOf[Boolean]
    }
    assert(viaCodegen == viaEval)
  }

  test("bloom-prefiltered incremental dedup equals the exact form on a dup-heavy fixture") {
    import spark.implicits._
    // even ids = snapshot, odd ids = batch; half the batch repeats
    // snapshot text exactly, half is novel
    val docs = (0L until 200L).map { id =>
      val text = if (id % 2 == 0) s"snapshot doc ${id / 2} stable content"
      else if (id % 4 == 1) s"snapshot doc ${(id - 1) / 4} stable content" // dup of a snapshot doc
      else s"novel batch doc $id fresh content"
      (id, text)
    }.toDF("doc_id", "text")
    val exact = DedupOps.incrementalNewDocs(docs)
      .collect().map(_.getLong(0)).sorted.toSeq
    val bloomed = DedupOps.incrementalNewDocsBloom(docs)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(bloomed == exact)
    assert(exact.nonEmpty && exact.size < 100)  // both paths exercised
  }

  test("empty bitset (m=0) probes false instead of dividing by zero, both eval modes") {
    GraftSql.registerFunctions(spark)
    import spark.implicits._
    val df = Seq((Seq.empty[Long], 42L), (Seq.empty[Long], -7L))
      .toDF("bloom", "h")
    // codegen path
    assert(df.selectExpr("bloom_might_contain(bloom, h, 4)")
      .collect().map(_.getBoolean(0)).toSeq == Seq(false, false))
    // interpreted path
    val interp = graft.functions.BloomMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq.empty[Long], org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal(42L), 4)
    assert(interp.eval(null) == false)
  }

  test("wrong-typed arguments fail at analysis, not at executor runtime") {
    GraftSql.registerFunctions(spark)
    import spark.implicits._
    val bad = Seq(("oops", 1L)).toDF("bloom", "h")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      bad.selectExpr("bloom_might_contain(bloom, h, 4)").collect()
    }
    assert(e.getMessage.contains("bloom_might_contain") ||
      e.getMessage.toLowerCase.contains("data type"))
  }
}
