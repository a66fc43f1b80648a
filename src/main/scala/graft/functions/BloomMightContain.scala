package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Native Catalyst expression: k-probe Bloom-filter membership over a
  * bitset stored as `array<bigint>` words — the probe half of the
  * incremental-dedup prefilter (see graft.ext.DedupOps.bloomBits for
  * the relational build half). Codegen'd (`doGenCode`), so the probe
  * runs as a tight fused loop inside the corpus scan: the 100-TB
  * ingest shape is "broadcast an 8-64 KB sketch, keep only the sliver
  * of rows that MIGHT collide for the exact join".
  *
  * Probe positions use double hashing (Kirsch–Mitzenmacher):
  * pos_i = (h1 + i·h2) mod m over i < k, with h1 = (h >>> 1) mod m and
  * h2 = ((h >>> 33) mod (m−1)) | 1 — h2 is odd, hence coprime with the
  * power-of-two m, so the k probes never cycle. All operands are
  * bounded (< m·(k+1), m ≤ 2²⁶): no 64-bit overflow on any path, so
  * build and probe agree bit-for-bit regardless of ANSI overflow
  * semantics. The SAME formula must appear in DedupOps.bloomBits —
  * that equality is what guarantees zero false negatives, and with it
  * the exactness of the bloom-prefiltered dedup (false POSITIVES are
  * fine: they just fall through to the exact anti-join).
  *
  * No false negatives also needs both sides to hash the SAME key
  * expression (xxhash64 of the text at both build and probe sites).
  */
case class BloomMightContain(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  // left: array<bigint> bitset words; right: bigint key hash.
  // (AbstractDataType/ExpectsInputTypes are private[sql], so input
  // typing is enforced via checkInputDataTypes — a SQL call with a
  // wrong-typed argument fails at ANALYSIS time, not with an executor
  // ClassCastException.)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, bigint), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_might_contain"

  override def nullSafeEval(wordsAny: Any, hashAny: Any): Any = {
    val words = wordsAny.asInstanceOf[ArrayData]
    val h = hashAny.asInstanceOf[Long]
    val m = words.numElements().toLong << 6
    // Empty bitset (m = 0): an empty filter contains nothing — return
    // false rather than dividing by zero. (m = 64 makes m-1 = 63 > 0,
    // so the h2 modulus is safe for every non-empty array.)
    if (m == 0L) return false
    val h1 = (h >>> 1) % m
    val h2 = ((h >>> 33) % (m - 1L)) | 1L
    var i = 0
    var all = true
    while (all && i < k) {
      val bit = (h1 + i * h2) % m
      all = (words.getLong((bit >>> 6).toInt) & (1L << (bit & 63L).toInt)) != 0L
      i += 1
    }
    all
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h) => {
      s"""
        |long m = ((long) $w.numElements()) << 6;
        |boolean all = m != 0L;
        |if (all) {
        |  long h1 = ($h >>> 1) % m;
        |  long h2 = (($h >>> 33) % (m - 1L)) | 1L;
        |  for (int i = 0; all && i < $k; i++) {
        |    long bit = (h1 + i * h2) % m;
        |    all = ($w.getLong((int)(bit >>> 6)) & (1L << (int)(bit & 63L))) != 0L;
        |  }
        |}
        |${ev.value} = all;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}
