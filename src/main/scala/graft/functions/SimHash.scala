package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 32-bit SimHash of a space-tokenized
  * string — bit b of the signature is the sign of Σ over DISTINCT
  * tokens of (±1), + when bit b of the token's hash is set. Token hash
  * = first 4 bytes (first 8 hex digits) of md5, unsigned — the exact
  * formula of the SQL oracle (`('0x' || substr(md5(tok),1,8))::BIGINT`),
  * so signatures are engine-identical.
  *
  * This replaces the declarative form (array_distinct(split) + 32
  * `aggregate` higher-order passes over the token-hash array): lambda
  * expressions don't codegen, so that form pays 32 interpreted passes
  * per document. Here the whole signature is one compiled pass per
  * document — tokenize, hash each distinct token once, fold all 32 bit
  * planes in the same loop.
  *
  * MessageDigest instances are THREAD-LOCAL: `getInstance` inside the
  * row loop serializes on a provider lock under JDK 17 (the lock convoy
  * documented in DedupOps), and MessageDigest itself is not
  * thread-safe, so one per task thread is the correct shape.
  */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override def nullSafeEval(input: Any): Any =
    SimHash32.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash32.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

object SimHash32 {

  private val md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** One-pass SimHash. Tokenization mirrors Spark's `split(text, " ")`
    * (limit -1: trailing empty tokens kept) and distinctness is by
    * token string, matching `array_distinct`/`SELECT DISTINCT`. */
  def compute(s: UTF8String): Long = {
    val toks = s.toString.split(" ", -1)
    val seen = new java.util.HashSet[String](toks.length * 2)
    val contrib = new Array[Int](32)
    val md = md5.get()
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        md.reset()
        val d = md.digest(t.getBytes(StandardCharsets.UTF_8))
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        var b = 0
        while (b < 32) {
          if (((h >> b) & 1L) == 1L) contrib(b) += 1 else contrib(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 32) {
      if (contrib(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** 60-bit SimHash — the wide-signature remedy for the fixed-width
  * saturation the 10× scale probe measured (BENCH_TREND.md r11: 32-bit
  * signatures over a small vocabulary collide quadratically as the
  * corpus grows; pair output grew 14× at 10× docs). 60 bits — the
  * first 15 hex digits of the token md5 — rather than 64 because the
  * SQL oracle parses the same hex prefix into a signed BIGINT:
  * 15 hex digits ≤ 2⁶⁰ < 2⁶³ stays positive and shift/xor/popcount
  * agree across engines with no sign-extension edge anywhere.
  *
  * Same one-compiled-pass shape as [[SimHash32]]: tokenize, hash each
  * distinct token once, fold all 60 bit planes in one loop. */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(input: Any): Any =
    SimHash60.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash60.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {

  private val md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** One-pass 60-bit SimHash. Token hash = first 15 hex digits of the
    * md5 (bytes 0..6 in full plus the high nibble of byte 7) —
    * bit-identical to `('0x' || substr(md5(tok), 1, 15))::BIGINT`. */
  def compute(s: UTF8String): Long = {
    val toks = s.toString.split(" ", -1)
    val seen = new java.util.HashSet[String](toks.length * 2)
    val contrib = new Array[Int](60)
    val md = md5.get()
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        md.reset()
        val d = md.digest(t.getBytes(StandardCharsets.UTF_8))
        var h = 0L
        var j = 0
        while (j < 7) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
        h = (h << 4) | ((d(7) & 0xf0L) >> 4)
        var b = 0
        while (b < 60) {
          if (((h >> b) & 1L) == 1L) contrib(b) += 1 else contrib(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (contrib(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}
