package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: minimum Rabin-Karp rolling hash over all
  * 16-byte windows of a string's UTF-8 bytes — a content-defined
  * document fingerprint (two documents sharing any 16-byte run of bytes
  * share a candidate fingerprint; the min over windows makes it a 1-perm
  * MinHash over the window set). Codegen'd: one O(n) pass per document
  * with O(1) rolling update, reading the UTF8String bytes in place.
  *
  * Hash: h(w) = Σ w[j]·B^(15-j) mod M with B=257, M=1e9+7 — pure 64-bit
  * integer arithmetic (max pre-mod accumulator 16·255·(M-1) < 2^63), so
  * the value is engine-independent and a SQL oracle can recompute each
  * window's polynomial independently. Null for strings shorter than the
  * window.
  */
case class RollingMinHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "rolling_min_hash"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    if (n < RollingMinHash.W) return null
    val M = RollingMinHash.M; val B = RollingMinHash.B
    val PTOP = RollingMinHash.PTOP
    var h = 0L
    var i = 0
    while (i < RollingMinHash.W) { // first window
      h = (h * B + (bytes(i) & 0xffL)) % M
      i += 1
    }
    var min = h
    while (i < n) { // roll: drop bytes(i-W), add bytes(i)
      h = (h - (bytes(i - RollingMinHash.W) & 0xffL) * PTOP) % M
      if (h < 0) h += M
      h = (h * B + (bytes(i) & 0xffL)) % M
      if (h < min) min = h
      i += 1
    }
    min
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
        |byte[] bytes = $c.getBytes();
        |int n = bytes.length;
        |if (n < ${RollingMinHash.W}) {
        |  ${ev.isNull} = true;
        |} else {
        |  long h = 0L;
        |  int i = 0;
        |  for (; i < ${RollingMinHash.W}; i++) {
        |    h = (h * ${RollingMinHash.B}L + (bytes[i] & 0xffL)) % ${RollingMinHash.M}L;
        |  }
        |  long min = h;
        |  for (; i < n; i++) {
        |    h = (h - (bytes[i - ${RollingMinHash.W}] & 0xffL) * ${RollingMinHash.PTOP}L) % ${RollingMinHash.M}L;
        |    if (h < 0) h += ${RollingMinHash.M}L;
        |    h = (h * ${RollingMinHash.B}L + (bytes[i] & 0xffL)) % ${RollingMinHash.M}L;
        |    if (h < min) min = h;
        |  }
        |  ${ev.value} = min;
        |}
      """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingMinHash =
    copy(child = newChild)
}

object RollingMinHash {
  val W = 16                  // window bytes
  val B = 257L                // polynomial base
  val M = 1000000007L         // modulus
  val PTOP: Long = 771861642L // B^(W-1) mod M
}
