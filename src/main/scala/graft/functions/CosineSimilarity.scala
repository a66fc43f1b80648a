package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two float vectors,
  * with whole-stage codegen (`doGenCode`) — the "custom Expression beats
  * UDF" tier of the extension ladder (SURVEY.md §7.3). A Scala UDF here
  * would pay per-row serialization of both arrays into JVM objects; this
  * expression reads the UnsafeArrayData floats in place inside the
  * generated loop.
  *
  * Semantics: dot(a,b) / sqrt(|a|²·|b|²) over the common prefix of the
  * two vectors, accumulating in double left-to-right; null if either
  * norm is zero; null-valued elements are skipped pairwise.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be array<float> (AbstractDataType — and with it
  // ExpectsInputTypes — is private[sql], so resolution relies on the
  // registering call sites, which always bind array<float> columns)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xi = x.getFloat(i); val yi = y.getFloat(i)
        dot += xi * yi; nx += xi * xi; ny += yi * yi
      }
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null else dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
        |int n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double dot = 0.0, nx = 0.0, ny = 0.0;
        |for (int i = 0; i < n; i++) {
        |  if (!$a.isNullAt(i) && !$b.isNullAt(i)) {
        |    float xi = $a.getFloat(i);
        |    float yi = $b.getFloat(i);
        |    dot += xi * yi; nx += xi * xi; ny += yi * yi;
        |  }
        |}
        |if (nx == 0.0 || ny == 0.0) {
        |  ${ev.isNull} = true;
        |} else {
        |  ${ev.value} = dot / java.lang.Math.sqrt(nx * ny);
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
