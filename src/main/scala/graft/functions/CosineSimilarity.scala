package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over float/double array
  * columns — the hot-path replacement for the three higher-order-function
  * folds in [[graft.vector.VectorOps.cosine]] (SURVEY.md §4 "optional
  * niceties"). One pass over both arrays computes dot, |a|² and |b|²
  * simultaneously, with a `doGenCode` loop that stays inside whole-stage
  * codegen (no lambda-function dispatch per element, no 3× array traversal).
  *
  * Semantics are BIT-IDENTICAL to the HOF path (sequential left-to-right
  * double accumulation, elements widened to double before multiplying), so
  * queries can swap implementations without breaking oracle parity:
  * null input, length mismatch, or null element → null; zero vectors → NaN
  * (0/0), matching the HOF result.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<float>/array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  private def get(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (tx, ty) = (elemType(left).get, elemType(right).get)
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = get(x, i, tx); val yv = get(y, i, ty)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getterL = if (elemType(left).get == FloatType) "getFloat" else "getDouble"
    val getterR = if (elemType(right).get == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $x = (double) $a.$getterL($i);
         |    final double $y = (double) $b.$getterR($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
