package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SimHash over a text column as a NATIVE codegen'd expression, `width` 32
  * or 60 bits — the one SimHash implementation in main. It computes each
  * signature in one per-row loop; the relational explode/aggregate plan
  * and the interpreted HOF fold it replaced are test-scope oracles
  * (`graft.Oracles.simhash`/`simhash60`/`simhashExpr`), law-pinned equal
  * in DedupSpec.
  *
  * Semantics:
  *   - tokens = Spark `split(trim(text), "\\s+")` minus empties
  *     ([[TextHash.tokens]], shared with MinhashSignature);
  *   - per token h = the first width/4 md5 hex chars as a long (8 chars —
  *     the 32-bit prefix; 15 chars — [[graft.text.TextOps.tokenHash60]]);
  *   - bit b accumulates +cnt when bit b of h is set else −cnt, summed over
  *     token OCCURRENCES (integer sums — order-free);
  *   - signature bit b set iff the accumulated count is > 0; no tokens ⇒ 0L,
  *     null text ⇒ null.
  * SQL knows the 32-bit form as `simhash32`; the 60-bit form is reached
  * through [[GraftFunctions.simhash60]].
  */
case class SimhashText(child: Expression, width: Int) extends UnaryExpression {
  require(width == 32 || width == 60, s"SimhashText: width must be 32 or 60, got $width")

  override def prettyName: String = s"simhash$width"
  // the width is in the name; plans print simhash32(text), not (text, 32)
  override def flatArguments: Iterator[Any] = Iterator(child)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(text: Any): Any =
    SimhashText.compute(text.asInstanceOf[UTF8String], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = SimhashText.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$cls.compute($c, $width)")
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashText =
    copy(child = newChild)
}

object SimhashText {

  def compute(text: UTF8String, width: Int): Long = {
    val t = TextHash.tokens(text)
    // per-DISTINCT-token occurrence counts: md5 each distinct token once
    // (±cnt summed per occurrence ≡ the per-occurrence fold); the map
    // holds each distinct token's first index
    val first = new java.util.HashMap[UTF8String, Integer]()
    val counts = new Array[Long](t.n)
    var i = 0
    while (i < t.n) {
      val tok = UTF8String.fromBytes(t.bytes, t.start(i), t.end(i) - t.start(i))
      val f = first.putIfAbsent(tok, i)
      counts(if (f == null) i else f.intValue) += 1
      i += 1
    }
    val acc = new Array[Long](width)
    i = 0
    while (i < t.n) {
      val cnt = counts(i)
      if (cnt > 0) {
        val h = TextHash.md5Prefix(t, i, 1, width)
        var p = 0
        while (p < width) {
          acc(p) += (if (((h >> p) & 1L) == 1L) cnt else -cnt)
          p += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var p = 0
    while (p < width) {
      if (acc(p) > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }
}
