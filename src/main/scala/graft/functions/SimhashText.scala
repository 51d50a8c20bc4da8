package graft.functions

import java.nio.charset.StandardCharsets

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
  *   - tokens = Spark `split(trim(text), "\\s+")` minus empties —
  *     [[UTF8String.trim]] (0x20 only), the MinhashSignature discipline;
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

  private val mdPool: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  def compute(text: UTF8String, width: Int): Long = {
    val toks = text.trim().toString.split("\\s+")
    // per-DISTINCT-token occurrence counts: md5 each distinct token once
    // (±cnt summed per occurrence ≡ the per-occurrence fold)
    val counts = new java.util.HashMap[String, Int]()
    var t = 0
    while (t < toks.length) {
      if (toks(t).nonEmpty)
        counts.merge(toks(t), 1, (a, b) => a + b)
      t += 1
    }
    // the first width/4 hex chars are the top `width` bits of the first
    // ceil(width/8) digest bytes
    val nBytes = (width + 7) / 8
    val acc = new Array[Long](width)
    val md = mdPool.get()
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      md.reset()
      val dig = md.digest(e.getKey.getBytes(StandardCharsets.UTF_8))
      var h = 0L
      var b = 0
      while (b < nBytes) { h = (h << 8) | (dig(b) & 0xffL); b += 1 }
      h >>>= nBytes * 8 - width
      val cnt = e.getValue.toLong
      var p = 0
      while (p < width) {
        acc(p) += (if (((h >> p) & 1L) == 1L) cnt else -cnt)
        p += 1
      }
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
