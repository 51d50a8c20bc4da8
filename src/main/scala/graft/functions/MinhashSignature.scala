package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature over a text column as a NATIVE codegen'd expression —
  * the one MinHash signature implementation in main. Its HOF form and the
  * relational min-aggregate form are test-scope oracles
  * (`graft.Oracles.minhashSignatureExpr`/`minhashSignatureArray`),
  * value-identical position for position (law-pinned in DedupSpec).
  *
  * Why it exists (round-14 q201 root cause): higher-order functions are
  * CodegenFallback — each lambda element evaluation is interpreted — AND
  * they are opaque to whole-stage codegen's common-subexpression
  * elimination, so when `CollapseProject` inlines the HOF signature into
  * the 8 band-bucket slices derived from it, the ~2 ms/row interpreted
  * expression re-evaluates ~5× per row (measured: the stream-side band
  * projection of q201 cost 39.8 s at sf0.1 where one signature pass costs
  * 7.7 s). This expression computes the identical signature in one tight
  * fused loop (~µs/row): tokenize, distinct n-gram shingles, ONE md5 per
  * shingle, k universal-hash mins — so even a plan that inlines it several
  * times pays noise, not seconds.
  *
  * Exact semantic parity, op for op (the DedupSpec law + the shared DuckDB
  * oracles depend on it):
  *   - tokens = `split(trim(text), "\\s+")` minus empties — trim is
  *     Spark's (0x20 space only, via [[UTF8String.trim]]), NOT Java's
  *     `String.trim` (which also strips \t/\n and would diverge on texts
  *     with leading control whitespace);
  *   - shingles = DISTINCT "|"-joined n-gram windows; < n tokens ⇒ no
  *     shingles ⇒ all-NULL k-array (the HOF `array_min(empty) = NULL`
  *     rule — callers filter on it);
  *   - hs = first 15 hex chars of md5 (= tokenHash60) mod 2^28, then
  *     h_i = ((2i+1)·hs + 7919·i) mod 2^28 — [[graft.dedup.DedupOps.minhashBase]]
  *     / `minhashHash` verbatim.
  */
case class MinhashSignature(first: Expression, second: Expression,
                            third: Expression) extends TernaryExpression {

  override def prettyName: String = "minhash_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = first.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType &&
      second.foldable && second.dataType == IntegerType &&
      second.eval(null) != null &&
      third.foldable && third.dataType == IntegerType &&
      third.eval(null) != null)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "minhash_signature requires (string, non-null literal int n, " +
        "non-null literal int k)")

  @transient private lazy val n: Int =
    second.eval(null).asInstanceOf[Number].intValue()
  @transient private lazy val k: Int =
    third.eval(null).asInstanceOf[Number].intValue()

  override def nullSafeEval(text: Any, nv: Any, kv: Any): Any =
    MinhashSignature.compute(text.asInstanceOf[UTF8String], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = MinhashSignature.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (text, _, _) =>
      s"${ev.value} = $cls.compute($text, $n, $k);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): MinhashSignature =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object MinhashSignature {

  /** One MessageDigest per thread — getInstance per row would dominate the
    * loop for short docs. */
  private val mdPool: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  private val Mod = 268435456L // 2^28, DedupOps.minhashMod

  def compute(text: UTF8String, n: Int, k: Int): ArrayData = {
    // Spark trim (space 0x20 only) + split("\s+") + drop empties —
    // identical token set to TextOps.tokens
    val toks0 = text.trim().toString.split("\\s+")
    var nToks = 0
    var t = 0
    while (t < toks0.length) {
      if (toks0(t).nonEmpty) { toks0(nToks) = toks0(t); nToks += 1 }
      t += 1
    }
    if (nToks < n) {
      // no shingle ⇒ the HOF form's array_min over an empty array: k NULLs
      return new GenericArrayData(Array.fill[Any](k)(null))
    }
    val seen = new java.util.HashSet[String]((nToks - n + 1) * 2)
    val mins = Array.fill(k)(Long.MaxValue)
    val md = mdPool.get()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + n <= nToks) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append('|')
        sb.append(toks0(i + j))
        j += 1
      }
      val sh = sb.toString
      if (seen.add(sh)) {
        md.reset()
        val dig = md.digest(sh.getBytes(StandardCharsets.UTF_8))
        // first 15 hex chars of the md5 = 7 whole bytes + the high nibble
        // of byte 7 — the 60-bit tokenHash60 value, always non-negative
        var hs = 0L
        var b = 0
        while (b < 7) { hs = (hs << 8) | (dig(b) & 0xffL); b += 1 }
        hs = ((hs << 4) | ((dig(7) & 0xf0L) >> 4)) % Mod
        var p = 0
        while (p < k) {
          val h = ((2L * p + 1L) * hs + 7919L * p) % Mod
          if (h < mins(p)) mins(p) = h
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(Long.box(_): Any))
  }
}
