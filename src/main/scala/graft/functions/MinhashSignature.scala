package graft.functions

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
  * fused loop (~µs/row): the shingle-hash set of [[ShingleHashes]] (ONE
  * md5 per n-gram), then k universal-hash mins — so even a plan that
  * inlines it several times pays noise, not seconds.
  *
  * Exact semantic parity, op for op (the DedupSpec law + the shared DuckDB
  * oracles depend on it):
  *   - tokens = `split(trim(text), "\\s+")` minus empties
  *     ([[TextHash.tokens]]);
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

  private val Mod = 268435456L // 2^28, DedupOps.minhashMod

  /** A fold over the shingle-hash set ([[TextHash.shingleHashes]]): hs =
    * h mod 2^28 per distinct 60-bit hash h. Distinct shingles whose 60-bit
    * hashes collide give the same hs, so folding over distinct hashes
    * instead of distinct strings yields the same mins. */
  def compute(text: UTF8String, n: Int, k: Int): ArrayData = {
    val hs = TextHash.shingleHashes(text, n)
    if (hs.isEmpty) {
      // no shingle ⇒ the HOF form's array_min over an empty array: k NULLs
      return new GenericArrayData(Array.fill[Any](k)(null))
    }
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val base = hs(i) % Mod
      var p = 0
      while (p < k) {
        val h = ((2L * p + 1L) * base + 7919L * p) % Mod
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(Long.box(_): Any))
  }
}
