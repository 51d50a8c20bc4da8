package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hashed word n-gram shingles as a NATIVE codegen'd expression: the
  * sorted, distinct `array<bigint>` of [[graft.text.TextOps.tokenHash60]]
  * of each "|"-joined word n-gram of the text — value-identical to
  * `array_sort(array_distinct(transform(TextOps.shingles(text, n),
  * tokenHash60)))` (law-pinned in PropertySpec), in one per-row loop with
  * one md5 per n-gram and no string built. Fewer than n tokens ⇒ empty
  * array; null text ⇒ null. Tokens are [[graft.text.TextOps.tokens]]'
  * ([[TextHash.tokens]]).
  *
  * It is the set unit wherever the n-gram string is neither output nor
  * hashed again (exact Jaccard, gram-overlap decontamination): an 8-byte
  * element shuffles and compares cheaper than the joined string.
  *
  * Collisions: two distinct n-grams whose md5 digests agree in the first
  * 60 bits count as one element. A collision can only merge elements: a
  * set loses one element per colliding pair inside it, and two sets gain
  * one common element per colliding pair across them. For two sets of a
  * and b n-grams the chance of any such error is at most (a + b)²/2^61
  * (≈ 7e-12 for two 2,000-gram documents); among m distinct n-grams
  * corpus-wide the expected number of colliding pairs is m²/2^61 (≈ 4e-7
  * at a million, ≈ 0.4 at a billion). This is the hash domain the MinHash
  * base ([[graft.dedup.DedupOps.minhashBase]]) already reduces every
  * shingle to. Reached only through [[GraftFunctions.shingleHashes]]; SQL
  * has no name for it.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"ShingleHashes: n must be >= 1, got $n")

  override def prettyName: String = "shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(text: Any): Any =
    ShingleHashes.compute(text.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ShingleHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$cls.compute($c, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  def compute(text: UTF8String, n: Int): ArrayData =
    ArrayData.toArrayData(TextHash.shingleHashes(text, n))
}
