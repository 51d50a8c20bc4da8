package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sign-LSH signature as a native Catalyst expression — the one sign-LSH
  * implementation in main: [[graft.vector.VectorOps.lshNeighborPairs]] and
  * the banded pairs call it, and post-analysis optimizer rewrites
  * ([[graft.plans.RewriteApproxCosineJoin]]) plant it where Column-API
  * trees would arrive unresolved. BIT-IDENTICAL to the HOF fold kept as the
  * test-scope oracle `graft.Oracles.lshSignature` (law-pinned in
  * VectorSpec): same plane-weight integer arithmetic, same sequential
  * double-accumulation order, same `proj >= 0` bit rule; q74 shares q27's
  * DuckDB oracle.
  */
case class LshSignature(left: Expression, right: Expression)
  extends BinaryExpression {

  override def prettyName: String = "lsh_signature"
  override def dataType: DataType = StringType
  override def nullable: Boolean = left.nullable || right.nullable

  private def elemIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(FloatType | DoubleType, _) if right.foldable &&
      right.dataType == IntegerType && right.eval(null) != null =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "lsh_signature requires (array<float|double>, non-null literal int)")
  }

  @transient private lazy val nPlanes: Int =
    right.eval(null).asInstanceOf[Number].intValue()

  override def nullSafeEval(vec: Any, n: Any): Any =
    UTF8String.fromString(LshSignature.compute(
      vec.asInstanceOf[ArrayData], nPlanes, elemIsFloat))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = LshSignature.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val isF = elemIsFloat.toString
    nullSafeCodeGen(ctx, ev, (vec, _) =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  $cls.compute($vec, $nPlanes, $isF));""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshSignature =
    copy(left = newLeft, right = newRight)
}

/** Salted-md5 plane-family twin of [[LshSignature]] — for WIDE signatures
  * (≥ 16 planes), where the congruential family is lattice-correlated (see
  * [[graft.vector.VectorOps.saltedPlaneWeights]]: at 64 planes it collapses
  * to ~9 effective hyperplanes). BIT-IDENTICAL to the HOF form kept as the
  * test-scope oracle `graft.Oracles.lshSignatureSalted` (same weights, same
  * sequential fold, same `>= 0` bit rule, same null parity — '0' bits for
  * null ELEMENTS, NULL output for a NULL array, law-pinned in
  * R12QueriesSpec), but the weight matrix lives in
  * a per-executor memo instead of nPlanes·dim literal doubles folded into
  * every plan tree that uses it: the HOF form at 64×64 carries 4096
  * literals through analysis/optimization and re-evaluates a 64-element
  * zip_with per plane per row, while this is one tight fused loop per row.
  */
case class LshSignatureSalted(left: Expression, right: Expression)
  extends BinaryExpression {

  override def prettyName: String = "lsh_signature_salted"
  override def dataType: DataType = StringType
  override def nullable: Boolean = left.nullable || right.nullable

  private def elemIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(FloatType | DoubleType, _) if right.foldable &&
      right.dataType == IntegerType && right.eval(null) != null =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "lsh_signature_salted requires (array<float|double>, non-null literal int)")
  }

  @transient private lazy val nPlanes: Int =
    right.eval(null).asInstanceOf[Number].intValue()

  override def nullSafeEval(vec: Any, n: Any): Any =
    UTF8String.fromString(LshSignatureSalted.compute(
      vec.asInstanceOf[ArrayData], nPlanes, elemIsFloat))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = LshSignatureSalted.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val isF = elemIsFloat.toString
    nullSafeCodeGen(ctx, ev, (vec, _) =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  $cls.compute($vec, $nPlanes, $isF));""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshSignatureSalted =
    copy(left = newLeft, right = newRight)
}

object LshSignatureSalted {
  /** (nPlanes, dim) → weight matrix; md5 derivation runs once per executor
    * per shape, not per row (and never enters the plan). */
  private val weightCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def weights(nPlanes: Int, dim: Int): Array[Array[Double]] =
    weightCache.computeIfAbsent((nPlanes, dim),
      _ => graft.vector.VectorOps.saltedPlaneWeights(nPlanes, dim))

  /** Mirrors the salted HOF oracle exactly: per plane p, fold
    * acc = Σ_d vec(d).toDouble · w(p)(d) left-to-right, bit = proj >= 0;
    * any null element ⇒ all-zeros (the HOF `when(null >= 0, ...)` rule). */
  def compute(vec: ArrayData, nPlanes: Int, elemIsFloat: Boolean): String = {
    val n = vec.numElements()
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return "0" * nPlanes
      i += 1
    }
    val w = weights(nPlanes, n)
    val sb = new java.lang.StringBuilder(nPlanes)
    var p = 0
    while (p < nPlanes) {
      var acc = 0.0
      val wp = w(p)
      var d = 0
      while (d < n) {
        val x = if (elemIsFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
        acc += x * wp(d)
        d += 1
      }
      sb.append(if (acc >= 0) '1' else '0')
      p += 1
    }
    sb.toString
  }
}

object LshSignature {
  /** Mirrors the HOF oracle's plane weight and fold exactly: per plane p, fold
    * acc = Σ_d vec(d).toDouble · w(p,d) left-to-right, bit = proj >= 0.
    * NULL-element parity with the HOF twin: a null element nulls every
    * plane's fold there, and `when(null >= 0, '1').otherwise('0')` emits
    * '0' — so the signature of any null-containing vector is all zeros
    * (getFloat on a null slot would otherwise silently read 0.0 and
    * diverge). */
  def compute(vec: ArrayData, nPlanes: Int, elemIsFloat: Boolean): String = {
    val n = vec.numElements()
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return "0" * nPlanes
      i += 1
    }
    val sb = new java.lang.StringBuilder(nPlanes)
    var p = 0
    while (p < nPlanes) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        val x = if (elemIsFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
        val w = ((p.toLong * 73856093L + d.toLong * 19349663L) % 10007L)
          .toDouble / 10007.0 * 2.0 - 1.0
        acc += x * w
        d += 1
      }
      sb.append(if (acc >= 0) '1' else '0')
      p += 1
    }
    sb.toString
  }
}
