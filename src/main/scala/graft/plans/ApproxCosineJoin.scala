package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, EqualTo, Expression, GreaterThanOrEqual}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DataType}

import graft.functions.{CosineSimilarity, LshSignature}

/** Declarative APPROXIMATE similarity join — the "custom similarity-join
  * strategy" SURVEY.md §4 marks as the one defensible whole-operator
  * Catalyst extension (the reference's LanceDB IVF/tantivy side,
  * /root/reference/dev.ipynb cells 70-91: candidates come from an index,
  * never from a scan of all pairs).
  *
  * Users write the JOIN declaratively with the boolean marker
  * `approx_cosine_join(a.vec, b.vec, threshold, nPlanes)`
  * ([[graft.functions.GraftFunctions.approxCosineJoin]]) as (part of) the
  * join condition; [[RewriteApproxCosineJoin]] — an optimizer
  * `Rule[LogicalPlan]` installed via [[graft.functions.GraftExtensions]]
  * (session build) or [[graft.functions.GraftFunctions.register]]
  * (`spark.experimental.extraOptimizations`) — rewrites the quadratic
  * marker join into the sign-LSH bucket plan:
  *
  *   Join(l, r, cond(marker))
  *     ⇒ Project(l.output ++ r.output,
  *         Join(Project(l, +bucket(lv)), Project(r, +bucket(rv)),
  *              bucket_l = bucket_r AND cond(cosine_sim(lv, rv) ≥ t)))
  *
  * Exact-precision / approximate-recall, stated in the name: every emitted
  * pair truly passes the exact cosine predicate (the marker is replaced by
  * the native `cosine_sim` verify); a pair can be MISSED iff the two
  * vectors' nPlanes-bit sign signatures differ (probability (θ/π) per
  * plane). The bucket equality turns the cross product into an equi-join —
  * shuffle on a signature key, never all-pairs. An unrewritten marker
  * fails at execution with a pointer to the extension, never silently
  * cross-joins.
  */
case class ApproxCosineJoinMarker(vecA: Expression, vecB: Expression,
                                  threshold: Expression, nPlanes: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(vecA, vecB, threshold, nPlanes)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "approx_cosine_join"

  private def unrewritten = new UnsupportedOperationException(
    "approx_cosine_join is a join-rewrite marker that was not rewritten. " +
      "It must appear as a TOP-LEVEL conjunct of an INNER join condition " +
      "with one vector argument per join side, and the rewrite rule must " +
      "be installed: build the session with graft.functions.GraftExtensions " +
      "(graft.Harness does) or call GraftFunctions.register on it")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    throw unrewritten
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    throw unrewritten

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ApproxCosineJoinMarker =
    copy(vecA = c(0), vecB = c(1), threshold = c(2), nPlanes = c(3))
}

/** Optimizer rule: marker join → sign-LSH bucket equi-join + exact verify. */
case class RewriteApproxCosineJoin() extends Rule[LogicalPlan] {

  /** Split an And-tree into its conjuncts. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if cond.exists(_.isInstanceOf[ApproxCosineJoinMarker]) =>
      // the marker must be a TOP-LEVEL conjunct: under OR/NOT, adding the
      // bucket equality at the top level would silently drop rows matched
      // by the other branches — leave such plans untouched (they fail
      // loudly at execution instead of returning wrong answers)
      val cs = conjuncts(cond)
      val markers = cs.collect { case m: ApproxCosineJoinMarker => m }
      val markerIsTopLevelOnly =
        cond.collect { case m: ApproxCosineJoinMarker => m }.size == markers.size
      val rewritten = markers match {
        case Seq(m) if markerIsTopLevelOnly =>
          // orient the vector args to the join sides
          val oriented =
            if (m.vecA.references.subsetOf(left.outputSet) &&
              m.vecB.references.subsetOf(right.outputSet)) Some((m.vecA, m.vecB))
            else if (m.vecB.references.subsetOf(left.outputSet) &&
              m.vecA.references.subsetOf(right.outputSet)) Some((m.vecB, m.vecA))
            else None
          oriented.map { case (lv, rv) =>
            // a resolved Catalyst tree is required here — this rule runs
            // post-analysis, where Column-API (ColumnNode) trees would
            // never get resolved; LshSignature is bit-identical to the
            // VectorOps HOF form
            def sig(v: Expression, name: String) =
              Alias(LshSignature(v, m.nPlanes), name)()
            val lSig = sig(lv, "__graft_lsh_l")
            val rSig = sig(rv, "__graft_lsh_r")
            val lProj = Project(left.output :+ lSig, left)
            val rProj = Project(right.output :+ rSig, right)
            // the marker becomes the EXACT verify — precision is exact,
            // only recall is bucketed
            val verified = cond.transformUp {
              case _: ApproxCosineJoinMarker =>
                GreaterThanOrEqual(CosineSimilarity(lv, rv), m.threshold)
            }
            val newCond = And(EqualTo(lSig.toAttribute, rSig.toAttribute), verified)
            Project(left.output ++ right.output,
              Join(lProj, rProj, Inner, Some(newCond), hint))
          }
        case _ => None // >1 marker in one join: ambiguous, leave untouched
      }
      rewritten.getOrElse(j)
  }
}
