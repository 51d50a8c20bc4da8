package graft.functions

import org.apache.spark.sql.{Column, GraftColumns, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.lit

import graft.plans.{ApproxCosineJoinMarker, RewriteApproxCosineJoin}

/** The native graft functions, each named once with two faces:
  *  - a typed `Column` builder that constructs the Catalyst expression
  *    directly, so building a query needs no session state and arity is
  *    checked by the compiler;
  *  - its SQL descriptor in [[descriptors]], which [[GraftExtensions]]
  *    injects at session build ([[graft.Harness.session]]) and [[register]]
  *    installs on a session built elsewhere.
  * A builder yields the same expression tree as `call_function(name, …)`
  * after analysis, so plans do not change with the calling style.
  */
object GraftFunctions {
  private def col(e: Expression): Column = GraftColumns.column(e)
  private def ex(c: Column): Expression = GraftColumns.expression(c)

  def cosineSim(a: Column, b: Column): Column = col(CosineSimilarity(ex(a), ex(b)))

  def minhashSignature(text: Column, n: Int, k: Int): Column =
    col(MinhashSignature(ex(text), ex(lit(n)), ex(lit(k))))

  def simhash32(text: Column): Column = col(SimhashText(ex(text), 32))

  /** The 60-bit SimHash ([[SimhashText]] over [[graft.text.TextOps.tokenHash60]]);
    * typed only — SQL knows just `simhash32`. */
  def simhash60(text: Column): Column = col(SimhashText(ex(text), 60))

  /** The sorted, distinct 60-bit hashes of the text's word n-grams
    * ([[ShingleHashes]]); typed only — SQL has no name for it. */
  def shingleHashes(text: Column, n: Int): Column = col(ShingleHashes(ex(text), n))

  def lshSignature(vec: Column, nPlanes: Int): Column =
    col(LshSignature(ex(vec), ex(lit(nPlanes))))

  def lshSignatureSalted(vec: Column, nPlanes: Int): Column =
    col(LshSignatureSalted(ex(vec), ex(lit(nPlanes))))

  def acSpans(tokens: Column, surfaces: Seq[String], entities: Seq[Int]): Column =
    col(AhoCorasickSpans(ex(tokens), ex(lit(surfaces.toArray)), ex(lit(entities.toArray))))

  def counterMap(key: Column): Column = col(CounterMap(ex(key)).toAggregateExpression())

  def approxCosineJoin(a: Column, b: Column, threshold: Double, nPlanes: Int): Column =
    col(ApproxCosineJoinMarker(ex(a), ex(b), ex(lit(threshold)), ex(lit(nPlanes))))

  type Descriptor = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def sql(name: String, cls: Class[_])(build: FunctionBuilder): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  val descriptors: Seq[Descriptor] = Seq(
    sql("cosine_sim", classOf[CosineSimilarity])(c => CosineSimilarity(c(0), c(1))),
    sql("minhash_signature", classOf[MinhashSignature])(c =>
      MinhashSignature(c(0), c(1), c(2))),
    sql("simhash32", classOf[SimhashText])(c => SimhashText(c(0), 32)),
    sql("lsh_signature", classOf[LshSignature])(c => LshSignature(c(0), c(1))),
    sql("lsh_signature_salted", classOf[LshSignatureSalted])(c =>
      LshSignatureSalted(c(0), c(1))),
    sql("ac_spans", classOf[AhoCorasickSpans])(c => AhoCorasickSpans(c(0), c(1), c(2))),
    sql("counter_map", classOf[CounterMap])(c => CounterMap(c(0))),
    sql("approx_cosine_join", classOf[ApproxCosineJoinMarker])(c =>
      ApproxCosineJoinMarker(c(0), c(1), c(2), c(3))))

  /** Installs the SQL names and the approximate-join rewrite on a live
    * session; idempotent — each piece is checked before it is added, and
    * the rule is not added when [[GraftExtensions]] already injected it, so
    * on a [[graft.Harness.session]] this adds nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
    val rules = spark.experimental.extraOptimizations
    val injected = spark.sessionState.optimizer.extendedOperatorOptimizationRules
    if (!(rules ++ injected).exists(_.isInstanceOf[RewriteApproxCosineJoin]))
      spark.experimental.extraOptimizations = RewriteApproxCosineJoin() +: rules
  }
}

/** `SparkSessionExtensions` entry point (`spark.sql.extensions=
  * graft.functions.GraftExtensions`, or `withExtensions` at session build):
  * every graft SQL function plus the [[RewriteApproxCosineJoin]] rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => RewriteApproxCosineJoin())
  }
}
