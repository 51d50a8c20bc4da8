package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Token-level Aho–Corasick automaton: simultaneous search for MANY token
  * sequences in one left-to-right pass. Built once per executor from the
  * pattern literals.
  *
  * Transition keys are [[UTF8String]] so the scan-side walk compares the
  * array elements directly — no per-token String materialization in the hot
  * loop (UTF8String equality is a byte compare).
  */
object TokenAhoCorasick {

  /** goto: per-state token → state; fail: suffix links; out: (len, entity)
    * patterns ending at each state (output links pre-merged at build). */
  final class Automaton(goTo: Array[Map[UTF8String, Int]], fail: Array[Int],
                        out: Array[List[(Int, Int)]]) extends Serializable {
    def step(state: Int, tok: UTF8String): Int = {
      var s = state
      while (s != 0 && !goTo(s).contains(tok)) s = fail(s)
      goTo(s).getOrElse(tok, 0)
    }

    /** Full matching pass over one token array — the single entry point both
      * interpreted eval and generated code call, so the two paths cannot
      * diverge. Returns array<struct<pos,len,entity>> rows. */
    def findSpans(tokens: ArrayData): ArrayData = {
      val n = tokens.numElements()
      val matches = mutable.ArrayBuffer.empty[InternalRow]
      var state = 0
      var i = 0
      while (i < n) {
        state = step(state, tokens.getUTF8String(i))
        var os = out(state)
        while (os.nonEmpty) {
          val (len, entity) = os.head
          matches += InternalRow(i - len + 1, len, entity)
          os = os.tail
        }
        i += 1
      }
      new GenericArrayData(matches.toArray)
    }
  }

  def build(patterns: Seq[(Seq[String], Int)]): Automaton = {
    val goTo = mutable.ArrayBuffer(mutable.Map.empty[UTF8String, Int])
    val out = mutable.ArrayBuffer(mutable.ListBuffer.empty[(Int, Int)])
    patterns.foreach { case (toks, entity) =>
      var s = 0
      toks.foreach { t =>
        s = goTo(s).getOrElseUpdate(UTF8String.fromString(t), {
          goTo += mutable.Map.empty; out += mutable.ListBuffer.empty
          goTo.length - 1
        })
      }
      out(s) += ((toks.length, entity))
    }
    val fail = Array.fill(goTo.length)(0)
    val queue = mutable.Queue[Int]()
    goTo(0).values.foreach(queue += _)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      goTo(u).foreach { case (tok, v) =>
        queue += v
        var f = fail(u)
        while (f != 0 && !goTo(f).contains(tok)) f = fail(f)
        val fv = goTo(f).getOrElse(tok, 0)
        fail(v) = if (fv != v) fv else 0
        out(v) ++= out(fail(v))
      }
    }
    new Automaton(goTo.map(_.toMap).toArray, fail, out.map(_.toList).toArray)
  }
}

/** `ac_spans(tokens, surfaces, entities)` — every occurrence of every
  * gazetteer surface in a token array, as `array<struct<pos:int, len:int,
  * entity:int>>` (pos = 0-based start token).
  *
  * This is the custom-Expression tier of SURVEY.md §5's operator ladder:
  * multi-pattern phrase matching is the one V5 operation Spark's built-ins
  * cannot express without materializing EVERY candidate n-gram span
  * ([[graft.text.EntityLinking.ngramSpans]] — row count ≈ maxN × corpus
  * tokens, and unusable for long patterns). The automaton finds all matches
  * in ONE pass per document regardless of pattern count or length, the way
  * spaCy's EntityRuler matcher does on a single machine
  * (/root/reference/dev.ipynb cells 112-116) — but per-row inside a Spark
  * scan, with the pattern set shipped once per executor as a literal (the
  * gazetteer is KB–MB broadcast state by design, like every EntityRuler
  * deployment).
  *
  * `surfaces` (space-joined token patterns) and `entities` must be foldable
  * literals — the automaton is compiled lazily once per executor.
  *
  * Codegen: the expression participates in whole-stage codegen via
  * `doGenCode` — the automaton is attached as a codegen reference object and
  * the generated code makes ONE call per row into the compiled
  * [[TokenAhoCorasick.Automaton.findSpans]] walk. (The previous
  * `CodegenFallback` form knocked the ENTIRE containing project stage out of
  * WholeStageCodegen — CollapseCodegenStages rejects any stage containing a
  * fallback expression — so every sibling expression in the projection paid
  * the interpreted path too.)
  *
  * NULL handling: null token array → null; null elements cannot occur
  * (upstream tokenizers never emit null tokens).
  */
case class AhoCorasickSpans(first: Expression, second: Expression,
                            third: Expression)
  extends TernaryExpression {

  override def prettyName: String = "ac_spans"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false),
    StructField("entity", IntegerType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = first.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = first.dataType == ArrayType(StringType, false) ||
      first.dataType == ArrayType(StringType, true)
    if (!ok)
      TypeCheckResult.TypeCheckFailure("ac_spans: tokens must be array<string>")
    else if (second.dataType != ArrayType(StringType, false) &&
      second.dataType != ArrayType(StringType, true))
      TypeCheckResult.TypeCheckFailure("ac_spans: surfaces must be array<string>")
    else if (!second.foldable || !third.foldable)
      TypeCheckResult.TypeCheckFailure(
        "ac_spans: surfaces and entities must be literals")
    else if (third.dataType != ArrayType(IntegerType, false) &&
      third.dataType != ArrayType(IntegerType, true))
      TypeCheckResult.TypeCheckFailure("ac_spans: entities must be array<int>")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val automaton: TokenAhoCorasick.Automaton = {
    val s = second.eval(null).asInstanceOf[ArrayData]
    val e = third.eval(null).asInstanceOf[ArrayData]
    val pats = (0 until s.numElements()).map { i =>
      (s.getUTF8String(i).toString.split(' ').toSeq, e.getInt(i))
    }
    TokenAhoCorasick.build(pats)
  }

  override def nullSafeEval(tokens: Any, s: Any, e: Any): Any =
    automaton.findSpans(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The automaton rides along as a reference object (same vehicle Spark
    // uses for compiled regex patterns); the row loop stays in the generated
    // stage and costs one monomorphic call per row.
    val auto = ctx.addReferenceObj("acAutomaton", automaton,
      classOf[TokenAhoCorasick.Automaton].getName)
    nullSafeCodeGen(ctx, ev, (tokens, _, _) =>
      s"${ev.value} = $auto.findSpans($tokens);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): AhoCorasickSpans =
    copy(first = newFirst, second = newSecond, third = newThird)
}
