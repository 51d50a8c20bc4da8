package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** Source gate for the one-session, one-function-surface design: main code
  * builds sessions only through [[Harness.session]], reads parquet tables
  * only through [[Tables.load]] (its schema memo), builds graft
  * expressions only through the typed [[GraftFunctions]] builders, and
  * mutates a session's function registry or optimizer only inside
  * `graft.functions` — plus q74, which exists to demonstrate the
  * session-installed rewrite rule. It also keeps one implementation per
  * similarity and graph operator in main: the reference twins live in
  * [[Oracles]], main imports neither GraphX nor MLlib, the "pairs →
  * components → min id" step is written once ([[graft.graph.GraphOps.withCanonical]]),
  * every MinHash pair call uses the one shared rule, every banded
  * similarity join runs through [[graft.similarity.BlockedJoin]], and the
  * graph loops run in the caller's session.
  */
class SourceGateSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val vectorQueries = "graft/queries/VectorQueries.scala"

  private lazy val sources: Seq[(Path, Seq[String])] = {
    val stream = Files.walk(root)
    try stream.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq)
    finally stream.close()
  }

  private def hits(pattern: String): Seq[(Path, Int, String)] = {
    val r = pattern.r
    for {
      (p, lines) <- sources
      (l, i) <- lines.zipWithIndex if r.findFirstIn(l).nonEmpty
    } yield (p, i, l)
  }

  /** [[hits]] over code only: scaladoc lines and `//` tails are blanked, so
    * prose naming an oracle does not count as a call. */
  private def codeHits(pattern: String): Seq[(Path, Int, String)] = {
    val r = pattern.r
    for {
      (p, lines) <- sources
      (l, i) <- lines.zipWithIndex
      t = l.trim
      if !t.startsWith("*") && !t.startsWith("/*")
      if r.findFirstIn(l.replaceAll("//.*", "")).nonEmpty
    } yield (p, i, l)
  }

  private def linesOf(file: String): Seq[String] =
    sources.find(_._1 == root.resolve(file)).get._2

  /** True when 0-based `line` of `file` lies within the first lines of the
    * query map entry `name`. */
  private def inEntry(file: String, name: String, line: Int): Boolean = {
    val start = linesOf(file).indexWhere(_.contains(s""""$name" -> """))
    start >= 0 && line > start && line <= start + 2
  }

  /** Every parameter list of `def fn` in `file`, as one string. */
  private def signature(file: String, fn: String): String = {
    val text = linesOf(file).mkString("\n")
    val start = text.indexOf(s"def $fn(")
    assert(start >= 0, s"no def $fn in $file")
    var i = start + s"def $fn".length
    var depth = 0
    while (depth > 0 || text(i) == '(') {
      if (text(i) == '(') depth += 1 else if (text(i) == ')') depth -= 1
      i += 1
    }
    text.substring(start, i)
  }

  test("src/main has exactly one SparkSession.builder, in graft.Harness") {
    val found = hits("""SparkSession\.builder""")
    assert(found.map(_._1.getFileName.toString) == Seq("Harness.scala"), found)
  }

  test("parquet tables are read only through Tables.load") {
    val found = codeHits("""\.read\.parquet\(""")
      .filterNot(_._1 == root.resolve("graft/Tables.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("src/main has exactly one GraftExtensions class") {
    assert(hits("""class GraftExtensions\b""").size == 1)
  }

  test("no call_function names a graft function") {
    val names = GraftFunctions.descriptors.map(_._1.funcName).mkString("|")
    val found = hits(s"""call_function\\(\\s*"($names)"""")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("register/install calls live in graft.functions, plus q74's") {
    // a query-execution listener (PlanDump.actionsOf) touches neither the
    // function registry nor the optimizer
    val outside = hits("""(?<!listenerManager\.)\b(register|install|registerFunction)\(|extraOptimizations\s*=""")
      .filterNot(_._1.startsWith(root.resolve("graft/functions")))
    assert(outside.size == 1, outside.mkString("\n"))
    val (p, line, _) = outside.head
    assert(p == root.resolve(vectorQueries))
    assert(inEntry(vectorQueries, "q74_approx_join_rule", line),
      s"the register call at line ${line + 1} is not q74's")
  }

  /** Reference twins that moved to `graft.Oracles` in test scope, by the
    * main file they left. */
  private val movedTwins = Map(
    "graft/vector/VectorOps.scala" -> Seq("planeWeight", "lshSignature", "lshSignatureSalted"),
    "graft/dedup/DedupOps.scala" -> Seq("simhash", "simhash60", "simhashExpr",
      "minhashSignatureArray", "minhashSignatureExpr", "shingleTable", "jaccardPairs"),
    "graft/graph/GraphOps.scala" -> Seq("kHopGraphX", "ssspWeightedGraphX", "pageRank",
      "connectedComponents"))

  test("no reference twin is defined again in the main object it left") {
    movedTwins.foreach { case (file, names) =>
      val r = s"""\\bdef (${names.mkString("|")})\\b""".r
      val found = linesOf(file).filter(l => r.findFirstIn(l).nonEmpty)
      assert(found.isEmpty, s"$file: ${found.mkString("\n")}")
    }
  }

  test("main computes sign-LSH signatures only through the native expressions") {
    val found = codeHits("""VectorOps\.lshSignature""")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the HOF VectorOps.cosine runs in main only at q38's call site") {
    val found = codeHits("""VectorOps\.cosine\b""")
      .filterNot(_._1 == root.resolve("graft/vector/VectorOps.scala"))
    assert(found.size == 1, found.mkString("\n"))
    val (p, line, _) = found.head
    assert(p == root.resolve(vectorQueries) && inEntry(vectorQueries, "q38_cosine_hof", line),
      s"VectorOps.cosine at ${p.getFileName}:${line + 1} is not q38's")
  }

  test("one-value parameters stay deleted; twin-choosing parameters have no default") {
    val deleted = codeHits("""\b(broadcastFrontier|checkpointEvery)\b""")
    assert(deleted.isEmpty, deleted.mkString("\n"))
    val defaulted = codeHits("""\b(cosineFn|sigFn):\s*\([^)]*\)\s*=>\s*Column\s*=""")
    assert(defaulted.isEmpty, defaulted.mkString("\n"))
    Seq("graft/vector/VectorOps.scala" -> "lshNeighborPairsBanded",
        "graft/text/EntityLinking.scala" -> "disambiguate").foreach { case (file, fn) =>
      val sig = signature(file, fn)
      assert(!sig.contains("cosineFn"), sig)
    }
  }

  test("src/main neither imports nor names GraphX or Spark ML") {
    val found = codeHits("""\borg\.apache\.spark\.(graphx|ml|mllib)\b""")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the component-to-canonical coalesce is written only in GraphOps.withCanonical") {
    val graphOps = "graft/graph/GraphOps.scala"
    val found = codeHits("""coalesce\(col\("component"\)""")
    assert(found.size == 1, found.mkString("\n"))
    val (p, line, _) = found.head
    val start = linesOf(graphOps).indexWhere(_.contains("def withCanonical("))
    assert(p == root.resolve(graphOps) && start >= 0 && line > start && line <= start + 4,
      s"the coalesce at ${p.getFileName}:${line + 1} is not in withCanonical")
  }

  test("GraphOps runs in the caller's session: no newSession, no conf.set, createDataFrame only in the stats reset") {
    val graphOps = root.resolve("graft/graph/GraphOps.scala")
    val session = codeHits("""\bnewSession\b|\bconf\.set\b""").filter(_._1 == graphOps)
    assert(session.isEmpty, session.mkString("\n"))
    val wraps = codeHits("""\bcreateDataFrame\b""").filter(_._1 == graphOps)
    val start = linesOf("graft/graph/GraphOps.scala").indexWhere(_.contains("def superstep("))
    assert(wraps.size == 1 && start >= 0, wraps.mkString("\n"))
    assert(wraps.head._2 > start && wraps.head._2 <= start + 20,
      s"the createDataFrame at GraphOps.scala:${wraps.head._2 + 1} is not superstep's stats reset")
  }

  test("the band join and the first-collision filter are written only in graft.similarity") {
    val similarity = root.resolve("graft/similarity")
    Seq("""Seq\("band"|\.band"\)\s*===""", """exists\(zip_with\(""").foreach { pattern =>
      val found = codeHits(pattern)
      assert(found.nonEmpty, s"no $pattern in main")
      val outside = found.filterNot(_._1.startsWith(similarity))
      assert(outside.isEmpty, outside.mkString("\n"))
    }
  }

  test("every main minhashPairs call takes the docs alone") {
    val multi = for {
      (p, lines) <- sources
      text = lines.filterNot(_.trim.startsWith("*")).map(_.replaceAll("//.*", "")).mkString("\n")
      m <- """\bminhashPairs\(""".r.findAllMatchIn(text)
      args = topLevelArgs(text, m.end - 1) if args.size != 1
    } yield s"${p.getFileName}: minhashPairs(${args.mkString(",")})"
    assert(multi.isEmpty, multi.mkString("\n"))
  }

  /** The top-level comma-separated arguments of the call whose `(` is at
    * `open` in `text`. */
  private def topLevelArgs(text: String, open: Int): Seq[String] = {
    val args = Seq.newBuilder[String]
    var depth = 0
    var i = open
    var from = open + 1
    var done = false
    while (!done) {
      text(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
          if (depth == 0) { args += text.substring(from, i); done = true }
        case ',' if depth == 1 => args += text.substring(from, i); from = i + 1
        case _ =>
      }
      i += 1
    }
    args.result()
  }
}
