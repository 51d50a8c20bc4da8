package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** Source gate for the one-session, one-function-surface design: main code
  * builds sessions only through [[Harness.session]], builds graft
  * expressions only through the typed [[GraftFunctions]] builders, and
  * mutates a session's function registry or optimizer only inside
  * `graft.functions` — plus q74, which exists to demonstrate the
  * session-installed rewrite rule.
  */
class SourceGateSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

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

  test("src/main has exactly one SparkSession.builder, in graft.Harness") {
    val found = hits("""SparkSession\.builder""")
    assert(found.map(_._1.getFileName.toString) == Seq("Harness.scala"), found)
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
    val outside = hits("""\b(register|install|registerFunction)\(|extraOptimizations\s*=""")
      .filterNot(_._1.startsWith(root.resolve("graft/functions")))
    assert(outside.size == 1, outside.mkString("\n"))
    val (p, line, _) = outside.head
    assert(p.getFileName.toString == "VectorQueries.scala")
    val lines = sources.find(_._1 == p).get._2
    val q74 = lines.indexWhere(_.contains("\"q74_approx_join_rule\" -> "))
    assert(q74 >= 0 && line > q74 && line <= q74 + 2,
      s"the register call at line ${line + 1} is not q74's")
  }
}
