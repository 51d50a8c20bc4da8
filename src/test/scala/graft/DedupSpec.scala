package graft

import org.apache.spark.sql.functions._

import graft.dedup.DedupOps

class DedupSpec extends SparkSuite {

  private val docRows = Seq(
    (0L, "a b c d e f"),
    (1L, "a b c d e g"),   // jaccard 4/6? shingles overlap high with 0
    (2L, "a b c d e f"),   // exact dup of 0
    (3L, "x y z w v u"),
    (4L, "x y z w v u t"),
    (5L, "p q r"))

  private def docs = {
    val s = spark
    import s.implicits._
    docRows.toDF("doc_id", "text")
  }

  test("prefix-filtered Jaccard equals the all-pairs join at every threshold") {
    val s = spark
    import s.implicits._
    val unique = (0 until 20).map(i => s"u$i").mkString(" ")
    val corpora: Seq[(String, Seq[(Long, String)])] = Seq(
      "mixed" -> docRows,
      // every shingle is found in one doc: no candidate, no pair
      "all singletons" -> (0L until 5L).map(i => i -> s"s$i a$i b$i c$i d$i"),
      // doc 0's 20 singletons fill its whole prefix at every threshold,
      // so its shared shingles (those of doc 1) never reach the self-join
      "singletons fill the prefix" -> Seq(0L -> s"$unique w x y z", 1L -> "w x y z",
        2L -> "w x y z q"),
      "all duplicates" -> (0L until 4L).map(_ -> "d e f g h"),
      // no shingles at all: below n tokens, empty, null
      "empty and null text" -> Seq(0L -> "", 1L -> null, 2L -> "a b", 3L -> "a b",
        4L -> "a b c d", 5L -> "a b c d"),
      // n_sh = 1: the prefix is the one shingle
      "one shingle" -> Seq(0L -> "p q r", 1L -> "p q r", 2L -> "q r s",
        3L -> "p q r s"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for ((name, rows) <- corpora; t <- Seq(0.25, 0.3, 0.5, 0.8, 0.99)) {
      val corpus = rows.toDF("doc_id", "text")
      val full = pairSet(Oracles.jaccardPairs(corpus, "doc_id", "text", 3, t))
      val pref = pairSet(DedupOps.jaccardPairsPrefix(corpus, "doc_id", "text", 3, t))
      assert(pref == full, s"$name at threshold $t")
      if (name == "all singletons") assert(full.isEmpty)
      if (name == "all duplicates") assert(full.size == 6)
    }
  }

  test("exact dups score jaccard 1.0 and appear at any threshold") {
    val pairs = DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 2L)) == 1.0)
  }

  test("minhash estimate of an exact dup is 1.0 and of disjoint docs absent") {
    val pairs = DedupOps.minhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 2L)) == 1.0)
    assert(!pairs.contains((0L, 3L)))
  }

  test("simhash of identical docs is identical, of disjoint docs differs") {
    val h = Oracles.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) == h(2L))
    assert(h(0L) != h(3L))
  }

  test("equality law: per-row simhashExpr == relational simhash") {
    import org.apache.spark.sql.functions.col
    val rel = Oracles.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ex = docs.select(col("doc_id"),
        Oracles.simhashExpr(graft.text.TextOps.tokens(col("text"))).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ex == rel)
  }

  test("equality law: native simhash32 == per-row simhashExpr (incl. edge cases)") {
    import org.apache.spark.sql.functions.{call_function, col}
    graft.functions.GraftFunctions.register(spark)
    val s = spark
    import s.implicits._
    val edge = Seq((100L, ""), (101L, "   "), (102L, "one"),
      (103L, " leading and trailing  "), (104L, "rep rep rep uniq"))
      .toDF("doc_id", "text")
    val d = docs.select(col("doc_id"), col("text")).unionByName(edge)
    val ex = d.select(col("doc_id"),
        Oracles.simhashExpr(graft.text.TextOps.tokens(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nat = d.select(col("doc_id"),
        call_function("simhash32", col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nat == ex)
  }

  test("equality law: native 60-bit simhash == relational simhash60 (incl. edge rows)") {
    import org.apache.spark.sql.DataFrame
    import graft.functions.GraftFunctions
    val s = spark
    import s.implicits._
    val edge = Seq((100L, Some("")), (101L, Some("   ")), (102L, Some("one")),
      (103L, Some("rep rep rep uniq")), (104L, None: Option[String]))
      .toDF("doc_id", "text")
    val d = docs.select(col("doc_id"), col("text")).unionByName(edge)
    def byId(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rel = byId(Oracles.simhash60(d, "doc_id", "text"))
    val nat = byId(DedupOps.simhashRows(d, "doc_id", "text", GraftFunctions.simhash60))
    assert(nat == rel)
    // docs without tokens have no row in either form
    assert(rel.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L, 102L, 103L))
    // the signatures are wider than 32 bits
    assert(rel.values.exists(_ >>> 32 != 0))
    // the expression itself: no tokens → 0, null text → null
    val raw = d.select(col("doc_id"), GraftFunctions.simhash60(col("text")))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(raw(100L) == Some(0L) && raw(101L) == Some(0L) && raw(104L).isEmpty)
  }

  test("segmentDedup: first occurrence keeps, later copies are stripped") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "a b c x y z"),   // two 3-token segments, both first occurrences
      (1L, "a b c q r s"),   // first segment duplicates doc 0's
      (2L, "a b c x y z")    // exact copy of doc 0: retains nothing
    ).toDF("doc_id", "text")
    val out = DedupOps.segmentDedup(d, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(0L) == ((2L, 2L, "a b c x y z")))
    assert(out(1L) == ((2L, 1L, "q r s")))
    assert(out(2L) == ((2L, 0L, "")))
  }

  test("segmentDedup: disjoint corpus is unchanged and token totals conserve") {
    val s = spark
    import s.implicits._
    val d = Seq((0L, "a b c d e"), (1L, "f g h i j")).toDF("doc_id", "text")
    val out = DedupOps.segmentDedup(d, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out == Map(0L -> "a b c d e", 1L -> "f g h i j"))
  }

  test("repeatedSpans: off-alignment repeats merge into maximal spans") {
    val s = spark
    import s.implicits._
    // doc 1 repeats doc 0's run "c d e f" at a DIFFERENT offset (1 vs 2) —
    // the case aligned segment dedup cannot see; doc 2 is clean filler.
    val d = Seq(
      (0L, "a b c d e f g h"),
      (1L, "z c d e f q r s"),
      (2L, "m n o p q t u v")).toDF("doc_id", "text")
    val out = DedupOps.repeatedSpans(d, "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    // the only duplicated 4-window is "c d e f": doc 0 pos 2, doc 1 pos 1
    assert(out == Set((0L, 2, 6, 1L), (1L, 1, 5, 1L)))
  }

  test("repeatedSpans: overlapping duplicated windows merge; within-doc repeats count") {
    val s = spark
    import s.implicits._
    // doc 0 contains "x y x y x y": windows "x y x" (pos 0, 2) and
    // "y x y" (pos 1, 3) each repeat WITHIN the doc → one merged span
    // covering tokens [0, 6); doc 1 shares nothing.
    val d = Seq(
      (0L, "x y x y x y"),
      (1L, "a b c d e f")).toDF("doc_id", "text")
    val out = DedupOps.repeatedSpans(d, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(out == Set((0L, 0, 6, 4L)))
  }

  test("minhashSignatureExpr equals minhashSignatureArray position for position") {
    import org.apache.spark.sql.functions._
    val d = graft.Tables.documents(spark, SparkSpec.sf0001)
      .filter(size(graft.text.TextOps.shingles(col("text"), 3)) > 0)
    val viaExpr = d.select(col("doc_id"),
        Oracles.minhashSignatureExpr(col("text"), 3, 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaAgg = Oracles.minhashSignatureArray(
        Oracles.shingleTable(d, "doc_id", "text", 3), 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr.keySet === viaAgg.keySet)
    viaExpr.foreach { case (id, sig) =>
      assert(sig === viaAgg(id), s"doc $id") }
  }

  test("minhashSignatureNative equals the HOF expression, nulls included") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    // corpus docs PLUS the edge shapes: too-short (< 3 tokens), empty,
    // whitespace-only, leading tab (Spark trim is space-only — a Java
    // String.trim port would diverge here), repeated shingles
    val edges = Seq((90001L, "a b"), (90002L, ""), (90003L, "   "),
      (90004L, "\tx y z w"), (90005L, "p q r p q r p q r"))
      .toDF("doc_id", "text")
    val d = graft.Tables.documents(spark, SparkSpec.sf0001)
      .select(col("doc_id"), col("text")).unionByName(edges)
    val both = d.select(col("doc_id"),
        Oracles.minhashSignatureExpr(col("text"), 3, 32).as("hof"),
        DedupOps.minhashSignatureNative(col("text"), 3, 32).as("nat"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val hof = r.getSeq[Any](1)
      val nat = r.getSeq[Any](2)
      assert(hof === nat, s"doc ${r.getLong(0)}")
    }
    // the all-NULL contract for shingle-less docs holds on both forms
    val shortOnes = both.filter(r => Set(90001L, 90002L, 90003L)(r.getLong(0)))
    assert(shortOnes.length == 3)
    shortOnes.foreach { r =>
      assert(r.getSeq[Any](2).forall(_ == null), s"doc ${r.getLong(0)}") }
  }
}
