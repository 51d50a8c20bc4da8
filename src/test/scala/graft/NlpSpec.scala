package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.GraftFunctions
import graft.queries.NlpQueries
import graft.text.{EntityLinking, TextRank}

class NlpSpec extends SparkSuite {
  import SparkSpec.sf0001

  private def docs = {
    val s = spark
    import s.implicits._
    Seq((0L, "red widget small ring red widget"),
        (1L, "blue bolt blue bolt blue bolt")).toDF("doc_id", "text")
  }

  private def obs = {
    val s = spark
    import s.implicits._
    // alias "red" seen 3× for entity 1, 1× for entity 2
    Seq(("red", 1L), ("red", 1L), ("red", 1L), ("red", 2L), ("blue", 3L))
      .toDF("alias", "entity")
  }

  test("gazetteer priors sum to 1 per alias and are capped + deterministic") {
    val g = EntityLinking.gazetteer(obs, "alias", "entity", 8)
    val sums = g.groupBy("alias").agg(sum("prior").as("s")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(sums("red") - 1.0) < 1e-12)
    val red = g.filter(col("alias") === "red").orderBy(col("prior").desc).collect()
    assert(red.head.getLong(1) == 1L && red.head.getDouble(2) == 0.75)
  }

  test("gazetteer cap keeps top-N by count with entity tiebreak") {
    val g = EntityLinking.gazetteer(obs, "alias", "entity", 1)
    val red = g.filter(col("alias") === "red").collect()
    assert(red.length == 1 && red.head.getLong(1) == 1L)
    // prior still normalized over ALL entities, not just the kept ones
    assert(red.head.getDouble(2) == 0.75)
  }

  test("mention candidates carry positions and priors") {
    val g = EntityLinking.gazetteer(obs, "alias", "entity", 8)
    val m = EntityLinking.mentionCandidates(docs, g)
    val reds = m.filter(col("token") === "red").collect()
    assert(reds.map(_.getInt(1)).toSet == Set(0, 4)) // both "red" positions, 2 cands each
    assert(reds.length == 4)
  }

  test("textrank ranks sum to ~1 per doc and favor frequent co-occurring tokens") {
    val toks = EntityLinking.tokenStream(docs, "doc_id", "text")
    val pr = TextRank.pageRank(toks, 2, 4)
    val sums = pr.groupBy("doc_id").agg(sum("rank").as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // fixed-point floor loses ≤1e-14 per edge; sums stay ≈ 1
    assert(sums.values.forall(s => math.abs(s - 1.0) < 1e-6))
    val d0 = pr.filter(col("doc_id") === 0).orderBy(col("rank").desc).collect()
    assert(Set("red", "widget").contains(d0.head.getString(1)))
  }

  test("equality law: pageRankLocal == pageRank, bit-for-bit, on sf0.001") {
    // the mapGroups twin must reproduce the declarative loop's doubles
    // EXACTLY (same IEEE ops in the same order) — any drift here breaks the
    // q35/q47 oracle parity claim
    val corpus = Tables.documents(spark, sf0001)
    val toks = EntityLinking.tokenStream(corpus, "doc_id", "text")
    val a = TextRank.pageRank(toks, 2, 4).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val b = TextRank.pageRankLocal(toks, 2, 4).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(a.keySet == b.keySet)
    val diff = a.collect { case (k, v) if b(k) != v => (k, v, b(k)) }
    assert(diff.isEmpty, s"ranks diverge: ${diff.take(5).mkString(", ")}")
  }

  test("global overlap pruning keeps dominant spans only (EntityRuler rule)") {
    val s = spark
    import s.implicits._
    val d = Seq((0L, "a b c d e")).toDF("doc_id", "text")
    val gaz = Seq(("a b c", 1), ("c d", 2), ("e", 3)).toDF("surface", "entity")
    val spans = EntityLinking.ngramSpans(d, 3)
    val kept = EntityLinking.phraseMentionsGlobal(spans, gaz)
      .select("surface", "pos").collect().map(r => (r.getString(0), r.getInt(1))).toSet
    // "a b c" wins; "c d" overlaps a longer span → pruned (spaCy's
    // filter_spans agrees: it keeps "a b c", drops "c d", keeps "e")
    assert(kept == Set(("a b c", 0), ("e", 4)))
  }

  test("global pruning dominance rule on suppression chains (documented divergence)") {
    val s = spark
    import s.implicits._
    // "c d" is itself suppressed by "a b c", yet still dominates "d":
    // greedy filter_spans would KEEP "d"; the order-independent dominance
    // rule drops it. This is the one shape where the two differ.
    val d = Seq((0L, "a b c d")).toDF("doc_id", "text")
    val gaz = Seq(("a b c", 1), ("c d", 2), ("d", 3)).toDF("surface", "entity")
    val spans = EntityLinking.ngramSpans(d, 3)
    val kept = EntityLinking.phraseMentionsGlobal(spans, gaz)
      .select("surface").collect().map(_.getString(0)).toSet
    assert(kept == Set("a b c"))
  }

  test("same-start resolution (q45 semantics) vs global pruning differ as designed") {
    val s = spark
    import s.implicits._
    val d = Seq((0L, "a b c")).toDF("doc_id", "text")
    val gaz = Seq(("a b", 1), ("b c", 2)).toDF("surface", "entity")
    val spans = EntityLinking.ngramSpans(d, 3)
    // same-start: "a b"@0 and "b c"@1 start differently → both kept
    val perStart = EntityLinking.phraseMentions(spans,
        gaz.withColumn("len", lit(2)).withColumn("freq", lit(1L)))
      .select("surface").collect().map(_.getString(0)).toSet
    assert(perStart == Set("a b", "b c"))
    // global: "b c" overlaps the equal-length earlier-start "a b" → pruned
    val global = EntityLinking.phraseMentionsGlobal(spans, gaz)
      .select("surface").collect().map(_.getString(0)).toSet
    assert(global == Set("a b"))
  }

  test("equality law: ac_spans matched set == ngramSpans ⋈ gazetteer") {
    val s = spark
    import s.implicits._
    val d = Seq((0L, "a b a b c a"), (1L, "c c a b x")).toDF("doc_id", "text")
    // overlapping patterns incl. one being a prefix of another and a
    // pattern that is a suffix of another ("b c" inside "a b c")
    val surfaces = Seq("a b", "a b c", "b c", "c", "x")
    val entities = Seq(1, 2, 3, 4, 5)
    val viaAc = EntityLinking.acMentionSpans(d, surfaces, entities)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getInt(3), r.getInt(4))).toSet
    val gaz = surfaces.zip(entities).map { case (su, e) => (su, e) }
      .toDF("surface", "entity")
    val viaJoin = EntityLinking.ngramSpans(d, 3)
      .join(gaz, Seq("surface"))
      .select(col("doc_id"), col("pos"), col("surface"), col("len"), col("entity"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getInt(3), r.getInt(4))).toSet
    assert(viaAc == viaJoin && viaAc.nonEmpty)
    // spot-check the overlap semantics: "a b c" at pos 2 of doc 0 emits the
    // full pattern AND its suffix "b c" AND the unigram "c"
    assert(viaAc.contains((0L, 2, "a b c", 3, 2)))
    assert(viaAc.contains((0L, 3, "b c", 2, 3)))
    assert(viaAc.contains((0L, 4, "c", 1, 4)))
  }

  test("guard law: acMentionsGuarded AC path == over-bound join fallback") {
    val s = spark
    import s.implicits._
    val d = Seq((0L, "a b a b c a"), (1L, "c c a b x")).toDF("doc_id", "text")
    val gaz = Seq(("a b", 1), ("a b c", 2), ("b c", 3), ("c", 4), ("x", 5))
      .toDF("surface", "entity")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getInt(3), r.getInt(4))).toSet
    // default bound → driver compile into the AC expression
    val viaAc = rows(EntityLinking.acMentionsGuarded(d, gaz))
    // bound 0 → every gazetteer is over-bound → hint-free span join; the
    // driver probe collects at most 1 row
    val viaJoin = rows(EntityLinking.acMentionsGuarded(d, gaz, maxPatterns = 0))
    assert(viaAc == viaJoin && viaAc.nonEmpty)
  }

  test("ac_spans generated code is identical to interpreted eval") {
    // doGenCode parity (CosineSimilarity-style): same matched set whether
    // the expression runs inside whole-stage codegen or via eval().
    val s = spark
    import s.implicits._
    val d = Seq((0L, "a b a b c a x"), (1L, ""), (2L, "q q q c")).toDF("doc_id", "text")
    val surfaces = Seq("a b", "a b c", "b c", "c", "x")
    val entities = Seq(1, 2, 3, 4, 5)
    def run(): Set[(Long, Int, String, Int, Int)] =
      EntityLinking.acMentionSpans(d, surfaces, entities)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getInt(3), r.getInt(4))).toSet
    val gen = run()
    val oldWsc = s.conf.get("spark.sql.codegen.wholeStage")
    val oldFac = s.conf.get("spark.sql.codegen.factoryMode")
    try {
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(run() == gen)
    } finally {
      s.conf.set("spark.sql.codegen.wholeStage", oldWsc)
      s.conf.set("spark.sql.codegen.factoryMode", oldFac)
    }
    assert(gen.nonEmpty)
  }

  test("equality law: ngramSpansFromTokens == ngramSpans") {
    val s = spark
    import s.implicits._
    val d = Seq((0L, "a b c d e"), (1L, "x"), (2L, "  "), (3L, "p q"))
      .toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3))).toSet
    val direct = key(EntityLinking.ngramSpans(d, 3))
    val viaTokens = key(EntityLinking.ngramSpansFromTokens(
      EntityLinking.tokenStream(d, "doc_id", "text"), 3))
    assert(direct == viaTokens && direct.nonEmpty)
  }

  test("phrase-level TextRank aggregates member-token ranks with counts") {
    val toks = EntityLinking.tokenStream(docs, "doc_id", "text")
    val pr = TextRank.pageRank(toks, 2, 4)
    val ranks = pr.filter(col("doc_id") === 0).collect()
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    val phrases = TextRank.topPhraseSpans(toks, 2, 2, 4, 50)
      .filter(col("doc_id") === 0).collect()
      .map(r => (r.getString(1), (r.getInt(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // "red widget" occurs twice in doc 0; rank = mean of member ranks
    val (len, cnt, rank) = phrases("red widget")
    assert(len == 2 && cnt == 2)
    val expected = (math.floor(ranks("red") * 1e15) + math.floor(ranks("widget") * 1e15)) / 1e15 / 2
    assert(math.abs(rank - expected) < 1e-12)
    // single-token span count matches token frequency
    assert(phrases("red")._2 == 2L)
  }

  /** Candidates (doc_id, pos, token, entity, prior) and vector tables where
    * doc 3 has no context vector, entity 4 no entity vector, and entity 2's
    * one-element vector gives a null cosine (length mismatch). */
  private def linkingInput(cands: Seq[(Long, Int, Long, Double)]): (DataFrame, DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val v = Seq(Seq(1.0f, 0.0f), Seq(0.6f, 0.8f), Seq(1.0f), Seq(0.6f, 0.8f))
    (cands.map { case (d, p, e, pr) => (d, p, s"t$p", e, pr) }
       .toDF("doc_id", "pos", "token", "entity", "prior"),
     (0L to 2L).map(d => (d, v(d.toInt))).toDF("doc_id", "ctx_emb"),
     (0L to 3L).map(e => (e, v(e.toInt))).toDF("entity", "ent_emb"))
  }

  test("disambiguate law: single pass == distinct-pair form, with missing vectors and ties") {
    val gen = Gen.listOf(Gen.zip(Gen.choose(0L, 3L), Gen.choose(0, 2), Gen.choose(0L, 4L),
      Gen.oneOf(0.25, 0.5, 1.0))).map(_.take(20))
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8).withWorkers(1),
      Prop.forAll(gen) { cands =>
        val (c, d, e) = linkingInput(cands :+ ((3L, 0, 4L, 0.5)))
        def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
        rows(EntityLinking.disambiguate(c, d, e)) == rows(Oracles.disambiguatePairwise(c, d, e))
      })
    assert(r.passed, r.status.toString)
  }

  test("disambiguate and rankedCandidates read the candidate plan once") {
    val (c, d, e) = linkingInput(Seq((0L, 0, 1L, 0.5), (0L, 0, 2L, 0.5), (3L, 1, 4L, 1.0)))
    def leaves(df: DataFrame) = df.queryExecution.optimizedPlan.collectLeaves().size
    val inputs = leaves(c) + leaves(d) + leaves(e)
    assert(leaves(EntityLinking.disambiguate(c, d, e)) == inputs)
    assert(leaves(EntityLinking.rankedCandidates(c, d, e, Seq("doc_id", "pos"), 2,
      graft.functions.GraftFunctions.cosineSim)) == inputs)
    // and the backoff tier: doc 3 has no vector, so its mention keeps the prior
    val linked = EntityLinking.disambiguate(c, d, e).orderBy("doc_id", "pos").collect()
    assert(linked.map(r => (r.getLong(0), r.getLong(3))).toSeq == Seq((0L, 1L), (3L, 4L)))
    assert(math.abs(linked(0).getDouble(5) - 0.3) < 1e-6 && linked(1).getDouble(5) == 1.0)
  }

  test("withVectors law: attach by vector id == id-table joins, left and inner") {
    // a sparse vector store (nvec = its row count, ids up to 9, so ids above
    // nvec and gaps both occur), docs and entities drawn from their id sets
    // (the precondition), repeated mentions, and a one-element vector that
    // gives a null cosine; a candidate's prior depends on its token and
    // entity only, as the gazetteer's does
    val vecs = Seq(Seq(1.0f, 0.0f), Seq(0.6f, 0.8f), Seq(1.0f), Seq(0.8f, 0.6f))
    val priors = Seq(0.25, 0.5, 1.0)
    val gen = for {
      vecIds <- Gen.atLeastOne(0L to 9L)
      vecOf <- Gen.listOfN(10, Gen.choose(0, vecs.size - 1))
      docIds <- Gen.nonEmptyContainerOf[Set, Long](Gen.choose(0L, 30L))
      entIds <- Gen.nonEmptyContainerOf[Set, Long](Gen.choose(0L, 40L))
      cands <- Gen.listOf(Gen.zip(Gen.oneOf(docIds.toSeq), Gen.choose(0, 2),
        Gen.oneOf(entIds.toSeq))).map(_.take(24))
    } yield (vecIds.toSeq, vecOf, docIds.toSeq, entIds.toSeq, cands)
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8).withWorkers(1),
      Prop.forAllNoShrink(gen) { case (vecIds, vecOf, docIds, entIds, cands) =>
        val s = spark
        import s.implicits._
        val c = cands.map { case (d, p, e) => (d, p, s"t$p", e, priors(((p + e) % 3).toInt)) }
          .toDF("doc_id", "pos", "token", "entity", "prior")
        val e = vecIds.map(id => (id, vecs(vecOf(id.toInt)))).toDF("vec_id", "embedding")
        val (dv, ev) = Oracles.idTableVectors(docIds.toDF("doc_id"), entIds.toDF("entity"), e)
        def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
        val keys = Seq("doc_id", "pos")
        rows(EntityLinking.disambiguate(c, dv, ev)) == rows(EntityLinking.bestLinks(
            EntityLinking.scoreLinks(NlpQueries.withVectors(c, e, e.count(), "left")))) &&
          rows(EntityLinking.rankedCandidates(c, dv, ev, keys, 2, GraftFunctions.cosineSim)) ==
          rows(EntityLinking.rankLinks(NlpQueries.withVectors(c, e, e.count(), "inner"), keys, 2,
            GraftFunctions.cosineSim))
      })
    assert(r.passed, r.status.toString)
  }
}
