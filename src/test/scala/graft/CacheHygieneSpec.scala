package graft

import graft.dedup.DedupOps
import graft.text.{EntityLinking, TextRank}

/** Library calls must leave NOTHING in the session cache registry (round-2
  * verdict #5): un-owned cache entries accumulate over a long-lived session
  * and alias by logical plan across unrelated queries. Loop invariants are
  * materialized via localCheckpoint instead — reuse without residue.
  */
class CacheHygieneSpec extends SparkSuite {

  test("dedup + textrank + span ops leave the cache registry empty") {
    val s = spark
    import s.implicits._
    s.sharedState.cacheManager.clearCache()
    val docs = Seq(
      (1L, "a b c a b d e"), (2L, "a b c a b d f"), (3L, "x y z w q r s"))
      .toDF("doc_id", "text")
    Oracles.jaccardPairs(docs, "doc_id", "text", 3, 0.3).collect()
    DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.3).collect()
    DedupOps.minhashPairs(docs).collect()
    val toks = EntityLinking.tokenStream(docs, "doc_id", "text")
    TextRank.pageRank(toks, 2, 2).collect()
    val spans = EntityLinking.ngramSpans(docs, 3)
    EntityLinking.phraseMentionsGlobal(spans,
      EntityLinking.phraseGazetteer(spans, 5)).collect()
    graft.text.RankedSearch.bm25TopK(docs, "doc_id", "text",
      Seq("a b").toDF("surface"), blockK = 2, topK = 3).collect()
    graft.text.RankedSearch.tfidfCosinePairs(docs, "doc_id", "text",
      maxDfFrac = 1.0, minCos = 0.0).collect()
    graft.graph.GraphOps.labelPropagation(
      graft.graph.GraphOps.symmetrize(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")), 2).collect()
    graft.graph.GraphOps.personalizedPageRankDeterministic(
      graft.graph.GraphOps.symmetrize(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")),
      Seq(1L).toDF("id"), 3).collect()
    graft.graph.GraphOps.hitsDeterministic(
      Seq((1L, 11L), (2L, 11L)).toDF("src", "dst"), 3).collect()
    assert(s.sharedState.cacheManager.isEmpty,
      "a library op registered a cache entry it never released")
  }

  test("gated NLP queries leave the cache registry empty end-to-end") {
    // Round-5 verdict: library ops were leak-free but the QUERY closures
    // cached token/span streams and never unpersisted — a driver calling
    // several NLP queries in one session accumulated un-owned entries.
    // Each query now materializes its result and releases its caches.
    val s = spark
    s.sharedState.cacheManager.clearCache()
    val d = "/root/testdata/sf0.001"
    val nlp = graft.queries.NlpQueries.queries
    for (name <- Seq("q35_textrank", "q45_phrase_mentions", "q36_el_report",
        "q47_phrase_rank", "q48_global_spans", "q49_unlinked_review",
        "q79_hybrid_linking")) {
      nlp(name)(s, d).write.format("noop").mode("overwrite").save()
      assert(s.sharedState.cacheManager.isEmpty,
        s"$name left entries in the session cache registry")
    }
  }

  test("round-10 queries leave the cache registry empty end-to-end") {
    val s = spark
    s.sharedState.cacheManager.clearCache()
    val d = "/root/testdata/sf0.001"
    for (name <- Seq("q135_assortativity", "q136_split_assign",
        "q137_quality_canonical", "q138_semdedup_ivf2",
        "q139_weighted_sample", "q140_transition_probs",
        "q141_winsorized_quality", "q143_harmonic_centrality",
        "q144_video_decode")) {
      SparkEntry.queries(name)(s, d).write.format("noop").mode("overwrite").save()
      assert(s.sharedState.cacheManager.isEmpty,
        s"$name left entries in the session cache registry")
    }
  }
}
