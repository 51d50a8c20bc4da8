package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions
import graft.text.{EntityLinking, FuzzyMatch, TextOps, TextRank}

/** Entity-linking + keyphrase queries (SURVEY.md §2 V2-V6, W3) — the
  * reference's flagship NLP surface instantiated on the test tables:
  * gazetteer aliases from part-name tokens with lineitem-frequency priors,
  * mentions from document tokens, disambiguation against `embeddings`
  * context/entity vectors, TextRank keyphrases, and the EL review report.
  * Every query has an exact DuckDB oracle — the per-doc PageRank oracle is a
  * mechanically unrolled fixed-iteration CTE chain with fixed-point (1e-15)
  * contribution sums matching [[graft.text.TextRank]] bit for bit.
  */
object NlpQueries {

  private val gazCandidates = 8
  private val trWindow = 2
  private val trIters = 4
  private val trK = 3

  /** Gazetteer observations: each lineitem contributes its part's name
    * tokens as alias sightings of that part. */
  private def aliasObs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(explode(TextOps.tokens(col("p_name"))).as("alias"),
        col("p_partkey").as("entity"))

  /** private[queries]: q230 (streaming EL) reuses the exact batch
    * gazetteer as its static side. */
  private[queries] def gaz(s: SparkSession, d: String): DataFrame =
    EntityLinking.gazetteer(aliasObs(s, d), "alias", "entity", gazCandidates)

  private def candidates(s: SparkSession, d: String): DataFrame =
    EntityLinking.mentionCandidates(Tables.documents(s, d), gaz(s, d))

  /** Attaches each candidate's vectors by vector id: `ctx_emb` =
    * embeddings[doc_id % nvec], `ent_emb` = embeddings[entity % nvec], where
    * `nvec` is the row count of `e` (counted, not assumed: the queries pass
    * [[Tables.rowCount]], so building the plan runs no job). `joinType`
    * "left" keeps a candidate missing a vector for
    * [[EntityLinking.bestLinks]]' prior backoff; "inner" drops it.
    * The embeddings scan is joined twice without a broadcast hint: while it
    * is small the planner broadcasts it and the second lookup reuses the
    * first exchange; at scale it may shuffle-join. No doc- or entity-keyed
    * vector table is built. Precondition: every `doc_id` is a `documents` id
    * and every `entity` a `part` key (true of each caller: the documents
    * token stream, the lineitem ⋈ part gazetteer); under it the rows equal
    * the id-table joins (law-tested in NlpSpec). */
  private[graft] def withVectors(cand: DataFrame, e: DataFrame, nvec: Long,
                                 joinType: String): DataFrame = {
    def lookup(key: String, emb: String)(df: DataFrame): DataFrame =
      df.withColumn("vid", col(key) % nvec)
        .join(e.select(col("vec_id").as("vid"), col("embedding").as(emb)),
          Seq("vid"), joinType)
        .drop("vid")
    cand.transform(lookup("doc_id", "ctx_emb")).transform(lookup("entity", "ent_emb"))
  }

  private def linkedFrom(s: SparkSession, d: String, cand: DataFrame): DataFrame =
    EntityLinking.bestLinks(EntityLinking.scoreLinks(
      withVectors(cand, Tables.embeddings(s, d),
        Tables.rowCount(s, d, "embeddings"), "left")))

  private def linked(s: SparkSession, d: String): DataFrame =
    linkedFrom(s, d, candidates(s, d))

  private def docTokens(s: SparkSession, d: String): DataFrame =
    EntityLinking.tokenStream(Tables.documents(s, d), "doc_id", "text")

  /** Materialize `result`, then release the query-owned cache(s): gated
    * queries must leave the session cache registry as empty as the library
    * ops do (CacheHygieneSpec) — a long-lived driver session running many
    * NLP queries otherwise accumulates un-owned entries that alias by
    * logical plan across unrelated queries. */
  private def releasing(cached: DataFrame*)(result: DataFrame): DataFrame = {
    val out = result.localCheckpoint()
    cached.foreach(_.unpersist())
    out
  }

  /** q79's three-engine hybrid linker, parameterized by how many of its
    * ranked signals participate in the RRF fusion: A = prior × context
    * cosine, B = fuzzy edit-distance, C = BM25 over the entity-name corpus.
    * `nSignals = 3` is the exact q79 plan; the 1- and 2-signal prefixes
    * exist only for Bench's cumulative stage timing ([[hybridStages]]), so
    * a regression inside one engine shows as a jump between consecutive
    * stage entries instead of hiding in the whole-query median. */
  def hybridLinking(s: SparkSession, d: String, nSignals: Int): DataFrame = {
    // EAGERLY materialized (localCheckpoint, not a lazy cache): the mention
    // set is referenced by all three signal builders plus both token-level
    // expansions, and two of those references sit INSIDE broadcast()
    // subtrees. Broadcast exchanges build their children on concurrent
    // driver-pool threads, so a lazy .cache() here is first READ by three
    // jobs at once — each thread that loses the per-block compute race
    // blocks on the BlockManager lock while the winner recomputes the
    // corpus-sized tokenize+distinct inside a broadcast thread (measured:
    // 22.8 s in-suite vs ~10 s with the shared inputs pre-materialized,
    // and the contention GROWS with cores — 15.9 s at 32 threads vs
    // 10.3 s at 4 in isolation). Materializing both tables before any
    // signal plan executes makes every downstream read a plain block fetch.
    val toks = docTokens(s, d).select(col("doc_id"), col("token"))
      .distinct().localCheckpoint()
    // ONE tokenized probe vocabulary shared by all three engines: the r10
    // stage timings showed B and C each re-deriving `distinct token` from
    // the full (doc_id, token) mention stream — a corpus-sized distinct
    // apiece; sharing the vocab table means that shuffle happens once and
    // the signal engines probe a vocabulary-sized materialized input.
    val dtok = toks.select(col("token")).distinct().localCheckpoint()
    // signal A: prior × cosine, top-5 per (doc_id, token)
    val candA = toks.join(broadcast(gaz(s, d)), col("token") === col("alias"))
      .select(col("doc_id"), col("token"), col("entity"), col("prior"))
    val sigA = EntityLinking.rankLinks(
        withVectors(candA, Tables.embeddings(s, d),
          Tables.rowCount(s, d, "embeddings"), "inner"),
        Seq("doc_id", "token"), topK = 5, GraftFunctions.cosineSim)
      .select(col("doc_id"), col("token"), col("entity"), col("rn"))
    // signal B: fuzzy candidates (alias-level top-5 per q46), alias →
    // entity, entity ranked per token by (min dist asc, entity asc)
    lazy val aliasEnt = Tables.part(s, d)
      .select(explode(TextOps.tokens(col("p_name"))).as("alias"),
        col("p_partkey").as("entity")).distinct()
    lazy val sigB = broadcast(
      FuzzyMatch.fuzzyCandidates(dtok,
          aliasEnt.select(col("alias")), maxDist = 2, blockK = 2, topK = 5)
        .join(aliasEnt, Seq("alias"))
        .groupBy(col("token"), col("entity")).agg(min(col("dist")).as("dist"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
            .orderBy(col("dist").asc, col("entity").asc)))
        .filter(col("rn") <= 5)
        .select(col("token"), col("entity"), col("rn")))
    // signal C: BM25 against the part-name corpus (entity = part key)
    lazy val sigC = broadcast(
      graft.text.RankedSearch.bm25TopK(Tables.part(s, d), "p_partkey", "p_name",
          dtok.select(col("token").as("surface")),
          k1 = 1.2, b = 0.75, blockK = 1, topK = 5)
        .select(col("surface").as("token"), col("doc_id").as("entity"), col("rn")))
    // expand the token-level signals to the (doc_id, token) mention set
    lazy val sigBdoc = toks.join(sigB, Seq("token"))
      .select(col("doc_id"), col("token"), col("entity"), col("rn"))
    lazy val sigCdoc = toks.join(sigC, Seq("token"))
      .select(col("doc_id"), col("token"), col("entity"), col("rn"))
    val sigs = Seq(sigA) ++
      (if (nSignals >= 2) Seq(sigBdoc) else Nil) ++
      (if (nSignals >= 3) Seq(sigCdoc) else Nil)
    releasing(toks, dtok)(
      graft.text.HybridRetrieval.rrfFuse(sigs,
          Seq("doc_id", "token"), "entity", k = 60, topK = 3)
        .orderBy(col("doc_id"), col("token"), col("rn")))
  }

  /** q66's exact shape: every distinct adjacent bigram of the whole corpus
    * retrieves its top-5 documents by BM25. Because the mention set is
    * corpus-scale — exactly the probe shape RankedSearch's docstring says
    * must NOT broadcast (at 100 TB it would not fit the driver) — the block
    * keys shuffle-join the postings (`broadcastQueries = false`); the
    * oracle is plan-agnostic. `championN = 128` caps every token's probe
    * fan-out (postings-side champion list) so candidates per mention stay
    * bounded under corpus growth — the fix for the ×30 superlinear curve
    * SCALE r10 measured; the oracle encodes the identical truncation.
    * `checkpoint = false` is PlanSpec's window into the pre-checkpoint plan
    * (the eager localCheckpoint in bm25TopK otherwise hides it behind an
    * RDD scan). */
  private[graft] def bm25Candidates(s: SparkSession, d: String,
                                    checkpoint: Boolean = true): DataFrame = {
    val docs = Tables.documents(s, d)
    val mentions = docs
      .select(TextOps.tokens(col("text")).as("w"))
      .select(explode(when(size(col("w")) >= 2,
        transform(sequence(lit(1), size(col("w")) - 1),
          i => concat_ws(" ", slice(col("w"), i, lit(2)))))
        .otherwise(array().cast("array<string>"))).as("surface"))
      .distinct()
    graft.text.RankedSearch.bm25TopK(docs, "doc_id", "text", mentions,
        k1 = 1.2, b = 0.75, blockK = 1, topK = 5,
        broadcastQueries = false, checkpoint = checkpoint, championN = 128)
      .orderBy(col("surface"), col("rn"))
  }

  /** CUMULATIVE stage prefixes of q79 for Bench's per-stage timing (same
    * contract as [[SenzingQueries.flagshipStages]]): prior×cosine → +fuzzy
    * → +BM25; the last entry is the exact q79 plan. */
  def hybridStages: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "sA_prior_cosine" -> ((s, d) => hybridLinking(s, d, 1)),
    "sAB_plus_fuzzy" -> ((s, d) => hybridLinking(s, d, 2)),
    "sABC_plus_bm25" -> ((s, d) => hybridLinking(s, d, 3)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // V5 — gazetteer mention candidates (broadcast alias join, top-8 priors).
    "q33_gazetteer_mentions" -> ((s, d) =>
      candidates(s, d).orderBy(col("doc_id"), col("pos"), col("entity"))),

    // V2/V3/W3 — full entity linking: prior × context-cosine argmax.
    "q34_entity_linking" -> ((s, d) =>
      linked(s, d).orderBy(col("doc_id"), col("pos"))),

    // V4/W2 — TextRank keyphrases: co-occurrence PageRank, top-3 per doc.
    "q35_textrank" -> ((s, d) => {
      // cached: the token stream feeds nodes + 4 co-occurrence join scans;
      // released after the result is materialized (releasing above)
      val toks = docTokens(s, d).cache()
      releasing(toks)(TextRank.topPhrases(toks, trWindow, trIters, trK)
        .orderBy(col("doc_id"), col("rn")))
    }),

    // V5 (phrase form) — multi-token gazetteer matching with longest-match
    // resolution: collocation gazetteer (top-30 n-grams per length ≤ 3),
    // spans matched on full surface form.
    "q45_phrase_mentions" -> ((s, d) => {
      // cached: the span table feeds both the gazetteer aggregation and the
      // mention join — without it the 3-way n-gram enumeration runs twice
      val spans = EntityLinking.ngramSpans(Tables.documents(s, d), 3).cache()
      val gaz = EntityLinking.phraseGazetteer(spans, 30)
      releasing(spans)(EntityLinking.phraseMentions(spans, gaz)
        .orderBy(col("doc_id"), col("pos")))
    }),

    // V6 — EL review report, PHRASE form (the reference's doc._.phrases +
    // entity-link join, analysis.py:10-35): top multi-word phrases per doc,
    // is_linked = any member token of the phrase is a disambiguated mention.
    // The token stream is tokenized ONCE (cached) and feeds both branches —
    // TextRank's co-occurrence graph and the gazetteer mention join; the
    // member-token explode for the link check runs on the TOP-K phrases only
    // (k·docs rows), never the full span table.
    "q36_el_report" -> ((s, d) => {
      val toks = docTokens(s, d).cache()
      val phrases = TextRank.topPhraseSpans(toks, 3, trWindow, trIters, trK)
      val cand = EntityLinking.mentionCandidatesFromTokens(toks, gaz(s, d))
      val links = linkedFrom(s, d, cand).select(col("doc_id"), col("token")).distinct()
      val linkedPhr = phrases
        .select(col("doc_id"), col("surface"),
          explode(split(col("surface"), " ")).as("token"))
        .join(links, Seq("doc_id", "token"))
        .select(col("doc_id"), col("surface")).distinct()
        .withColumn("is_linked", lit(true))
      releasing(toks)(phrases.join(linkedPhr, Seq("doc_id", "surface"), "left")
        .select(col("doc_id"), col("surface").as("phrase"), col("len"),
          col("cnt"), col("phrase_rank"), col("rn"),
          coalesce(col("is_linked"), lit(false)).as("is_linked"))
        .orderBy(col("doc_id"), col("rn")))
    }),

    // V2 (fuzzy form) — the reference's tantivy fuzzy candidate search
    // (dev.ipynb cells 70-72): document tokens matched to part-name alias
    // surface forms within 2 edits, rare-bigram blocking + levenshtein
    // verify, top-5 candidates per token.
    "q46_fuzzy_candidates" -> ((s, d) => {
      val probes = EntityLinking.tokenStream(Tables.documents(s, d), "doc_id", "text")
        .select(col("token"))
      val aliases = Tables.part(s, d)
        .select(explode(TextOps.tokens(col("p_name"))).as("alias"))
      FuzzyMatch.fuzzyCandidates(probes, aliases, maxDist = 2, blockK = 2, topK = 5)
        .orderBy(col("token"), col("rn"))
    }),

    // V2 (ranked form) — the SCORED half of the reference's tantivy surface
    // (dev.ipynb cells 70-72): every distinct 2-token mention phrase
    // retrieves its top-5 documents by exact BM25 (k1=1.2, b=0.75,
    // quantized idf), candidates generated through the mention's rarest
    // token (champion-list blocking), never all-pairs.
    "q66_bm25_candidates" -> ((s, d) => bm25Candidates(s, d)),

    // V4 (phrase form) — doc._.phrases semantics: spans of 1..3 tokens
    // ranked by aggregated member-token TextRank, with occurrence counts,
    // top-30 per doc (the reference's [:30], analysis.py:11).
    "q47_phrase_rank" -> ((s, d) => {
      val toks = docTokens(s, d).cache()
      releasing(toks)(TextRank.topPhraseSpans(toks,
          maxN = 3, trWindow, trIters, k = 30)
        .orderBy(col("doc_id"), col("rn")))
    }),

    // V5 (global form) — gazetteer phrase matching under the EntityRuler's
    // GLOBAL longest-match overlap pruning (dominance anti-join), vs q45's
    // same-start-only resolution.
    "q48_global_spans" -> ((s, d) => {
      val spans = EntityLinking.ngramSpans(Tables.documents(s, d), 3).cache()
      val gaz = EntityLinking.phraseGazetteer(spans, 30)
      releasing(spans)(EntityLinking.phraseMentionsGlobal(spans, gaz)
        .orderBy(col("doc_id"), col("pos")))
    }),

    // V5 (Aho–Corasick form) — SAME semantics and SAME oracle as q45, but
    // matching runs through the custom ac_spans expression: one automaton
    // pass per document instead of span-table enumeration + join. The
    // gazetteer collect is GUARDED ([[EntityLinking.acMentionsGuarded]]):
    // KB-scale pattern sets compile into the expression as literals
    // (EntityRuler ships its whole pattern set to every worker), while an
    // over-bound gazetteer falls back to the hint-free span join — the
    // driver never materializes more than maxAcPatterns+1 rows.
    "q53_ac_mentions" -> ((s, d) => {
      val spans = EntityLinking.ngramSpans(Tables.documents(s, d), 3)
      EntityLinking.acMentionsGuarded(Tables.documents(s, d),
          EntityLinking.phraseGazetteer(spans, 30))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // V2/V3 (HYBRID form) — the reference's actual ann_linker semantics
    // (dev.ipynb cells 70-83: lancedb vector + tantivy text candidates fused
    // per mention): reciprocal-rank fusion (k=60) of three signals per
    // (doc_id, token) mention —
    //   A: prior × context-cosine over gazetteer candidates (q34's scoring,
    //      top-5 lists instead of argmax),
    //   B: fuzzy edit-distance candidates (q46's blocking+verify) mapped
    //      alias → entity, ranked by min distance,
    //   C: BM25 of the token against the part-name corpus (q66's engine;
    //      entities as documents).
    // A misspelled token has no exact-gazetteer candidates (A and C empty)
    // but still links through B; an ambiguous exact token is ranked by all
    // three. Token-level signals (B, C) broadcast into the doc expansion.
    "q79_hybrid_linking" -> ((s, d) => hybridLinking(s, d, nSignals = 3)),

    // F5 (literal form) — the reference's review report: phrases that did
    // NOT link (text.notnull() & kb_id == "", analysis.py:35), per-doc
    // top-30 cap, original ranks preserved.
    "q49_unlinked_review" -> ((s, d) => {
      val toks = docTokens(s, d).cache()
      val phrases = TextRank.topPhrases(toks, trWindow, trIters, 30)
      val cand = EntityLinking.mentionCandidatesFromTokens(toks, gaz(s, d))
      val links = linkedFrom(s, d, cand).select(col("doc_id"), col("token")).distinct()
      releasing(toks)(phrases.join(links, Seq("doc_id", "token"), "left_anti")
        .select(col("doc_id"), col("token").as("phrase"),
          col("rank").as("phrase_rank"), col("rn"))
        .orderBy(col("doc_id"), col("rn")))
    }))

  // ---- DuckDB oracle SQL ---------------------------------------------------

  private def toksSql(c: String) =
    s"list_filter(string_split_regex(trim($c), '\\s+'), w -> len(w) > 0)"

  private def dotSql(a: String, b: String) =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"

  private def cosSql(a: String, b: String) =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** tok: (doc_id, pos, token) via zipped unnests (positions 0-based). */
  private val tokCte =
    s"""tok AS (
       |  SELECT doc_id, unnest(w) AS token, unnest(range(len(w))) AS pos
       |  FROM (SELECT doc_id, ${toksSql("text")} AS w FROM documents) t0)""".stripMargin

  /** gz: capped weighted gazetteer (alias, entity, prior).
    * private[queries]: q235 (streaming unlinked-drift) reuses the alias
    * set as its static model side. */
  private[queries] val gazCte =
    s"""obs AS (
       |  SELECT unnest(${toksSql("p_name")}) AS alias, p_partkey AS entity
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |cg AS (SELECT alias, entity, COUNT(*) AS cnt FROM obs GROUP BY 1, 2),
       |gz AS (
       |  SELECT alias, entity, prior FROM (
       |    SELECT alias, entity,
       |      CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY alias) AS prior,
       |      ROW_NUMBER() OVER (PARTITION BY alias
       |        ORDER BY cnt DESC, entity ASC) AS rn
       |    FROM cg) t WHERE rn <= $gazCandidates)""".stripMargin

  /** cand: mention candidates = tok ⋈ gz. */
  private val candCte =
    s"""cand AS (
       |  SELECT doc_id, pos, token, entity, prior
       |  FROM tok JOIN gz ON token = alias)""".stripMargin

  /** links: disambiguated (rn=1) entity links incl. score. TWO-TIER PRIOR
    * BACKOFF (mirrors EntityLinking.disambiguate): a candidate missing
    * either vector keeps score = prior but ranks strictly below every
    * fully-scored candidate of the mention (leading `ctx_cos IS NOT NULL
    * DESC` key — r17: the r16 neutral-1.0 form let unembedded entities
    * dominate scored ones under partial coverage). Never fires on the
    * dense driver corpora, total under strided replica namespaces. */
  private val linkCte =
    s"""nv AS (SELECT COUNT(*) AS nvec FROM embeddings),
       |dv AS (
       |  SELECT d.doc_id, e.embedding AS ctx_emb
       |  FROM documents d CROSS JOIN nv
       |  JOIN embeddings e ON e.vec_id = d.doc_id % nvec),
       |ev AS (
       |  SELECT p_partkey AS entity, e.embedding AS ent_emb
       |  FROM part CROSS JOIN nv
       |  JOIN embeddings e ON e.vec_id = p_partkey % nvec),
       |pc AS (
       |  SELECT p.doc_id, p.entity,
       |    ${cosSql("ctx_emb", "ent_emb")} AS ctx_cos
       |  FROM (SELECT DISTINCT doc_id, entity FROM cand) p
       |  JOIN dv USING (doc_id) JOIN ev USING (entity)),
       |sc AS (
       |  SELECT c.doc_id, c.pos, c.token, c.entity, c.prior,
       |    c.prior * COALESCE(p.ctx_cos, 1.0) AS score,
       |    p.ctx_cos IS NOT NULL AS has_cos
       |  FROM cand c LEFT JOIN pc p USING (doc_id, entity)),
       |links AS (
       |  SELECT doc_id, pos, token, entity, prior, score FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, pos
       |      ORDER BY has_cos DESC, score DESC, entity ASC) AS lrn FROM sc) t
       |  WHERE lrn = 1)""".stripMargin

  /** q34's full EL oracle — shared VERBATIM by q230, the streaming twin:
    * the stream computes the same candidate scoring stream-static and the
    * same per-mention argmax post-sink, so both engines' results coincide
    * row for row. */
  private[queries] lazy val entityLinkingSql: String =
    s"""WITH $tokCte,
       |$gazCte,
       |$candCte,
       |$linkCte
       |SELECT doc_id, pos, token, entity, prior, score FROM links
       |ORDER BY doc_id, pos""".stripMargin

  /** spans(doc_id, len, surface, pos): all 1..3-token n-gram spans —
    * mirrors EntityLinking.ngramSpans(docs, 3). */
  private val spansCte =
    s"""spans AS (
       |  SELECT doc_id, n AS len,
       |    unnest([array_to_string(w[i:i+n-1], ' ')
       |            for i in range(1, len(w) - n + 2)]) AS surface,
       |    unnest(range(0, greatest(len(w) - n + 1, 0))) AS pos
       |  FROM (SELECT doc_id, ${toksSql("text")} AS w FROM documents) t
       |  CROSS JOIN range(1, 4) ns(n))""".stripMargin

  /** gz(surface, len, entity): top-30-per-length collocation phrase
    * gazetteer — mirrors EntityLinking.phraseGazetteer(spans, 30). */
  private val phraseGazCte =
    s"""g0 AS (SELECT surface, len, COUNT(*) AS freq FROM spans GROUP BY 1, 2),
       |g1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY len
       |         ORDER BY freq DESC, surface ASC) AS rn FROM g0),
       |gz AS (SELECT surface, len,
       |         CAST(ROW_NUMBER() OVER (ORDER BY len ASC, rn ASC) AS INTEGER) AS entity
       |       FROM g1 WHERE rn <= 30)""".stripMargin

  /** Unrolled fixed-iteration PageRank over the co-occurrence graph,
    * terminal CTE `topk(doc_id, token, "rank", rn)` capped at `topN`. */
  private def textrankCtes(topN: Int): String = {
    val head =
      s"""nodes AS (SELECT DISTINCT doc_id, token FROM tok),
         |nn AS (SELECT doc_id, COUNT(*) AS n FROM nodes GROUP BY doc_id),
         |eg AS (
         |  SELECT DISTINCT a.doc_id, a.token AS src, b.token AS dst
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.pos <> b.pos
         |    AND abs(a.pos - b.pos) <= $trWindow AND a.token <> b.token),
         |odeg AS (SELECT doc_id, src, COUNT(*) AS odeg FROM eg GROUP BY 1, 2),
         |pr0 AS (
         |  SELECT nodes.doc_id, nodes.token, CAST(1.0 AS DOUBLE) / nn.n AS "rank"
         |  FROM nodes JOIN nn USING (doc_id))""".stripMargin
    val iters = (1 to trIters).map { k =>
      s"""c$k AS (
         |  SELECT e.doc_id, e.dst AS token,
         |    CAST(SUM(CAST(floor((p."rank" / o.odeg) * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS inflow
         |  FROM pr${k - 1} p
         |  JOIN eg e ON e.doc_id = p.doc_id AND e.src = p.token
         |  JOIN odeg o ON o.doc_id = e.doc_id AND o.src = e.src
         |  GROUP BY 1, 2),
         |pr$k AS (
         |  SELECT nodes.doc_id, nodes.token,
         |    CAST(0.15 AS DOUBLE) / nn.n
         |      + CAST(0.85 AS DOUBLE) * COALESCE(c$k.inflow, CAST(0 AS DOUBLE)) AS "rank"
         |  FROM nodes JOIN nn USING (doc_id)
         |  LEFT JOIN c$k ON c$k.doc_id = nodes.doc_id AND c$k.token = nodes.token)""".stripMargin
    }
    val topk =
      s"""topk AS (
         |  SELECT doc_id, token, "rank", CAST(rn AS INTEGER) AS rn FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY "rank" DESC, token ASC) AS rn FROM pr$trIters) t
         |  WHERE rn <= $topN)""".stripMargin
    (head +: iters :+ topk).mkString(",\n")
  }

  private lazy val phraseMentionOracle: String =
    s"""WITH $spansCte,
       |$phraseGazCte,
       |m AS (
       |  SELECT s.doc_id, s.pos, s.surface, s.len, g.entity,
       |    ROW_NUMBER() OVER (PARTITION BY s.doc_id, s.pos
       |      ORDER BY s.len DESC) AS mrn
       |  FROM spans s JOIN gz g ON s.surface = g.surface)
       |SELECT doc_id, CAST(pos AS INTEGER) AS pos, surface,
       |  CAST(len AS INTEGER) AS len, entity
       |FROM m WHERE mrn = 1 ORDER BY doc_id, pos""".stripMargin

  def oracles: Map[String, String] = Map(
    "q33_gazetteer_mentions" ->
      s"""WITH $tokCte,
         |$gazCte,
         |$candCte
         |SELECT doc_id, pos, token, entity, prior FROM cand
         |ORDER BY doc_id, pos, entity""".stripMargin,
    "q34_entity_linking" -> entityLinkingSql,
    "q45_phrase_mentions" -> phraseMentionOracle,
    // q53 computes the SAME result through the ac_spans expression — one
    // oracle string, two execution strategies, both hash-verified.
    "q53_ac_mentions" -> phraseMentionOracle,
    "q35_textrank" ->
      s"""WITH $tokCte,
         |${textrankCtes(trK)}
         |SELECT doc_id, token, "rank", rn FROM topk ORDER BY doc_id, rn""".stripMargin,
    "q36_el_report" ->
      s"""WITH $tokCte,
         |$gazCte,
         |$candCte,
         |$linkCte,
         |${textrankCtes(trK)},
         |$spansCte,
         |psc AS (SELECT doc_id, surface, len, COUNT(*) AS cnt
         |        FROM spans GROUP BY 1, 2, 3),
         |pmem AS (SELECT doc_id, surface, len, cnt,
         |           unnest(string_split(surface, ' ')) AS token
         |         FROM psc),
         |pj AS (
         |  SELECT m.doc_id, m.surface, m.len, m.cnt,
         |    CAST(SUM(CAST(floor(p."rank" * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 / m.len AS phrase_rank
         |  FROM pmem m JOIN pr$trIters p ON p.doc_id = m.doc_id AND p.token = m.token
         |  GROUP BY 1, 2, 3, 4),
         |tpk AS (SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY phrase_rank DESC, surface ASC) AS prn FROM pj) t
         |  WHERE prn <= $trK),
         |tm AS (SELECT doc_id, surface,
         |         unnest(string_split(surface, ' ')) AS token FROM tpk),
         |lp AS (SELECT DISTINCT tm.doc_id, tm.surface
         |       FROM tm JOIN (SELECT DISTINCT doc_id, token FROM links) l
         |         ON l.doc_id = tm.doc_id AND l.token = tm.token)
         |SELECT t.doc_id, t.surface AS phrase, CAST(t.len AS INTEGER) AS len,
         |  CAST(t.cnt AS BIGINT) AS cnt, t.phrase_rank, CAST(t.prn AS INTEGER) AS rn,
         |  (lp.surface IS NOT NULL) AS is_linked
         |FROM tpk t
         |LEFT JOIN lp ON lp.doc_id = t.doc_id AND lp.surface = t.surface
         |ORDER BY t.doc_id, rn""".stripMargin,
    "q46_fuzzy_candidates" ->
      s"""WITH dt AS (SELECT DISTINCT unnest(${toksSql("text")}) AS token FROM documents),
         |al AS (SELECT DISTINCT unnest(${toksSql("p_name")}) AS alias FROM part),
         |abg AS (SELECT alias,
         |          unnest(list_distinct([alias[i:i+1] for i in range(1, len(alias))])) AS bg
         |        FROM al),
         |bgf AS (SELECT bg, COUNT(*) AS freq FROM abg GROUP BY bg),
         |tbg AS (SELECT token,
         |          unnest(list_distinct([token[i:i+1] for i in range(1, len(token))])) AS bg
         |        FROM dt),
         |keys AS (SELECT token, bg FROM (
         |    SELECT t.token, t.bg, ROW_NUMBER() OVER (PARTITION BY t.token
         |      ORDER BY f.freq ASC, t.bg ASC) AS krn
         |    FROM tbg t JOIN bgf f USING (bg)) k
         |  WHERE krn <= 2),
         |cand AS (SELECT DISTINCT k.token, a.alias FROM keys k JOIN abg a USING (bg)),
         |ver AS (SELECT token, alias, levenshtein(token, alias) AS dist FROM cand
         |        WHERE abs(len(token) - len(alias)) <= 2
         |          AND levenshtein(token, alias) <= 2)
         |SELECT token, alias, CAST(dist AS INTEGER) AS dist, CAST(rn AS INTEGER) AS rn
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY token
         |        ORDER BY dist ASC, alias ASC) AS rn FROM ver) t
         |WHERE rn <= 5 ORDER BY token, rn""".stripMargin,
    // BM25 mirror: idf = iln(2N+2) − iln(2df+1) via the integer-only
    // fixed-point ln (IntLn — identical across engines by construction,
    // replacing the former floor(libm ln·1e9) whose parity rested on a
    // ≤1-ulp argument), literal arithmetic unfolded to match Spark's IEEE
    // op order, contributions summed fixed-point.
    "q66_bm25_candidates" ->
      s"""WITH w0 AS (SELECT doc_id, ${toksSql("text")} AS w FROM documents),
         |m AS (SELECT DISTINCT array_to_string(w[i:i+1], ' ') AS surface
         |      FROM w0 CROSS JOIN unnest(range(1, len(w))) u(i)),
         |p AS (SELECT doc_id, token, COUNT(*) AS tf
         |      FROM (SELECT doc_id, unnest(w) AS token FROM w0) t GROUP BY 1, 2),
         |dlen AS (SELECT doc_id, SUM(tf) AS dl FROM p GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dlen),
         |ti AS (SELECT token, df,
         |        CAST(${graft.functions.IntLn.iln1e9Sql("n_docs * 2 + 2")} - ${graft.functions.IntLn.iln1e9Sql("df * 2 + 1")} AS DOUBLE) / 1e9 AS idf
         |       FROM (SELECT token, COUNT(*) AS df FROM p GROUP BY token) d0 CROSS JOIN st),
         |mt AS (SELECT DISTINCT surface, unnest(${toksSql("surface")}) AS token FROM m),
         |bk AS (SELECT surface, token FROM (
         |    SELECT mt.surface, mt.token,
         |      ROW_NUMBER() OVER (PARTITION BY mt.surface
         |        ORDER BY ti.df ASC, mt.token ASC) AS krn
         |    FROM mt JOIN ti USING (token)) k
         |  WHERE krn <= 1),
         |ch AS (SELECT token, doc_id FROM (
         |    SELECT token, doc_id, ROW_NUMBER() OVER (PARTITION BY token
         |      ORDER BY tf DESC, doc_id ASC) AS crn FROM p) c
         |  WHERE crn <= 128),
         |cand AS (SELECT DISTINCT bk.surface, ch.doc_id FROM bk JOIN ch USING (token)),
         |sc AS (SELECT c.surface, c.doc_id,
         |    CAST(SUM(CAST(floor(ti.idf * ((CAST(p.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE))) / (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * ((CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE)) + CAST(0.75 AS DOUBLE) * CAST(dlen.dl AS DOUBLE) / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))) * 1e9) AS BIGINT)) AS BIGINT) AS score_fp
         |  FROM cand c
         |  JOIN mt ON mt.surface = c.surface
         |  JOIN p ON p.doc_id = c.doc_id AND p.token = mt.token
         |  JOIN dlen ON dlen.doc_id = c.doc_id
         |  JOIN ti ON ti.token = mt.token
         |  CROSS JOIN st
         |  GROUP BY 1, 2)
         |SELECT surface, doc_id, CAST(score_fp AS DOUBLE) / 1e9 AS score,
         |  CAST(rn AS INTEGER) AS rn
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY surface
         |        ORDER BY score_fp DESC, doc_id ASC) AS rn FROM sc) t
         |WHERE rn <= 5 ORDER BY surface, rn""".stripMargin,
    "q47_phrase_rank" ->
      s"""WITH $tokCte,
         |${textrankCtes(trK)},
         |$spansCte,
         |sc AS (SELECT doc_id, surface, len, COUNT(*) AS cnt
         |       FROM spans GROUP BY 1, 2, 3),
         |mem AS (SELECT doc_id, surface, len, cnt,
         |          unnest(string_split(surface, ' ')) AS token
         |        FROM sc),
         |pj AS (
         |  SELECT m.doc_id, m.surface, m.len, m.cnt,
         |    CAST(SUM(CAST(floor(p."rank" * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 / m.len AS phrase_rank
         |  FROM mem m JOIN pr$trIters p ON p.doc_id = m.doc_id AND p.token = m.token
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_id, surface, CAST(len AS INTEGER) AS len,
         |  CAST(cnt AS BIGINT) AS cnt, phrase_rank, CAST(prn AS INTEGER) AS rn
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |        ORDER BY phrase_rank DESC, surface ASC) AS prn FROM pj) t
         |WHERE prn <= 30 ORDER BY doc_id, rn""".stripMargin,
    "q48_global_spans" ->
      s"""WITH $spansCte,
         |$phraseGazCte,
         |m AS (
         |  SELECT s.doc_id, s.pos, s.surface, s.len, g.entity
         |  FROM spans s JOIN gz g ON s.surface = g.surface)
         |SELECT doc_id, CAST(pos AS INTEGER) AS pos, surface,
         |  CAST(len AS INTEGER) AS len, entity
         |FROM m s
         |WHERE NOT EXISTS (SELECT 1 FROM m t
         |  WHERE t.doc_id = s.doc_id
         |    AND (t.len > s.len OR (t.len = s.len AND t.pos < s.pos))
         |    AND t.pos <= s.pos + s.len - 1 AND s.pos <= t.pos + t.len - 1)
         |ORDER BY doc_id, pos""".stripMargin,
    // Hybrid fusion mirror: signal A = q34's prior×cosine CTEs at top-5;
    // signal B = q46's fuzzy chain mapped alias→entity (min dist); signal C
    // = q66's BM25 chain over the part-name corpus (single-token queries, so
    // surface = token). RRF sum is the same fixed left-to-right chain of
    // 1/(60+rn) doubles Spark evaluates.
    "q79_hybrid_linking" ->
      s"""WITH $tokCte,
         |$gazCte,
         |dtok AS (SELECT DISTINCT doc_id, token FROM tok),
         |dt AS (SELECT DISTINCT token FROM dtok),
         |ca AS (
         |  SELECT DISTINCT d.doc_id, d.token, g.entity, g.prior
         |  FROM dtok d JOIN gz g ON d.token = g.alias),
         |nv AS (SELECT COUNT(*) AS nvec FROM embeddings),
         |dv AS (
         |  SELECT d.doc_id, e.embedding AS ctx_emb
         |  FROM documents d CROSS JOIN nv
         |  JOIN embeddings e ON e.vec_id = d.doc_id % nvec),
         |ev AS (
         |  SELECT p_partkey AS entity, e.embedding AS ent_emb
         |  FROM part CROSS JOIN nv
         |  JOIN embeddings e ON e.vec_id = p_partkey % nvec),
         |saf AS (SELECT doc_id, token, entity, rn FROM (
         |    SELECT c.doc_id, c.token, c.entity,
         |      ROW_NUMBER() OVER (PARTITION BY c.doc_id, c.token
         |        ORDER BY c.prior * ${cosSql("ctx_emb", "ent_emb")} DESC,
         |                 c.entity ASC) AS rn
         |    FROM ca c JOIN dv USING (doc_id) JOIN ev USING (entity)) t
         |  WHERE rn <= 5),
         |ae AS (SELECT DISTINCT unnest(${toksSql("p_name")}) AS alias,
         |         p_partkey AS entity FROM part),
         |abg AS (SELECT alias,
         |          unnest(list_distinct([alias[i:i+1] for i in range(1, len(alias))])) AS bg
         |        FROM (SELECT DISTINCT alias FROM ae) al),
         |bgf AS (SELECT bg, COUNT(*) AS freq FROM abg GROUP BY bg),
         |tbg AS (SELECT token,
         |          unnest(list_distinct([token[i:i+1] for i in range(1, len(token))])) AS bg
         |        FROM dt),
         |fkeys AS (SELECT token, bg FROM (
         |    SELECT t.token, t.bg, ROW_NUMBER() OVER (PARTITION BY t.token
         |      ORDER BY f.freq ASC, t.bg ASC) AS krn
         |    FROM tbg t JOIN bgf f USING (bg)) k
         |  WHERE krn <= 2),
         |fcand AS (SELECT DISTINCT k.token, a.alias FROM fkeys k JOIN abg a USING (bg)),
         |fver AS (SELECT token, alias, dist FROM (
         |    SELECT token, alias, dist, ROW_NUMBER() OVER (PARTITION BY token
         |      ORDER BY dist ASC, alias ASC) AS rn
         |    FROM (SELECT token, alias, levenshtein(token, alias) AS dist FROM fcand
         |          WHERE abs(len(token) - len(alias)) <= 2
         |            AND levenshtein(token, alias) <= 2) v) t
         |  WHERE rn <= 5),
         |sbf AS (SELECT token, entity, rn FROM (
         |    SELECT token, entity, ROW_NUMBER() OVER (PARTITION BY token
         |      ORDER BY dist ASC, entity ASC) AS rn
         |    FROM (SELECT f.token, a.entity, MIN(f.dist) AS dist
         |          FROM fver f JOIN ae a USING (alias) GROUP BY 1, 2) g) t
         |  WHERE rn <= 5),
         |cw0 AS (SELECT p_partkey AS doc_id, ${toksSql("p_name")} AS w FROM part),
         |cp AS (SELECT doc_id, token, COUNT(*) AS tf
         |       FROM (SELECT doc_id, unnest(w) AS token FROM cw0) t GROUP BY 1, 2),
         |cdlen AS (SELECT doc_id, SUM(tf) AS dl FROM cp GROUP BY 1),
         |cst AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM cdlen),
         |cti AS (SELECT token, df,
         |         CAST(${graft.functions.IntLn.iln1e9Sql("n_docs * 2 + 2")} - ${graft.functions.IntLn.iln1e9Sql("df * 2 + 1")} AS DOUBLE) / 1e9 AS idf
         |        FROM (SELECT token, COUNT(*) AS df FROM cp GROUP BY token) d0 CROSS JOIN cst),
         |cbk AS (SELECT t.token FROM dt t JOIN cti USING (token)),
         |ccand AS (SELECT DISTINCT b.token, p.doc_id AS entity
         |          FROM cbk b JOIN cp p USING (token)),
         |csc AS (SELECT c.token, c.entity,
         |    CAST(SUM(CAST(floor(cti.idf * ((CAST(p.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE))) / (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * ((CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE)) + CAST(0.75 AS DOUBLE) * CAST(cdlen.dl AS DOUBLE) / (CAST(cst.sum_dl AS DOUBLE) / CAST(cst.n_docs AS DOUBLE))))) * 1e9) AS BIGINT)) AS BIGINT) AS score_fp
         |  FROM ccand c
         |  JOIN cp p ON p.doc_id = c.entity AND p.token = c.token
         |  JOIN cdlen ON cdlen.doc_id = c.entity
         |  JOIN cti ON cti.token = c.token
         |  CROSS JOIN cst
         |  GROUP BY 1, 2),
         |scf AS (SELECT token, entity, rn FROM (
         |    SELECT token, entity, ROW_NUMBER() OVER (PARTITION BY token
         |      ORDER BY score_fp DESC, entity ASC) AS rn FROM csc) t
         |  WHERE rn <= 5),
         |cands AS (
         |  SELECT doc_id, token, entity FROM saf
         |  UNION
         |  SELECT t.doc_id, s.token, s.entity FROM dtok t JOIN sbf s USING (token)
         |  UNION
         |  SELECT t.doc_id, s.token, s.entity FROM dtok t JOIN scf s USING (token)),
         |f AS (
         |  SELECT c.doc_id, c.token, c.entity,
         |    COALESCE(CAST(1 AS DOUBLE) / (60 + a.rn), CAST(0 AS DOUBLE))
         |    + COALESCE(CAST(1 AS DOUBLE) / (60 + b.rn), CAST(0 AS DOUBLE))
         |    + COALESCE(CAST(1 AS DOUBLE) / (60 + s.rn), CAST(0 AS DOUBLE)) AS rrf
         |  FROM cands c
         |  LEFT JOIN saf a ON a.doc_id = c.doc_id AND a.token = c.token
         |                 AND a.entity = c.entity
         |  LEFT JOIN sbf b ON b.token = c.token AND b.entity = c.entity
         |  LEFT JOIN scf s ON s.token = c.token AND s.entity = c.entity)
         |SELECT doc_id, token, entity, rrf, CAST(rn AS INTEGER) AS rn
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, token
         |        ORDER BY rrf DESC, entity ASC) AS rn FROM f) t
         |WHERE rn <= 3 ORDER BY doc_id, token, rn""".stripMargin,
    "q49_unlinked_review" ->
      s"""WITH $tokCte,
         |$gazCte,
         |$candCte,
         |$linkCte,
         |${textrankCtes(30)}
         |SELECT p.doc_id, p.token AS phrase, p."rank" AS phrase_rank, p.rn
         |FROM topk p
         |LEFT JOIN (SELECT DISTINCT doc_id, token FROM links) l
         |  ON l.doc_id = p.doc_id AND l.token = p.token
         |WHERE l.doc_id IS NULL
         |ORDER BY p.doc_id, p.rn""".stripMargin
  )
}
