package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Entity-linking operators (SURVEY.md §2 V2/V3/V5 + W3): the reference's
  * gazetteer NER (`EntityRuler`, dev.ipynb cells 112-116), alias-prior
  * candidate generation (`get_alias_candidates`) and context-embedding
  * disambiguation (`kb.disambiguate`, dev.ipynb cells 73-88), re-expressed as
  * relational plans.
  *
  * Scale design:
  *  - the gazetteer is produced by aggregation and capped to `maxCandidates`
  *    per alias (candidate generation, not a full index scan) — it stays
  *    small enough to BROADCAST, so mention matching is a broadcast hash join
  *    against the token stream: no shuffle of the 100 TB document side.
  *  - disambiguation joins candidates to an embedding table on ids (shuffle
  *    on the small candidate set only) and scores with per-row fold math
  *    inside codegen; the argmax is one window per mention.
  */
object EntityLinking {

  /** Weighted alias gazetteer from (alias, entity) observations:
    * P(entity | alias) = cnt / total, capped to the top `maxCandidates`
    * entities per alias (by count desc, entity asc — deterministic).
    * Output: (alias, entity, prior). */
  def gazetteer(obs: DataFrame, aliasCol: String, entityCol: String,
                maxCandidates: Int): DataFrame = {
    val counted = obs.groupBy(col(aliasCol).as("alias"), col(entityCol).as("entity"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("alias"))
    counted
      .withColumn("total", sum(col("cnt")).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("cnt").desc, col("entity").asc)))
      .filter(col("rn") <= maxCandidates)
      .select(col("alias"), col("entity"),
        (col("cnt").cast("double") / col("total")).as("prior"))
  }

  /** Token stream with positions: (doc_id, pos, token). */
  def tokenStream(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "token")))

  /** V5 — gazetteer mention matching: broadcast-join the alias table against
    * the token stream. Output: (doc_id, pos, token, entity, prior) — one row
    * per candidate per mention. */
  def mentionCandidates(docs: DataFrame, gaz: DataFrame): DataFrame =
    mentionCandidatesFromTokens(tokenStream(docs, "doc_id", "text"), gaz)

  /** [[mentionCandidates]] over a pre-built (possibly cached) token stream —
    * lets a multi-branch query (e.g. the EL review report) tokenize once and
    * feed both the mention join and TextRank from the same cached table. */
  def mentionCandidatesFromTokens(tokens: DataFrame, gaz: DataFrame): DataFrame =
    tokens
      .join(broadcast(gaz), col("token") === col("alias"))
      .select(col("doc_id"), col("pos"), col("token"), col("entity"), col("prior"))

  /** All n-gram candidate spans up to `maxN` tokens:
    * (doc_id, pos, surface, len) — pos is the 0-based start token. This is
    * the candidate-span generation under gazetteer PHRASE matching
    * (EntityRuler semantics, dev.ipynb cells 112-116): spans are enumerated
    * map-side from the token array, no shuffle — and in ONE scan: the token
    * array is materialized as a column first (an attribute, so the nested
    * lambdas reference a VALUE, not the tokenize subtree — the lambda-CSE
    * trap), then all lengths explode from a single flatten(transform(...)).
    * A per-length union would tokenize every document maxN times. */
  def ngramSpans(docs: DataFrame, maxN: Int): DataFrame =
    spansFromTokenArrays(
      docs.select(col("doc_id"), TextOps.tokens(col("text")).as("w")), maxN)

  /** [[ngramSpans]] over a pre-built (doc_id, pos, token) stream — the
    * multi-branch queries (EL report, phrase rank) cache the token stream
    * for TextRank's iterated joins; rebuilding spans FROM it means the
    * corpus is tokenized once per query instead of twice. The token arrays
    * are reassembled with one groupBy (struct sort on the unique pos), then
    * span enumeration is the same map-side expression work as ngramSpans.
    * Value-identical output (law-tested in NlpSpec). */
  def ngramSpansFromTokens(tokens: DataFrame, maxN: Int): DataFrame =
    spansFromTokenArrays(
      tokens.groupBy(col("doc_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          e => e("token")).as("w")), maxN)

  private def spansFromTokenArrays(docsW: DataFrame, maxN: Int): DataFrame = {
    val w = col("w")
    docsW
      .select(col("doc_id"), w, explode(sequence(lit(1), lit(maxN))).as("len"))
      .select(col("doc_id"), col("len"),
        posexplode(when(size(w) >= col("len"),
          transform(sequence(lit(1), size(w) - col("len") + lit(1)),
            i => concat_ws(" ", slice(w, i, col("len")))))
          .otherwise(array().cast("array<string>"))).as(Seq("pos", "surface")))
      .select(col("doc_id"), col("pos"), col("surface"), col("len"))
  }

  /** Corpus-collocation phrase gazetteer: the `topK` most frequent n-grams
    * per length (count desc, surface asc), entity id = dense rank across the
    * whole gazetteer. Output: (surface, len, entity, freq). */
  def phraseGazetteer(spans: DataFrame, topK: Int): DataFrame = {
    val counted = spans.groupBy(col("surface"), col("len"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("len"))
        .orderBy(col("freq").desc, col("surface").asc)))
      .filter(col("rn") <= topK)
    counted.withColumn("entity",
        row_number().over(Window.orderBy(col("len").asc, col("rn").asc)))
      .select(col("surface"), col("len"), col("entity"), col("freq"))
  }

  /** V5 phrase matching with LONGEST-MATCH-per-start resolution (the
    * EntityRuler rule restricted to spans sharing a start token — fully
    * relational; the reference's global greedy overlap pruning is
    * order-dependent and not well-defined under parallel evaluation).
    * Output: (doc_id, pos, surface, len, entity). */
  def phraseMentions(spans: DataFrame, gaz: DataFrame): DataFrame =
    spans.join(broadcast(gaz.select(col("surface"), col("entity"))), Seq("surface"))
      .withColumn("mrn", row_number().over(
        Window.partitionBy(col("doc_id"), col("pos"))
          .orderBy(col("len").desc)))
      .filter(col("mrn") === 1)
      .select(col("doc_id"), col("pos"), col("surface"), col("len"), col("entity"))

  /** V5 via the Aho–Corasick expression ([[graft.functions.AhoCorasickSpans]]):
    * all gazetteer occurrences found in ONE pass over each document's token
    * array — no candidate-span enumeration, no span-table shuffle on the
    * matching side, and no maxN ceiling on pattern length. The gazetteer
    * rides along as literals (KB–MB broadcast state, like every EntityRuler
    * deployment); the span table remains necessary only to BUILD a
    * collocation gazetteer, not to match against one.
    * Output: (doc_id, pos, surface, len, entity) — identical rows to
    * `spans ⋈ gazetteer` (law-tested in NlpSpec, hash-gated in q53). */
  def acMentionSpans(docs: DataFrame, surfaces: Seq[String],
                     entities: Seq[Int]): DataFrame = {
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        explode(GraftFunctions.acSpans(col("w"), surfaces, entities)).as("m"))
      .select(col("doc_id"), col("m.pos").as("pos"),
        concat_ws(" ", slice(col("w"), col("m.pos") + 1, col("m.len"))).as("surface"),
        col("m.len").as("len"), col("m.entity").as("entity"))
  }

  /** Driver-compile bound for the AC expression: EntityRuler-style pattern
    * sets are KB–MB scale and broadcast whole to every worker — that is the
    * contract the `.collect()` relies on. Above this bound the literal
    * compile would bloat the driver AND the serialized plan, so matching
    * falls back to the relational span-enumeration join instead. */
  val maxAcPatterns: Int = 100000

  /** GUARDED AC matching — the explicit contract around the one main-path
    * driver collect: compiles the gazetteer into the `ac_spans` expression
    * only while it is KB-scale (≤ `maxPatterns` rows, checked with a
    * `limit(max+1)` probe so an over-bound gazetteer is never fully
    * collected); above the bound it switches to the span-table join with a
    * HINT-FREE gazetteer join (a corpus-scale gazetteer may exceed
    * broadcast limits — AQE decides at runtime). Both paths resolve
    * longest-per-start and return identical rows (law-tested in NlpSpec);
    * the fallback derives its n-gram ceiling from the gazetteer's own
    * longest phrase, so no pattern is silently dropped. */
  def acMentionsGuarded(docs: DataFrame, gaz: DataFrame,
                        maxPatterns: Int = maxAcPatterns): DataFrame = {
    val g = gaz.select(col("surface"), col("entity"))
    val head = g.limit(maxPatterns + 1).collect()
    if (head.length > maxPatterns) {
      val maxN = g.select(max(size(split(col("surface"), " "))))
        .collect()(0).getInt(0)
      resolveLongestPerStart(
        ngramSpans(docs, maxN).join(g, Seq("surface"))
          .select(col("doc_id"), col("pos"), col("surface"), col("len"),
            col("entity")))
    } else {
      val rows = head.sortBy(_.getString(0))
      resolveLongestPerStart(acMentionSpans(docs,
        rows.map(_.getString(0)).toSeq, rows.map(_.getInt(1)).toSeq))
    }
  }

  /** [[phraseMentions]]' longest-match-per-start resolution over any matched
    * span set (doc_id, pos, surface, len, entity). */
  def resolveLongestPerStart(matched: DataFrame): DataFrame =
    matched
      .withColumn("mrn", row_number().over(
        Window.partitionBy(col("doc_id"), col("pos"))
          .orderBy(col("len").desc)))
      .filter(col("mrn") === 1)
      .select(col("doc_id"), col("pos"), col("surface"), col("len"), col("entity"))

  /** V5 with GLOBAL longest-match overlap pruning — the EntityRuler rule
    * (/root/reference/dev.ipynb cells 112-116) in relational form: a matched
    * span survives iff NO other matched span in its doc DOMINATES it, where
    * t dominates s when t overlaps s and t is longer (ties: earlier start).
    * spaCy's filter_spans is a sequential greedy sweep over that same
    * ordering; the dominance rule is its order-independent relational
    * counterpart and agrees with it except on suppression chains (a span
    * beaten only by spans that were themselves beaten), which
    * EntityLinkingSpec pins with a hand-built doc.
    *
    * The anti-join is an equi-join on doc_id with range predicates — matched
    * spans per doc are few (gazetteer hits only), so the per-doc comparison
    * set stays small at any corpus size.
    * Output: (doc_id, pos, surface, len, entity). */
  def phraseMentionsGlobal(spans: DataFrame, gaz: DataFrame): DataFrame = {
    // materialized once: the matched set feeds BOTH sides of the dominance
    // anti-join — without it the span ⋈ gazetteer subtree runs twice
    // (localCheckpoint, not cache: no session cache-registry residue)
    val m = spans
      .join(broadcast(gaz.select(col("surface"), col("entity"))), Seq("surface"))
      .select(col("doc_id"), col("pos"), col("len"), col("surface"), col("entity"))
      .localCheckpoint()
    m.as("s").join(m.as("t"),
        col("t.doc_id") === col("s.doc_id") &&
        (col("t.len") > col("s.len") ||
          (col("t.len") === col("s.len") && col("t.pos") < col("s.pos"))) &&
        col("t.pos") <= col("s.pos") + col("s.len") - 1 &&
        col("s.pos") <= col("t.pos") + col("t.len") - 1,
        "left_anti")
      .select(col("doc_id"), col("pos"), col("surface"), col("len"), col("entity"))
  }

  /** Scored candidate LISTS (no argmax): [[disambiguate]]'s prior × cosine
    * scoring, but keeping the top `topK` candidates per mention key — the
    * vector-signal input to hybrid fusion ([[HybridRetrieval.rrfFuse]]).
    * `candidates` must carry `keyCols`, `entity`, `prior`, and `doc_id` (the
    * context-vector key). `cosineFn` is [[GraftFunctions.cosineSim]] in main
    * code. Output: keyCols ++ (entity, prior, score, rn). */
  def rankedCandidates(candidates: DataFrame, docVecs: DataFrame,
                       entVecs: DataFrame, keyCols: Seq[String], topK: Int,
                       cosineFn: (Column, Column) => Column): DataFrame = {
    val pairCos = candidates.select(col("doc_id"), col("entity")).distinct()
      .join(docVecs, Seq("doc_id"))
      .join(entVecs, Seq("entity"))
      .select(col("doc_id"), col("entity"),
        cosineFn(col("ctx_emb"), col("ent_emb")).as("ctx_cos"))
    candidates
      .join(pairCos, Seq("doc_id", "entity"))
      .withColumn("score", col("prior") * col("ctx_cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col("score").desc, col("entity").asc)))
      .filter(col("rn") <= topK)
      .select(keyCols.map(col) ++ Seq(col("entity"), col("prior"),
        col("score"), col("rn")): _*)
  }

  /** V3/W3 — disambiguation: score = prior × cosine(context embedding,
    * entity embedding), argmax per mention (ties → lower entity id).
    * `docVecs`: (doc_id, ctx_emb); `entVecs`: (entity, ent_emb).
    *
    * The cosine depends only on (doc_id, entity), not on the mention
    * position, so it is computed once per DISTINCT pair and joined back to
    * the mention fan-out — a popular alias appearing 50× in a doc costs one
    * cosine, not 50 — by the native [[GraftFunctions.cosineSim]].
    *
    * TWO-TIER PRIOR BACKOFF: a candidate whose doc or entity has no vector keeps its
    * prior as the score instead of being dropped — the standard graceful
    * degradation when the embedding store lags the entity store — but it
    * ranks STRICTLY BELOW every fully-scored candidate of the same
    * mention (leading `has_cos DESC` sort key). The r16 form scored
    * missing-vector candidates prior·1.0 — the MAXIMUM of the cosine
    * range — so under partial vector coverage the argmax systematically
    * preferred unembedded entities (r16 advice); under this rule the
    * backoff decides only when NO candidate of the mention is scored
    * (rank by prior — the correct vector-free fallback). On a corpus
    * whose vector tables cover every doc/entity (the driver testdata —
    * ids dense modulo nvec) neither tier fires differently and results
    * equal the inner-join form; under an id-strided replica namespace
    * (ScaleBench) the pre-backoff inner joins silently emptied the whole
    * linking output (measured r16: q34 = 0 rows at ×10).
    *
    * Output: (doc_id, pos, token, entity, prior, score). */
  def disambiguate(candidates: DataFrame, docVecs: DataFrame,
                   entVecs: DataFrame): DataFrame = {
    val pairCos = candidates.select(col("doc_id"), col("entity")).distinct()
      .join(docVecs, Seq("doc_id"))
      .join(entVecs, Seq("entity"))
      .select(col("doc_id"), col("entity"),
        GraftFunctions.cosineSim(col("ctx_emb"), col("ent_emb")).as("ctx_cos"))
    val scored = candidates
      .join(pairCos, Seq("doc_id", "entity"), "left")
      .withColumn("score",
        col("prior") * coalesce(col("ctx_cos"), lit(1.0)))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"), col("pos"))
          .orderBy(col("ctx_cos").isNotNull.desc, col("score").desc,
            col("entity").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("pos"), col("token"), col("entity"),
        col("prior"), col("score"))
  }
}
