package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** MATERIALIZED tokenized views of the corpus snapshot — the exploded
  * (doc_id, source, shingle) and (doc_id, source, token) long tables,
  * write-once beside the signature/closure/embed artifacts (r16 verdict
  * item 5).
  *
  * The reference tokenizes each document once at asset boundaries and
  * every downstream analysis consumes the parsed columns
  * (/root/reference/dagster_icij/assets.py:86-98); the engine's
  * text-diagnostics family (Good–Turing q215, source-similarity q163,
  * novelty q166, Zipf q216, lexical-diversity q192) each re-exploded the
  * corpus into shingles/tokens PER RUN — five regex-tokenize passes over
  * the same snapshot whose signature artifact build had already paid a
  * sixth. In production the tokenized view is materialized once per
  * snapshot (every warehouse does this — it is the "parsed" layer of a
  * bronze/silver layout) and the diagnostics become scans of a narrow
  * columnar table. Values are IDENTICAL to the in-plan explode
  * (deterministic tokenizer), so every re-pointed query keeps its oracle
  * and its hash.
  *
  * Same staleness contract as [[DedupClosure]] (shared [[Artifacts]]
  * machinery): the table name embeds the source-file-metadata fingerprint,
  * so a regenerated corpus forces a rebuild and a re-run reuses the
  * artifact. Bucketed by doc_id — doc-keyed consumers (signature builds,
  * per-doc rollups) join exchange-free; vocabulary-keyed aggregations
  * shuffle exactly what they would have shuffled in-plan, minus the
  * tokenize.
  */
object TokenArtifact {

  /** Fingerprinted 3-shingle table name. */
  def shingleTableName(docs: DataFrame, dir: String): String =
    s"graft_shingle3_${Artifacts.sourceFingerprint(docs, dir, "doc_id")}"

  /** Fingerprinted token table name. */
  def tokenTableName(docs: DataFrame, dir: String): String =
    s"graft_tokens_${Artifacts.sourceFingerprint(docs, dir, "doc_id")}"

  /** Write-once (doc_id, source, shingle) materialization — each doc's
    * distinct 3-shingles exploded, plus the source column the source-grain
    * diagnostics group on. */
  def materializeShingles(spark: SparkSession, docs: DataFrame, dir: String,
                          buckets: Int = 8): String =
    Artifacts.materializeBucketed(spark, shingleTableName(docs, dir),
      "doc_id", buckets)(
      Layout.fanOutScan(docs, col("doc_id"))
        .select(col("doc_id"), col("source"),
          explode(TextOps.shingles(col("text"), 3)).as("shingle")))

  /** Write-once (doc_id, source, token) materialization — whitespace
    * tokens with repeats (the exact [[TextOps.tokens]] stream). */
  def materializeTokens(spark: SparkSession, docs: DataFrame, dir: String,
                        buckets: Int = 8): String =
    Artifacts.materializeBucketed(spark, tokenTableName(docs, dir),
      "doc_id", buckets)(
      Layout.fanOutScan(docs, col("doc_id"))
        .select(col("doc_id"), col("source"),
          explode(TextOps.tokens(col("text"))).as("token")))

  /** The shingle view (doc_id, source, shingle), building on first use. */
  def readShingles(spark: SparkSession, docs: DataFrame, dir: String): DataFrame =
    spark.table(materializeShingles(spark, docs, dir))

  /** The token view (doc_id, source, token), building on first use. */
  def readTokens(spark: SparkSession, docs: DataFrame, dir: String): DataFrame =
    spark.table(materializeTokens(spark, docs, dir))
}
