package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the large-scale training-data-pipeline surface
  * (north star in BASELINE.json; reference NLP surface SURVEY.md §2 V/STR
  * rows): tokenization, language-ID heuristic, quality scoring, document
  * fingerprinting.
  *
  * Everything is built from codegen'd `functions._` expressions — no UDFs —
  * so the whole doc pipeline stays inside WholeStageCodegen and each op has
  * an exact DuckDB oracle twin. Portable hashing discipline: when a hash must
  * match the oracle, derive it from md5 hex (identical across engines) rather
  * than Spark-internal murmur3/xxhash64.
  */
object TextOps {

  /** Whitespace tokenizer: trim, split on runs of whitespace, drop empties. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** BPE-ish token count: letter runs, digit runs, and single symbols —
    * the classic pre-tokenization regex shape. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Stopword lists for the language-ID heuristic (closed, tiny — shipped as
    * literal arrays so the predicate is pure expression, broadcast-free). */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un"))

  /** Per-language stopword hit count over a token array. */
  def langScore(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isin(stopwords.map(lit): _*)))

  /** Language-ID: argmax of stopword hits, first-listed language wins ties,
    * all-zero → "und". Deterministic by construction. */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val scores = langStopwords.map { case (l, sw) => l -> langScore(t, sw) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), el) =>
      when(s === best && best > 0, lit(l)).otherwise(el)
    }
  }

  /** Quality-score feature columns (ratios over counts — all integer-derived
    * doubles, so oracle-exact). */
  def nTokens(text: Column): Column = size(tokens(text))
  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    val en = langStopwords.toMap.apply("en")
    langScore(t, en).cast("double") / greatest(size(t), lit(1))
  }
  def alphaRatio(text: Column): Column =
    (length(regexp_replace(lower(text), "[^a-z]", "")).cast("double")
      / greatest(length(text), lit(1)))
  def avgWordLen(text: Column): Column = {
    val t = tokens(text)
    (aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double")
      / greatest(size(t), lit(1)))
  }

  /** Composite quality score in [0,1]: length saturation + stopword signal +
    * alphabetic purity + word-length sanity. Fixed weights; the exact formula
    * is mirrored in the oracle SQL. */
  def qualityScore(text: Column): Column =
    lit(0.3) * least(nTokens(text).cast("double") / 100.0, lit(1.0)) +
    lit(0.3) * stopwordRatio(text) +
    lit(0.2) * alphaRatio(text) +
    lit(0.2) * (lit(1.0) - least(avgWordLen(text) / 10.0, lit(1.0)))

  /** Exact-dup fingerprint: md5 of whitespace-normalized lowercase text. */
  def fingerprintMd5(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Portable 60-bit token hash: first 15 hex digits of md5, as a long.
    * Identical in DuckDB via CAST('0x' || substr(md5(t), 1, 15) AS BIGINT). */
  def tokenHash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** Rolling (Karp-Rabin-style) fingerprint over the token stream:
    * fold acc = (acc * 31 + h(token) mod 2^28) mod (1e9+7). Bounded operands
    * keep it overflow-free on both engines (DuckDB errors on BIGINT overflow
    * rather than wrapping, so wrap-around hashing is not portable). */
  def fingerprintRolling(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => (acc * 31L + pmod(tokenHash60(t), lit(1L << 28))) % 1000000007L)

  /** Word n-gram shingles ("|"-joined, distinct) — the dedup unit where the
    * n-gram STRING is needed: it is output, or it feeds a salted hash (the
    * Bloom decontamination of q153/q226, the shingle artifact of
    * [[graft.sources.TokenArtifact]]). Set-overlap work (exact Jaccard,
    * gram-overlap decontamination, MinHash) uses the native hashed form,
    * [[graft.functions.GraftFunctions.shingleHashes]] = the sorted distinct
    * [[tokenHash60]] of these strings. Docs shorter than n yield an empty
    * array. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(ngramsOf(tokens(text), n))

  /** Non-distinct "|"-joined word n-grams over an already-computed token
    * array — the frequency-counting twin of [[shingles]] (which dedups):
    * repetition statistics need every occurrence, not the set. Arrays
    * shorter than n yield an empty array.
    *
    * `t` is bound ONCE as the element of a single-element outer
    * `transform` (the [[graft.dedup.DedupOps.winnowFingerprints]] idiom):
    * higher-order functions are interpreted, so a lambda that named `t`
    * directly would re-evaluate it — for `tokens(text)`, re-split the
    * text — once per n-gram. */
  def ngramsOf(t: Column, n: Int): Column =
    get(transform(array(t), tV => {
      val sz = org.apache.spark.sql.functions.size(tV)
      when(sz >= n,
        transform(sequence(lit(1), sz - (n - 1)),
          i => concat_ws("|", slice(tV, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }), lit(0))

  /** Fixed-token-window chunking with overlap — the training-pipeline op
    * that splits long documents into model-context-sized pieces. Chunk k
    * (k = 0, 1, …) starts at token k·stride (stride = size − overlap) and
    * carries up to `size` tokens; the count of chunks is ⌈len/stride⌉, so
    * the tail chunk may be short but every token is covered and consecutive
    * chunks share `overlap` tokens. Pure per-row expression work — the
    * explode happens in the caller, nothing shuffles.
    * Output: array<string> of chunk texts (empty for empty docs). */
  def chunks(text: Column, size: Int, overlap: Int): Column = {
    require(overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    val stride = size - overlap
    // the token array bound once, as in [[ngramsOf]]
    get(transform(array(tokens(text)), t => {
      val len = org.apache.spark.sql.functions.size(t)
      val n = ((len + lit(stride - 1)) / lit(stride)).cast("int")
      when(len > 0,
        transform(sequence(lit(0), n - 1),
          k => concat_ws(" ", slice(t, k * stride + 1, lit(size)))))
        .otherwise(array().cast("array<string>"))
    }), lit(0))
  }

  /** PII-style masking: digit runs → `<NUM>`, email-shaped tokens →
    * `<EMAIL>` — the scrubbing pass a training corpus gets before the
    * tokenizer. Chained regexp_replace, codegen-friendly, order fixed
    * (emails first so their digits don't get pre-masked). */
  def maskPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
      "[0-9]+", "<NUM>")

  /** Adjacent-bigram array of the whitespace token stream (docs with < 2
    * tokens yield an empty array — `sequence` must never see a negative
    * stop, it would count DOWN). Struct elements keep the pair split for
    * downstream grouping without re-parsing. */
  def bigrams(text: Column): Column = bigramsOf(tokens(text))

  /** [[bigrams]] over an already-computed token array — callers that also
    * consume the unigram stream tokenize ONCE and feed both. */
  def bigramsOf(t: Column): Column = {
    val n = org.apache.spark.sql.functions.size(t)
    when(n >= 2,
      transform(sequence(lit(1), n - 1),
        i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
  }
}
