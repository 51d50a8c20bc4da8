package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.text.TextOps

/** Deduplication operators for the 100 TB training-data surface (north star):
  * exact (hash group-by), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - Exact dedup is one hash aggregation on a 16-byte fingerprint — the
  *    shuffle moves fingerprints, never document text.
  *  - Exact Jaccard joins docs on their rarest (prefix) shingles only;
  *    the all-pairs shingle join is a test-scope oracle.
  *  - MinHash+LSH is the scale path: k portable hash functions → per-band
  *    bucket join → candidate pairs ≪ all pairs → exact-Jaccard verify on
  *    candidates only. All hashes are md5-derived (see
  *    [[TextOps.tokenHash60]]) so every stage has a DuckDB oracle twin.
  *  - SimHash reduces each doc to one integer; near-dup = small Hamming
  *    distance; computed per row by the native [[graft.functions.SimhashText]]
  *    (no shuffle).
  */
object DedupOps {

  /** Exact dedup: canonical = lowest doc_id per normalized-text fingerprint.
    * Adds `fp_md5` and `is_canonical`. One window over the 16-byte
    * fingerprint — no aggregate+join round-trip; project unneeded columns
    * away BEFORE calling this so the shuffle moves fingerprints, not text. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.withColumn("fp_md5", TextOps.fingerprintMd5(col(textCol)))
      .withColumn("is_canonical",
        col(idCol) === min(col(idCol)).over(Window.partitionBy(col("fp_md5"))))
  }

  /** CORPUS-LEVEL SEGMENT DEDUP — the C4/RefinedWeb "duplicated line
    * removal" pass, at fixed-token-segment granularity (the driver corpus
    * carries no newlines, so the segment IS the line unit): split every
    * document into non-overlapping `segTokens`-token segments, keep each
    * distinct segment only at its FIRST occurrence in the corpus
    * (lexicographically smallest (doc_id, seg_idx)), and reassemble each
    * document's retained text from its surviving segments in order.
    * Unlike [[exactDedup]] (whole-document granularity) this rewrites
    * documents: boilerplate repeated across the corpus disappears from
    * every copy but the first, while unique prose stays.
    *
    * Scale shape: ONE window shuffle, partitioned on the segment's 16-byte
    * md5 (never the segment text as the key), then one group-back on
    * doc_id. Segment text crosses the wire once per occurrence — the
    * unavoidable minimum for an op that rewrites text — and the window
    * state per key is just (doc_id, seg_idx) pairs of one segment's
    * occurrence list. No driver-side state, no all-pairs anything.
    *
    * Output: (doc_id, n_segs, n_kept, retained_text); docs with zero
    * tokens have no segments and are absent (mirrors chunking/q55). */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
                   segTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = docs.select(col(idCol).as("doc_id"),
      posexplode(TextOps.chunks(col(textCol), segTokens, 0))
        .as(Seq("seg_idx", "seg")))
    segs
      .withColumn("keep", row_number().over(
        Window.partitionBy(md5(col("seg")))
          .orderBy(col("doc_id"), col("seg_idx"))) === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(col("keep").cast("long")).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg")),
          " ").as("retained_text"))
  }

  /** Prefix-filtered exact Jaccard (same result set as the all-pairs
    * shingle join, law-pinned in DedupSpec): shingles get a global rare-first total
    * order (frequency, then lexicographic); a doc's PREFIX is its first
    * `n - ceil(t·n) + 1` shingles in that order. Pigeonhole: any pair with
    * J ≥ t shares a prefix shingle, so the candidate join runs on prefixes
    * only — and because prefixes are the RAREST shingles, the quadratic
    * bucket blowup concentrates exactly where buckets are smallest. The
    * survivors are verified with an exact common-count. The all-pairs
    * shingle self-join this replaces is the textbook similarity-join
    * bottleneck at corpus scale. */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-doc shingle SET as an array column (map-side, no shuffle): the
    // prefix filter works on the exploded form, the exact verify intersects
    // the arrays per candidate pair — two equi-joins + per-row expression
    // work instead of re-exploding both sides and re-aggregating counts.
    // r17: (a) the scan is FANNED OUT (guide §2.5 — the single-file scan
    // serialized the shingle build onto one core); (b) eagerly materialized
    // via localCheckpoint, NOT a lazy cache — docSets feeds THREE broadcast
    // subtrees (freq under AQE, both verify sides), whose concurrent
    // driver-pool build jobs each recomputed the full shingle pass when
    // they lost the lazy-cache block race (measured: 6 × 3.7 s single-task
    // rebuilds of this subtree inside one q22 run — the hybridLinking
    // lesson applied here).
    val docSets = graft.sources.Layout.fanOutScan(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        graft.text.TextOps.shingles(col(textCol), n).as("sh_arr"))
      .localCheckpoint()
    val sh = docSets.select(col("doc_id"), size(col("sh_arr")).as("n_sh"),
      explode(col("sh_arr")).as("shingle"))
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("freq"))
    val ranked = sh.join(freq, "shingle")
      .withColumn("rnk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("freq").asc, col("shingle").asc)))
      .filter(col("rnk") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
      .select(col("doc_id"), col("shingle"))
    val cands = ranked.as("a").join(ranked.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
    val pairs = cands
      .join(docSets.select(col("doc_id").as("da"), col("sh_arr").as("sa")), Seq("da"))
      .join(docSets.select(col("doc_id").as("db"), col("sh_arr").as("sb")), Seq("db"))
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
    pairs.localCheckpoint()
  }

  /** Modulus of the universal MinHash family (2^28: products stay far below
    * BIGINT overflow, which DuckDB raises on rather than wrapping). */
  val minhashMod = 268435456L

  /** Portable MinHash family: ONE md5 per shingle (hs = tokenHash60 mod 2^28)
    * then k universal hashes h_i = ((2i+1)·hs + 7919·i) mod 2^28 — pure
    * integer arithmetic per extra hash instead of k md5 calls (k× cheaper;
    * was the dominant cost of the LSH pipeline). */
  def minhashBase(shingle: Column): Column =
    TextOps.tokenHash60(shingle) % minhashMod

  def minhashHash(i: Column, hs: Column): Column =
    ((i.cast("long") * 2L + 1L) * hs + i.cast("long") * 7919L) % minhashMod

  /** Per-band bucket strings from an array signature — a pure expression
    * (no shuffle): bucket b = md5 of the "|"-joined decimal slice
    * sig[b·r .. b·r+r-1]. Byte-identical to the historical collect_list
    * banding, so every DuckDB oracle twin is untouched.
    *
    * k must divide evenly into bands: a remainder would silently drop the
    * trailing signature positions (the historical long form made a partial
    * final band from them), so a non-divisible config is a construction
    * error, not a quiet behavior change. */
  def bandBuckets(sig: Column, k: Int, rowsPerBand: Int): Column = {
    require(k % rowsPerBand == 0,
      s"bandBuckets: k=$k must be a multiple of rowsPerBand=$rowsPerBand " +
        "(a remainder would silently drop trailing signature positions)")
    array((0 until k / rowsPerBand).map { b =>
      md5(array_join(transform(slice(sig, b * rowsPerBand + 1, rowsPerBand),
        x => x.cast("string")), "|"))
    }: _*)
  }

  /** Exploded (doc_id, band, bucket, prefix) banding table over array
    * signatures — map-side only. `prefix` carries the doc's LOWER-band
    * buckets for first-collision-band emission: a bucket join that also
    * requires NO lower band to collide emits each candidate pair exactly
    * once, with no pair-level distinct.
    *
    * The declared k must match the true signature length: a mismatch would
    * slice short/overlong arrays into different md5 buckets instead of
    * failing, so the plan carries a per-row assert_true (O(1) size check,
    * kept alive as a filter condition so Catalyst cannot prune it). */
  def bandedBuckets(sigA: DataFrame, k: Int, rowsPerBand: Int): DataFrame =
    sigA
      .filter(assert_true(size(col("sig")) === k,
        lit(s"bandedBuckets: signature length does not match declared k=$k"))
        .isNull)
      .select(col("doc_id"), bandBuckets(col("sig"), k, rowsPerBand).as("bs"))
      .select(col("doc_id"), col("bs"),
        posexplode(col("bs")).as(Seq("pos", "bucket")))
      .select(col("doc_id"), col("pos").as("band"), col("bucket"),
        slice(col("bs"), lit(1), col("pos")).as("prefix"))

  /** Per-position signature agreement estimate between two array
    * signatures: |{i : a[i] = b[i]}| / k (exact double — n/k with k a power
    * of two). The per-pair verify is one expression over two array columns
    * instead of a k-row join per side. */
  def sigAgreement(a: Column, b: Column, k: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), (c: Column) => c))
      .cast("double") / k

  /** Candidate generation + verification over PRE-COMPUTED array signatures
    * (doc_id, sig): band buckets → first-collision-band candidates → exact
    * per-position agreement estimate. LAZY — the caller owns caching and
    * materialization of `sig` (it is referenced three times in the plan).
    * Exists so incremental callers (q125) that already paid for the
    * signatures never re-shingle the text.
    *
    * First-collision-band emission: each banded row carries its LOWER-band
    * bucket array (`prefix` from [[bandedBuckets]] — a map-side slice, no
    * groupBy), and the bucket join keeps a collision only when NO lower
    * band also collides — exactly one emission per pair by construction,
    * so there is no pair-level distinct. The candidate SET is unchanged
    * (any colliding pair collides in a first band), so the q23/q52/q125
    * family oracles are result-identical. The verify is two per-doc-grain
    * equi-joins plus one [[sigAgreement]] expression — the historical long
    * form joined k rows per side per candidate and re-aggregated. */
  def minhashPairsFromSignatures(sig: DataFrame, k: Int, rowsPerBand: Int,
                                 threshold: Double): DataFrame = {
    val banded = bandedBuckets(sig, k, rowsPerBand)
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(!exists(zip_with(col("a.prefix"), col("b.prefix"),
        (x, y) => x === y), identity[Column]))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    cands
      .join(sig.select(col("doc_id").as("da"), col("sig").as("sa")), Seq("da"))
      .join(sig.select(col("doc_id").as("db"), col("sig").as("sb")), Seq("db"))
      .select(col("da"), col("db"),
        sigAgreement(col("sa"), col("sb"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** CROSS-corpus candidate generation + verification over two
    * pre-computed array-signature tables (doc_id, sig) — the batch×corpus
    * probe shape (q125 incremental dedup, q129 fuzzy decontamination):
    * side A's bands probe side B's bucket table, side B is NEVER
    * self-joined, so per-increment cost scales with A, not B. Same
    * first-collision-band emission as the self-join form (each (a, b)
    * candidate is emitted only in its FIRST colliding band via the prefix
    * check — no pair-level distinct), same one-expression [[sigAgreement]]
    * verify over the two per-doc arrays. LAZY — callers own caching of the
    * signature inputs (each is referenced twice in the plan).
    * Output: (ida, idb, est_jaccard) with est >= threshold. */
  def crossPairsFromSignatures(sigA: DataFrame, sigB: DataFrame, k: Int,
                               rowsPerBand: Int, threshold: Double): DataFrame = {
    val cands = bandedBuckets(sigA, k, rowsPerBand).as("a")
      .join(bandedBuckets(sigB, k, rowsPerBand).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .filter(!exists(zip_with(col("a.prefix"), col("b.prefix"),
        (x, y) => x === y), identity[Column]))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
    cands
      .join(sigA.select(col("doc_id").as("ida"), col("sig").as("sa")), Seq("ida"))
      .join(sigB.select(col("doc_id").as("idb"), col("sig").as("sb")), Seq("idb"))
      .select(col("ida"), col("idb"),
        sigAgreement(col("sa"), col("sb"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Per-doc array signatures straight off the text column via the NATIVE
    * fused expression ([[graft.functions.MinhashSignature]]) — value- and
    * row-set-identical to the relational explode+groupBy form (the
    * test-scope oracle, law-pinned in DedupSpec), which emits one row per
    * doc with ≥ 1 shingle, so the native form filters on the same
    * `size(tokens) ≥ n` condition (≥ n tokens ⇔ ≥ 1 shingle) BEFORE the
    * fan-out, where it is a cheap split in the pushed-down scan.
    *
    * Why (guide §2.4 remove-the-shuffle + §4.1 prefer-codegen): the
    * relational form explodes every shingle OCCURRENCE and shuffles the
    * (doc_id, hs) table into k min-aggregates — a corpus-scale exchange
    * whose map side (one md5 per shingle) also ran single-task on narrow
    * scans. The native expression computes the identical signature in one
    * fused per-row loop: no explode, no exchange, and the md5 work rides
    * the fanned-out scan ([[graft.sources.Layout.fanOutScan]]). */
  def minhashSignatureRows(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, k: Int): DataFrame = {
    graft.sources.Layout.fanOutScan(
        docs.filter(org.apache.spark.sql.functions.size(
          TextOps.tokens(col(textCol))) >= n), col(idCol))
      .select(col(idCol).as("doc_id"),
        GraftFunctions.minhashSignature(col(textCol), n, k).as("sig"))
  }

  /** Full MinHash+LSH near-dup pipeline: candidates from band buckets,
    * verified with the exact per-position signature agreement estimate.
    * Output: (da, db, est_jaccard) with est >= threshold.
    *
    * r17: signatures come from [[minhashSignatureRows]] (fused native
    * expression over the fanned-out scan — one corpus exchange REMOVED vs
    * the explode+groupBy form; values identical, oracles untouched), and
    * the signature table is eagerly materialized (localCheckpoint, not a
    * lazy cache) because it feeds both banded self-join sides plus two
    * verify joins — under AQE those sides broadcast, and concurrent
    * broadcast-build jobs racing a lazy cache each recompute the signature
    * pass (the q22/hybridLinking lesson). */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, k: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val sig = minhashSignatureRows(docs, idCol, textCol, n, k).localCheckpoint()
    minhashPairsFromSignatures(sig, k, rowsPerBand, threshold).localCheckpoint()
  }

  /** [[GraftFunctions.minhashSignature]] under its older name. Main code
    * calls the builder directly; this name stays because the `perfbench/`
    * probes compile against it. */
  def minhashSignatureNative(text: Column, n: Int, k: Int): Column =
    GraftFunctions.minhashSignature(text, n, k)

  /** Per-doc SimHash signatures (doc_id, simhash) for every doc with at
    * least one token, `sig` being [[GraftFunctions.simhash32]] or
    * [[GraftFunctions.simhash60]]: one native per-row expression over the
    * fanned-out scan, no shuffle. The row set is the relational form's
    * (a doc without tokens has no signature row), so the SimHash oracles
    * in DedupSpec and the q24/q202/q222 DuckDB mirrors hold unchanged. */
  def simhashRows(docs: DataFrame, idCol: String, textCol: String,
                  sig: Column => Column): DataFrame =
    graft.sources.Layout.fanOutScan(
        docs.filter(size(TextOps.tokens(col(textCol))) >= 1), col(idCol))
      .select(col(idCol).as("doc_id"), sig(col(textCol)).as("simhash"))

  /** WINNOWING document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
    * the MOSS algorithm): hash every positional token k-gram (ONE md5 per
    * gram, [[minhashBase]]'s 2^28 domain), slide a window of `w`
    * consecutive gram hashes, keep each window's MINIMUM, and the doc's
    * fingerprint is the DISTINCT set of selected values. Guarantee: any two
    * docs sharing a token run of ≥ w + k − 1 tokens share a fingerprint —
    * winnowing is the positional/local complement of MinHash (which
    * sketches global set overlap and can miss a single long shared
    * passage between otherwise-different docs).
    *
    * The tie rule: classic winnowing picks the RIGHTMOST minimal position;
    * since the fingerprint is the distinct value set, any tie rule selects
    * the same VALUES — position bookkeeping is dropped, which is what
    * makes the operator expressible as pure per-row expressions (the gram
    * hash array is bound ONCE as a lambda value through an outer
    * single-element `transform`, so the md5s are not re-run per window —
    * then every window min slices the bound array; O(m·w)
    * arithmetic per doc, no shuffle).
    *
    * Docs with fewer than w gram hashes (< w + k − 1 tokens) yield NO
    * fingerprints — below the guarantee's detectable-match length.
    * Output: (doc_id, fp) exploded, distinct per doc. */
  def winnowFingerprints(docs0: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    // fan out the scan: one md5 per gram × O(m·w) window mins is the
    // suite's densest per-row expression — measured 3.9 s in ONE task on
    // the single-file driver scan (guide §2.5)
    val docs = graft.sources.Layout.fanOutScan(docs0, col(idCol))
    val hs = transform(TextOps.ngramsOf(TextOps.tokens(col(textCol)), k),
      g => minhashBase(g))
    val fps = get(transform(array(hs), hsV =>
      when(size(hsV) >= w,
        array_distinct(transform(sequence(lit(1), size(hsV) - (w - 1)),
          i => array_min(slice(hsV, i, lit(w))))))
        .otherwise(array().cast("array<long>"))), lit(0))
    docs.select(col(idCol).as("doc_id"), explode(fps).as("fp"))
  }

  /** REPEATED-SPAN detection — the exact-substring dedup flavor of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2022), re-expressed relationally: suffix-array substring search
    * does not distribute, but its OUTPUT contract (every ≥W-token run that
    * occurs more than once in the corpus, at any alignment) is reachable
    * with sliding-window hashes. Every W-token window (stride 1) is
    * hashed; a window whose hash occurs ≥2 times corpus-wide (ACROSS docs
    * or repeated WITHIN one doc) is a duplicated window; per doc,
    * overlapping/adjacent duplicated windows merge into maximal spans.
    * Unlike [[segmentDedup]] (fixed aligned segments) this catches repeats
    * at ANY offset — the boilerplate case aligned segmentation misses.
    *
    * Scale shape: the window table is one map-side expression pass
    * (O(tokens·W) transient per row — bounded by row size, never shuffled
    * as text: only (doc_id, pos, 16-byte md5) rows leave the scan). One
    * count shuffle on the hash (map-side combine), one join back on the
    * hash (AQE-sized; the duplicated-hash side is corpus-dependent, NOT
    * broadcast by hint — boilerplate-heavy corpora make it large), one
    * per-doc window for the island merge (state = one doc's duplicated
    * positions). No suffix array, no driver state.
    *
    * Output: (doc_id, span_start, span_end, n_wins) — token offsets,
    * end exclusive, n_wins = duplicated windows merged into the span. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = graft.sources.Layout.fanOutScan(docs, col(idCol))
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("t")) - w),
          i => md5(array_join(slice(col("t"), i + lit(1), lit(w)), " "))))
          .as(Seq("pos", "h")))
    val dupH = wins.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    wins.join(dupH, Seq("h"))
      .select(col("doc_id"), col("pos"))
      .withColumn("prev_max_end", max(col("pos") + w)
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("prev_max_end").isNull || col("pos") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("ni")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + w).as("span_end"),
        count(lit(1)).as("n_wins"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_wins"))
  }
}
