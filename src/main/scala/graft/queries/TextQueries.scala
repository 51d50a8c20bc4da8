package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupOps
import graft.dedup.DedupOps.NearDup
import graft.functions.GraftFunctions
import graft.graph.GraphOps
import graft.similarity.BlockedJoin
import graft.sources.DedupClosure
import graft.text.TextOps

/** Text-analysis + dedup queries over `documents` (north-star LLM-pipeline
  * surface). Every query here INCLUDING MinHash+LSH has an exact DuckDB
  * oracle: all hashing is md5-derived (portable), all ratios are
  * integer-count arithmetic.
  *
  * Shared SQL fragments mirror graft.text.TextOps exactly: tokens =
  * whitespace split of trimmed text with empties dropped.
  */
object TextQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** q52/q115: [[DedupClosure.closure]] with its keeper flag, by doc_id. */
  private def dedupCanonical(s: SparkSession, d: String): DataFrame =
    DedupClosure.closure(docs(s, d))
      .select(col("doc_id"), col("canonical"),
        (col("canonical") === col("doc_id")).as("is_canonical"))
      .orderBy(col("doc_id"))

  /** SimHash pairs at Hamming ≤ 3 by pigeonhole band blocking (q202/q222):
    * the [[BlockedJoin]] self form over the signature's 4 bands of
    * `bandBits` bits; the 8-byte signature rides the candidate exchange and
    * is verified exactly. Output: (da, db, hamming), da < db, ordered. */
  private def simhashBandPairs(signatures: DataFrame, bandBits: Int): DataFrame = {
    val sig = signatures.localCheckpoint() // feeds both join sides
    val bands = (0 until 4).map { b =>
      shiftright(col("simhash"), b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))
    }
    BlockedJoin.self(sig, col("doc_id"), bands, col("simhash"), BlockedJoin.hamming)
      .select(col("a").as("da"), col("b").as("db"), col("score").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("da"), col("db"))
  }

  /** id namespace for synthetic "v2 added" docs (q224/q225 snapshot-refresh
    * fixtures): 10¹², far above ScaleBench's replica namespace
    * (IdStride = 10⁷ × multiplier ≤ 100 → max real id < 10⁹ + base), so a
    * ×M replay can never alias an added doc onto a real doc_id. ScaleBench
    * statically asserts this separation before any decade run. */
  val AddedDocIdOffset = 1000000000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Token counting: whitespace tokens + BPE-ish regex tokens (north star).
    "q18_token_stats" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextOps.nTokens(col("text")).as("n_ws_tokens"),
        TextOps.bpeishTokenCount(col("text")).as("n_bpe_tokens"),
        length(col("text")).as("n_chars_computed"))
        .orderBy(col("doc_id"))),

    // Language-ID heuristic: stopword-hit argmax (deterministic tie-break).
    "q19_lang_id" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    // Quality scoring: length/stopword/alpha/word-length ratios.
    "q20_quality_score" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextOps.nTokens(col("text")).as("n_tokens"),
        TextOps.stopwordRatio(col("text")).as("stopword_ratio"),
        TextOps.alphaRatio(col("text")).as("alpha_ratio"),
        TextOps.avgWordLen(col("text")).as("avg_word_len"),
        TextOps.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    // Exact dedup: md5 + rolling fingerprints, canonical flag per group.
    // Both fingerprints are computed map-side and text is projected away
    // BEFORE the dedup window, so the shuffle moves 24 bytes/doc, not docs.
    "q21_fingerprint_dedup" -> ((s, d) =>
      DedupOps.exactDedup(
          docs(s, d).select(col("doc_id"),
            TextOps.fingerprintRolling(col("text")).as("fp_rolling"),
            col("text")),
          "doc_id", "text")
        .select(col("doc_id"), col("fp_md5"), col("fp_rolling"),
          col("is_canonical"))
        .orderBy(col("doc_id"))),

    // SIMHASH NEAR-DUP PAIRS WITH PIGEONHOLE-EXACT BLOCKING — the text
    // twin of the q154/q155 media dedup: q24's 32-bit SimHash sliced into
    // 4 byte-bands; Hamming ≤ 3 pairs MUST agree on ≥ 1 band
    // (pigeonhole), so the band join is a complete blocking scheme, never
    // all-pairs, and the house first-collision-band prefix filter emits
    // each pair exactly once with no distinct. Beside MinHash (q23,
    // est-Jaccard semantics) this is the cheaper/coarser near-dup tier —
    // one 8-byte signature per doc, integer-only verify
    // (bit_count(xor) ≤ 3). All-integer ⇒ oracle bit-exact.
    "q202_simhash_pairs" -> ((s, d) =>
      simhashBandPairs(DedupOps.simhashRows(docs(s, d), "doc_id", "text",
        GraftFunctions.simhash32), 8)),

    // WIDE-SIGNATURE SIMHASH PAIRS — q202's 100 TB scale path, built from
    // its ×100 ScaleBench measurement (SCALE_r14): the 32-bit signature's
    // byte-bands admit ~1.55 % of RANDOM pairs as candidates — an N² term
    // that reached 2.7× the honest output growth and 200 s steady at the
    // decade. Same plan, same one-md5-per-token hash family, 60-bit
    // signature in 4 × 15-bit bands: pigeonhole completeness at
    // Hamming ≤ 3 unchanged, accidental-candidate rate
    // 1−(1−2⁻¹⁵)⁴ ≈ 0.012 %, ~127× less. A stricter tier than ≤ 3/32 by
    // design — the 32-bit tier's extra "pairs" were partly band noise.
    "q222_simhash_wide" -> ((s, d) =>
      simhashBandPairs(DedupOps.simhashRows(docs(s, d), "doc_id", "text",
        GraftFunctions.simhash60), 15)),

    // EVAL-SET N-GRAM COVERAGE — q105's decontamination in the REVERSE
    // direction and as a METRIC, not a filter: for every held-out (src0)
    // document, what fraction of its distinct 8-grams appears anywhere in
    // the training mass — the memorization-exposure number an eval-suite
    // release quotes (coverage ≈ 1 means the benchmark leaks from train
    // even after q105 drops train-side hits). Cardinality note: unlike
    // q105 (small bench set broadcasts), the train gram set here is
    // corpus-sized — the semi-join shuffles on the gram key (or rides
    // q153's Bloom at 100 TB); the eval side stays small.
    "q203_ngram_coverage" -> ((s, d) => {
      val dd = docs(s, d)
      val trainGrams = dd.filter(col("source") =!= "src0")
        .select(explode(GraftFunctions.shingleHashes(col("text"), 8)).as("gram"))
        .distinct()
      val evalG = dd.filter(col("source") === "src0")
        .select(col("doc_id"),
          explode(GraftFunctions.shingleHashes(col("text"), 8)).as("gram"))
      val tot = evalG.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val cov = evalG.join(trainGrams, Seq("gram"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
      tot.join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"))
        .withColumn("coverage",
          col("n_covered").cast("double") / col("n_grams").cast("double"))
        .orderBy(col("doc_id"))
    }),

    // QUALITY × DUP-STATUS PROFILE — the curation question q191 (quality
    // dial) and q126 (dup rate) each answer half of: does near-dup mass
    // concentrate in low-quality or high-quality deciles? If dups are
    // low-quality, the quality gate already removes most of them and the
    // dedup pass is partially redundant — the joint distribution prices
    // the ordering of the two passes. One quality projection (map-side),
    // the shared edge-only closure, a ≤ 20-row rollup with per-bucket dup
    // fractions.
    "q208_quality_dup_profile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dd = docs(s, d)
      val scored = dd.select(col("doc_id"),
        floor(TextOps.qualityScore(col("text")) * 1e9).cast("long").as("qfp"))
      GraphOps.withCanonical(scored, "doc_id", DedupClosure.pairEdges(dd))
        .select(
          least(floor(col("qfp").cast("double") / 1e8), lit(9.0))
            .cast("int").as("q_bucket"),
          (col("canonical") =!= col("doc_id")).as("is_dup"))
        .groupBy(col("q_bucket"), col("is_dup"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("frac_of_bucket", col("n_docs").cast("double")
          / sum(col("n_docs")).over(Window.partitionBy(col("q_bucket")))
            .cast("double"))
        .orderBy(col("q_bucket"), col("is_dup"))
    }),

    // CLASSIFIER CALIBRATION BINS — the reliability diagram for the
    // in-engine-trained quality classifier (q168's exact model, shared
    // trainer): per decile bin of predicted p, the empirical positive
    // rate beside the mean prediction — frac_pos ≈ mean_p per bin is what
    // makes a score usable as a sampling WEIGHT (q139/q124) rather than
    // just a threshold. The bin boundary is deterministic (p is the same
    // IEEE op chain on both engines — the q168 weight-trajectory
    // guarantee extended one op further), the per-bin mean is fixed-point
    // (floor(p·1e9) long sums). One scoring scan of the checkpointed
    // feature table + a 10-row aggregate.
    "q207_calibration_bins" -> ((s, d) => {
      val (feats, w) = logregTrain(s, d)
      val p = logregSig(logregZ(w))
      feats.select(col("y"), p.as("p"))
        .withColumn("bin", greatest(
          least(floor(col("p") * 10.0).cast("long"), lit(9L)), lit(0L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"),
          sum(floor(col("p") * lit(1e9)).cast("long")).as("sum_p_fp"))
        .select(col("bin"), col("n"), col("n_pos"),
          (col("n_pos").cast("double") / col("n").cast("double"))
            .as("frac_pos"),
          (col("sum_p_fp").cast("double") / 1e9
            / col("n").cast("double")).as("mean_p"))
        .orderBy(col("bin"))
    }),

    // CLASSIFIER ROC-AUC — the ranking-quality number beside q207's
    // calibration (a classifier can rank perfectly while calibrating
    // badly, and the q139/q124 consumers that THRESHOLD or SAMPLE by
    // score care about ranking): Mann–Whitney AUC with the standard
    // average-rank tie treatment, computed WITHOUT materializing ranks —
    // scores are grouped to (score, n_pos, n_neg) counters, and
    // AUC = Σ_s pos_s·(2·cumneg_<s + neg_s) / (2·P·N), integer until the
    // final division (cross-engine exact; the fixed-point floor(p·1e9)
    // key makes tie groups identical in both engines). Two forms in one
    // row, self-pricing the approximation (the q197 discipline):
    // `auc` orders the |distinct scores| counter table with ONE global
    // window (the exact oracle-isolated form — the window is over
    // counters, not docs, but distinct scores can approach N), and
    // `auc_hist64` runs the identical formula over 64 fixed p-bins — a
    // 64-row window, the sortless 100 TB path (q169's histogram
    // discipline applied to ranking; bins = coarser ties, so it
    // under-reads AUC by at most the within-bin discordance).
    "q212_classifier_auc" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val (feats, w) = logregTrain(s, d)
      val p = logregSig(logregZ(w))
      val scored = feats.select(
        floor(p * lit(1e9)).cast("long").as("score_fp"), col("y"))
      def aucOver(keyed: DataFrame): DataFrame = {
        val g = keyed.groupBy(col("k"))
          .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("pos"),
            sum(when(col("y") === 1.0, 0L).otherwise(1L)).as("neg"))
        val wd = Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, -1)
        g.withColumn("cumneg", coalesce(sum(col("neg")).over(wd), lit(0L)))
          .agg(sum(col("pos") * (lit(2L) * col("cumneg") + col("neg")))
            .as("num2"),
            sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"))
      }
      val exact = aucOver(scored.select(col("score_fp").as("k"), col("y")))
        .select(col("n_pos"), col("n_neg"),
          (col("num2").cast("double")
            / (lit(2.0) * col("n_pos").cast("double")
              * col("n_neg").cast("double"))).as("auc"))
      val hist = aucOver(scored.select(
          least(floor(col("score_fp").cast("double") / 1e9 * 64.0),
            lit(63.0)).cast("long").as("k"), col("y")))
        .select((col("num2").cast("double")
          / (lit(2.0) * col("n_pos").cast("double")
            * col("n_neg").cast("double"))).as("auc_hist64"))
      exact.crossJoin(hist) // two 1-row frames
        .select(col("n_pos"), col("n_neg"), col("auc"), col("auc_hist64"),
          (lit(2.0) * col("auc") - lit(1.0)).as("gini"))
    }),

    // LSH PRECISION/RECALL REPORT — the end-to-end blocking-quality
    // number beside q197's per-pair estimate error and q182's linkage
    // blocking table: the banded-LSH pipeline's pair set (q23's rule,
    // est ≥ 0.5) scored against the EXACT Jaccard ≥ 0.5 truth (q22's
    // rule). Precision < 1 is estimate overshoot, recall < 1 is band
    // misses + estimate undershoot — the two dials (k, rows/band) this
    // report tunes. One row out. EXACT-BASELINE TIER by contract
    // (COVERAGE.md table): the truth side is the full-corpus
    // prefix-filtered q22 plan, whose candidate mass grows with
    // corpus²·density — at 100 TB a user runs q214, the same report with
    // the id-hash audit-sample dial; this full-tier form exists to gate
    // q214's estimator against the numbers it estimates.
    "q206_lsh_recall_report" -> ((s, d) => {
      val dd = docs(s, d)
      val exact = DedupOps.jaccardPairsPrefix(dd, "doc_id", "text", 3, 0.5)
        .select(col("da"), col("db"), lit(true).as("in_exact"))
      val lsh = DedupOps.minhashPairs(dd)
        .select(col("da"), col("db"), lit(true).as("in_lsh"))
      exact.join(lsh, Seq("da", "db"), "full_outer")
        .agg(
          sum(when(col("in_exact"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("in_lsh"), 1L).otherwise(0L)).as("n_lsh"),
          sum(when(col("in_exact") && col("in_lsh"), 1L).otherwise(0L))
            .as("n_both"))
        .select(col("n_exact"), col("n_lsh"), col("n_both"),
          (col("n_both").cast("double") / col("n_lsh").cast("double"))
            .as("precision"),
          (col("n_both").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    }),

    // LSH RECALL AUDIT SAMPLE — q214 is q206's report with the scale dial
    // the 100 TB contract promised but r13 never built: the exact-Jaccard
    // truth tier is the expensive side (prefix-filtered, but its candidate
    // mass still grows with corpus²·density), so at scale the report runs
    // on a deterministic AUDIT SAMPLE — docs whose 60-bit id hash is even
    // (q72's hash-sampling rule applied to IDENTITY, not content: uniform
    // over docs, resumable, derived from the same 15 md5 hex digits in
    // both engines). The PRODUCTION LSH pair set is computed over the FULL
    // corpus (that side is the cheap tier and sampling it would change
    // what is being audited) and then restricted to pairs with BOTH
    // endpoints sampled — pair-level truth samples at rate², so the exact
    // tier costs ~rate² of q206's, and precision/recall are unbiased
    // estimators of the corpus numbers. `n_sampled` prices the estimate
    // beside it (the q197 self-pricing discipline). r17: the modulus is
    // DECADE-ADAPTIVE (the q220/q221 rule, applied after SCALE_r17's
    // first q214 run measured 29.7 → 249.1 s at ×30 → ×100 — the fixed
    // rate-1/2 exact tier keeps a (N/2)² pair term): mod = max(2, N/2500)
    // pins the audited doc count at ~2500 as the corpus grows, so the
    // exact tier's pair mass is FLAT at any scale while the audited LSH
    // side stays the full-corpus production pair set. At the sf0.01 gate
    // corpus and the sf0.1 ×1 base N/2500 < 2, so mod = 2 — the gate
    // hash and the ×1 curve point are unchanged by the dial.
    "q214_lsh_recall_sampled" -> ((s, d) => {
      val dd = docs(s, d)
      val mod = math.max(2L, Tables.rowCount(s, d, "documents") / 2500L)
      val sampled = dd.filter(
        pmod(TextOps.tokenHash60(col("doc_id").cast("string")), lit(mod))
          === 0L)
      val keep = sampled.select(col("doc_id"))
      val exact = DedupOps.jaccardPairsPrefix(sampled, "doc_id", "text", 3, 0.5)
        .select(col("da"), col("db"), lit(true).as("in_exact"))
      val lsh = DedupOps.minhashPairs(dd)
        .join(keep.withColumnRenamed("doc_id", "da"), Seq("da"))
        .join(keep.withColumnRenamed("doc_id", "db"), Seq("db"))
        .select(col("da"), col("db"), lit(true).as("in_lsh"))
      val rep = exact.join(lsh, Seq("da", "db"), "full_outer")
        .agg(
          sum(when(col("in_exact"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("in_lsh"), 1L).otherwise(0L)).as("n_lsh"),
          sum(when(col("in_exact") && col("in_lsh"), 1L).otherwise(0L))
            .as("n_both"))
      rep.crossJoin(broadcast(keep.agg(count(lit(1)).as("n_sampled"))))
        .select(col("n_sampled"), col("n_exact"), col("n_lsh"),
          col("n_both"),
          (col("n_both").cast("double") / col("n_lsh").cast("double"))
            .as("precision"),
          (col("n_both").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    }),

    // GOOD–TURING COUNT-OF-COUNTS — the frequency-of-frequencies table
    // (Good 1953) that prices a corpus's n-gram tail: N_r = number of
    // trigram-shingle TYPES appearing in exactly r documents (the shared
    // per-doc-distinct shingle unit of the whole dedup family — the
    // corpus's unigram vocabulary is deliberately tiny and tail-free, so
    // the tail lives at the n-gram level, exactly where q152's
    // Kneser–Ney discounts need it). The r=1 row's p_mass is the
    // Good–Turing estimate of UNSEEN-type probability (N_1/T), and
    // gt_rstar = (r+1)·N_{r+1}/N_r is the smoothed count the discounting
    // family (Katz; the absolute-discount intuition behind KN) is built
    // on. Scale shape: type frequency is ONE map-side-combinable
    // groupBy(shingle), the count-of-counts rollup groups the type-sized
    // tf table by r (≤ max-freq rows), and the report keeps r ≤ 10 — a
    // ≤ 10-row output whatever the corpus size. All-integer until the
    // two final ratios (longs-in, one IEEE division — cross-engine
    // exact).
    "q215_good_turing" -> ((s, d) => {
      // r17: type frequencies come off the materialized shingle view
      // (TokenArtifact — values identical to the in-plan explode, oracle
      // unchanged); the tokenize pass is paid once per snapshot, not per
      // diagnostic
      val tf = graft.sources.TokenArtifact.readShingles(s, docs(s, d), d)
        .select(col("shingle").as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("r"))
      val cc = tf.groupBy(col("r")).agg(count(lit(1)).as("n_types"))
        .localCheckpoint() // tiny; scanned twice (self-join on r+1)
      val tot = tf.agg(sum(col("r")).as("t_tokens"))
      cc.filter(col("r") <= 10)
        .join(cc.select((col("r") - 1).as("r"),
          col("n_types").as("n_next")), Seq("r"), "left")
        .crossJoin(broadcast(tot))
        .select(col("r"), col("n_types"),
          (col("r") * col("n_types")).as("n_tokens"),
          ((col("r") + 1).cast("double")
            * coalesce(col("n_next"), lit(0L)).cast("double")
            / col("n_types").cast("double")).as("gt_rstar"),
          ((col("r") * col("n_types")).cast("double")
            / col("t_tokens").cast("double")).as("p_mass"))
        .orderBy(col("r"))
    }),

    // ZIPF RANK-FREQUENCY SLOPE — the distributional-health fit beside
    // q215's tail table: per source, the OLS slope of ln(freq) on
    // ln(rank) over the top-100 terms (natural text sits near −1; a
    // machine-generated or template-heavy source shows a flatter head or
    // a cliff). Both lns are the integer-only fixed-point iln of COUNTS
    // (rank and frequency are integers), scaled to 1e6 fixed point so
    // every OLS moment (Σxy ≤ 100·(2e7)², n·Σxy, (Σx)²) stays inside
    // BIGINT on both engines — the slope is two long-ratio IEEE divisions
    // from integer moments, cross-engine exact. Rank is deterministic
    // (freq DESC, token ASC). Scale: tf is the shared map-side groupBy;
    // the rank window partitions by source over vocabulary-sized input;
    // the fit is a |sources|-row aggregate.
    "q216_zipf_slope" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // r17: (source, token) stream off the materialized token view
      val tf = graft.sources.TokenArtifact.readTokens(s, docs(s, d), d)
        .select(col("source"), col("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("freq"))
      val ranked = tf.withColumn("rnk",
          row_number().over(Window.partitionBy(col("source"))
            .orderBy(col("freq").desc, col("token").asc)))
        .filter(col("rnk") <= 100)
        .select(col("source"),
          // 1e9→1e6 fixed-point rescale: iln ≤ ln(2^62)·1e9 ≈ 4.3e10 is
          // exactly representable as a double, so the /1000+floor pair is
          // one deterministic IEEE op chain on both engines
          floor(graft.functions.IntLn.iln1e9(col("rnk")).cast("double")
            / 1000.0).cast("long").as("x"),
          floor(graft.functions.IntLn.iln1e9(col("freq")).cast("double")
            / 1000.0).cast("long").as("y"))
      ranked.groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("source"), col("n_terms"),
          ((col("n_terms") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (col("n_terms") * col("sxx") - col("sx") * col("sx"))
              .cast("double")).as("zipf_slope"))
        .orderBy(col("source"))
    }),

    // LSH S-CURVE VALIDATION — closes the sketch-calibration family
    // (q197: per-pair estimate error; q206/q214: end-to-end P/R at one
    // threshold) with the DIAL-PLANNING view: per exact-Jaccard decile,
    // the OBSERVED band-collision rate of the house (b=8, r=4) banding
    // against the analytic detection probability 1−(1−J⁴)⁸. The soft zone
    // of the S-curve (J ∈ [0.25, 0.5)) is the gray mass a θ=0.5 pipeline
    // implicitly half-discards — this table prices re-banding before
    // anyone re-runs a corpus. The AUDIT-SAMPLE DIAL IS IN CODE (the q214
    // rule, r14-verdict finding #1): the whole table is a calibration
    // artifact, so the dial samples the INPUT corpus — docs whose 60-bit
    // id hash is even — before variant injection, and every tier (exact
    // truth, band table, variants) runs on the sampled sub-corpus. Jaccard
    // and band collisions are pairwise, so each bucket's catch_rate is an
    // unbiased estimator of the full-corpus rate at ~1/4 the candidate
    // mass per halving; the oracle re-derives the identical sample from
    // the same 15 md5 hex digits. The corpus's own near-dups are all
    // J ≥ 0.9 (one degenerate bucket), so the soft zone is POPULATED
    // IN-QUERY (the q154/q183 fixture discipline): every SAMPLED doc_id
    // ≡ 0 (mod 4) also enters as a PREFIX TRUNCATION — its first
    // max(3, ⌊len·(4 + id mod 12)/16⌋) tokens — whose shingle Jaccard
    // against the original sweeps ~0.2–0.95 by construction; the oracle
    // re-derives every variant from the same parquet. Truth side = the
    // prefix-filtered exact plan at J ≥ 0.25 (lossless above the floor
    // on the sampled sub-corpus). Collision = POSITION-WISE
    // band-bucket equality (zip_with — same band, same bucket: the actual
    // LSH join rule; arrays_overlap would also count cross-band
    // accidents). The predicted rate is a pinned square-chain (j², j⁴,
    // (1−j⁴)⁸ by three squarings), floor-quantized per pair before the
    // order-independent integer mean.
    "q221_lsh_scurve" -> ((s, d) => {
      val dd = docs(s, d).filter(
        pmod(TextOps.tokenHash60(col("doc_id").cast("string")), lit(2L))
          === 0L)
      val w = TextOps.tokens(col("text"))
      val frac = (lit(4.0) + pmod(col("doc_id"), lit(12L)).cast("double"))
        .divide(lit(16.0))
      val pfx = greatest(lit(3.0),
        floor(size(w).cast("double") * frac)).cast("long")
      val dd2 = dd.select(col("doc_id"), col("text"))
        .unionByName(dd.filter(col("doc_id") % 4 === 0)
          // variants mint in the SAME reserved namespace as q224/q225's
          // added docs (AddedDocIdOffset, covered by ScaleBench's static
          // replica-collision require) — the old +10⁶ offset could alias a
          // real doc_id under a ×M replica namespace, and the oracle
          // mirrors the offset so the DuckDB gate could never catch it
          .select((col("doc_id") + AddedDocIdOffset).as("doc_id"),
            array_join(slice(w, lit(1), pfx.cast("int")), " ").as("text")))
      val exact = DedupOps.jaccardPairsPrefix(dd2, "doc_id", "text", 3, 0.25)
      val bands = DedupOps.nearDupSignatures(dd2)
        .select(col("doc_id"),
          array(DedupOps.bandBuckets(col("sig"), NearDup.Hashes,
            NearDup.RowsPerBand): _*).as("bs"))
        .localCheckpoint() // joined twice (da and db sides)
      // 1 − (1 − j^r)^b with the rule's r = 4 rows and b = 8 bands, written
      // out as the oracle's square chain
      val j = col("jaccard")
      val j4 = (j * j) * (j * j)
      val q2 = (lit(1.0) - j4) * (lit(1.0) - j4)
      val q8 = (q2 * q2) * (q2 * q2)
      exact
        .join(bands.select(col("doc_id").as("da"), col("bs").as("bsa")),
          Seq("da"))
        .join(bands.select(col("doc_id").as("db"), col("bs").as("bsb")),
          Seq("db"))
        .select(
          least(floor(j * 10.0), lit(9.0)).cast("long").as("j_bucket"),
          BlockedJoin.collides(col("bsa"), col("bsb")).as("caught"),
          floor((lit(1.0) - q8) * lit(1e9)).cast("long").as("pred_fp"))
        .groupBy(col("j_bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("caught"), 1L).otherwise(0L)).as("n_caught"),
          sum(col("pred_fp")).as("sum_pred_fp"))
        .select(col("j_bucket"), col("n_pairs"), col("n_caught"),
          (col("n_caught").cast("double") / col("n_pairs").cast("double"))
            .as("catch_rate"),
          (col("sum_pred_fp").cast("double") / 1e9
            / col("n_pairs").cast("double")).as("pred_rate"))
        .orderBy(col("j_bucket"))
    }),

    // DSIR IMPORTANCE WEIGHTS — data selection with importance resampling
    // (Xie et al. 2023, arXiv:2302.03169): score every RAW doc by how much
    // more likely its hashed-unigram profile is under the TARGET
    // distribution (src0, the domain being matched) than under the raw
    // pool itself — log w(x) = Σ_tokens [ln p̂_tgt(b) − ln p̂_raw(b)] over
    // B = 256 hash buckets with add-1 smoothing. The engine-expressible
    // core of the method: bucket counts are two map-side-combinable
    // groupBys, the per-bucket log-ratio is 256 iln evaluations JOINED
    // BACK (never per token — the iln runs on the broadcast side), the
    // per-doc score is one integer sum, and the corpus-total term folds
    // in as n_tok · Δ_totals. Every ln is IntLn of a count, so the score
    // is cross-engine identical; the shortlist is the deterministic
    // top-50 by (score, doc_id) — a TakeOrdered, never a full sort.
    "q217_dsir_weights" -> ((s, d) => {
      import graft.functions.IntLn
      val toks = graft.sources.Layout.fanOutScan(docs(s, d), col("doc_id"))
        .select(col("doc_id"), col("source"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .withColumn("b", pmod(TextOps.tokenHash60(col("token")), lit(256L)))
        .localCheckpoint() // scanned 3×: target counts, raw counts, per-doc
      val tgt = toks.filter(col("source") === "src0")
        .groupBy(col("b")).agg(count(lit(1)).as("cnt_t"))
      val rawB = toks.filter(col("source") =!= "src0")
        .groupBy(col("b")).agg(count(lit(1)).as("cnt_r"))
      val stats = rawB.join(tgt, Seq("b"), "left")
        .select(col("b"),
          (IntLn.iln1e9(coalesce(col("cnt_t"), lit(0L)) + 1L)
            - IntLn.iln1e9(col("cnt_r") + 1L)).as("delta"))
      val tots = tgt.agg(sum(col("cnt_t")).as("t_tot"))
        .crossJoin(rawB.agg(sum(col("cnt_r")).as("r_tot")))
        .select((IntLn.iln1e9(col("r_tot") + 256L)
          - IntLn.iln1e9(col("t_tot") + 256L)).as("d_tot"))
      toks.filter(col("source") =!= "src0")
        .join(broadcast(stats), Seq("b"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_tok"), sum(col("delta")).as("sum_delta"))
        .crossJoin(broadcast(tots))
        .withColumn("logw_fp", col("sum_delta") + col("n_tok") * col("d_tot"))
        .orderBy(col("logw_fp").desc, col("doc_id").asc)
        .limit(50)
        .select(col("doc_id"), col("source"), col("n_tok"),
          (col("logw_fp").cast("double") / 1e9).as("log_weight"))
    }),

    // EFFECTIVE-TOKEN ACCOUNTING — the number a corpus release actually
    // quotes: per source, raw token mass vs the mass surviving near-dup
    // canonicalization (q52's closure, min-id keepers), and the savings
    // fraction. q126 counts DOCS through the same closure; training
    // budgets are priced in TOKENS, and a source whose savings fraction
    // is high is re-crawled/syndicated mass. One token-count projection
    // (map-side), the shared closure on the pair graph (edges only, never
    // documents), a |sources|-row rollup.
    "q204_effective_tokens" -> ((s, d) => {
      val dd = docs(s, d)
      val toks = dd.select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      GraphOps.withCanonical(toks, "doc_id", DedupClosure.pairEdges(dd))
        .withColumn("keep", col("canonical") === col("doc_id"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).as("raw_tokens"),
          sum(when(col("keep"), col("n_tok")).otherwise(0L))
            .as("effective_tokens"))
        .withColumn("savings",
          lit(1.0) - col("effective_tokens").cast("double")
            / col("raw_tokens").cast("double"))
        .orderBy(col("source"))
    }),

    // DEDUP-TIER OVERLAP REPORT — prices what the expensive tier buys
    // over the cheap one: exact content dedup (q21's md5 rule, one
    // groupBy) and near-dup canonicalization (q52's MinHash-LSH closure,
    // the full banded pipeline) each classify every doc keeper/removable;
    // the report cross-tabulates the verdicts. `near_only` is the
    // marginal mass ONLY the LSH tier can remove — the number that
    // justifies its shuffle cost; `exact_only` is mass the closure's
    // est ≥ 0.5 gate missed that byte-identity caught (possible at the
    // estimate's error floor, see q197). Four-way split, not a funnel
    // subtraction — neither verdict set contains the other by
    // construction. Output ≤ 4 rows.
    "q199_dedup_tier_overlap" -> ((s, d) => {
      val dd = docs(s, d)
      val exact = DedupOps
        .exactDedup(dd.select(col("doc_id"), col("text")), "doc_id", "text")
        .select(col("doc_id"), (!col("is_canonical")).as("exact_dup"))
      val near = GraphOps.withCanonical(dd.select(col("doc_id")), "doc_id",
          DedupClosure.pairEdges(dd))
        .select(col("doc_id"), (col("canonical") =!= col("doc_id")).as("near_dup"))
      exact.join(near, Seq("doc_id"))
        .select(when(col("exact_dup") && col("near_dup"), "both")
          .when(col("exact_dup"), "exact_only")
          .when(col("near_dup"), "near_only")
          .otherwise("neither").as("tier"))
        .groupBy(col("tier")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("tier"))
    }),

    // ARTIFACT-CONSUMING TWINS of the closure-report trio (q199/q204/
    // q208) — the q146/q147 read-many discipline applied to the round-13
    // second wave: each report above RECOMPUTES the full MinHash→CC
    // closure in-query (~7 s each at sf0.1, the documented
    // oracle-isolation shape); a consumer fleet rides the write-once
    // bucketed [[graft.sources.DedupClosure]] artifact instead — the
    // closure is built once per corpus snapshot and each report pays one
    // doc_id join with NO exchange on the artifact side. Outputs are
    // identical by construction (same oracle SQL gates both forms).
    "q209_artifact_tier_overlap" -> ((s, d) => {
      val dd = docs(s, d)
      val cl = DedupClosure.read(s, dd, d)
      val exact = DedupOps
        .exactDedup(dd.select(col("doc_id"), col("text")), "doc_id", "text")
        .select(col("doc_id"), (!col("is_canonical")).as("exact_dup"))
      val near = cl.select(col("doc_id"),
        (col("canonical") =!= col("doc_id")).as("near_dup"))
      exact.join(near, Seq("doc_id"))
        .select(when(col("exact_dup") && col("near_dup"), "both")
          .when(col("exact_dup"), "exact_only")
          .when(col("near_dup"), "near_only")
          .otherwise("neither").as("tier"))
        .groupBy(col("tier")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("tier"))
    }),

    "q210_artifact_tokens" -> ((s, d) => {
      val dd = docs(s, d)
      val cl = DedupClosure.read(s, dd, d)
      dd.select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .join(cl, Seq("doc_id"))
        .withColumn("keep", col("canonical") === col("doc_id"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).as("raw_tokens"),
          sum(when(col("keep"), col("n_tok")).otherwise(0L))
            .as("effective_tokens"))
        .withColumn("savings",
          lit(1.0) - col("effective_tokens").cast("double")
            / col("raw_tokens").cast("double"))
        .orderBy(col("source"))
    }),

    "q211_artifact_quality_dup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dd = docs(s, d)
      val cl = DedupClosure.read(s, dd, d)
      dd.select(col("doc_id"),
          floor(TextOps.qualityScore(col("text")) * 1e9).cast("long")
            .as("qfp"))
        .join(cl, Seq("doc_id"))
        .select(
          least(floor(col("qfp").cast("double") / 1e8), lit(9.0))
            .cast("int").as("q_bucket"),
          (col("canonical") =!= col("doc_id")).as("is_dup"))
        .groupBy(col("q_bucket"), col("is_dup"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("frac_of_bucket", col("n_docs").cast("double")
          / sum(col("n_docs")).over(Window.partitionBy(col("q_bucket")))
            .cast("double"))
        .orderBy(col("q_bucket"), col("is_dup"))
    }),

    // WINNOWING FINGERPRINT PAIRS — the LOCAL near-dup detector (MOSS,
    // Schleimer et al. SIGMOD'03) beside the family's global sketches:
    // MinHash estimates whole-doc set overlap and can score a pair low
    // even when one long passage is shared verbatim; winnowing guarantees
    // any shared token run ≥ w+k−1 (= 6 here) surfaces a shared
    // fingerprint. Plan: per-doc window-min fingerprints (pure expression,
    // one md5 per gram — [[DedupOps.winnowFingerprints]]), a document-
    // frequency cap at 50 on the fingerprint table (the q66 champion-list
    // discipline: hot boilerplate fingerprints would square the bucket
    // join; the cap is part of the operator contract and mirrored in the
    // oracle), then the inverted-index self-join on fp — blocked by
    // fingerprint value, never all-pairs — and a per-pair containment
    // verify n_shared / min(|fpA|, |fpB|), integers until the division.
    // Emitted: pairs sharing ≥ 2 fingerprints.
    "q213_winnow_pairs" -> ((s, d) => {
      val fpt = DedupOps.winnowFingerprints(docs(s, d), "doc_id", "text",
          3, 4)
        .localCheckpoint() // three consumers: sizes, cap, join
      val sizes = fpt.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      val capped = fpt.join(
        fpt.groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 50).select(col("fp")),
        Seq("fp"), "left_semi")
      val shared = capped.as("a").join(capped.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
      shared
        .join(sizes.select(col("doc_id").as("da"), col("n_fp").as("na")),
          Seq("da"))
        .join(sizes.select(col("doc_id").as("db"), col("n_fp").as("nb")),
          Seq("db"))
        .select(col("da"), col("db"), col("n_shared"),
          (col("n_shared").cast("double")
            / least(col("na"), col("nb")).cast("double")).as("containment"))
        .orderBy(col("da"), col("db"))
    }),

    // Exact 3-gram Jaccard near-dup pairs via prefix filtering (identical
    // result to the all-pairs shingle join, which remains as
    // a test-scope oracle equality-tested in DedupSpec).
    "q22_jaccard_pairs" -> ((s, d) =>
      DedupOps.jaccardPairsPrefix(docs(s, d), "doc_id", "text", 3, 0.5)
        .orderBy(col("da"), col("db"))),

    // MinHash+LSH near-dup pairs: 32 universal hashes over one md5 base per
    // shingle, 8 bands × 4 rows, candidates from band buckets,
    // signature-agreement estimate >= 0.5.
    "q23_minhash_pairs" -> ((s, d) =>
      DedupOps.minhashPairs(docs(s, d))
        .orderBy(col("da"), col("db"))),

    // SimHash document signatures (32-bit, native per-row expression).
    "q24_simhash" -> ((s, d) =>
      DedupOps.simhashRows(docs(s, d), "doc_id", "text", GraftFunctions.simhash32)
        .orderBy(col("doc_id"))),

    // MINHASH ACCURACY SELF-CHECK — the sketch-calibration report the
    // dedup family's thresholds rest on: on the fixed 32-doc slice (q25's
    // bounded-query discipline), EXACT shingle Jaccard vs the k = 32
    // signature-agreement estimate for every pair sharing ≥ 1 shingle,
    // with the absolute error. This is the empirical S-curve evidence
    // behind "est ≥ 0.5 ≈ Jaccard ≥ 0.5" (q23/q52/q115's gate): run it
    // whenever k or the band geometry changes. Both columns are exact
    // integer ratios (|∩|/|∪| and n/32), so the oracle reproduces every
    // error bit-for-bit; the slice keeps the all-pairs term constant at
    // any corpus size.
    "q197_minhash_accuracy" -> ((s, d) => {
      val sh = docs(s, d).filter(col("doc_id") < 32)
        .select(col("doc_id"),
          explode(GraftFunctions.shingleHashes(col("text"), 3)).as("shingle"))
        .localCheckpoint() // feeds sizes and the pair join
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val common = sh.select(col("doc_id").as("da"), col("shingle"))
        .join(sh.select(col("doc_id").as("db"), col("shingle")),
          Seq("shingle"))
        .filter(col("da") < col("db"))
        .groupBy(col("da"), col("db")).agg(count(lit(1)).as("c"))
      val jac = common
        .join(sizes.select(col("doc_id").as("da"), col("n_sh").as("na")),
          Seq("da"))
        .join(sizes.select(col("doc_id").as("db"), col("n_sh").as("nb")),
          Seq("db"))
        .select(col("da"), col("db"), (col("c").cast("double")
          / (col("na") + col("nb") - col("c"))).as("jaccard"))
      val sig = DedupOps.nearDupSignatures(docs(s, d).filter(col("doc_id") < 32))
      jac
        .join(sig.select(col("doc_id").as("da"), col("sig").as("sa")),
          Seq("da"))
        .join(sig.select(col("doc_id").as("db"), col("sig").as("sb")),
          Seq("db"))
        .select(col("da"), col("db"), col("jaccard"),
          DedupOps.sigAgreement(col("sa"), col("sb"), NearDup.Hashes)
            .as("est_jaccard"))
        .withColumn("abs_err", abs(col("jaccard") - col("est_jaccard")))
        .orderBy(col("da"), col("db"))
    }),

    // Context-window CHUNKING — split documents into 32-token chunks with
    // 8-token overlap (stride 24): the op that shapes a corpus for a model's
    // context length. Chunk enumeration is per-row expression work; only the
    // already-chunked rows flow on.
    "q55_chunking" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          posexplode(TextOps.chunks(col("text"), 32, 8)).as(Seq("chunk_id", "chunk")))
        .withColumn("n_chunk_tokens", TextOps.nTokens(col("chunk")))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // PII-style scrubbing — emails → <EMAIL>, digit runs → <NUM> — then the
    // collision histogram of masked forms (all "Customer#000000xxx" names
    // collapse to one masked class).
    "q56_pii_mask" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"), TextOps.maskPii(col("c_name")).as("masked"))
        .groupBy(col("masked"))
        .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("first_key"))
        .orderBy(col("masked"))),

    // Deterministic STRATIFIED HASH SAMPLING — the reproducible
    // downsampling pattern for training corpora: never rand() (resumable,
    // engine-portable, joinable across runs); the keep decision is a pure
    // function of content hash + stratum. Dominant-language docs ('en')
    // are downsampled 1/4, the rest 1/2 — the mixture-rebalancing shape.
    "q72_hash_sample" -> ((s, d) =>
      docs(s, d)
        .withColumn("rate",
          when(col("lang") === "en", lit(4L)).otherwise(lit(2L)))
        .filter(pmod(TextOps.tokenHash60(col("text")), col("rate")) === 0)
        .select(col("doc_id"), col("source"), col("lang"), col("rate"))
        .orderBy(col("doc_id"))),

    // Near-dup CANONICALIZATION — the step that actually shrinks a training
    // corpus: MinHash+LSH pairs → connected components (transitive closure of
    // near-duplication) → keep the min-id representative per group. Docs in
    // no pair are their own canonical. The pair graph is tiny relative to the
    // corpus (only near-dups), so the CC runs on edges, never on documents.
    // Per-group EXACT-k deterministic sampling: 3 docs per language, chosen
    // by md5(text) order — q72's rate-based hash sampling upgraded to the
    // fixed-quota form (eval sets, per-stratum audits). Reproducible on any
    // engine, never rand(); one window shuffle on the stratum key.
    "q93_group_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      docs(s, d)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy(col("lang"), col("rk"))
    }),

    // Per-doc TF-IDF keyword extraction: top-5 tokens by tf × quantized-ln
    // idf — the classic "document keywords" projection every corpus
    // pipeline ships alongside TextRank's graph-based keyphrases (q35).
    "q91_keywords" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val postings = docs(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val nDocs = broadcast(postings.select(col("doc_id")).distinct()
        .agg(count(lit(1)).as("n_docs")))
      val idf = postings.groupBy(col("token")).agg(count(lit(1)).as("df"))
        .crossJoin(nDocs)
        .select(col("token"),
          // ln(N/df) via the integer-only fixed-point ln (IntLn, see q114)
          ((graft.functions.IntLn.iln1e9(col("n_docs"))
            - graft.functions.IntLn.iln1e9(col("df")))
            .cast("double") / lit(1e9)).as("idf"))
      postings.join(idf, Seq("token"))
        .select(col("doc_id"), col("token"),
          (col("tf").cast("double") * col("idf")).as("tfidf"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("tfidf").desc, col("token").asc)))
        .filter(col("rn") <= 5)
        .orderBy(col("doc_id"), col("rn"))
    }),

    // TF-IDF sparse cosine similarity JOIN through an inverted index
    // (df-pruned blocking + fixed-point dot products; RankedSearch).
    "q83_tfidf_pairs" -> ((s, d) =>
      graft.text.RankedSearch.tfidfCosinePairs(docs(s, d), "doc_id", "text")
        .orderBy(col("da"), col("db"))),

    // PMI collocations: top-50 adjacent bigrams by pointwise mutual
    // information. The score column is the PMI RATIO p(ab)/(p(a)p(b)) —
    // log is monotonic, so the ranking is PMI's, while every arithmetic
    // step stays integer-derived IEEE mul/div (no cross-engine ln drift).
    "q84_collocations" -> ((s, d) => {
      // ONE tokenize + ONE count shuffle for both grams: unigrams ride the
      // same exploded stream tagged with a null w2, so the (w1, w2) groupBy
      // produces unigram AND bigram counts together, and the corpus totals
      // fall out of the (vocabulary-sized) counts table instead of two
      // extra passes over the exploded stream.
      val dd = docs(s, d)
      val grams = dd
        .select(TextOps.tokens(col("text")).as("toks"))
        .select(explode(concat(
          transform(col("toks"),
            t => struct(t.as("w1"), lit(null).cast("string").as("w2"))),
          TextOps.bigramsOf(col("toks")))).as("g"))
        .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
      val counts = grams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c")).cache()
      try {
        val uni = counts.filter(col("w2").isNull)
          .select(col("w1"), col("c"))
        val nTok = broadcast(uni.agg(sum(col("c")).as("n_tok")))
        val bi = counts.filter(col("w2").isNotNull)
        val nBig = broadcast(bi.agg(sum(col("c")).as("n_big")))
        val out = bi.filter(col("c") >= 5)
          .select(col("w1"), col("w2"), col("c").as("c_ab"))
          .join(uni.select(col("w1"), col("c").as("c_a")), Seq("w1"))
          .join(uni.select(col("w1").as("w2"), col("c").as("c_b")), Seq("w2"))
          .crossJoin(nTok).crossJoin(nBig)
          .select(col("w1"), col("w2"), col("c_ab"),
            (col("c_ab").cast("double") * col("n_tok").cast("double")
              * col("n_tok").cast("double") /
              (col("n_big").cast("double") * col("c_a").cast("double")
                * col("c_b").cast("double"))).as("pmi_ratio"))
          .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
          .limit(50)
        out.localCheckpoint()
      } finally counts.unpersist()
    }),

    "q52_dedup_canonical" -> dedupCanonical,

    // SAME plan and SAME oracle as q52, kept under its own name because
    // the correctness record and the bench history key on it.
    "q115_dedup_canonical_df" -> dedupCanonical,

    // C4-style corpus-level SEGMENT DEDUP: 16-token segments, global
    // first-occurrence wins, documents reassembled from their survivors —
    // the pass that strips cross-document boilerplate while whole-doc
    // dedup (q21) would keep every copy that differs anywhere.
    "q104_segment_dedup" -> ((s, d) =>
      DedupOps.segmentDedup(docs(s, d), "doc_id", "text", 16)
        .orderBy(col("doc_id"))),

    // Benchmark DECONTAMINATION: flag training docs sharing any 8-token
    // n-gram with the eval set (source = 'src0' plays the benchmark). The
    // eval gram set is benchmark-sized — tiny next to the corpus — so it
    // BROADCASTS and the training side is never shuffled for the probe;
    // the per-doc overlap count comes from the training side's own
    // (already per-doc-distinct) gram stream.
    "q105_decontam" -> ((s, d) => {
      val dd = docs(s, d)
      val bench = dd.filter(col("source") === "src0")
        .select(explode(GraftFunctions.shingleHashes(col("text"), 8)).as("gram"))
        .distinct()
      val train = dd.filter(col("source") =!= "src0")
      val hits = train
        .select(col("doc_id"),
          explode(GraftFunctions.shingleHashes(col("text"), 8)).as("gram"))
        .join(broadcast(bench), Seq("gram"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contam_grams"))
      train.select(col("doc_id"), col("source"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_contam_grams"), lit(0L)).as("n_contam_grams"),
          (coalesce(col("n_contam_grams"), lit(0L)) > 0).as("is_contaminated"))
        .orderBy(col("doc_id"))
    }),

    // BLOOM-FILTER DECONTAMINATION ([[graft.text.Bloom]]): q105's exact
    // 8-gram probe re-run through a PORTABLE m-bounded Bloom filter
    // (k = 4 salted md5 hashes, m = 2^18 bits) — the first-pass shape for
    // a benchmark too large to broadcast exactly: the set-bit table stops
    // growing at m no matter how big the bench gets, while q105's exact
    // gram set grows forever. Output carries BOTH counts per doc
    // (n_bloom_grams ≥ n_exact_grams — false positives only, the one-sided
    // error pinned in TextOpsSpec), so the filter's FP behavior is itself
    // under the hash gate, not just asserted.
    "q153_bloom_decontam" -> ((s, d) => {
      import graft.text.Bloom
      val k = 4; val m = 1 << 18
      val dd = docs(s, d)
      val bench = graft.sources.Layout.fanOutScan(
          dd.filter(col("source") === "src0"), col("doc_id"))
        .select(explode(TextOps.shingles(col("text"), 8)).as("gram"))
        .distinct()
        .localCheckpoint() // feeds BOTH the bit table and the exact probe
      val bitTable = Bloom.bits(bench, "gram", k, m)
      // fanned out: the k salted md5 probes per gram ran single-task on the
      // narrow scan (5.3 s measured in one q153 run)
      val train = graft.sources.Layout.fanOutScan(
        dd.filter(col("source") =!= "src0"), col("doc_id"))
      val grams = train.select(col("doc_id"),
        explode(TextOps.shingles(col("text"), 8)).as("gram"))
      val bloomHits = Bloom.mightContain(grams, "gram", bitTable, k, m)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bloom_grams"))
      val exactHits = grams.join(broadcast(bench), Seq("gram"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_exact_grams"))
      train.select(col("doc_id"), col("source"))
        .join(bloomHits, Seq("doc_id"), "left")
        .join(exactHits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_bloom_grams"), lit(0L)).as("n_bloom_grams"),
          coalesce(col("n_exact_grams"), lit(0L)).as("n_exact_grams"),
          (coalesce(col("n_bloom_grams"), lit(0L)) > 0).as("bloom_flagged"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style REPETITION quality rules: top-unigram fraction,
    // top-bigram fraction, duplicate-trigram coverage, and the keep flag.
    // ONE tokenize + ONE (doc, n, gram) count shuffle for all three gram
    // orders (the q84 trick, extended): every ratio is integer/integer
    // division, so the gate holds bit-for-bit cross-engine.
    "q106_repetition_stats" -> ((s, d) => {
      val grams = docs(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), explode(concat(
          transform(col("toks"),
            t => struct(lit(1).as("n"), t.as("gram"))),
          transform(TextOps.ngramsOf(col("toks"), 2),
            g => struct(lit(2).as("n"), g.as("gram"))),
          transform(TextOps.ngramsOf(col("toks"), 3),
            g => struct(lit(3).as("n"), g.as("gram"))))).as("g"))
        .select(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
      val stats = grams.groupBy(col("doc_id"), col("n"), col("gram"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("n"))
        .agg(sum(col("c")).as("total"), max(col("c")).as("mx"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup"))
      val p = stats.groupBy(col("doc_id"))
        .agg(
          max(when(col("n") === 1, col("total"))).as("n_tokens"),
          max(when(col("n") === 1, col("mx"))).as("mx1"),
          max(when(col("n") === 2, col("total"))).as("tot2"),
          max(when(col("n") === 2, col("mx"))).as("mx2"),
          max(when(col("n") === 3, col("total"))).as("tot3"),
          max(when(col("n") === 3, col("dup"))).as("dup3"))
      val topUni = col("mx1").cast("double") / col("n_tokens").cast("double")
      val topBi = coalesce(
        col("mx2").cast("double") / col("tot2").cast("double"), lit(0.0))
      val dupTri = coalesce(
        col("dup3").cast("double") / col("tot3").cast("double"), lit(0.0))
      p.select(col("doc_id"), col("n_tokens"),
          topUni.as("top_uni_frac"), topBi.as("top_bi_frac"),
          dupTri.as("dup_tri_frac"),
          (topUni <= 0.2 && topBi <= 0.18 && dupTri <= 0.3).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // DSIR-style IMPORTANCE WEIGHTS for data selection: score every
    // training doc (source <> 'src0') by how target-like it is, where the
    // target distribution is the 'src0' slice — avg log p_target(w) −
    // log p_raw(w) over the doc's tokens under add-1-smoothed unigram LMs.
    // The per-token log-ratio is ln of an INTEGER ratio, computed with the
    // INTEGER-ONLY fixed-point ln (functions.IntLn — no libm on either
    // engine, so the 1e9-quantized value is cross-engine identical BY
    // CONSTRUCTION; this replaced the round-≤9 floor(ln·1e9) form whose
    // ≤1-ulp libm argument left an expected ~4e-6·|vocab| cross-engine
    // flips at web-scale vocabularies). ln((ct+1)(nr+v)/((cr+1)(nt+v)))
    // is split into FOUR single-argument terms so every iln input is one
    // count < 2^62 (a product form would overflow the iln domain at
    // ~2e9-token corpora); the two corpus-constant terms are computed ONCE
    // on the 1-row totals aggregate, and the per-token fold runs on the
    // VOCAB-sized count table only, never per occurrence. Per-doc totals
    // are long sums — order-independent, so the gate holds bit-for-bit.
    // Scale shape: one vocab count shuffle; the (vocab-sized) ratio table
    // BROADCASTS onto the token stream; one per-doc sum shuffle. Magnitude
    // bound: |ln ratio| ≤ ln(N+V) ≈ 16 ⇒ ≤ 1.6e10 per token fixed-point,
    // ×10⁴ tokens/doc ≈ 1.6e14 per doc — far from the int64 edge.
    "q114_importance_weights" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"), col("source"),
        explode(TextOps.tokens(col("text"))).as("token"))
      val counts = toks.groupBy(col("token")).agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"),
        sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("cr"))
      val totals = counts.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"),
          count(lit(1)).as("v"))
        .withColumn("iln_nr", graft.functions.IntLn.iln1e9(col("nr") + col("v")))
        .withColumn("iln_nt", graft.functions.IntLn.iln1e9(col("nt") + col("v")))
      val ratios = counts.crossJoin(broadcast(totals))
        .select(col("token"),
          (graft.functions.IntLn.iln1e9(col("ct") + 1)
            - graft.functions.IntLn.iln1e9(col("cr") + 1)
            + col("iln_nr") - col("iln_nt")).as("lr_fp"))
      toks.filter(col("source") =!= "src0")
        .join(broadcast(ratios), Seq("token"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("lr_fp")).as("logratio_fp"))
        .withColumn("avg_logratio",
          (col("logratio_fp").cast("double") / lit(1e9))
            / col("n_tokens").cast("double"))
        .withColumn("keep", col("avg_logratio") > 0)
        .orderBy(col("doc_id"))
    }),

    // BIGRAM-LM PERPLEXITY FILTER (the KenLM/CCNet stage, engine-internal):
    // train an add-1-smoothed bigram LM on the 'src0' target slice, score
    // every other doc by its average bigram log-prob, keep the fluent ones.
    // logp(w2|w1) = ln((c2+1)/(c1+V)): c2 = target bigram count, c1 =
    // target CONTEXT count (bigram starts with w1), V = target unigram
    // vocab — unseen contexts fall back to ln(1/V) through the same
    // formula (coalesce 0). Each ln is of an INTEGER ratio, computed with
    // the integer-only fixed-point ln (functions.IntLn — cross-engine
    // identical by construction, see q114); lp_fp = iln(c2+1) − iln(c1+V),
    // with the iln folds evaluated on the VOCAB-sized c2/c1 count tables
    // (and the 1-row V aggregate for the unseen-context fallback), never
    // per bigram occurrence. Per-doc totals are long sums, so the gate
    // holds bit-for-bit. Scale shape: unlike q114's unigram ratio table,
    // the BIGRAM table grows with the corpus (Heaps' law on pairs) — so
    // the score join takes NO broadcast hint (q108's lesson); AQE sizes
    // it, and both sides hash on the gram key. Docs with < 2 tokens have
    // no bigrams and drop out, mirrored.
    "q117_bigram_lm_ppl" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"), col("source"),
        TextOps.tokens(col("text")).as("w"))
      val bg = t.select(col("doc_id"), col("source"),
          explode(TextOps.ngramsOf(col("w"), 2)).as("gram"))
        .withColumn("w1", substring_index(col("gram"), "|", 1))
      val tgt = bg.filter(col("source") === "src0")
      val c2 = tgt.groupBy(col("gram")).agg(count(lit(1)).as("c2"))
        .withColumn("iln_a", graft.functions.IntLn.iln1e9(col("c2") + 1))
      val c1 = tgt.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val v = t.filter(col("source") === "src0")
        .select(explode(col("w")).as("tok"))
        .agg(count_distinct(col("tok")).as("v"))
      // iln(c1+V) needs V on every vocab row; iln(V) alone covers the
      // unseen-context fallback (c1 absent ⇒ ratio denominator = V)
      val c1v = c1.crossJoin(broadcast(v))
        .withColumn("iln_b", graft.functions.IntLn.iln1e9(col("c1") + col("v")))
        .select(col("w1"), col("iln_b"))
      val vIln = v.withColumn("iln_v", graft.functions.IntLn.iln1e9(col("v")))
        .select(col("iln_v"))
      bg.filter(col("source") =!= "src0")
        .join(c2.select(col("gram"), col("iln_a")), Seq("gram"), "left")
        .join(c1v, Seq("w1"), "left")
        .crossJoin(broadcast(vIln)) // 1-row aggregate, not a growing table
        .select(col("doc_id"),
          (coalesce(col("iln_a"), lit(0L))
            - coalesce(col("iln_b"), col("iln_v"))).as("lp_fp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_fp")).as("logprob_fp"))
        .withColumn("avg_logprob",
          (col("logprob_fp").cast("double") / lit(1e9))
            / col("n_bigrams").cast("double"))
        .withColumn("keep", col("avg_logprob") > lit(-6.0))
        .orderBy(col("doc_id"))
    }),

    // INTERPOLATED KNESER-KNEY BIGRAM SCORE — the smoothing that actually
    // ships in n-gram LMs (KenLM's default), extending q117's add-1 model:
    // P(w2|w1) = max(c(w1w2)−D, 0)/c(w1·) + λ(w1)·P_cont(w2) with D = 0.75,
    // λ(w1) = D·N1+(w1·)/c(w1·) and the CONTINUATION probability
    // P_cont(w2) = N1+(·w2)/|bigram types| — "how many contexts has w2
    // followed", the term that stops "Francisco" scoring high outside "San
    // Francisco". Unseen contexts back off to pure continuation (λ = 1);
    // docs are scored by mean P (not log — P can be exactly 0 for novel
    // w2), accumulated as fixed-point floor(P·1e9) int64 sums so the gate
    // holds bit-for-bit. Every input is an integer count; D = 0.75 is
    // exact binary, c−0.75 is exact, and the two divisions + one
    // multiply-add per bigram run in pinned IEEE order, mirrored
    // parenthesis-for-parenthesis in the oracle. Scale shape = q117's:
    // bigram/context/continuation tables are Heaps-law vocabulary-sized,
    // joins AQE-planned with NO broadcast hints; the |bigram types| scalar
    // rides a 1-row broadcast.
    "q152_kneser_ney_score" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"), col("source"),
        TextOps.tokens(col("text")).as("w"))
      val bg = t.select(col("doc_id"), col("source"),
          explode(TextOps.ngramsOf(col("w"), 2)).as("gram"))
        .withColumn("w1", substring_index(col("gram"), "|", 1))
        .withColumn("w2", substring_index(col("gram"), "|", -1))
      val tgt = bg.filter(col("source") === "src0")
      val c2 = tgt.groupBy(col("gram")).agg(count(lit(1)).as("c2"))
      val ctx = tgt.groupBy(col("w1")).agg(count(lit(1)).as("c1"),
        count_distinct(col("w2")).as("n1f"))
      val rev = tgt.groupBy(col("w2")).agg(count_distinct(col("w1")).as("n1r"))
      val nbb = tgt.agg(count_distinct(col("gram")).as("nbb"))
      val term1 = when(col("c1").isNotNull,
        greatest(coalesce(col("c2"), lit(0L)).cast("double") - lit(0.75),
          lit(0.0)) / col("c1").cast("double")).otherwise(lit(0.0))
      val lam = when(col("c1").isNotNull,
        (lit(0.75) * col("n1f").cast("double")) / col("c1").cast("double"))
        .otherwise(lit(1.0))
      val pc = coalesce(col("n1r"), lit(0L)).cast("double") /
        col("nbb").cast("double")
      bg.filter(col("source") =!= "src0")
        .join(c2, Seq("gram"), "left")
        .join(ctx, Seq("w1"), "left")
        .join(rev, Seq("w2"), "left")
        .crossJoin(broadcast(nbb))
        .select(col("doc_id"),
          floor((term1 + lam * pc) * lit(1e9)).cast("long").as("p_fp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("p_fp")).as("kn_fp"))
        .withColumn("kn_score",
          (col("kn_fp").cast("double") / lit(1e9))
            / col("n_bigrams").cast("double"))
        .orderBy(col("doc_id"))
    }),

    // GOPHER QUALITY RULES — the full repetition-independent rule set from
    // the Gopher/MassiveText filter (word-count bounds, mean-word-length
    // bounds, alpha-word fraction, stopword evidence, symbol-to-word
    // ratio), complementing q20's composite score and q106's repetition
    // rules. Every feature is a ratio of integers computed in ONE pass of
    // per-row expression work (tokenize once, no shuffle at all before the
    // final sort), so the whole rule set is oracle-exact and trivially
    // 100 TB-safe: it's a map over documents.
    "q118_gopher_rules" -> ((s, d) => {
      val en = TextOps.langStopwords.toMap.apply("en")
      val t = docs(s, d).select(col("doc_id"), col("text"),
        TextOps.tokens(col("text")).as("toks"))
      val nWords = size(col("toks"))
      val sumLen = aggregate(col("toks"), lit(0L), (acc, w) => acc + length(w))
      val alphaWords = size(filter(col("toks"), w => w.rlike("[a-z]")))
      val stopHits = TextOps.langScore(col("toks"), en)
      val nHash = length(col("text")) - length(regexp_replace(col("text"), "#", ""))
      val nEllipsis = floor((length(col("text"))
        - length(regexp_replace(col("text"), "\\.\\.\\.", ""))).cast("double")
        / lit(3.0)).cast("long")
      val meanLen = sumLen.cast("double") / greatest(nWords, lit(1)).cast("double")
      val alphaFrac = alphaWords.cast("double") / greatest(nWords, lit(1)).cast("double")
      val symbolRatio = (nHash + nEllipsis).cast("double") /
        greatest(nWords, lit(1)).cast("double")
      t.select(col("doc_id"), nWords.as("n_words"),
          meanLen.as("mean_word_len"), alphaFrac.as("alpha_word_frac"),
          symbolRatio.as("symbol_word_ratio"), stopHits.as("stop_hits"),
          (nWords.between(lit(50), lit(100000)) &&
            meanLen.between(lit(3.0), lit(10.0)) &&
            alphaFrac > lit(0.8) && stopHits >= lit(2) &&
            symbolRatio <= lit(0.1)).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // CONTAINMENT NEAR-DUP PAIRS — the asymmetric cousin of q22's Jaccard:
    // C(A,B) = |A∩B| / |A| detects a document CONTAINED in a larger one
    // (boilerplate wrapping, quote-expansion), which resemblance misses
    // because the union washes it out. Blocking is by RARE shingles
    // (df <= 5) and is PART OF THE CONTRACT, like banded LSH: a candidate
    // pair must share at least one rare shingle. A contained doc shares
    // ALL its shingles with its container, so any rare shingle it has
    // witnesses the pair; a doc whose entire shingle set is corpus-common
    // boilerplate is out of scope by design (it carries no identifying
    // content). Candidates are Σ_rare df² ≤ 5·|rare| pairs, never
    // corpus²; the exact intersection is then counted only over candidate
    // docs' shingle sets (semi-join pushdown), and both containment
    // directions are emitted. The oracle applies the identical blocking.
    "q121_containment_pairs" -> ((s, d) => {
      // r17: fanned-out scan (guide §2.5) + eager materialization — sh is
      // referenced six times across sizes/rare/rsh²/shc²; un-materialized,
      // the explode subtree re-ran per reference (3 × 4 s measured)
      val sh = graft.sources.Layout.fanOutScan(docs(s, d), col("doc_id"))
        .select(col("doc_id"),
          explode(GraftFunctions.shingleHashes(col("text"), 3)).as("shingle"))
        .distinct()
        .localCheckpoint()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 5).select(col("shingle"))
      val rsh = sh.join(rare, Seq("shingle"))
      val cand = rsh.as("a").join(rsh.as("b"),
          col("a.shingle") === col("b.shingle")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      val candDocs = cand.select(col("da").as("doc_id"))
        .union(cand.select(col("db"))).distinct()
      val shc = sh.join(candDocs, Seq("doc_id"))
      val inter = shc.as("x").join(shc.as("y"),
          col("x.shingle") === col("y.shingle")
            && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
        .agg(count(lit(1)).as("inter"))
        .join(cand, Seq("da", "db"))
      inter
        .join(sizes.select(col("doc_id").as("da"), col("n_sh").as("n_a")), Seq("da"))
        .join(sizes.select(col("doc_id").as("db"), col("n_sh").as("n_b")), Seq("db"))
        .select(col("da"), col("db"), col("inter"), col("n_a"), col("n_b"),
          (col("inter").cast("double") / col("n_a")).as("containment_a"),
          (col("inter").cast("double") / col("n_b")).as("containment_b"))
        .filter(greatest(col("containment_a"), col("containment_b")) >= 0.6)
        .orderBy(col("da"), col("db"))
    }),

    // INCREMENTAL DEDUP — the PRODUCTION dedup shape q52/q115 are the
    // batch form of: a NEW batch (source <> 'src0') arrives against an
    // EXISTING deduplicated corpus ('src0'). The batch's MinHash bands
    // probe the corpus index (batch×corpus bucket join — the existing
    // corpus is NEVER self-joined, which is the whole point at 100 TB:
    // per-increment cost scales with the batch, not the corpus); matched
    // docs are dropped as dup_of_corpus (min matching corpus id). The
    // remainder dedups WITHIN the batch (q115's pair→components→min-id),
    // splitting kept / dup_in_batch. Statuses and canonicals are gated.
    "q125_incremental_dedup" -> ((s, d) => {
      val dd = docs(s, d)
      val corpus = dd.filter(col("source") === "src0")
        .select(col("doc_id"), col("text"))
      val batch = dd.filter(col("source") =!= "src0")
        .select(col("doc_id"), col("text"))
      // signatures are the increment's dominant cost — computed ONCE per
      // side (ONE array row per doc, see DedupOps.minhashSignatureRows)
      // and reused (cached) across the corpus probe, the survivor
      // bucketing, and the survivor verification; the naive form
      // (minhashPairs on the survivor TEXT) re-shingles ~all of the batch
      // a second time, which at 100 TB doubles the increment's scan work.
      // The cross probe (DedupOps.crossPairsFromSignatures) emits each
      // (batch, corpus) candidate only in its FIRST colliding band, so
      // there is no pair-level distinct, and the verify is one zip_with
      // over the two cached arrays — no k-row-per-side join traffic.
      val sigC = DedupOps.nearDupSignatures(corpus)
        .localCheckpoint()
      val sigB = DedupOps.nearDupSignatures(batch)
        .localCheckpoint()
      val dupOfCorpus = DedupOps
        .crossPairsFromSignatures(sigB, sigC, NearDup.Hashes,
          NearDup.RowsPerBand, NearDup.Threshold)
        .groupBy(col("ida").as("doc_id"))
        .agg(min(col("idb")).as("canonical"))
        .localCheckpoint()
      val survivorSig = sigB.join(
        dupOfCorpus.select(col("doc_id")), Seq("doc_id"), "left_anti")
      val pairsS = DedupOps
        .minhashPairsFromSignatures(survivorSig, NearDup.Hashes,
          NearDup.RowsPerBand, NearDup.Threshold)
        .select(col("da").as("src"), col("db").as("dst"))
        .localCheckpoint()
      val batchSide = GraphOps.withCanonical(
          batch.select(col("doc_id")).join(dupOfCorpus, Seq("doc_id"), "left_anti"),
          "doc_id", pairsS)
        .select(col("doc_id"),
          when(col("canonical") === col("doc_id"), lit("kept"))
            .otherwise(lit("dup_in_batch")).as("status"),
          col("canonical"))
      dupOfCorpus
        .select(col("doc_id"), lit("dup_of_corpus").as("status"), col("canonical"))
        .unionByName(batchSide)
        .orderBy(col("doc_id"))
    }),

    // INCREMENTAL CLOSURE REFRESH — the artifact-maintenance shape q125
    // (per-batch probe verdicts) and DedupClosure (write-once build)
    // bracket but neither provides: when a corpus snapshot GROWS
    // (append-only ingestion, the common production delta), the v2
    // closure is computed WITHOUT re-pairing the old corpus against
    // itself. Ingredients: (a) STAR EDGES from the v1 closure artifact
    // (doc → canonical; star compression preserves v1 connectivity
    // exactly), (b) new×old candidates from the arriving docs' signatures
    // probing the static band table (q125's first-collision cross probe),
    // (c) new×new banded pairs. CC over (a)∪(b)∪(c) + min-id canonical.
    // CORRECTNESS IS A THEOREM under pure growth: old×old pairs are
    // redundant given star connectivity, and the banding rule is
    // deterministic, so the incremental components — and their min-id
    // canonicals — equal the full recompute's bit for bit (spec-pinned
    // against DedupClosure.closure(v2); the oracle IS the full recompute
    // over v2). Removals void the theorem (a path through a removed doc
    // must not survive) — a shrinking snapshot rebuilds, by contract.
    // Fixture: v2 = documents ∪ {doc_id % 11 = 0 re-ingested at +10¹² with
    // a 'v2new ' prefix} (q183's added-docs rule — near-dups of their
    // sources by construction, so the delta genuinely extends components).
    // The offset is [[AddedDocIdOffset]] — far above ScaleBench's replica
    // namespace (IdStride × any multiplier), so a ×M replay can never
    // collide an added doc with a real replica doc_id (duplicate ids would
    // merge components across replicas and void the pure-growth theorem).
    "q224_closure_refresh" -> ((s, d) => {
      val v1 = docs(s, d).select(col("doc_id"), col("text"))
      val added = v1.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + AddedDocIdOffset).as("doc_id"),
          concat(lit("v2new "), col("text")).as("text"))
      val oldClosure = DedupClosure.read(s, v1, d)
      // old-side signatures come from the SIGNATURE ARTIFACT, not a
      // recompute — SCALE_r15 measured the recompute making the refresh
      // slower than the full rebuild at ×100 (DedupClosure.sigTableName
      // scaladoc); only the DELTA's signatures are computed per refresh
      val sigOld = DedupClosure.readSignatures(s, v1, d)
      val sigNew = DedupOps.nearDupSignatures(added)
        .localCheckpoint() // referenced twice (new×old probe + new×new)
      val newOld = DedupOps.crossPairsFromSignatures(sigNew, sigOld,
          NearDup.Hashes, NearDup.RowsPerBand, NearDup.Threshold)
        .select(col("ida").as("src"), col("idb").as("dst"))
      val newNew = DedupOps.minhashPairsFromSignatures(sigNew,
          NearDup.Hashes, NearDup.RowsPerBand, NearDup.Threshold)
        .select(col("da").as("src"), col("db").as("dst"))
      val star = oldClosure.filter(col("doc_id") =!= col("canonical"))
        .select(col("doc_id").as("src"), col("canonical").as("dst"))
      val edges = star.unionByName(newOld).unionByName(newNew)
        .localCheckpoint()
      GraphOps.withCanonical(
          v1.select(col("doc_id")).unionByName(added.select(col("doc_id"))),
          "doc_id", edges)
        .orderBy(col("doc_id"))
    }),

    // REMOVAL-TOLERANT CLOSURE REFRESH — the tombstone case q224 voids by
    // contract (a path through a removed doc must not survive; the
    // reference's Senzing world is remove-heavy — entity re-resolution on
    // record withdrawal, /root/reference/dagster_icij/assets.py's
    // with_info repair pass is the record-level analog). CDC delta:
    // removals = {doc_id % 13 = 0} (q107's changelog semantics applied to
    // the corpus snapshot), additions = q224's re-ingest fixture. The
    // refresh touches ONLY the components a removal hits:
    //  (a) components with NO removed member keep their v1 STAR EDGES
    //      unchanged (star compression preserves their connectivity, and
    //      none of their edges passed through a removed doc);
    //  (b) components with a removed member are rebuilt COMPONENT-LOCALLY:
    //      banded re-pair restricted to their SURVIVING members — lossless
    //      because banding is deterministic on unchanged text, and every
    //      v1 pair between two survivors of a component is intra-component
    //      by definition of connectivity (pairs ARE edges);
    //  (c) arriving docs probe the SURVIVOR signature table (never
    //      tombstones) + new×new pairs, exactly q224's delta shape.
    // CC over (a)∪(b)∪(c) + min-id canonical = the full v2 recompute, bit
    // for bit: v2's pair graph is v1's pairs minus edges incident to
    // removed docs plus the new docs' pairs, and (a)/(b) reproduce the
    // old×old part exactly (no v1 pair crosses components, so the
    // untouched stars and the touched local re-pairs partition it).
    // Spec law (R15QueriesSpec): untouched components' star EDGES are
    // reused verbatim (never re-paired) and the output equals the full v2
    // recompute bit for bit; canonical IDENTITY for an untouched row holds
    // only absent added-doc bridges — a new doc near-dup of members of two
    // v1 components can legitimately merge them and lower the canonical,
    // so the spec bounds changed untouched rows (≤10%) rather than
    // asserting zero. At 100 TB the win is (b)'s mass: touched components
    // are delta-sized, so re-pair cost ∝ |delta|·avg-component, not corpus².
    "q225_closure_refresh_cdc" -> ((s, d) => {
      val v1 = docs(s, d).select(col("doc_id"), col("text"))
      val removed = v1.filter(col("doc_id") % 13 === 0).select(col("doc_id"))
      val survivors = v1.filter(col("doc_id") % 13 =!= 0)
      val added = v1.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + AddedDocIdOffset).as("doc_id"),
          concat(lit("v2new "), col("text")).as("text"))
      // plan body lives in DedupClosure.refreshCdc (r16: the same step is
      // the build half of the q229 artifact maintenance — shared code, and
      // this gate keeps pinning it against the full-recompute oracle)
      DedupClosure.refreshCdc(s, v1, d, survivors, added, removed)
        .orderBy(col("doc_id"))
    }),

    // ARTIFACT MAINTENANCE FROM A CDC DELTA — the lifecycle step q224/q225
    // read THROUGH but never wrote (r15 verdict item 2): they consume the
    // v1 signature/closure artifacts and emit a refreshed closure IN-PLAN,
    // so the artifacts themselves stay frozen at v1 and the next refresh
    // pays the same delta again — at 100 TB the snapshot must ADVANCE.
    // This query executes the maintenance action: the v2 SIGNATURE table
    // = v1 artifact rows minus tombstones plus the delta's computed
    // signatures (delta-proportional shingle work — a surviving doc's
    // signature is content-keyed and copies verbatim, the exact reason
    // the artifact exists), the v2 CLOSURE = refreshCdc's star-reuse +
    // component-local re-pair, and BOTH persist bucketed-by-doc_id under
    // versioned names (v1 fingerprint + tag) so every downstream consumer
    // (q146/q147/q209–q211/q226's stage 5) can re-point at v2 with no
    // exchange on the artifact side. The gated output is the v2 closure
    // READ BACK FROM THE MAINTAINED TABLE — the oracle is the full
    // recompute over (survivors ∪ added), so the gate pins the persisted
    // artifact's contents, not just an in-plan frame; R16QueriesSpec
    // additionally pins the v2 signature table against a from-scratch
    // signature build. Scale shape: maintenance cost is delta-
    // proportional (tombstone anti-join + delta shingles + refreshCdc's
    // delta-local pairs) + one bucketed rewrite of each table — never a
    // corpus re-shingle or re-pair (SCALE_r16 row vs the rebuild curve).
    "q229_artifact_maintenance" -> ((s, d) => {
      val v1 = docs(s, d).select(col("doc_id"), col("text"))
      val removed = v1.filter(col("doc_id") % 13 === 0).select(col("doc_id"))
      val survivors = v1.filter(col("doc_id") % 13 =!= 0)
      val added = v1.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + AddedDocIdOffset).as("doc_id"),
          concat(lit("v2new "), col("text")).as("text"))
      val (_, cloV2) =
        DedupClosure.maintainCdc(s, v1, d, survivors, added, removed, "cdc")
      s.table(cloV2).orderBy(col("doc_id"))
    }),

    // DELTA-LAYOUT ARTIFACT MAINTENANCE — q229's production refinement
    // (merge-on-read): SCALE_r16 measured q229's residual corpus-size
    // term as the bucketed REWRITE of both v2 tables, not the delta
    // compute; this query persists only delta-sized tables — the added
    // docs' signatures, the tombstone list, and the closure rows whose
    // canonical CAN have changed (correct superset by the q225 partition
    // argument: only touched components and added-containing components
    // can move) — and the gated output is the COMPOSED merge-on-read
    // view: v1 artifact ∖ tombstones ∖ changed-keys ∪ changed. The
    // log-structured shape every production table format (Delta/Iceberg/
    // Hudi) uses for exactly this write-amplification reason. Oracle =
    // the same full v2 recompute as q225/q229, so the gate pins the
    // composition law end-to-end: one wrong tombstone or a missed
    // changed row breaks the hash. R16QueriesSpec additionally pins the
    // delta tables' sizes (delta-proportional, never corpus-sized).
    "q231_artifact_maintenance_delta" -> ((s, d) => {
      val v1 = docs(s, d).select(col("doc_id"), col("text"))
      val removed = v1.filter(col("doc_id") % 13 === 0).select(col("doc_id"))
      val survivors = v1.filter(col("doc_id") % 13 =!= 0)
      val added = v1.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + AddedDocIdOffset).as("doc_id"),
          concat(lit("v2new "), col("text")).as("text"))
      DedupClosure.maintainCdcDelta(s, v1, d, survivors, added, removed, "cdcd")
      DedupClosure.readDelta(s, v1, d, "cdcd")
        .orderBy(col("doc_id"))
    }),

    // CORPUS-RELEASE FLAGSHIP — the artifact-backed end-to-end batch flow
    // (r14-verdict item 6): q116 proves the quality→dedup→decontam→pack
    // chain as self-contained plans; THIS query is the production shape a
    // release pipeline actually runs, consuming the materialized
    // DedupClosure artifact and chaining EVERY gated curation stage:
    //   (1) encoding QA gate — q190's injected-defect fixture decides
    //       (repl/ctrl chars ⇒ bad ⇒ dropped; mojibake ⇒ suspect ⇒ kept);
    //       the CLEAN text flows on (the fixture models ingest rejection);
    //   (2) language/holdout slice (en, source ≠ src0 — src0 is the
    //       benchmark side);
    //   (3) per-source TOP-QUARTILE histogram quality gate (q169's
    //       sortless 64-bin rule — the 100 TB threshold shape);
    //   (4) exact dedup: min-id per md5 fingerprint (q21's rule);
    //   (5) near-dup canonicalization OFF THE ARTIFACT (q146/q147's
    //       consumer shape — the closure is computed once per corpus
    //       snapshot, never per release build): per closure component
    //       among current survivors, keep the min doc_id;
    //   (6) Bloom decontamination (q153's portable k=4/m=2¹⁸ filter,
    //       bench = full-corpus src0 8-grams; FP drops are deterministic
    //       and gated, the one-sided-error contract);
    //   (7) leakage-safe TRAIN split on the artifact canonical (q136's
    //       cluster-keyed md5 bucket — near-dups never straddle splits);
    //   (8) temperature mix (q124's α=0.5 md5-rank quota among train
    //       docs);
    //   (9) pack into 512-token windows (q101's two-phase prefix sum) and
    //  (10) shard the bins by portable hash (q133's rule).
    // The output is the sharded packing manifest — ONE wrong keep/drop
    // verdict anywhere upstream shifts a prefix sum and breaks every
    // downstream bin boundary, so the hash gate pins all ten stages at
    // once. Scale shape: every stage keeps its standalone plan (per-row
    // gates on the scan, |sources|-row broadcasts, the artifact side
    // bucketed and exchange-free, banded blocking only inside the
    // already-materialized closure).
    // Plan body lives in corpusReleaseStage (r16: Bench times each
    // CUMULATIVE stage prefix — releaseStages — so a regression inside one
    // of the ten stages localizes as a jump between consecutive entries
    // instead of hiding in the whole-query median; at 100 TB a release
    // build is the query a user babysits).
    "q226_corpus_release" -> ((s, d) => corpusReleaseStage(s, d, 10)),

    // CORPUS HEALTH REPORT: the q115 near-dup closure aggregated to the
    // numbers a data-curation dashboard actually shows — per-source doc
    // counts, near-dup counts (canonical ≠ self), and the dup rate. Runs
    // the same pair graph + components; only source-grain aggregates
    // leave the shuffle.
    "q126_corpus_report" -> ((s, d) => {
      val dd = docs(s, d)
      GraphOps.withCanonical(dd.select(col("doc_id"), col("source")), "doc_id",
          DedupClosure.pairEdges(dd))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("canonical") =!= col("doc_id"), 1L).otherwise(0L))
            .as("n_dups"))
        .withColumn("dup_rate",
          col("n_dups").cast("double") / col("n_docs").cast("double"))
        .orderBy(col("source"))
    }),

    // REPEATED-SPAN DEDUP (Lee et al. 2022's exact-substring pass, see
    // [[DedupOps.repeatedSpans]]): every merged ≥10-token run occurring
    // more than once corpus-wide, at ANY alignment — the off-alignment
    // boilerplate q104's fixed segments miss. Span offsets are token
    // indices, end exclusive.
    "q127_repeated_spans" -> ((s, d) =>
      DedupOps.repeatedSpans(docs(s, d), "doc_id", "text", 10)
        .select(col("doc_id"), col("span_start").cast("long"),
          col("span_end").cast("long"), col("n_wins"))
        .orderBy(col("doc_id"), col("span_start"))),

    // IN-ENGINE QUALITY CLASSIFIER (see [[graft.ml.LogReg]]): logistic
    // regression trained INSIDE the engine — 5 full-batch fixed-point GD
    // iterations predicting reference-domain membership (y = source ==
    // 'src0') from the q20 feature set (bias, length, stopword ratio,
    // alpha ratio, word length). The gate pins the whole training loop:
    // per-doc fixed-point probabilities are a function of the learned
    // weights, which are a function of every row's gradient in every
    // iteration. Fast-sigmoid link + integer gradient sums make the loop
    // bit-portable (no exp(), no float accumulation order) — int64 holds
    // the gradient sums exactly up to ~9.2e9 rows (|row contrib| ≤ 1e9).
    "q128_quality_classifier" -> ((s, d) => {
      import graft.ml.LogReg
      val fCols = Seq("f0", "f1", "f2", "f3", "f4")
      val feats = docs(s, d).select(col("doc_id"),
          when(col("source") === "src0", 1.0).otherwise(0.0).as("y"),
          lit(1.0).as("f0"),
          least(TextOps.nTokens(col("text")).cast("double") / 100.0,
            lit(1.0)).as("f1"),
          TextOps.stopwordRatio(col("text")).as("f2"),
          TextOps.alphaRatio(col("text")).as("f3"),
          (lit(1.0) - least(TextOps.avgWordLen(col("text")) / 10.0,
            lit(1.0))).as("f4"))
        .cache()
      val w = LogReg.train(feats, fCols, "y", 5, 0.5)
      val sFin = LogReg.fastSigmoid(LogReg.margin(w, fCols.map(col)))
      val out = feats.select(col("doc_id"),
          col("y").cast("long").as("label"),
          floor(sFin * lit(1e9)).cast("long").as("p_fp"),
          (sFin >= 0.5).as("pred"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      feats.unpersist()
      out
    }),

    // FUZZY DECONTAMINATION: the paraphrase-level contamination q105's
    // exact 8-gram probe misses — MinHash estimated Jaccard ≥ 0.5 between
    // a training doc and ANY benchmark ('src0') doc, via the batch×bench
    // LSH bucket join (training side never self-joins; the benchmark side
    // is the small probe set). Output: per contaminated training doc, the
    // match count, the max similarity estimate, and the lowest matching
    // benchmark id.
    "q129_fuzzy_decontam" -> ((s, d) => {
      val dd = docs(s, d)
      val bench = dd.filter(col("source") === "src0")
        .select(col("doc_id"), col("text"))
      val train = dd.filter(col("source") =!= "src0")
        .select(col("doc_id"), col("text"))
      val sigBn = DedupOps.nearDupSignatures(bench)
        .localCheckpoint()
      val sigT = DedupOps.nearDupSignatures(train)
        .localCheckpoint()
      // first-collision cross probe (DedupOps.crossPairsFromSignatures,
      // shared with q125): one emission per candidate, verify via zip_with
      // over the cached per-doc signature arrays
      val est = DedupOps.crossPairsFromSignatures(sigT, sigBn,
        NearDup.Hashes, NearDup.RowsPerBand, NearDup.Threshold)
      val out = est.groupBy(col("ida").as("doc_id"))
        .agg(count(lit(1)).as("n_bench_matches"),
          max(col("est_jaccard")).as("max_est"),
          min(col("idb")).as("first_bench"))
        .orderBy(col("doc_id"))
      out.localCheckpoint()
    }),

    // CROSS-SOURCE LEAKAGE REPORT: the q23 near-dup pair graph joined back
    // to source labels and rolled up per unordered source pair — how much
    // content leaks BETWEEN sources (the report that catches one crawl
    // slice duplicated across two dumps, or a benchmark mirrored inside a
    // web source). Pairs come from the LSH bucket probe (never all-pairs);
    // the doc_id→source join is AQE-sized; only (source-pair grain) rows
    // leave the rollup.
    "q130_cross_source_leakage" -> ((s, d) => {
      val dd = docs(s, d)
      val src = dd.select(col("doc_id"), col("source"))
      val lab = DedupOps.minhashPairs(dd)
        .join(src.select(col("doc_id").as("da"), col("source").as("sa")),
          Seq("da"))
        .join(src.select(col("doc_id").as("db"), col("source").as("sb")),
          Seq("db"))
        .filter(col("sa") =!= col("sb"))
      lab.select(
          least(col("sa"), col("sb")).as("src_lo"),
          greatest(col("sa"), col("sb")).as("src_hi"),
          when(col("sa") < col("sb"), col("da")).otherwise(col("db"))
            .as("doc_lo"),
          when(col("sa") < col("sb"), col("db")).otherwise(col("da"))
            .as("doc_hi"),
          col("est_jaccard"))
        .groupBy(col("src_lo"), col("src_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("doc_lo")).as("n_docs_lo"),
          countDistinct(col("doc_hi")).as("n_docs_hi"),
          max(col("est_jaccard")).as("max_est"))
        .orderBy(col("src_lo"), col("src_hi"))
    }),

    // TOKEN-BUDGET SELECTION: greedy highest-quality-first corpus
    // selection under a global token budget (B = total/4) — "pick the best
    // B tokens", the data-selection shape behind quality-pruned pretrain
    // mixes. The global ordered prefix sum distributes via the
    // [[graft.text.Packing]] two-phase shape: quality-quantile buckets
    // (qb = floor((1-q)·64), monotone in quality DESC — q1 > q2 ⟹
    // qb1 ≤ qb2, so bucket-major order IS the global order), cumulative
    // bucket offsets over the ≤65-row bucket table (the one intentionally
    // tiny single-partition window), within-bucket cumsum in parallel.
    // The budget itself is a 1-row broadcast aggregate. Only the crossing
    // doc is truncated (take_tokens < n_tok).
    "q131_token_budget" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val f = docs(s, d).select(col("doc_id"),
          TextOps.nTokens(col("text")).cast("long").as("n_tok"),
          TextOps.qualityScore(col("text")).as("quality"))
        .filter(col("n_tok") > 0)
        .cache()
      val bud = f.agg(expr("sum(n_tok) div 4").as("budget"))
      val bucketed = f.withColumn("qb",
        floor((lit(1.0) - col("quality")) * 64).cast("long"))
      val wOff = Window.orderBy(col("qb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = bucketed.groupBy(col("qb"))
        .agg(sum(col("n_tok")).as("btot"))
        .withColumn("boff", coalesce(sum(col("btot")).over(wOff), lit(0L)))
        .select(col("qb"), col("boff"))
      val wIn = Window.partitionBy(col("qb"))
        .orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val out = bucketed.join(broadcast(off), Seq("qb"))
        .withColumn("cum_tok",
          col("boff") + coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
        .crossJoin(broadcast(bud))
        .filter(col("cum_tok") < col("budget"))
        .select(col("doc_id"), col("n_tok"), col("quality"), col("cum_tok"),
          least(col("n_tok"), col("budget") - col("cum_tok"))
            .as("take_tokens"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      f.unpersist()
      out
    }),

    // EXPORT SHARDING — the training-export "last mile" after selection
    // (q124/q131) and packing (q101): a deterministic global pseudo-shuffle
    // assigns every doc a shard (60-bit md5 hash mod N — the q124 md5-rank
    // discipline) and an intra-shard position, so N downstream writers
    // each consume one shard in reproducible pseudo-random document order.
    // Scale shape: NO global sort — the hash key is data-independent so
    // shards are balanced by construction, and the only window is
    // PARTITIONED BY SHARD (N parallel sorts of corpus/N rows each; at
    // 100 TB, N is the writer count and each shard sort is a spillable
    // per-partition task, never a single-partition bottleneck).
    "q133_export_shards" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val nShards = 8
      docs(s, d)
        .select(col("doc_id"), TextOps.nTokens(col("text")).as("n_tokens"),
          TextOps.tokenHash60(concat(lit("shard:"),
            col("doc_id").cast("string"))).as("h"))
        .withColumn("shard", pmod(col("h"), lit(nShards.toLong)).cast("int"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))))
        .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"))
        .orderBy(col("shard"), col("pos"))
    }),

    // LINEAR-COUNTING DISTINCT SKETCH — the first ORACLE-GATED member of
    // the sketch family (the engine-private HLL/percentile sketches are
    // spec-locked only, since no cross-engine oracle can exist for them):
    // per-source distinct-token estimates from a 2^16-bucket occupancy
    // bitmap over the portable 60-bit md5 hash, with the classic
    // estimator est = m·ln(m/empty) computed via the integer-only
    // fixed-point ln — every quantity (bucket sets, occupancy counts,
    // milli-token estimate) is integer-identical across engines. The
    // '__all' row is the MERGED sketch (union of the per-source bucket
    // sets), proving the sketch's merge distributivity under the oracle,
    // not just under SketchSpec. Scale shape: the (source, bucket) grid is
    // the only shuffled state — ≤ |sources|·2^16 rows regardless of corpus
    // size, the whole point of a cardinality sketch. Domain: occupancy
    // must stay below m (empty ≥ 1) — at m = 65536 that fails only past
    // ~60 (ln m) vocabulary saturation, far beyond any per-source slice
    // here; a production corpus sizes m to the expected cardinality.
    "q134_linear_counting" -> ((s, d) => {
      val m = 65536L
      val tok = docs(s, d).select(col("source"),
        explode(TextOps.tokens(col("text"))).as("token"))
      val occ = tok.select(col("source"),
          pmod(TextOps.tokenHash60(col("token")), lit(m)).as("bucket"))
        .distinct().cache()
      val bySrc = occ.groupBy(col("source")).agg(count(lit(1)).as("occupied"))
      val overall = occ.select(col("bucket")).distinct()
        .agg(count(lit(1)).as("occupied"))
        .select(lit("__all").as("source"), col("occupied"))
      val exact = tok.groupBy(col("source"))
        .agg(count_distinct(col("token")).as("n_exact"))
        .unionByName(tok.agg(count_distinct(col("token")).as("n_exact"))
          .select(lit("__all").as("source"), col("n_exact")))
      val out = bySrc.unionByName(overall)
        .withColumn("num", lit(m) *
          (graft.functions.IntLn.iln1e9(lit(m))
            - graft.functions.IntLn.iln1e9(lit(m) - col("occupied"))))
        .withColumn("est_milli", expr("num div 1000000"))
        .join(exact, Seq("source"))
        .select(col("source"), col("occupied"), col("est_milli"), col("n_exact"))
        .orderBy(col("source"))
        .localCheckpoint()
      occ.unpersist()
      out
    }),

    // BPE TOKENIZER INDUCTION (see [[graft.text.Bpe]]): 3 merge rounds on
    // the corpus vocabulary; the gate pins the merge table itself —
    // winner pair and its weighted count per round, under the total order
    // (count DESC, lhs ASC, rhs ASC). Training runs on the word-frequency
    // table, never rescanning documents.
    "q122_bpe_merges" -> ((s, d) => {
      val (_, merges) = graft.text.Bpe.learn(
        graft.text.Bpe.wordTable(docs(s, d), "text"), 3)
      merges.orderBy(col("merge_rank"))
    }),

    // The segmentation the learned merges induce: every vocabulary word
    // re-tokenized under the 3 merges (greedy left-to-right per round).
    // Gating every word's final symbol string pins the merge ORDER and
    // the scan rule, not just the winner list.
    "q123_bpe_segment" -> ((s, d) => {
      val (vocab, _) = graft.text.Bpe.learn(
        graft.text.Bpe.wordTable(docs(s, d), "text"), 3)
      vocab.select(col("word"), col("freq"),
          concat_ws(" ", col("syms")).as("segmentation"),
          size(col("syms")).as("n_syms"))
        .orderBy(col("word"))
    }),

    // CORPUS TOKEN ACCOUNTING UNDER THE LEARNED TOKENIZER: per-doc token
    // counts under the q122-induced BPE (not the whitespace/regex proxies
    // of q18) — the number that actually prices a document against a
    // training token budget. The corpus's token stream joins the
    // vocabulary's segmentation lengths; the vocabulary is Heaps-law
    // sized, so the join is AQE-planned and never hint-broadcast (q117's
    // rule — at 100 TB the vocab is itself a big table).
    "q145_bpe_corpus_tokens" -> ((s, d) => {
      val dd = docs(s, d)
      val (vocab, _) = graft.text.Bpe.learn(
        graft.text.Bpe.wordTable(dd, "text"), 3)
      val nsym = vocab.select(col("word"), size(col("syms")).as("n_syms"))
      dd.select(col("doc_id"), col("source"),
          explode(TextOps.tokens(col("text"))).as("word"))
        .join(nsym, Seq("word"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // TEMPERATURE-BASED MIX RESAMPLING (the UniMax / multilingual-sampling
    // stage): per-source quotas ∝ n^α with α = 0.5, so small sources are
    // up-weighted relative to their share; each source then keeps its
    // quota's worth of docs by md5 rank (q93's resumable, rand()-free
    // sampler). sqrt is IEEE-exact on both engines; the scaled weights are
    // FIXED-POINT longs so the normalizing sum is order-independent, and
    // the quota division is the same double op chain on both engines.
    // Scale shape: the quota table is |sources|-sized (a dimension, not a
    // per-key aggregate — cf. q108) and broadcasts; docs shuffle once for
    // the per-source rank window.
    "q124_temperature_mix" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dd = docs(s, d)
      val counts = dd.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val scaled = counts.withColumn("s_fp",
        floor(sqrt(col("n").cast("double")) * lit(1e6)).cast("long"))
      val tot = scaled.agg(sum(col("s_fp")).as("tot_fp"), sum(col("n")).as("n_total"))
      val quota = scaled.crossJoin(broadcast(tot))
        .withColumn("quota",
          floor(col("n_total").cast("double") * col("s_fp").cast("double")
            / col("tot_fp").cast("double")).cast("long"))
        .select(col("source"), col("quota"))
      dd.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
        .join(broadcast(quota), Seq("source"))
        .filter(col("rk") <= col("quota"))
        .select(col("source"), col("doc_id"), col("rk").cast("int").as("rk"),
          col("quota"))
        .orderBy(col("source"), col("rk"))
    }),

    // CORPUS-PIPELINE FLAGSHIP — the training-data analog of q98's ERKG
    // flagship: ONE gated dataflow running the passes a real corpus build
    // chains, in order: (1) language + holdout slice (en, source<>src0),
    // (2) quality floor (q20's score >= 0.55), (3) near-dup
    // canonicalization among survivors (MinHash-LSH pairs -> DataFrame
    // connected components -> keep min-id representative), (4) benchmark
    // decontamination (drop docs sharing an 8-gram with src0), (5) pack
    // survivors into 512-token training windows. The output is the
    // packing manifest, so the gate pins every stage at once — a wrong
    // survivor set anywhere shifts every downstream bin boundary. Every
    // stage keeps its standalone scale shape (per-row quality expression,
    // banded LSH blocking, broadcast gram probe, two-phase prefix sum).
    "q116_corpus_flagship" -> ((s, d) =>
      graft.text.Packing.packSequences(corpusSurvivors(s, d), "doc_id", "text", 512L)
        .orderBy(col("bin"), col("doc_id"))),

    // SEQUENCE PACKING (concat-and-chop): the span manifest that fills
    // 512-token training windows from the doc-id-ordered token stream —
    // zero padding waste, docs split across window boundaries. The global
    // prefix sum runs as the two-phase bucket scan (see
    // [[graft.text.Packing]]); the oracle is the NAIVE single window —
    // value-identical by construction, so the gate also proves the
    // distributed prefix sum against its sequential definition.
    "q101_pack_sequences" -> ((s, d) =>
      graft.text.Packing.packSequences(docs(s, d), "doc_id", "text", 512L)
        .orderBy(col("bin"), col("doc_id"))),

    // LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT: the split key is the NEAR-DUP
    // CLUSTER id (q52's MinHash-LSH -> connected components), not the doc
    // id, so near-duplicate documents can never straddle a split boundary
    // — the train/test-leakage failure mode of naive per-doc splits. The
    // assignment is the portable md5 bucket (tokenHash60 % 100 -> 80/10/10),
    // so it is deterministic, resumable, and rand()-free — re-running on a
    // grown corpus never reassigns an existing cluster. Scale shape: the
    // pair graph + CC is q52's (blocked, never all-pairs); the bucket is a
    // per-row expression.
    "q136_split_assign" -> ((s, d) => {
      val dd = docs(s, d)
      GraphOps.withCanonical(dd.select(col("doc_id")), "doc_id", DedupClosure.pairEdges(dd))
        .withColumn("bucket",
          pmod(TextOps.tokenHash60(col("canonical").cast("string")), lit(100L)))
        .select(col("doc_id"), col("canonical"), col("bucket"),
          when(col("bucket") < 80, lit("train"))
            .when(col("bucket") < 90, lit("val"))
            .otherwise(lit("test")).as("split"))
        .orderBy(col("doc_id"))
    }),

    // PER-SOURCE WINSORIZED QUALITY: clamp each doc's quality score to its
    // source's [p05, p95] band — the robust normalization a mixture-of-
    // sources pipeline applies before cross-source quality thresholds
    // (one source's long-tailed score distribution must not dominate a
    // global cut).
    // percentile_disc picks an ACTUAL element (the q70 discipline), so the
    // band edges are bit-identical cross-engine; the clamp is pure
    // greatest/least. Scale shape: one per-source aggregate (a dimension —
    // closed source enum, like q120's label table) broadcast back onto the
    // doc stream.
    "q141_winsorized_quality" -> ((s, d) => {
      val scored = docs(s, d).select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"))
      val pct = scored.groupBy(col("source")).agg(
        expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY quality)").as("p05"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY quality)").as("p95"))
      scored.join(broadcast(pct), Seq("source"))
        .select(col("doc_id"), col("source"), col("quality"),
          greatest(col("p05"), least(col("quality"), col("p95"))).as("quality_w"),
          (col("quality") < col("p05") || col("quality") > col("p95")).as("clipped"))
        .orderBy(col("doc_id"))
    }),

    // WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis–Espirakis A-ES,
    // derandomized): keep the top-200 docs by priority ln(u)/w where
    // u = (contentHash+1)/2^60 and w = the fixed-point quality score — a
    // sample ∝ quality with no rand() anywhere: resumable, task-retry-safe,
    // engine-portable. ln(u) is EXACT int64 (IntLn difference form:
    // iln(h+1) − iln(2^60)); the only float op is the final one-division
    // priority, identical IEEE on both engines. Scale shape: per-row
    // expression work + a global top-k (TakeOrdered — map-side partial
    // top-k per partition, never a full sort).
    "q139_weighted_sample" -> ((s, d) => {
      val q60 = 1152921504606846976L // 2^60
      val wfp = (floor(TextOps.qualityScore(col("text")) * lit(1e9)))
        .cast("long") + lit(1L)
      val a = graft.functions.IntLn.iln1e9(
          TextOps.tokenHash60(col("text")) + lit(1L)) -
        graft.functions.IntLn.iln1e9(lit(q60))
      docs(s, d)
        .select(col("doc_id"), wfp.as("w_fp"),
          (a.cast("double") / wfp.cast("double")).as("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(200)
    }),

    // QUALITY-AWARE CANONICAL SELECTION: within each near-dup cluster keep
    // the HIGHEST-QUALITY member (q20's score; doc_id breaks ties), not the
    // min-id one — the selection rule a production dedup pass actually
    // wants (min-id keeps whichever copy happened to be crawled first).
    // The quality score is a per-row double expression whose bit-identity
    // across engines q20's gate already establishes, so the argmax order
    // is portable. Scale shape: q52's pair graph + one window partitioned
    // by cluster (clusters are near-dup groups — small by construction).
    "q137_quality_canonical" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dd = docs(s, d)
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("quality").desc, col("doc_id"))
      GraphOps.withCanonical(
          dd.select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality")),
          "doc_id", DedupClosure.pairEdges(dd))
        .withColumnRenamed("canonical", "cluster")
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("cluster"), col("quality"),
          (col("rn") === 1).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // COUNT-MIN SKETCH heavy hitters ([[graft.text.CountMin]]): the
    // mergeable frequency sketch — 4 × 1024 counters built as ONE map-side-
    // combinable aggregation, per-SOURCE sketches summed counter-wise into
    // the global sketch (mergeability proven in-plan, the q134
    // distributivity contract), then the Heaps-law vocabulary probes the
    // 4096-row broadcast counter table and takes the per-token MIN. Output:
    // top-20 estimated heavy hitters with their exact counts alongside —
    // est ≥ exact always (CMS over-estimates; TextOpsSpec pins the law),
    // and the ORDER is the estimate's, so a blocking regression in the
    // sketch shows as a hash break. Top-k is orderBy+limit (TakeOrdered,
    // map-side partial top-k — q139's rule, never a global window).
    "q151_cms_heavy_hitters" -> ((s, d) => {
      import graft.text.CountMin
      val toks = docs(s, d).select(col("source"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .cache() // referenced by the sketch build, vocab, and exact counts
      try {
        val perSource = toks
          .select(col("source"), col("token"),
            explode(sequence(lit(0), lit(3))).as("r"))
          .select(col("source"), col("r"),
            CountMin.rowHash(col("r"), col("token"), 1024).as("idx"))
          .groupBy(col("source"), col("r"), col("idx"))
          .agg(count(lit(1)).as("c"))
        val sk = CountMin.merge(perSource)
        val est = CountMin.estimates(
          toks.select(col("token")).distinct(), sk, 4, 1024)
        val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("exact"))
        val out = est.join(exact, Seq("token"))
          .orderBy(col("est").desc, col("token").asc)
          .limit(20)
        out.localCheckpoint()
      } finally toks.unpersist()
    }),

    // q136's SPLIT consumed from the MATERIALIZED closure artifact
    // ([[graft.sources.DedupClosure]]) — the write-once/read-many
    // production shape: the MinHash→CC closure is computed ONCE per corpus
    // snapshot, persisted bucketed by doc_id, and this query (like any
    // downstream consumer) does only per-row expression work over the
    // artifact scan. Same values as q136 by construction (the artifact IS
    // q52's closure), so the oracle recomputes the closure it persisted.
    "q146_artifact_split" -> ((s, d) => {
      val cl = DedupClosure.read(s, docs(s, d), d)
      cl.withColumn("bucket",
          pmod(TextOps.tokenHash60(col("canonical").cast("string")), lit(100L)))
        .select(col("doc_id"), col("canonical"), col("bucket"),
          when(col("bucket") < 80, lit("train"))
            .when(col("bucket") < 90, lit("val"))
            .otherwise(lit("test")).as("split"))
        .orderBy(col("doc_id"))
    }),

    // q137's QUALITY-ARGMAX CANONICAL consuming the same artifact — the
    // second reader, proving the read-many half: two consumers, one
    // closure build. The doc_id join against the bucketed artifact needs
    // no exchange on the artifact side (DedupClosureSpec pins the plan).
    "q147_artifact_canonical" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cl = DedupClosure.read(s, docs(s, d), d)
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("quality").desc, col("doc_id"))
      docs(s, d)
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
        .join(cl, Seq("doc_id"))
        .withColumn("cluster", col("canonical"))
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("cluster"), col("quality"),
          (col("rn") === 1).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // EXACT SUBSTRING-SPAN DEDUP COVERAGE — the relational re-derivation of
    // suffix-array substring dedup (Lee et al. 2021, "Deduplicating Training
    // Data Makes Language Models Better"): a token position is "duplicated"
    // if it is covered by ANY 8-token gram that occurs more than once in the
    // corpus. Plan shape (the 100 TB shape — no suffix array, no driver
    // state): positional 8-grams from the token array (pure expression work,
    // one row per position), ONE shuffle by gram hash (a count window marks
    // grams with corpus frequency > 1 — same exchange the count+semi-join
    // would pay twice), then per-doc interval union via the classic
    // gaps-and-islands window (running max of span ends) instead of
    // exploding each span ×8 — O(spans) not O(spans·n). Output per doc:
    // covered-position count + fraction — the per-doc signal a
    // filter/trim pass consumes. All-integer until the final ratio.
    // Composes [[DedupOps.repeatedSpans]] (q127's island-merge machinery,
    // w=8): coverage = Σ(span_end − span_start) over the merged spans —
    // the span table and the coverage signal stay one implementation.
    "q157_dup_span_coverage" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      val perDoc = DedupOps.repeatedSpans(docs(s, d), "doc_id", "text", 8)
        .groupBy(col("doc_id"))
        .agg(sum(col("span_end") - col("span_start")).as("dup_cov"))
      t.join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("dup_cov"), lit(0L)).as("dup_tokens"),
          (coalesce(col("dup_cov"), lit(0L)).cast("double")
            / greatest(col("n_toks"), lit(1L))).as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // PORTABLE HYPERLOGLOG over distinct BIGRAMS — the third mergeable
    // sketch family member (q134 linear counting = occupancy, q151 CMS =
    // frequency, this = register-max cardinality). 256 registers; bucket =
    // low 8 bits of the portable 60-bit md5 hash, rank rho = leading-zero
    // count of the remaining 52 bits + 1, computed arithmetically as
    // 53 - bitlength (bin() is minimal-width in BOTH engines, so
    // len(bin(v)) IS bitlength — no log, no float). Merge distributivity is
    // proven IN-PLAN: the __all row's registers are max-merged FROM the
    // per-source register tables, never recomputed from raw rows — a
    // register-wise MAX is the HLL merge law. The raw estimator
    // alpha·m²/Z uses a fixed-point Z (sum of 2^(53-reg), exact int64);
    // the single float division is correctly rounded on both engines.
    // Exact distincts ride alongside, so estimator accuracy is a gated
    // NUMBER (SketchSpec pins the error law). Small-range LC correction is
    // deliberately omitted — bigram cardinality keeps n >> m here, and the
    // low-fill regime is q134's operator.
    "q158_hll_registers" -> ((s, d) => {
      import graft.text.Hll
      val bi = docs(s, d)
        .select(col("source"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("source"),
          explode(transform(sequence(lit(0), size(col("toks")) - 2),
            i => concat_ws(" ",
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2)))).as("bigram"))
      val perSrc = Hll.registers(
        bi.select(col("source"), TextOps.tokenHash60(col("bigram")).as("h")),
        "h", "source")
      val global = perSrc.groupBy(col("idx")).agg(max(col("reg")).as("reg"))
        .select(lit("__all").as("source"), col("idx"), col("reg"))
      val sk = Hll.zTable(
        perSrc.select(col("source"), col("idx"), col("reg")).union(global),
        "source")
      val exSrc = bi.groupBy(col("source"))
        .agg(countDistinct(col("bigram")).as("exact"))
      val exAll = bi.agg(countDistinct(col("bigram")).as("exact"))
        .select(lit("__all").as("source"), col("exact"))
      sk.join(exSrc.union(exAll), Seq("source"))
        .select(col("source"), col("nonzero"), col("z"),
          Hll.estimate(col("z")).as("est"), col("exact"))
        .orderBy(col("source"))
    }),

    // MERGEABLE EQUI-WIDTH HISTOGRAM QUANTILES — the distribution-sketch
    // member of the family: per-source 64-bin histograms over n_chars
    // (width 16, overflow clamped to the last bin) merged COUNTER-WISE into
    // the global histogram in-plan (the q151/q158 distributivity contract),
    // then p50/p90/p99 read from the merged histogram as the first bin
    // whose cumulative count reaches ceil(q·N). The histogram estimate
    // (upper bin edge) and the EXACT discrete quantile (same rank rule,
    // computed by row_number over the values) ride side by side, so the
    // sandwich law est-16 ≤ exact < est is a gated NUMBER, not an
    // assertion. At 100 TB the histogram is the production path — fixed
    // 64-counter state per source, one narrow shuffle, no global sort;
    // the exact twin exists for the oracle.
    "q160_histogram_quantiles" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val qs = Seq(0.5, 0.9, 0.99)
      val dd = docs(s, d).select(col("source"), col("doc_id"), col("n_chars"))
      val binned = dd.select(col("source"),
        least(floor(col("n_chars") / 16).cast("long"), lit(63L)).as("bin"))
      val perSrc = binned.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val global = perSrc.groupBy(col("bin")).agg(sum(col("c")).as("c"))
        .select(lit("__all").as("source"), col("bin"), col("c"))
      val hist = perSrc.select(col("source"), col("bin"), col("c")).union(global)
      val wCum = Window.partitionBy(col("source")).orderBy(col("bin"))
      val cum = hist.withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("total", sum(col("c")).over(Window.partitionBy(col("source"))))
      val qTab = s.range(1).select(
        explode(array(qs.map(lit): _*)).as("q"))
      val est = cum.crossJoin(broadcast(qTab))
        .withColumn("target", ceil(col("q") * col("total")).cast("long"))
        .filter(col("cum") >= col("target"))
        .groupBy(col("source"), col("q"), col("target"))
        .agg(min(col("bin")).as("qbin"))
        .select(col("source"), col("q"), col("target"),
          ((col("qbin") + 1) * 16).as("est_edge"))
      val ranked = dd.select(col("source"), col("n_chars"), col("doc_id"))
        .union(dd.select(lit("__all").as("source"), col("n_chars"), col("doc_id")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("n_chars"), col("doc_id"))))
      val exact = ranked.join(broadcast(est), Seq("source"))
        .filter(col("rn") === col("target"))
        .groupBy(col("source"), col("q"))
        .agg(min(col("n_chars")).as("exact"))
      est.join(exact, Seq("source", "q"))
        .select(col("source"), col("q"), col("target"), col("est_edge"),
          col("exact"))
        .orderBy(col("source"), col("q"))
    }),

    // DUP-SPAN TRIM — q157's ACTING twin (the step Lee et al. 2021 actually
    // apply): REMOVE every token position covered by a corpus-duplicated
    // 8-gram and re-emit the trimmed document text, hash-gated STRING
    // against the oracle's reassembly. Deliberately aggressive contract
    // (all occurrences trimmed, not all-but-one — deterministic with no
    // "which copy survives" arrival-order question; the keep-one policy is
    // the dedup family's q52/q137 canonical selection at doc granularity).
    // Scale shape: covered positions come from exploding
    // [[DedupOps.repeatedSpans]]' MERGED islands (disjoint by construction,
    // so no distinct) — linear in covered positions, one anti equi-join,
    // one per-doc sorted reassembly, nothing quadratic. Fully-covered docs
    // survive as empty strings (left join), so the output is total over
    // the corpus.
    "q161_dup_span_trim" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"),
        TextOps.tokens(col("text")).as("toks"))
      val pos = t.select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos", "token")))
      val covered = DedupOps.repeatedSpans(docs(s, d), "doc_id", "text", 8)
        .select(col("doc_id"),
          explode(sequence(col("span_start"), col("span_end") - 1)).as("pos"))
      val kept = pos.join(covered, Seq("doc_id", "pos"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("kept"),
          array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("token")))),
              x => x.getField("token")), " ").as("trimmed_text"))
      t.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("kept"), lit(0L)).as("kept"),
          coalesce(col("trimmed_text"), lit("")).as("trimmed_text"))
        .orderBy(col("doc_id"))
    }),

    // SOURCE-SIMILARITY MATRIX — corpus-level dedup diagnostics: pairwise
    // shingle-set Jaccard between SOURCES, estimated from per-source
    // 32-hash MinHash signatures with the exact Jaccard alongside — est vs
    // exact per pair is the MinHash accuracy contract as gated NUMBERS.
    // The permutations are SALTED md5 (q151's salt idiom), NOT q52's cheap
    // linear family: (2i+1)·hs with tiny odd multipliers is near-monotone
    // over small base hashes, so the globally-minimal shingle (shared by
    // every source drawing from a common vocabulary) wins most
    // permutations and inflates disjoint-set estimates to ~0.65 (measured)
    // — harmless for q52's ≥0.5 near-dup verify, fatal for low-Jaccard
    // ESTIMATION. Salted md5 is min-wise independent for practical
    // purposes; it costs k md5s per distinct shingle, which the
    // source-grain distinct keeps linear in the corpus. Scale: a source's
    // signature is 32 longs regardless of corpus size, so the matrix costs
    // a shingle scan + a |sources|²-bounded join of tiny signatures; the
    // exact columns (shingle-set self-join) are the oracle baseline,
    // bounded by shingle sharing, not N².
    "q163_source_similarity" -> ((s, d) => {
      // r17: source-grain shingle sets off the materialized shingle view
      val ss = graft.sources.TokenArtifact.readShingles(s, docs(s, d), d)
        .select(col("source"), col("shingle"))
        .distinct()
      val sig = ss
        .select(col("source"), explode(sequence(lit(0), lit(31))).as("i"),
          col("shingle"))
        .select(col("source"), col("i"),
          TextOps.tokenHash60(concat_ws("|", col("i"), col("shingle"))).as("h"))
        .groupBy(col("source"), col("i")).agg(min(col("h")).as("mh"))
      val m = sig.as("a").join(sig.as("b"),
          col("a.i") === col("b.i") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
        .agg(sum(when(col("a.mh") === col("b.mh"), 1L).otherwise(0L))
          .as("matches"))
      val sz = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val it = ss.as("a").join(ss.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
        .agg(count(lit(1)).as("n_inter"))
      val pairs = sz.as("a").join(sz.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("sa"), col("b.source").as("sb"),
          col("a.n").as("n_a"), col("b.n").as("n_b"))
      pairs.join(m, Seq("sa", "sb"))
        .join(it, Seq("sa", "sb"), "left")
        .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        .select(col("sa"), col("sb"), col("n_a"), col("n_b"),
          col("n_inter"), col("n_union"),
          (col("n_inter").cast("double") / col("n_union")).as("jaccard"),
          (col("matches").cast("double") / lit(32.0)).as("est_jaccard"))
        .orderBy(col("sa"), col("sb"))
    }),

    // PER-SOURCE KL DRIFT — data-mixing diagnostics: KL(P_source ∥
    // P_corpus) over unigram distributions, INTEGER-EXACT: each term
    // c_s·[iln(c_s) + iln(N) − iln(N_s) − iln(c)] is a product of exact
    // int64s (IntLn's fixed-point ln — the q114/q139 discipline), summed
    // through DECIMAL(38,0) so both engines hold the sum exactly (Spark
    // long would wrap where DuckDB widens to int128); kl_fp — the gated
    // integer — converts to the nats value by two pinned float divisions.
    // The global distribution is aggregated FROM the per-source counts
    // (merge in-plan, q158's discipline). KL ≥ 0 law spec-pinned.
    "q164_source_kl_drift" -> ((s, d) => {
      import graft.functions.IntLn
      val cs = docs(s, d)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c_s"))
      val ct = cs.groupBy(col("token")).agg(sum(col("c_s")).as("c"))
      val ns = cs.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
      val nTot = ct.agg(sum(col("c")).as("n"))
      val terms = cs.join(ct, Seq("token"))
        .join(broadcast(ns), Seq("source"))
        .crossJoin(broadcast(nTot))
        // the per-term PRODUCT is widened too, not just the sum: in
        // LongType c_s · |Σiln| wraps past 2^63 once a term reaches
        // ~1.6e8 occurrences (|Σiln| ≤ ~5.6e10 worst case) — at corpus
        // scale Spark would silently emit wrapped KL while the DuckDB
        // twin (widened the same way, below) stays exact
        .withColumn("term_fp", col("c_s").cast("decimal(38,0)") *
          (IntLn.iln1e9(col("c_s")) + IntLn.iln1e9(col("n"))
            - IntLn.iln1e9(col("n_s")) - IntLn.iln1e9(col("c")))
            .cast("decimal(38,0)"))
      terms.groupBy(col("source"))
        .agg(max(col("n_s")).as("n_s"),
          sum(col("term_fp")).cast("decimal(38,0)").as("kl_fp_dec"))
        .select(col("source"), col("n_s"),
          col("kl_fp_dec").cast("double").as("kl_fp"),
          ((col("kl_fp_dec").cast("double") / lit(1.0e9))
            / col("n_s").cast("double")).as("kl"))
        .orderBy(col("source"))
    }),

    // SOURCE NOVELTY — marginal-contribution accounting for corpus
    // curation: in a pinned (alphabetical) source order, a shingle is NEW
    // at the first source that carries it; per source, distinct-shingle
    // count, newly-contributed count, their ratio, and the cumulative
    // distinct curve. This is the "what does adding source S actually buy"
    // number (diminishing-returns planning — the same question dedup
    // ratios answer post-hoc, answered BEFORE mixing). Scale: one distinct
    // shingle scan + one groupBy(shingle) min — both linear, shuffled on
    // shingle; the window sum runs over |sources| rows, not the corpus.
    "q166_source_novelty" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // r17: source-grain shingle sets off the materialized shingle view
      val ss = graft.sources.TokenArtifact.readShingles(s, docs(s, d), d)
        .select(col("source"), col("shingle"))
        .distinct()
      val firsts = ss.groupBy(col("shingle"))
        .agg(min(col("source")).as("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_new"))
      ss.groupBy(col("source")).agg(count(lit(1)).as("n_shingles"))
        .join(firsts, Seq("source"), "left")
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("novelty",
          col("n_new").cast("double") / col("n_shingles"))
        .withColumn("cum_distinct",
          sum(col("n_new")).over(Window.orderBy(col("source"))))
        .orderBy(col("source"))
    }),

    // IN-ENGINE QUALITY-CLASSIFIER TRAINING — the fastText/CCNet move
    // (train a cheap linear filter on rule-derived labels, then score at
    // corpus scale) expressed as distributed full-batch gradient descent:
    // 5 epochs of logistic regression over 4 engineered features, labels =
    // q118's Gopher keep rule. Every epoch is ONE map-side-combinable
    // aggregate over a narrow cached projection (4 doubles + label per
    // doc) returning k·d = 4 gradient sums — the classic MLlib GD shape:
    // model state lives on the driver (4 doubles), data never moves, and
    // at 100 TB an epoch costs one scan of a ~40 B/doc columnar cache.
    // Cross-engine exactness is by construction, not tolerance: the
    // sigmoid is the rational fast-sigmoid 0.5 + z/(2(1+|z|)) (+,*,/,|·|
    // only — no exp, whose libm rounding differs across engines), and
    // gradient sums are fixed-point floor(g·1e9) BIGINTs (the module's
    // quantization discipline), so the weight trajectory is bit-identical
    // in DuckDB's unrolled-CTE twin. The 1e9 quantum bounds each epoch sum
    // by n·|x|·1e9 — at ~1e12 docs that approaches BIGINT range, and the
    // production dial is a coarser quantum (1e6), traded off in the
    // Scaladoc rather than silently. Train accuracy (z ≥ 0 decision) rides
    // in the gated output: 97.0 % at sf0.01 — the learned separator, not
    // the majority class (55.4 %).
    "q168_quality_classifier" -> ((s, d) => {
      val (feats, w) = logregTrain(s, d)
      val zf = logregZ(w)
      val accRow = feats.agg(
        sum(when((zf >= lit(0.0)) === (col("y") === lit(1.0)), 1L)
          .otherwise(0L)).as("correct"),
        count(lit(1)).as("n")).head()
      val acc = accRow.getLong(0).toDouble / accRow.getLong(1).toDouble
      val names = Seq("x1_n_words", "x2_mean_word_len", "x3_stop_frac", "x4_bias")
      import s.implicits._
      names.zip(w).map { case (f, wt) => (f, wt, acc, accRow.getLong(1)) }
        .toDF("feature", "weight", "train_acc", "n_docs")
        .orderBy(col("feature"))
    }),

    // PER-SOURCE QUANTILE QUALITY GATE — the FineWeb-style curation step
    // "keep each source's top-p% by quality" WITHOUT a per-source sort of
    // the corpus: quality (q20's composite score) is binned into 64
    // fixed-width counters per source, the per-source threshold bin is
    // read from the descending cumulative histogram (first bin set whose
    // mass reaches ceil(0.25·n_source)), and docs join back against the
    // |sources|-row broadcast threshold table. The gate is BIN-GRANULAR by
    // contract (keeps AT LEAST the top 25 % — boundary-bin ties all
    // survive); the dial is bin width, not a sort. Scale shape: one
    // 64-counter-per-source aggregate + one broadcast join — no global or
    // per-source sort anywhere, so a skewed giant source costs its scan,
    // not its sort. Oracle mirrors the binning and threshold rule exactly.
    "q169_source_quality_gate" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dd = docs(s, d).select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"))
      val binned = dd.withColumn("bin",
        least(floor(col("quality") * lit(64.0)).cast("long"), lit(63L)))
      val hist = binned.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val thr = hist
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("source")).orderBy(col("bin").desc)))
        .withColumn("total", sum(col("c")).over(
          Window.partitionBy(col("source"))))
        .withColumn("target",
          ceil(col("total").cast("double") * lit(0.25)).cast("long"))
        .filter(col("cum") >= col("target"))
        .groupBy(col("source")).agg(max(col("bin")).as("thr_bin"))
      binned.join(broadcast(thr), Seq("source"))
        .select(col("doc_id"), col("source"), col("quality"), col("bin"),
          col("thr_bin"), (col("bin") >= col("thr_bin")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // TOKENIZER FERTILITY / COMPRESSION REPORT — the budget-planning
    // numbers behind every mixing decision (token counts per source are
    // what temperature mixing q124 and quota planning actually consume):
    // per source and globally, words, BPE-ish tokens, chars, fertility =
    // tokens/word and chars/token. Pure per-row expression counts + one
    // |sources|-key aggregate (the global row aggregated FROM the
    // per-source counters in-plan — the q151/q160 distributivity shape);
    // at 100 TB this is one corpus scan and a 21-row result.
    "q171_tokenizer_fertility" -> ((s, d) => {
      val per = docs(s, d).select(col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("w"),
          TextOps.bpeishTokenCount(col("text")).cast("long").as("b"),
          length(col("text")).cast("long").as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
          sum(col("b")).as("n_bpe_tokens"), sum(col("c")).as("n_chars"))
      val all = per.groupBy()
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_words")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .select(lit("__all").as("source"), col("n_docs"), col("n_words"),
          col("n_bpe_tokens"), col("n_chars"))
      per.select(col("source"), col("n_docs"), col("n_words"),
          col("n_bpe_tokens"), col("n_chars")).union(all)
        .withColumn("fertility", col("n_bpe_tokens").cast("double")
          / greatest(col("n_words"), lit(1L)).cast("double"))
        .withColumn("chars_per_token", col("n_chars").cast("double")
          / greatest(col("n_bpe_tokens"), lit(1L)).cast("double"))
        .orderBy(col("source"))
    }),

    // LENGTH-BUCKETED PADDING-WASTE REPORT — q101's complement: concat-
    // and-chop has zero waste but splits documents; pipelines that must
    // keep examples INTACT (SFT, contrastive batches) pad instead, and the
    // standard trick is power-of-2 length bucketing. Per bucket (smallest
    // 2^k ≥ n_tok, integer-exact via the bit length of n_tok − 1 — no
    // float log2 at the boundary): docs, real tokens, padded tokens,
    // waste. Every doc in bucket b > 1 is longer than b/2, so waste_frac
    // < 0.5 by construction (law-pinned) — the report quantifies how far
    // below. One scan, |buckets| ≤ 64 rows out; the curation dial is
    // bucket granularity vs batch-shape uniformity.
    "q176_padding_waste" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("bitlen", when(col("n_tok") === 1, lit(0))
          .otherwise(length(bin(col("n_tok") - 1))))
        .withColumn("bucket", expr("shiftleft(CAST(1 AS BIGINT), bitlen)"))
      t.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"))
        .withColumn("padded_tok", col("bucket") * col("n_docs"))
        .withColumn("waste_tok", col("padded_tok") - col("sum_tok"))
        .withColumn("waste_frac",
          col("waste_tok").cast("double") / col("padded_tok").cast("double"))
        .orderBy(col("bucket"))
    }),

    // DEDUP THRESHOLD SENSITIVITY SWEEP — "what does tightening θ cost"
    // answered from ONE signature/candidate pass: the q23 pair machinery
    // runs once at the blocking floor (0.5, where the 8×4 banding is
    // tuned), then five thresholds 0.5…0.9 read the SAME estimate column —
    // per θ, surviving pair count and distinct docs touched. The dial
    // report every dedup rollout wants (pairs removed vs θ) without five
    // re-blockings; candidates are localCheckpointed so the sweep costs
    // five broadcast-filter-aggregates over the pair set, not five corpus
    // scans. Inherits q23's blocking contract (candidates must share a
    // band — sweeping UP from the floor only ever filters).
    "q175_dedup_threshold_sweep" -> ((s, d) => {
      val sig = DedupOps.nearDupSignatures(docs(s, d))
        .localCheckpoint() // three plan references (bands ×2, verify ×2)
      val pairs = DedupOps.minhashPairsFromSignatures(sig,
          NearDup.Hashes, NearDup.RowsPerBand, NearDup.Threshold)
        .localCheckpoint()
      val thr = s.range(5).select(
        (lit(0.5) + col("id").cast("double") * lit(0.1)).as("threshold"))
      val filt = pairs.crossJoin(broadcast(thr))
        .filter(col("est_jaccard") >= col("threshold"))
      val np = filt.groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
      val nd = filt
        .select(col("threshold"), explode(array(col("da"), col("db"))).as("doc"))
        .groupBy(col("threshold")).agg(countDistinct(col("doc")).as("n_docs"))
      np.join(nd, Seq("threshold")).orderBy(col("threshold"))
    }),

    // CROSS-SOURCE DUPLICATION MATRIX — which source pairs share near-dup
    // documents (the CommonCrawl-vs-C4 overlap question that decides
    // whether two feeds are worth ingesting together): q23's MinHash pair
    // machinery with both endpoints resolved to sources, counted per
    // UNORDERED source pair (least/greatest canonicalization — da < db is
    // id order, not source order). Within-source dups land on the
    // diagonal. Scale: the pair set is the q52-priced LSH output; the
    // doc→source resolution is two narrow equi-joins on doc_id, and the
    // final aggregate is |sources|²-bounded.
    "q173_cross_source_dup_matrix" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = DedupOps.minhashPairs(dd)
      val sa = dd.select(col("doc_id").as("da"), col("source").as("src_a"))
      val sb = dd.select(col("doc_id").as("db"), col("source").as("src_b"))
      pairs.join(sa, Seq("da")).join(sb, Seq("db"))
        .select(least(col("src_a"), col("src_b")).as("sa"),
          greatest(col("src_a"), col("src_b")).as("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("sa"), col("sb"))
    }))

  // ---- q116 staged prefixes (Bench stage-level timing) ---------------------

  /** Stage 1+2: language/holdout slice + quality floor (q20's score). */
  private def corpusQualitySlice(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(col("lang") === "en" && col("source") =!= "src0")
      .filter(TextOps.qualityScore(col("text")) >= 0.55)

  /** Stage 3: near-dup canonicalization among quality survivors. */
  private def corpusDeduped(s: SparkSession, d: String): DataFrame = {
    val s1 = corpusQualitySlice(s, d)
    val nonCanonical = GraphOps.connectedComponentsDF(DedupClosure.pairEdges(s1))
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    s1.join(nonCanonical, Seq("doc_id"), "left_anti")
  }

  /** Stage 4: benchmark decontamination — the flagship's survivor set. */
  private def corpusSurvivors(s: SparkSession, d: String): DataFrame = {
    val s2 = corpusDeduped(s, d)
    val bench = docs(s, d).filter(col("source") === "src0")
      .select(explode(GraftFunctions.shingleHashes(col("text"), 8)).as("gram"))
      .distinct()
    val contaminated = s2
      .select(col("doc_id"),
        explode(GraftFunctions.shingleHashes(col("text"), 8)).as("gram"))
      .join(broadcast(bench), Seq("gram"))
      .select(col("doc_id")).distinct()
    s2.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** q226's ten-stage release chain, cut at cumulative stage `upTo`
    * (10 = the exact q226 plan; see the q226 map comment for stage
    * semantics). One body serves the gated query and [[releaseStages]] —
    * the prefix plans are BY CONSTRUCTION the gated plan's own subtrees. */
  private[queries] def corpusReleaseStage(s: SparkSession, d: String,
                                          upTo: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dd = docs(s, d)
    val perturbed = concat(col("text"),
      when(col("doc_id") % 9 === 0, lit(" \ufffd\ufffddecode"))
        .otherwise(lit("")),
      when(col("doc_id") % 17 === 0, lit("\u0007\u0001"))
        .otherwise(lit("")),
      when(col("doc_id") % 23 === 0, lit(" caf\u00c3\u00a9"))
        .otherwise(lit("")))
    val enc = dd.withColumn("ptext", perturbed)
      .filter(length(col("ptext")) ===
        length(regexp_replace(col("ptext"), "\ufffd", "")))
      .filter(length(col("ptext")) === length(regexp_replace(col("ptext"),
        "[\\u0000-\\u0008\\u000B\\u000C\\u000E-\\u001F]", "")))
      .drop("ptext")
    if (upTo == 1) return enc
    val sliced = enc.filter(col("lang") === "en" && col("source") =!= "src0")
      .select(col("doc_id"), col("source"), col("text"),
        TextOps.qualityScore(col("text")).as("quality"))
      .withColumn("bin",
        least(floor(col("quality") * lit(64.0)).cast("long"), lit(63L)))
    if (upTo == 2) return sliced
    val hist = sliced.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val thr = hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("bin").desc)))
      .withColumn("total", sum(col("c")).over(
        Window.partitionBy(col("source"))))
      .withColumn("target",
        ceil(col("total").cast("double") * lit(0.25)).cast("long"))
      .filter(col("cum") >= col("target"))
      .groupBy(col("source")).agg(max(col("bin")).as("thr_bin"))
    val s3 = sliced.join(broadcast(thr), Seq("source"))
      .filter(col("bin") >= col("thr_bin"))
    if (upTo == 3) return s3
    val s4 = s3.withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
    if (upTo == 4) return s4
    val closure = DedupClosure.read(s,
      dd.select(col("doc_id"), col("text")), d)
    // LEFT join + coalesce-to-self mirrors the oracle's shape: closure()
    // is total over docs today, but an artifact that omitted singleton
    // docs must default canonical = doc_id, not drop the doc from the
    // release (the inner-join form would silently shrink the manifest)
    val s5 = s4.join(closure, Seq("doc_id"), "left")
      .withColumn("canonical", coalesce(col("canonical"), col("doc_id")))
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("canonical")).orderBy(col("doc_id"))))
      .filter(col("rn2") === 1).drop("rn2")
      .localCheckpoint() // feeds the Bloom probe AND the anti-join base
    if (upTo == 5) return s5
    val bench = dd.filter(col("source") === "src0")
      .select(explode(TextOps.shingles(col("text"), 8)).as("gram"))
      .distinct()
      .localCheckpoint() // feeds the size rule AND the bit table
    // Bloom SIZED TO THE BENCHMARK: m = max(2^18, next-pow2 ≥ 32·n).
    // SCALE_r15 measured why a fixed m cannot ship: at ×10 the replica
    // benchmark's gram set alone fills 2^18 bits past saturation, every
    // probe returns might-contain, and the release manifest comes out
    // EMPTY (0 rows at ×10/×30/×100 — the filter silently decontaminated
    // the whole corpus). 32 bits/gram keeps the k=4 fill ≈ 12 % and the
    // per-gram FP ≈ 2e-4 at any benchmark size; the oracle re-derives
    // the identical m from the same gram count.
    val nBench = math.max(bench.count(), 1L)
    val mBits = math.max(1L << 18,
      java.lang.Long.highestOneBit(32L * nBench - 1L) << 1)
      .min(1L << 30).toInt
    val bitTable = graft.text.Bloom.bits(bench, "gram", 4, mBits)
    val grams = s5.select(col("doc_id"),
      explode(TextOps.shingles(col("text"), 8)).as("gram"))
    val contaminated = graft.text.Bloom
      .mightContain(grams, "gram", bitTable, 4, mBits)
      .select(col("doc_id")).distinct()
    val decon = s5.join(contaminated, Seq("doc_id"), "left_anti")
    if (upTo == 6) return decon
    val train = decon
      .filter(pmod(TextOps.tokenHash60(col("canonical").cast("string")),
        lit(100L)) < 80)
      .localCheckpoint() // feeds the quota table AND the rank window
    if (upTo == 7) return train
    val counts = train.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val scaled = counts.withColumn("s_fp",
      floor(sqrt(col("n").cast("double")) * lit(1e6)).cast("long"))
    val tot = scaled.agg(sum(col("s_fp")).as("tot_fp"),
      sum(col("n")).as("n_total"))
    val quota = scaled.crossJoin(broadcast(tot))
      .withColumn("quota",
        floor(col("n_total").cast("double") * col("s_fp").cast("double")
          / col("tot_fp").cast("double")).cast("long"))
      .select(col("source"), col("quota"))
    val mixed = train.withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(md5(col("text")), col("doc_id"))))
      .join(broadcast(quota), Seq("source"))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("text"))
    if (upTo == 8) return mixed
    val packed = graft.text.Packing.packSequences(mixed, "doc_id", "text", 512L)
    if (upTo == 9) return packed
    packed
      .withColumn("shard", pmod(TextOps.tokenHash60(
        concat(lit("shard:"), col("bin").cast("string"))), lit(8L)))
      .select(col("shard"), col("bin"), col("doc_id"), col("off_in_bin"),
        col("len"), col("doc_from"))
      .orderBy(col("bin"), col("doc_id"))
  }

  /** CUMULATIVE stage prefixes of q226 for Bench's per-stage timing (r15
    * verdict item 8) — same contract as [[flagshipStages]]: stage k
    * executes stages 1..k of the release chain, so a regression localizes
    * to the jump between consecutive entries. The last entry is the exact
    * q226 plan. */
  def releaseStages: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("s1_encoding_gate", "s2_lang_slice", "s3_quality_gate",
      "s4_exact_dedup", "s5_artifact_canonical", "s6_bloom_decontam",
      "s7_split", "s8_temperature_mix", "s9_pack", "s10_shard")
      .zipWithIndex.map { case (n, i) =>
        n -> ((s: SparkSession, d: String) => corpusReleaseStage(s, d, i + 1))
      }

  /** CUMULATIVE stage prefixes of the q116 flagship for Bench's per-stage
    * timing: stage k executes stages 1..k, so a wrong-plan stage shows as a
    * jump between consecutive timings without a bisect (VERDICT r8 item 7 —
    * composite regressions hide inside whole-query medians). The last entry
    * is the exact q116 plan. */
  def flagshipStages: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "s1_quality" -> ((s, d) => corpusQualitySlice(s, d)),
    "s2_dedup" -> ((s, d) => corpusDeduped(s, d)),
    "s3_decontam" -> ((s, d) => corpusSurvivors(s, d)),
    "s4_pack" -> ((s, d) => queries("q116_corpus_flagship")(s, d)))

  /** Shared q23 MinHash-pair CTE chain (shingles → 32 universal hashes →
    * 8×4 bands → candidates → signature-agreement estimate). q23 selects
    * from `est` directly; q173 aggregates the surviving pairs by source. */
  private lazy val minhashEstCte =
    s"""$shingleCte,
       |hs AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 268435456 AS hs
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id, i,
       |    MIN(((2 * i + 1) * hs + 7919 * i) % 268435456) AS minhash
       |  FROM hs CROSS JOIN range(32) t(i) GROUP BY doc_id, i),
       |bands AS (
       |  SELECT doc_id, i // 4 AS band,
       |    md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY i)) AS bucket
       |  FROM mh GROUP BY doc_id, i // 4),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT da, db,
       |    CAST(SUM(CASE WHEN ha.minhash = hb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / 32 AS est_jaccard
       |  FROM cands
       |  JOIN mh ha ON ha.doc_id = da
       |  JOIN mh hb ON hb.doc_id = db AND hb.i = ha.i
       |  GROUP BY da, db)""".stripMargin

  /** DuckDB mirror of TextOps.tokens. */
  private val toksSql =
    "list_filter(string_split_regex(trim(text), '\\s+'), w -> len(w) > 0)"

  private def langScoreSql(words: Seq[String]) =
    s"len(list_filter(toks, t -> list_contains([${words.map(w => s"'$w'").mkString(",")}], t)))"

  /** DuckDB mirror of TextOps.shingles (n=3), exploded to (doc_id, shingle). */
  private val shingleCte =
    """sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      unnest([array_to_string(w[i:i+2], '|') for i in range(1, len(w) - 1)]) AS shingle
      |    FROM (SELECT doc_id,
      |            list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS w
      |          FROM documents) t0) t1)""".stripMargin

  /** The MinHash→LSH→closure CTE chain (ends at `comp(doc_id, component)`)
    * — shared by the canonical gates (q52/q115) and the q126 health
    * report, which aggregates the same closure instead of listing it. */
  private val dedupCompCte =
    s"""WITH RECURSIVE $shingleCte,
       |hs AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 268435456 AS hs
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id, i,
       |    MIN(((2 * i + 1) * hs + 7919 * i) % 268435456) AS minhash
       |  FROM hs CROSS JOIN range(32) t(i) GROUP BY doc_id, i),
       |bands AS (
       |  SELECT doc_id, i // 4 AS band,
       |    md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY i)) AS bucket
       |  FROM mh GROUP BY doc_id, i // 4),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT da, db,
       |    CAST(SUM(CASE WHEN ha.minhash = hb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / 32 AS est_jaccard
       |  FROM cands
       |  JOIN mh ha ON ha.doc_id = da
       |  JOIN mh hb ON hb.doc_id = db AND hb.i = ha.i
       |  GROUP BY da, db),
       |pairs AS (SELECT da, db FROM est WHERE est_jaccard >= 0.5),
       |edges AS (SELECT da AS src, db AS dst FROM pairs
       |          UNION SELECT db, da FROM pairs),
       |reach(root, node) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
       |  UNION
       |  SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.node),
       |comp AS (SELECT root AS doc_id, MIN(node) AS component
       |         FROM reach GROUP BY root)""".stripMargin

  /** Full-recompute oracle for the snapshot-refresh family (q224/q225):
    * the shared closure chain re-pointed at a `docs2` CTE holding the v2
    * snapshot, which the incremental plans must equal by their respective
    * theorems (pure growth / CDC partition). The require() pins the
    * re-point: if the closure chain ever reads `documents` more than once
    * the blind replace would corrupt the oracle silently. */
  private def refreshOracle(docs2Body: String): String = {
    require(
      dedupCompCte.sliding("FROM documents".length)
        .count(_ == "FROM documents") == 1,
      "closure chain no longer reads `documents` exactly once — " +
        "re-derive the refresh oracles")
    val body = dedupCompCte
      .replace("WITH RECURSIVE ", "")
      .replace("FROM documents", "FROM docs2")
    s"""WITH RECURSIVE docs2 AS (
       |  $docs2Body),
       |$body
       |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical
       |FROM docs2 d LEFT JOIN comp c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The q226 composite oracle: stages (1)–(10) of the release chain in
    * order, each the verbatim SQL twin its standalone query already
    * carries. The closure chain (`comp`) is the full-corpus closure — the
    * same values the DedupClosure artifact persists, so the oracle models
    * the artifact read as a recompute. */
  private lazy val corpusReleaseSql: String = {
    val chain = dedupCompCte.replace("WITH RECURSIVE ", "")
    s"""WITH RECURSIVE $chain,
       |e0 AS (
       |  SELECT doc_id, source, lang, text,
       |    text
       |    || CASE WHEN doc_id % 9 = 0
       |         THEN ' ' || chr(65533) || chr(65533) || 'decode' ELSE '' END
       |    || CASE WHEN doc_id % 17 = 0 THEN chr(7) || chr(1) ELSE '' END
       |    || CASE WHEN doc_id % 23 = 0
       |         THEN ' caf' || chr(195) || chr(169) ELSE '' END AS ptext
       |  FROM documents),
       |enc AS (
       |  SELECT doc_id, source, lang, text FROM e0
       |  WHERE length(ptext) = length(replace(ptext, chr(65533), ''))
       |    AND length(ptext) = length(regexp_replace(ptext,
       |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g'))),
       |lq AS (SELECT doc_id, source, text, $toksSql AS toks FROM enc
       |       WHERE lang = 'en' AND source <> 'src0'),
       |qs AS (SELECT doc_id, source, text, toks,
       |         least(CAST(floor((
       |  0.3 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
       |  + 0.3 * (CAST(${langScoreSql(TextOps.langStopwords.toMap.apply("en"))} AS DOUBLE) / greatest(len(toks), 1))
       |  + 0.2 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
       |  + 0.2 * (1.0 - least((CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(toks, w -> CAST(length(w) AS BIGINT)))) AS DOUBLE) / greatest(len(toks), 1)) / 10.0, 1.0))
       |         ) * 64.0) AS BIGINT), 63) AS qbin
       |       FROM lq),
       |qh AS (SELECT source, qbin, COUNT(*) AS c FROM qs GROUP BY 1, 2),
       |qcm AS (SELECT source, qbin,
       |          SUM(c) OVER (PARTITION BY source ORDER BY qbin DESC) AS cum,
       |          SUM(c) OVER (PARTITION BY source) AS total FROM qh),
       |qthr AS (SELECT source, MAX(qbin) AS thr_bin FROM qcm
       |         WHERE cum >= CAST(ceil(CAST(total AS DOUBLE) * 0.25) AS BIGINT)
       |         GROUP BY source),
       |s3x AS (SELECT qs.* FROM qs JOIN qthr USING (source)
       |        WHERE qs.qbin >= qthr.thr_bin),
       |s4x AS (SELECT doc_id, source, text, toks FROM (
       |          SELECT s3x.*, ROW_NUMBER() OVER (PARTITION BY md5(text)
       |            ORDER BY doc_id) AS rn
       |          FROM s3x) z1 WHERE rn = 1),
       |s5x AS (SELECT doc_id, source, text, toks, canonical FROM (
       |          SELECT s4x.*,
       |            COALESCE(c.component, s4x.doc_id) AS canonical,
       |            ROW_NUMBER() OVER (
       |              PARTITION BY COALESCE(c.component, s4x.doc_id)
       |              ORDER BY s4x.doc_id) AS rn2
       |          FROM s4x LEFT JOIN comp c USING (doc_id)) z2
       |        WHERE rn2 = 1),
       |bench8 AS (
       |  SELECT DISTINCT gram FROM (
       |    SELECT unnest([array_to_string(w[i:i+7], '|')
       |                   for i in range(1, len(w) - 6)]) AS gram
       |    FROM (SELECT $toksSql AS w FROM documents
       |          WHERE source = 'src0') b0) b1),
       |bmeta AS (
       |  SELECT CAST(greatest(262144.0,
       |    least(power(2.0, ceil(log2(32.0 * greatest(COUNT(*), 1)))),
       |      1073741824.0)) AS BIGINT) AS m
       |  FROM bench8),
       |bbits AS (
       |  SELECT DISTINCT
       |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || gram), 1, 15) AS BIGINT) % (SELECT m FROM bmeta) AS pos
       |  FROM bench8 CROSS JOIN range(0, 4) t(j)),
       |pg AS (
       |  SELECT DISTINCT doc_id, gram FROM (
       |    SELECT doc_id,
       |      unnest([array_to_string(toks[i:i+7], '|')
       |              for i in range(1, len(toks) - 6)]) AS gram
       |    FROM s5x) p0),
       |contam AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT p.doc_id, p.gram, COUNT(*) AS cc
       |    FROM (SELECT doc_id, gram,
       |            CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || gram), 1, 15) AS BIGINT) % (SELECT m FROM bmeta) AS pos
       |          FROM pg CROSS JOIN range(0, 4) t(j)) p
       |    JOIN bbits b USING (pos) GROUP BY 1, 2) z3 WHERE cc = 4),
       |trn AS (
       |  SELECT s5x.* FROM s5x
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)
       |    AND CAST('0x' || substr(md5(CAST(canonical AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80),
       |mixcnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
       |           FROM trn GROUP BY source),
       |mixsc AS (SELECT source, n,
       |            CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS s_fp
       |          FROM mixcnt),
       |mixtot AS (SELECT CAST(SUM(s_fp) AS BIGINT) AS tot_fp,
       |             CAST(SUM(n) AS BIGINT) AS n_total FROM mixsc),
       |mixq AS (SELECT source,
       |           CAST(floor(CAST(n_total AS DOUBLE) * CAST(s_fp AS DOUBLE)
       |             / CAST(tot_fp AS DOUBLE)) AS BIGINT) AS quota
       |         FROM mixsc CROSS JOIN mixtot),
       |mixed AS (
       |  SELECT doc_id, toks FROM (
       |    SELECT trn.doc_id, trn.toks, trn.source,
       |      ROW_NUMBER() OVER (PARTITION BY trn.source
       |        ORDER BY md5(trn.text), trn.doc_id) AS rk
       |    FROM trn) z4 JOIN mixq USING (source) WHERE rk <= quota),
       |counted AS (SELECT doc_id, len(toks) AS n_tok FROM mixed
       |            WHERE len(toks) > 0),
       |placed AS (
       |  SELECT doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
       |  FROM counted),
       |spans AS (
       |  SELECT doc_id, st, st + n_tok AS fin,
       |    unnest(generate_series(st // 512, (st + n_tok - 1) // 512)) AS bin
       |  FROM placed)
       |SELECT
       |  CAST('0x' || substr(md5('shard:' || CAST(bin AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS shard,
       |  bin, doc_id,
       |  GREATEST(st, bin * 512) - bin * 512 AS off_in_bin,
       |  LEAST(fin, (bin + 1) * 512) - GREATEST(st, bin * 512) AS len,
       |  GREATEST(st, bin * 512) - st AS doc_from
       |FROM spans ORDER BY bin, doc_id""".stripMargin
  }

  private val dedupCanonicalSql =
    s"""$dedupCompCte
       |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical,
       |  COALESCE(c.component, d.doc_id) = d.doc_id AS is_canonical
       |FROM documents d LEFT JOIN comp c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Composite oracle for the corpus flagship: the four already-gated stage
    * oracles (q20 quality formula, q52's MinHash→recursive-CTE closure,
    * q105's 8-gram probe, q101's naive prefix-sum packing) chained in the
    * flagship's order. Every intermediate (survivor sets s1/s2/s3) is
    * implicit in the final packing manifest — one shifted bin boundary
    * anywhere upstream breaks the hash. */
  private val corpusFlagshipSql =
    s"""WITH RECURSIVE
       |t AS (SELECT doc_id, source, lang, text, $toksSql AS toks FROM documents),
       |s1 AS MATERIALIZED (
       |  SELECT doc_id, text, toks FROM (
       |    SELECT doc_id, source, lang, text, toks,
       |      0.3 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
       |      + 0.3 * (CAST(${langScoreSql(TextOps.langStopwords.toMap.apply("en"))} AS DOUBLE) / greatest(len(toks), 1))
       |      + 0.2 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
       |      + 0.2 * (1.0 - least((CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS DOUBLE) / greatest(len(toks), 1)) / 10.0, 1.0))
       |        AS quality
       |    FROM t) q
       |  WHERE lang = 'en' AND source <> 'src0' AND quality >= 0.55),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      unnest([array_to_string(toks[i:i+2], '|') for i in range(1, len(toks) - 1)]) AS shingle
       |    FROM s1) x),
       |hs AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 268435456 AS hs
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id, i,
       |    MIN(((2 * i + 1) * hs + 7919 * i) % 268435456) AS minhash
       |  FROM hs CROSS JOIN range(32) r(i) GROUP BY doc_id, i),
       |bands AS (
       |  SELECT doc_id, i // 4 AS band,
       |    md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY i)) AS bucket
       |  FROM mh GROUP BY doc_id, i // 4),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT da, db,
       |    CAST(SUM(CASE WHEN ha.minhash = hb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / 32 AS est_jaccard
       |  FROM cands
       |  JOIN mh ha ON ha.doc_id = da
       |  JOIN mh hb ON hb.doc_id = db AND hb.i = ha.i
       |  GROUP BY da, db),
       |pairs AS (SELECT da, db FROM est WHERE est_jaccard >= 0.5),
       |edges AS (SELECT da AS src, db AS dst FROM pairs
       |          UNION SELECT db, da FROM pairs),
       |reach(root, node) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) e0
       |  UNION
       |  SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.node),
       |comp AS (SELECT root AS doc_id, MIN(node) AS component
       |         FROM reach GROUP BY root),
       |s2 AS MATERIALIZED (
       |  SELECT s1.doc_id, s1.toks FROM s1 LEFT JOIN comp c USING (doc_id)
       |  WHERE c.component IS NULL OR c.component = s1.doc_id),
       |bench AS (
       |  SELECT DISTINCT gram FROM (
       |    SELECT unnest([array_to_string(toks[i:i+7], '|')
       |                   for i in range(1, len(toks) - 6)]) AS gram
       |    FROM t WHERE source = 'src0') b0),
       |contam AS (
       |  SELECT DISTINCT g.doc_id FROM (
       |    SELECT doc_id,
       |      unnest([array_to_string(toks[i:i+7], '|')
       |              for i in range(1, len(toks) - 6)]) AS gram
       |    FROM s2) g JOIN bench USING (gram)),
       |s3 AS (SELECT doc_id, toks FROM s2
       |       WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       |counted AS (SELECT doc_id, len(toks) AS n_tok FROM s3 WHERE len(toks) > 0),
       |placed AS (
       |  SELECT doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
       |  FROM counted),
       |spans AS (
       |  SELECT doc_id, st, st + n_tok AS fin,
       |    unnest(generate_series(st // 512, (st + n_tok - 1) // 512)) AS bin
       |  FROM placed)
       |SELECT doc_id, bin,
       |  GREATEST(st, bin * 512) - bin * 512 AS off_in_bin,
       |  LEAST(fin, (bin + 1) * 512) - GREATEST(st, bin * 512) AS len,
       |  GREATEST(st, bin * 512) - st AS doc_from
       |FROM spans ORDER BY bin, doc_id""".stripMargin

  /** One side of the incremental-dedup oracle: shingles → 15-hex md5 base
    * hashes → 32 universal minhashes → 8 banded buckets, restricted by a
    * WHERE clause — the per-slice twin of the shared `shingleCte`/`hs`/
    * `mh`/`bands` chain in [[dedupCompCte]]. */
  private[queries] def mhSide(sfx: String, where: String): String =
    s"""sh$sfx AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      unnest([array_to_string(w[i:i+2], '|') for i in range(1, len(w) - 1)]) AS shingle
       |    FROM (SELECT doc_id,
       |            list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS w
       |          FROM documents WHERE $where) t0) t1),
       |hs$sfx AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 268435456 AS hs
       |  FROM sh$sfx),
       |mh$sfx AS (
       |  SELECT doc_id, i,
       |    MIN(((2 * i + 1) * hs + 7919 * i) % 268435456) AS minhash
       |  FROM hs$sfx CROSS JOIN range(32) t(i) GROUP BY doc_id, i),
       |bands$sfx AS (
       |  SELECT doc_id, i // 4 AS band,
       |    md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY i)) AS bucket
       |  FROM mh$sfx GROUP BY doc_id, i // 4)""".stripMargin

  private val incrementalDedupSql =
    s"""WITH RECURSIVE ${mhSide("b", "source <> 'src0'")},
       |${mhSide("c", "source = 'src0'")},
       |candbc AS (
       |  SELECT DISTINCT a.doc_id AS bid, b.doc_id AS cid
       |  FROM bandsb a JOIN bandsc b
       |    ON a.band = b.band AND a.bucket = b.bucket),
       |dupc AS (
       |  SELECT bid AS doc_id, MIN(cid) AS canonical FROM (
       |    SELECT bid, cid,
       |      CAST(SUM(CASE WHEN hb.minhash = hc.minhash THEN 1 ELSE 0 END) AS DOUBLE) / 32 AS est
       |    FROM candbc
       |    JOIN mhb hb ON hb.doc_id = bid
       |    JOIN mhc hc ON hc.doc_id = cid AND hc.i = hb.i
       |    GROUP BY bid, cid) t
       |  WHERE est >= 0.5 GROUP BY bid),
       |surv AS (
       |  SELECT doc_id FROM documents
       |  WHERE source <> 'src0'
       |    AND doc_id NOT IN (SELECT doc_id FROM dupc)),
       |bandss AS (SELECT * FROM bandsb WHERE doc_id IN (SELECT doc_id FROM surv)),
       |candss AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bandss a JOIN bandss b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |ests AS (
       |  SELECT da, db,
       |    CAST(SUM(CASE WHEN ha.minhash = hb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / 32 AS est
       |  FROM candss
       |  JOIN mhb ha ON ha.doc_id = da
       |  JOIN mhb hb ON hb.doc_id = db AND hb.i = ha.i
       |  GROUP BY da, db),
       |pairss AS (SELECT da, db FROM ests WHERE est >= 0.5),
       |edges AS (SELECT da AS src, db AS dst FROM pairss
       |          UNION SELECT db, da FROM pairss),
       |reach(root, node) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
       |  UNION
       |  SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.node),
       |comp AS (SELECT root AS doc_id, MIN(node) AS component
       |         FROM reach GROUP BY root)
       |SELECT doc_id, status, canonical FROM (
       |  SELECT doc_id, 'dup_of_corpus' AS status, canonical FROM dupc
       |  UNION ALL
       |  SELECT s.doc_id,
       |    CASE WHEN COALESCE(c.component, s.doc_id) = s.doc_id
       |      THEN 'kept' ELSE 'dup_in_batch' END,
       |    COALESCE(c.component, s.doc_id)
       |  FROM surv s LEFT JOIN comp c USING (doc_id)) u
       |ORDER BY doc_id""".stripMargin

  /** Unrolled BPE twin of [[graft.text.Bpe.learn]]: w0 word freqs → s0
    * char symbols → per round r: p{r} weighted pair counts, t{r} the
    * 1-row winner under (count DESC, lhs, rhs), s{r} the greedily merged
    * vocabulary via the same replace-last left fold (acc[-1] on an empty
    * list is NULL, collapsing the CASE to ELSE — mirroring Spark's
    * null-safe `get` probe). */
  private def bpeCte(rounds: Int): String = {
    val head =
      s"""w0 AS (
         |  SELECT word, COUNT(*) AS freq FROM (
         |    SELECT unnest($toksSql) AS word FROM documents) t
         |  GROUP BY 1),
         |s0 AS (
         |  SELECT word, freq,
         |    list_transform(range(1, length(word) + 1), i -> word[i:i]) AS syms
         |  FROM w0)""".stripMargin
    val rs = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT pr['lhs'] AS lhs, pr['rhs'] AS rhs, SUM(freq) AS pair_freq
         |  FROM (
         |    SELECT freq,
         |      unnest(list_transform(range(1, len(syms)),
         |        i -> {'lhs': syms[i], 'rhs': syms[i+1]})) AS pr
         |    FROM s${r - 1}) t
         |  GROUP BY 1, 2),
         |t$r AS (SELECT lhs, rhs, pair_freq FROM p$r
         |        ORDER BY pair_freq DESC, lhs, rhs LIMIT 1),
         |s$r AS (
         |  SELECT word, freq,
         |    list_reduce(
         |      list_prepend(CAST([] AS VARCHAR[]),
         |        list_transform(syms, s -> [s])),
         |      (acc, x) -> CASE
         |        WHEN len(acc) > 0 AND acc[-1] = t.lhs AND x[1] = t.rhs
         |        THEN list_append(acc[1:len(acc)-1], t.lhs || t.rhs)
         |        ELSE list_append(acc, x[1]) END) AS syms
         |  FROM s${r - 1} LEFT JOIN t$r t ON true)""".stripMargin
    }
    (head +: rs).mkString(",\n")
  }

  /** q127 twin: struct-comprehension windows → duplicated hashes →
    * gaps-and-islands merge (running max of span end, explicit frames). */
  private val repeatedSpansSql =
    s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
       |x AS (
       |  SELECT doc_id,
       |    unnest([struct_pack(pos := i - 1,
       |                        h := md5(array_to_string(w[i:i+9], ' ')))
       |            for i in range(1, len(w) - 10 + 2)]) AS u
       |  FROM t WHERE len(w) >= 10),
       |wins AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM x),
       |dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
       |dw AS (SELECT doc_id, pos FROM wins JOIN dup USING (h)),
       |i1 AS (
       |  SELECT doc_id, pos,
       |    max(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
       |  FROM dw),
       |i2 AS (SELECT doc_id, pos,
       |         CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END AS ni
       |       FROM i1),
       |i3 AS (SELECT doc_id, pos,
       |         SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |       FROM i2)
       |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 10 AS span_end,
       |  COUNT(*) AS n_wins
       |FROM i3 GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  /** q128 twin: the GD loop UNROLLED as chained CTEs (w0 → s1/g1 → w1 →
    * …), the q111 kmeansCte pattern. Every double op mirrors the Spark
    * expression tree literally — fast-sigmoid link, left-associated
    * margin, fixed-point gradient sums — so the loop is bit-identical. */
  private def logregCte(iters: Int): String = {
    val d = 5
    def zExpr(w: String, f: String) =
      (0 until d).foldLeft("0.0")((acc, j) => s"$acc + $w.w$j * $f.f$j")
    val feats =
      s"""t AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
         |ft AS (
         |  SELECT doc_id,
         |    CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y,
         |    1.0 AS f0,
         |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS f1,
         |    CAST(${langScoreSql(TextOps.langStopwords.toMap.apply("en"))} AS DOUBLE) / greatest(len(toks), 1) AS f2,
         |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) AS f3,
         |    1.0 - least(CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS DOUBLE) / greatest(len(toks), 1) / 10.0, 1.0) AS f4
         |  FROM t),
         |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4)""".stripMargin
    val rounds = (1 to iters).map { r =>
      val gs = (0 until d).map(j =>
        s"SUM(CAST(floor(((s - y) * f$j) * 1e9) AS BIGINT)) AS g$j").mkString(", ")
      val ws = (0 until d).map(j =>
        s"w.w$j - 0.5 * ((CAST(g.g$j AS DOUBLE) / 1e9) / CAST(g.n AS DOUBLE)) AS w$j").mkString(", ")
      s"""s$r AS (
         |  SELECT f.*, 0.5 + z / (2.0 * (1.0 + abs(z))) AS s FROM (
         |    SELECT f.*, ${zExpr("w", "f")} AS z
         |    FROM ft f, w${r - 1} w) f),
         |g$r AS (SELECT $gs, COUNT(*) AS n FROM s$r),
         |w$r AS (SELECT $ws FROM w${r - 1} w, g$r g)""".stripMargin
    }
    (feats +: rounds).mkString(",\n")
  }

  private val qualityClassifierSql =
    s"""WITH ${logregCte(5)},
       |sf AS (
       |  SELECT f.doc_id, f.y, 0.5 + z / (2.0 * (1.0 + abs(z))) AS s FROM (
       |    SELECT f.*, ${(0 until 5).foldLeft("0.0")((acc, j) => s"$acc + w.w$j * f.f$j")} AS z
       |    FROM ft f, w5 w) f)
       |SELECT doc_id, CAST(y AS BIGINT) AS label,
       |  CAST(floor(s * 1e9) AS BIGINT) AS p_fp, s >= 0.5 AS pred
       |FROM sf ORDER BY doc_id""".stripMargin

  /** q129 twin: the q125 cross-side probe aggregated as a contamination
    * report (per training doc: matches, max estimate, first bench id). */
  private val fuzzyDecontamSql =
    s"""WITH ${mhSide("t", "source <> 'src0'")},
       |${mhSide("n", "source = 'src0'")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS tid, b.doc_id AS bid
       |  FROM bandst a JOIN bandsn b
       |    ON a.band = b.band AND a.bucket = b.bucket),
       |est AS (
       |  SELECT tid, bid,
       |    CAST(SUM(CASE WHEN ht.minhash = hb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / 32 AS est
       |  FROM cand
       |  JOIN mht ht ON ht.doc_id = tid
       |  JOIN mhn hb ON hb.doc_id = bid AND hb.i = ht.i
       |  GROUP BY tid, bid)
       |SELECT tid AS doc_id, COUNT(*) AS n_bench_matches, MAX(est) AS max_est,
       |  MIN(bid) AS first_bench
       |FROM est WHERE est >= 0.5
       |GROUP BY tid ORDER BY doc_id""".stripMargin

  /** q130 twin: the q23 pair chain + source labels + unordered-pair rollup. */
  private val crossSourceLeakageSql =
    s"""WITH $shingleCte,
       |hs AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 268435456 AS hs
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id, i,
       |    MIN(((2 * i + 1) * hs + 7919 * i) % 268435456) AS minhash
       |  FROM hs CROSS JOIN range(32) t(i) GROUP BY doc_id, i),
       |bands AS (
       |  SELECT doc_id, i // 4 AS band,
       |    md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY i)) AS bucket
       |  FROM mh GROUP BY doc_id, i // 4),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT da, db,
       |    CAST(SUM(CASE WHEN ha.minhash = hb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / 32 AS est_jaccard
       |  FROM cands
       |  JOIN mh ha ON ha.doc_id = da
       |  JOIN mh hb ON hb.doc_id = db AND hb.i = ha.i
       |  GROUP BY da, db),
       |lab AS (
       |  SELECT p.da, p.db, p.est_jaccard, a.source AS sa, b.source AS sb
       |  FROM (SELECT * FROM est WHERE est_jaccard >= 0.5) p
       |  JOIN documents a ON a.doc_id = p.da
       |  JOIN documents b ON b.doc_id = p.db
       |  WHERE a.source <> b.source),
       |x AS (
       |  SELECT least(sa, sb) AS src_lo, greatest(sa, sb) AS src_hi,
       |    CASE WHEN sa < sb THEN da ELSE db END AS doc_lo,
       |    CASE WHEN sa < sb THEN db ELSE da END AS doc_hi,
       |    est_jaccard
       |  FROM lab)
       |SELECT src_lo, src_hi, COUNT(*) AS n_pairs,
       |  COUNT(DISTINCT doc_lo) AS n_docs_lo,
       |  COUNT(DISTINCT doc_hi) AS n_docs_hi,
       |  MAX(est_jaccard) AS max_est
       |FROM x GROUP BY src_lo, src_hi ORDER BY src_lo, src_hi""".stripMargin

  /** q131 twin: the NAIVE global ordered-prefix-sum window (the two-phase
    * bucket split in the Spark plan is order-consistent, so the values are
    * identical — same contract Packing's oracle pins). */
  private val tokenBudgetSql =
    s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
       |f0 AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tok,
       |  CAST(len(toks) AS INTEGER) AS n_tokens,
       |  CAST(${langScoreSql(TextOps.langStopwords.toMap.apply("en"))} AS DOUBLE) / greatest(len(toks), 1) AS stopword_ratio,
       |  CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) AS alpha_ratio,
       |  CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS DOUBLE) / greatest(len(toks), 1) AS avg_word_len
       |  FROM t WHERE len(toks) > 0),
       |f AS (SELECT doc_id, n_tok,
       |  0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
       |  + 0.3 * stopword_ratio + 0.2 * alpha_ratio
       |  + 0.2 * (1.0 - least(avg_word_len / 10.0, 1.0)) AS quality
       |  FROM f0),
       |b AS (SELECT CAST(SUM(n_tok) AS BIGINT) // 4 AS budget FROM f),
       |c AS (SELECT doc_id, n_tok, quality,
       |  CAST(COALESCE(SUM(n_tok) OVER (ORDER BY quality DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_tok
       |  FROM f)
       |SELECT doc_id, n_tok, quality, cum_tok,
       |  CAST(least(n_tok, b.budget - cum_tok) AS BIGINT) AS take_tokens
       |FROM c, b WHERE cum_tok < b.budget ORDER BY doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "q130_cross_source_leakage" -> crossSourceLeakageSql,
    "q131_token_budget" -> tokenBudgetSql,
    // Linear counting: same 60-bit hash → bucket grid, same IntLn
    // estimator; '__all' merges the per-source bucket sets.
    "q134_linear_counting" ->
      s"""WITH tok AS (
         |  SELECT source, unnest($toksSql) AS token FROM documents),
         |occ AS (
         |  SELECT DISTINCT source,
         |    CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % 65536 AS bucket
         |  FROM tok),
         |bys AS (SELECT source, COUNT(*) AS occupied FROM occ GROUP BY 1
         |        UNION ALL
         |        SELECT '__all', COUNT(DISTINCT bucket) FROM occ),
         |ex AS (SELECT source, COUNT(DISTINCT token) AS n_exact FROM tok GROUP BY 1
         |       UNION ALL
         |       SELECT '__all', COUNT(DISTINCT token) FROM tok)
         |SELECT b.source, CAST(occupied AS BIGINT) AS occupied,
         |  CAST((65536*(${graft.functions.IntLn.iln1e9Sql("65536")}
         |    - ${graft.functions.IntLn.iln1e9Sql("65536 - occupied")})) // 1000000
         |    AS BIGINT) AS est_milli,
         |  CAST(n_exact AS BIGINT) AS n_exact
         |FROM bys b JOIN ex USING (source) ORDER BY source""".stripMargin,
    // Export sharding: same 60-bit md5 hash (tokenHash60's documented
    // DuckDB twin), same hash-mod shard and per-shard (h, doc_id) order.
    "q133_export_shards" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($toksSql) AS INTEGER) AS n_tokens,
         |    CAST('0x' || substr(md5('shard:' || doc_id), 1, 15) AS BIGINT) AS h
         |  FROM documents)
         |SELECT doc_id, CAST(h % 8 AS INTEGER) AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
         |    AS INTEGER) AS pos,
         |  n_tokens
         |FROM t ORDER BY shard, pos""".stripMargin,
    "q127_repeated_spans" -> repeatedSpansSql,
    "q128_quality_classifier" -> qualityClassifierSql,
    "q129_fuzzy_decontam" -> fuzzyDecontamSql,
    "q116_corpus_flagship" -> corpusFlagshipSql,
    "q125_incremental_dedup" -> incrementalDedupSql,
    // Health report: the q52/q115 closure aggregated per source.
    "q126_corpus_report" ->
      s"""$dedupCompCte
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN COALESCE(c.component, d.doc_id) <> d.doc_id
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |  CAST(SUM(CASE WHEN COALESCE(c.component, d.doc_id) <> d.doc_id
         |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_rate
         |FROM documents d LEFT JOIN comp c USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q122_bpe_merges" ->
      s"""WITH ${bpeCte(3)}
         |SELECT merge_rank, lhs, rhs, pair_freq FROM (
         |  SELECT 1 AS merge_rank, lhs, rhs, CAST(pair_freq AS BIGINT) AS pair_freq FROM t1
         |  UNION ALL
         |  SELECT 2, lhs, rhs, CAST(pair_freq AS BIGINT) FROM t2
         |  UNION ALL
         |  SELECT 3, lhs, rhs, CAST(pair_freq AS BIGINT) FROM t3) u
         |ORDER BY merge_rank""".stripMargin,
    "q123_bpe_segment" ->
      s"""WITH ${bpeCte(3)}
         |SELECT word, CAST(freq AS BIGINT) AS freq,
         |  array_to_string(syms, ' ') AS segmentation,
         |  CAST(len(syms) AS INTEGER) AS n_syms
         |FROM s3 ORDER BY word""".stripMargin,
    // Corpus tokens under the learned merges: q123's segmentation lengths
    // joined back onto the corpus token stream.
    "q145_bpe_corpus_tokens" ->
      s"""WITH ${bpeCte(3)},
         |ns AS (SELECT word, len(syms) AS n_syms FROM s3),
         |tok AS (SELECT doc_id, source, unnest($toksSql) AS word
         |        FROM documents)
         |SELECT doc_id, source, COUNT(*) AS n_words,
         |  CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens
         |FROM tok JOIN ns USING (word)
         |GROUP BY doc_id, source ORDER BY doc_id""".stripMargin,
    // Temperature mix: fixed-point sqrt weights, one double quota chain,
    // md5-rank selection — q93's sampler under corpus-derived quotas.
    "q124_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
        |sc AS (SELECT source, n,
        |         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS s_fp
        |       FROM c),
        |t AS (SELECT CAST(SUM(s_fp) AS BIGINT) AS tot_fp,
        |             CAST(SUM(n) AS BIGINT) AS n_total FROM sc),
        |q AS (SELECT source,
        |        CAST(floor(CAST(n_total AS DOUBLE) * CAST(s_fp AS DOUBLE)
        |          / CAST(tot_fp AS DOUBLE)) AS BIGINT) AS quota
        |      FROM sc CROSS JOIN t),
        |r AS (SELECT doc_id, source,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY md5(text), doc_id) AS rk
        |      FROM documents)
        |SELECT r.source, r.doc_id, CAST(rk AS INTEGER) AS rk, q.quota
        |FROM r JOIN q USING (source) WHERE rk <= q.quota
        |ORDER BY source, rk""".stripMargin,
    // Bigram LM: same integer-ratio ln quantization as q114; the bigram
    // stream, context counts, vocab, and per-doc long sums all mirror the
    // Spark plan stage for stage.
    "q117_bigram_lm_ppl" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS w FROM documents),
         |bg AS (
         |  SELECT doc_id, source,
         |    unnest([array_to_string(w[i:i+1], '|') for i in range(1, len(w))]) AS gram
         |  FROM t),
         |bgw AS (SELECT doc_id, source, gram, split_part(gram, '|', 1) AS w1 FROM bg),
         |c2 AS (SELECT gram, COUNT(*) AS c2 FROM bgw WHERE source = 'src0' GROUP BY 1),
         |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bgw WHERE source = 'src0' GROUP BY 1),
         |v AS (SELECT COUNT(DISTINCT tok) AS v FROM (
         |  SELECT unnest(w) AS tok FROM t WHERE source = 'src0') u),
         |c2i AS (SELECT gram, ${graft.functions.IntLn.iln1e9Sql("c2 + 1")} AS iln_a FROM c2),
         |c1i AS (SELECT w1, ${graft.functions.IntLn.iln1e9Sql("c1 + v.v")} AS iln_b
         |        FROM c1 CROSS JOIN v),
         |vi AS (SELECT ${graft.functions.IntLn.iln1e9Sql("v")} AS iln_v FROM v),
         |sc AS (
         |  SELECT b.doc_id,
         |    COALESCE(c2i.iln_a, 0) - COALESCE(c1i.iln_b, vi.iln_v) AS lp_fp
         |  FROM bgw b LEFT JOIN c2i USING (gram) LEFT JOIN c1i USING (w1) CROSS JOIN vi
         |  WHERE b.source <> 'src0')
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(lp_fp) AS BIGINT) AS logprob_fp,
         |  (CAST(SUM(lp_fp) AS DOUBLE) / 1e9) / CAST(COUNT(*) AS DOUBLE) AS avg_logprob,
         |  (CAST(SUM(lp_fp) AS DOUBLE) / 1e9) / CAST(COUNT(*) AS DOUBLE) > -6.0 AS keep
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Kneser-Ney mirror: identical CTE structure to q117 plus the
    // continuation/forward-type tables; the per-bigram probability is the
    // same parenthesized IEEE chain Spark evaluates, floored fixed-point.
    "q152_kneser_ney_score" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS w FROM documents),
         |bg AS (
         |  SELECT doc_id, source,
         |    unnest([array_to_string(w[i:i+1], '|') for i in range(1, len(w))]) AS gram
         |  FROM t),
         |bgw AS (SELECT doc_id, source, gram,
         |          split_part(gram, '|', 1) AS w1,
         |          split_part(gram, '|', 2) AS w2
         |        FROM bg),
         |c2 AS (SELECT gram, COUNT(*) AS c2 FROM bgw WHERE source = 'src0' GROUP BY 1),
         |ctx AS (SELECT w1, COUNT(*) AS c1, COUNT(DISTINCT w2) AS n1f
         |        FROM bgw WHERE source = 'src0' GROUP BY 1),
         |rev AS (SELECT w2, COUNT(DISTINCT w1) AS n1r
         |        FROM bgw WHERE source = 'src0' GROUP BY 1),
         |nb AS (SELECT COUNT(DISTINCT gram) AS nbb FROM bgw WHERE source = 'src0'),
         |sc AS (
         |  SELECT b.doc_id,
         |    CAST(floor(
         |      (CASE WHEN ctx.c1 IS NOT NULL
         |            THEN greatest(CAST(COALESCE(c2.c2, 0) AS DOUBLE) - 0.75, 0.0)
         |                 / CAST(ctx.c1 AS DOUBLE)
         |            ELSE 0.0 END
         |       + (CASE WHEN ctx.c1 IS NOT NULL
         |               THEN (0.75 * CAST(ctx.n1f AS DOUBLE)) / CAST(ctx.c1 AS DOUBLE)
         |               ELSE 1.0 END)
         |         * (CAST(COALESCE(rev.n1r, 0) AS DOUBLE) / CAST(nb.nbb AS DOUBLE))
         |      ) * 1e9) AS BIGINT) AS p_fp
         |  FROM bgw b
         |  LEFT JOIN c2 USING (gram)
         |  LEFT JOIN ctx USING (w1)
         |  LEFT JOIN rev USING (w2)
         |  CROSS JOIN nb
         |  WHERE b.source <> 'src0')
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(p_fp) AS BIGINT) AS kn_fp,
         |  (CAST(SUM(p_fp) AS DOUBLE) / 1e9) / CAST(COUNT(*) AS DOUBLE) AS kn_score
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Gopher rules: every feature is a ratio of integers; replace() is
    // global on both engines and '...' removal scans left-to-right
    // non-overlapping in both, so the counts match exactly.
    "q118_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |f AS (SELECT doc_id,
         |  CAST(len(toks) AS INTEGER) AS n_words,
         |  CAST(list_sum(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(toks, w -> CAST(length(w) AS BIGINT)))) AS DOUBLE)
         |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_word_len,
         |  CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
         |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS alpha_word_frac,
         |  CAST((length(text) - length(replace(text, '#', '')))
         |      + CAST(floor(CAST(length(text) - length(replace(text, '...', ''))
         |                        AS DOUBLE) / 3.0) AS BIGINT) AS DOUBLE)
         |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS symbol_word_ratio,
         |  CAST(${langScoreSql(TextOps.langStopwords.toMap.apply("en"))} AS INTEGER) AS stop_hits
         |  FROM t)
         |SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
         |  symbol_word_ratio, stop_hits,
         |  (n_words BETWEEN 50 AND 100000
         |   AND mean_word_len BETWEEN 3.0 AND 10.0
         |   AND alpha_word_frac > 0.8 AND stop_hits >= 2
         |   AND symbol_word_ratio <= 0.1) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,
    // Containment: the oracle computes the exact intersection for ALL
    // co-shingled pairs and then keeps the rare-shingle candidates — the
    // same rows the blocked Spark plan emits, since a candidate pair's
    // intersection count is blocking-independent.
    "q121_containment_pairs" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |rare AS (SELECT shingle FROM (
         |  SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1) t WHERE df <= 5),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a
         |  JOIN rare r ON r.shingle = a.shingle
         |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT c.da, c.db, i.inter FROM cand c JOIN inter i USING (da, db))
         |SELECT da, db, CAST(inter AS BIGINT) AS inter,
         |  sa.n_sh AS n_a, sb.n_sh AS n_b,
         |  CAST(inter AS DOUBLE) / sa.n_sh AS containment_a,
         |  CAST(inter AS DOUBLE) / sb.n_sh AS containment_b
         |FROM j JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |WHERE greatest(CAST(inter AS DOUBLE) / sa.n_sh,
         |               CAST(inter AS DOUBLE) / sb.n_sh) >= 0.6
         |ORDER BY da, db""".stripMargin,
    // Importance weights: identical integer-ratio ln quantization and
    // long accumulation on both engines; docs with zero tokens (or all
    // tokens unseen — impossible here since the vocab covers the corpus)
    // are absent on both sides.
    "q114_importance_weights" ->
      s"""WITH tk AS (
         |  SELECT doc_id, source, unnest(w) AS token
         |  FROM (SELECT doc_id, source, $toksSql AS w FROM documents) t),
         |counts AS (
         |  SELECT token,
         |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
         |    SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
         |  FROM tk GROUP BY 1),
         |tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr, COUNT(*) AS v
         |        FROM counts),
         |toti AS (
         |  SELECT nt, nr, v,
         |    ${graft.functions.IntLn.iln1e9Sql("nr + v")} AS iln_nr,
         |    ${graft.functions.IntLn.iln1e9Sql("nt + v")} AS iln_nt
         |  FROM tot),
         |ratios AS (
         |  SELECT token,
         |    ${graft.functions.IntLn.iln1e9Sql("ct + 1")}
         |      - ${graft.functions.IntLn.iln1e9Sql("cr + 1")}
         |      + iln_nr - iln_nt AS lr_fp
         |  FROM counts CROSS JOIN toti),
         |agg AS (
         |  SELECT t.doc_id, COUNT(*) AS n_tokens,
         |    CAST(SUM(r.lr_fp) AS BIGINT) AS logratio_fp
         |  FROM tk t JOIN ratios r USING (token)
         |  WHERE t.source <> 'src0' GROUP BY 1)
         |SELECT doc_id, n_tokens, logratio_fp,
         |  (CAST(logratio_fp AS DOUBLE) / 1e9) / CAST(n_tokens AS DOUBLE)
         |    AS avg_logratio,
         |  (CAST(logratio_fp AS DOUBLE) / 1e9) / CAST(n_tokens AS DOUBLE) > 0
         |    AS keep
         |FROM agg ORDER BY doc_id""".stripMargin,
    // Segment dedup: same 16-token slicing as q55's chunker (width =
    // stride = 16), same global first-occurrence rule keyed on md5(seg).
    "q104_segment_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |segs AS (
         |  SELECT doc_id,
         |    unnest([array_to_string(w[k*16+1 : k*16+16], ' ')
         |            for k in range(0, CAST((len(w) + 15) // 16 AS INT))]) AS seg,
         |    unnest(range(0, (len(w) + 15) // 16)) AS seg_idx
         |  FROM t WHERE len(w) > 0),
         |fl AS (
         |  SELECT doc_id, seg_idx, seg,
         |    ROW_NUMBER() OVER (PARTITION BY md5(seg)
         |      ORDER BY doc_id, seg_idx) = 1 AS keep
         |  FROM segs)
         |SELECT doc_id, COUNT(*) AS n_segs,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  COALESCE(string_agg(CASE WHEN keep THEN seg END, ' '
         |    ORDER BY seg_idx), '') AS retained_text
         |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Decontamination: per-doc-distinct 8-grams (mirrors TextOps.shingles)
    // on both sides; benchmark = source 'src0'.
    "q105_decontam" ->
      s"""WITH sh8 AS (
         |  SELECT DISTINCT doc_id, source, gram FROM (
         |    SELECT doc_id, source,
         |      unnest([array_to_string(w[i:i+7], '|')
         |              for i in range(1, len(w) - 6)]) AS gram
         |    FROM (SELECT doc_id, source, $toksSql AS w FROM documents) t0) t1),
         |bench AS (SELECT DISTINCT gram FROM sh8 WHERE source = 'src0'),
         |hits AS (
         |  SELECT s.doc_id, COUNT(*) AS n FROM sh8 s
         |  JOIN bench b USING (gram)
         |  WHERE s.source <> 'src0' GROUP BY 1)
         |SELECT d.doc_id, d.source,
         |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_contam_grams,
         |  COALESCE(h.n, 0) > 0 AS is_contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.source <> 'src0' ORDER BY d.doc_id""".stripMargin,
    // Bloom mirror: salted md5 bit positions, the set-bit table DISTINCT
    // on pos, probes counted per-j (collision-safe), all-k-set = COUNT = 4.
    "q153_bloom_decontam" ->
      s"""WITH sh8 AS (
         |  SELECT DISTINCT doc_id, source, gram FROM (
         |    SELECT doc_id, source,
         |      unnest([array_to_string(w[i:i+7], '|')
         |              for i in range(1, len(w) - 6)]) AS gram
         |    FROM (SELECT doc_id, source, $toksSql AS w FROM documents) t0) t1),
         |bench AS (SELECT DISTINCT gram FROM sh8 WHERE source = 'src0'),
         |bits AS (
         |  SELECT DISTINCT
         |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || gram), 1, 15) AS BIGINT) % 262144 AS pos
         |  FROM bench CROSS JOIN range(0, 4) t(j)),
         |tg AS (SELECT doc_id, gram FROM sh8 WHERE source <> 'src0'),
         |probe AS (
         |  SELECT doc_id, gram,
         |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || gram), 1, 15) AS BIGINT) % 262144 AS pos
         |  FROM tg CROSS JOIN range(0, 4) t(j)),
         |bh AS (SELECT doc_id, gram FROM (
         |    SELECT p.doc_id, p.gram, COUNT(*) AS c
         |    FROM probe p JOIN bits b USING (pos) GROUP BY 1, 2) t
         |  WHERE c = 4),
         |bhd AS (SELECT doc_id, COUNT(*) AS n_bloom FROM bh GROUP BY 1),
         |eh AS (SELECT t.doc_id, COUNT(*) AS n_exact
         |       FROM tg t JOIN bench USING (gram) GROUP BY 1)
         |SELECT d.doc_id, d.source,
         |  CAST(COALESCE(b.n_bloom, 0) AS BIGINT) AS n_bloom_grams,
         |  CAST(COALESCE(e.n_exact, 0) AS BIGINT) AS n_exact_grams,
         |  COALESCE(b.n_bloom, 0) > 0 AS bloom_flagged
         |FROM documents d
         |LEFT JOIN bhd b USING (doc_id)
         |LEFT JOIN eh e USING (doc_id)
         |WHERE d.source <> 'src0' ORDER BY d.doc_id""".stripMargin,
    // Repetition rules: identical (doc, n, gram) count table, identical
    // integer/integer ratio arithmetic; NULL gram orders (docs too short
    // for bigrams/trigrams) coalesce to 0.0 on both engines.
    "q106_repetition_stats" ->
      s"""WITH t AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, $toksSql AS w FROM documents) t0
         |  WHERE len(w) > 0),
         |g AS (
         |  SELECT doc_id, 1 AS n, unnest(w) AS gram FROM t
         |  UNION ALL
         |  SELECT doc_id, 2,
         |    unnest([array_to_string(w[i:i+1], '|')
         |            for i in range(1, len(w))]) FROM t
         |  UNION ALL
         |  SELECT doc_id, 3,
         |    unnest([array_to_string(w[i:i+2], '|')
         |            for i in range(1, len(w) - 1)]) FROM t),
         |c AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
         |st AS (SELECT doc_id, n, SUM(c) AS total, MAX(c) AS mx,
         |         SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
         |       FROM c GROUP BY 1, 2),
         |p AS (SELECT doc_id,
         |        MAX(CASE WHEN n = 1 THEN total END) AS n_tokens,
         |        MAX(CASE WHEN n = 1 THEN mx END) AS mx1,
         |        MAX(CASE WHEN n = 2 THEN total END) AS tot2,
         |        MAX(CASE WHEN n = 2 THEN mx END) AS mx2,
         |        MAX(CASE WHEN n = 3 THEN total END) AS tot3,
         |        MAX(CASE WHEN n = 3 THEN dup END) AS dup3
         |      FROM st GROUP BY 1)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(mx1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_uni_frac,
         |  COALESCE(CAST(mx2 AS DOUBLE) / CAST(tot2 AS DOUBLE), 0.0) AS top_bi_frac,
         |  COALESCE(CAST(dup3 AS DOUBLE) / CAST(tot3 AS DOUBLE), 0.0) AS dup_tri_frac,
         |  (CAST(mx1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.2
         |   AND COALESCE(CAST(mx2 AS DOUBLE) / CAST(tot2 AS DOUBLE), 0.0) <= 0.18
         |   AND COALESCE(CAST(dup3 AS DOUBLE) / CAST(tot3 AS DOUBLE), 0.0) <= 0.3)
         |    AS keep
         |FROM p ORDER BY doc_id""".stripMargin,
    "q93_group_sample" ->
      """SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(text), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,
    "q91_keywords" ->
      s"""WITH post AS MATERIALIZED (
         |  SELECT doc_id, token, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest($toksSql) AS token FROM documents) t
         |  GROUP BY 1, 2),
         |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM post),
         |idf AS MATERIALIZED (
         |  SELECT token,
         |    CAST(${graft.functions.IntLn.iln1e9Sql("n_docs")}
         |      - ${graft.functions.IntLn.iln1e9Sql("df")} AS DOUBLE) / 1e9 AS idf
         |  FROM (SELECT token, COUNT(*) AS df FROM post GROUP BY 1) d
         |  CROSS JOIN nd)
         |SELECT doc_id, token, tfidf, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT p.doc_id, p.token, CAST(p.tf AS DOUBLE) * i.idf AS tfidf,
         |    ROW_NUMBER() OVER (PARTITION BY p.doc_id
         |      ORDER BY CAST(p.tf AS DOUBLE) * i.idf DESC, p.token) AS rn
         |  FROM post p JOIN idf i ON i.token = p.token) t
         |WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin,
    // TF-IDF cosine pairs: same quantized-ln idf + fixed-point sums as the
    // Spark plan (RankedSearch.tfidfCosinePairs); MATERIALIZED keeps the
    // multiply-referenced postings/weights CTEs single-evaluation.
    "q83_tfidf_pairs" ->
      s"""WITH post AS MATERIALIZED (
         |  SELECT doc_id, token, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest($toksSql) AS token FROM documents) t
         |  GROUP BY 1, 2),
         |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM post),
         |idf AS MATERIALIZED (
         |  SELECT token,
         |    CAST(${graft.functions.IntLn.iln1e9Sql("n_docs")}
         |      - ${graft.functions.IntLn.iln1e9Sql("df")} AS DOUBLE) / 1e9 AS idf
         |  FROM (SELECT token, COUNT(*) AS df FROM post GROUP BY 1) d
         |  CROSS JOIN nd
         |  WHERE CAST(df AS DOUBLE) <= CAST(n_docs AS DOUBLE) * 0.1),
         |wgt AS MATERIALIZED (
         |  SELECT p.doc_id, p.token, CAST(p.tf AS DOUBLE) * i.idf AS w
         |  FROM post p JOIN idf i ON p.token = i.token),
         |nrm AS MATERIALIZED (
         |  SELECT doc_id,
         |    sqrt(CAST(SUM(CAST(floor(w * w * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
         |      AS norm
         |  FROM wgt GROUP BY 1),
         |dots AS MATERIALIZED (
         |  SELECT a.doc_id AS da, b.doc_id AS db,
         |    CAST(SUM(CAST(floor(a.w * b.w * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
         |      AS dot
         |  FROM wgt a JOIN wgt b
         |    ON a.token = b.token AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d.da, d.db, d.dot / (na.norm * nb.norm) AS cosine
         |FROM dots d
         |JOIN nrm na ON na.doc_id = d.da
         |JOIN nrm nb ON nb.doc_id = d.db
         |WHERE d.dot / (na.norm * nb.norm) >= 0.3
         |ORDER BY d.da, d.db""".stripMargin,
    // PMI-ratio collocations: integer counts, one double mul/div chain in
    // pinned order — no ln, so no cross-engine transcendental drift at all.
    "q84_collocations" ->
      s"""WITH tok AS MATERIALIZED (
         |  SELECT unnest($toksSql) AS t FROM documents),
         |uni AS MATERIALIZED (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
         |nt AS (SELECT COUNT(*) AS n_tok FROM tok),
         |big AS MATERIALIZED (
         |  SELECT w[i] AS w1, w[i + 1] AS w2 FROM (
         |    SELECT $toksSql AS w,
         |      unnest(range(1, len($toksSql))) AS i
         |    FROM documents) t),
         |nb AS (SELECT COUNT(*) AS n_big FROM big),
         |cab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM big
         |        GROUP BY 1, 2 HAVING COUNT(*) >= 5)
         |SELECT c.w1, c.w2, c.c_ab,
         |  CAST(c.c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE)
         |    / (CAST(n_big AS DOUBLE) * CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))
         |    AS pmi_ratio
         |FROM cab c
         |JOIN uni a ON a.t = c.w1
         |JOIN uni b ON b.t = c.w2
         |CROSS JOIN nt CROSS JOIN nb
         |ORDER BY pmi_ratio DESC, c.w1, c.w2 LIMIT 50""".stripMargin,
    "q18_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS INTEGER) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
         |  CAST(length(text) AS INTEGER) AS n_chars_computed
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q19_lang_id" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sc AS (SELECT doc_id,
         |  ${langScoreSql(TextOps.langStopwords.toMap.apply("en"))} AS s_en,
         |  ${langScoreSql(TextOps.langStopwords.toMap.apply("es"))} AS s_es,
         |  ${langScoreSql(TextOps.langStopwords.toMap.apply("de"))} AS s_de,
         |  ${langScoreSql(TextOps.langStopwords.toMap.apply("fr"))} AS s_fr
         |  FROM t)
         |SELECT doc_id,
         |  CASE
         |    WHEN s_en = greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'en'
         |    WHEN s_es = greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'es'
         |    WHEN s_de = greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'de'
         |    WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'fr'
         |    ELSE 'und' END AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin,
    "q20_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |f AS (SELECT doc_id,
         |  CAST(len(toks) AS INTEGER) AS n_tokens,
         |  CAST(${langScoreSql(TextOps.langStopwords.toMap.apply("en"))} AS DOUBLE) / greatest(len(toks), 1) AS stopword_ratio,
         |  CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) AS alpha_ratio,
         |  CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS DOUBLE) / greatest(len(toks), 1) AS avg_word_len
         |  FROM t)
         |SELECT doc_id, n_tokens, stopword_ratio, alpha_ratio, avg_word_len,
         |  0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         |  + 0.3 * stopword_ratio + 0.2 * alpha_ratio
         |  + 0.2 * (1.0 - least(avg_word_len / 10.0, 1.0)) AS quality
         |FROM f ORDER BY doc_id""".stripMargin,
    "q21_fingerprint_dedup" ->
      s"""WITH fp AS (
         |  SELECT doc_id,
         |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp_md5,
         |    list_reduce(
         |      list_prepend(CAST(0 AS BIGINT),
         |        list_transform($toksSql,
         |          t -> (CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 268435456))),
         |      (acc, h) -> (acc * 31 + h) % 1000000007) AS fp_rolling
         |  FROM documents)
         |SELECT doc_id, fp_md5, fp_rolling,
         |  doc_id = MIN(doc_id) OVER (PARTITION BY fp_md5) AS is_canonical
         |FROM fp ORDER BY doc_id""".stripMargin,
    "q22_jaccard_pairs" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT da, db,
         |  CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard
         |FROM common
         |JOIN sizes sa ON da = sa.doc_id
         |JOIN sizes sb ON db = sb.doc_id
         |WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5
         |ORDER BY da, db""".stripMargin,
    "q23_minhash_pairs" ->
      s"""WITH $minhashEstCte
         |SELECT da, db, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5 ORDER BY da, db""".stripMargin,
    // SimHash bands: q24's signature CTE, byte-band slices via integer
    // shifts, DISTINCT candidate pairs (= the first-collision set),
    // integer Hamming verify.
    "q202_simhash_pairs" ->
      s"""WITH tok AS (
         |  SELECT doc_id, token, COUNT(*) AS cnt,
         |    CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents) t
         |  GROUP BY doc_id, token),
         |bits AS (
         |  SELECT doc_id, i AS bit,
         |    SUM(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS s
         |  FROM tok CROSS JOIN range(32) t(i) GROUP BY doc_id, i),
         |sim AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit
         |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id),
         |bnd AS (
         |  SELECT doc_id, simhash, i AS band, (simhash >> (i * 8)) & 255 AS bval
         |  FROM sim CROSS JOIN range(4) t(i)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         |    a.simhash AS sa, b.simhash AS sb
         |  FROM bnd a JOIN bnd b
         |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY da, db""".stripMargin,
    // Wide simhash: the 60-bit/4×15-band twin of the q202 chain.
    "q222_simhash_wide" ->
      s"""WITH tok AS (
         |  SELECT doc_id, token, COUNT(*) AS cnt,
         |    CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents) t
         |  GROUP BY doc_id, token),
         |bits AS (
         |  SELECT doc_id, i AS bit,
         |    SUM(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS s
         |  FROM tok CROSS JOIN range(60) t(i) GROUP BY doc_id, i),
         |sim AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit
         |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id),
         |bnd AS (
         |  SELECT doc_id, simhash, i AS band,
         |    (simhash >> (i * 15)) & 32767 AS bval
         |  FROM sim CROSS JOIN range(4) t(i)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         |    a.simhash AS sa, b.simhash AS sb
         |  FROM bnd a JOIN bnd b
         |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY da, db""".stripMargin,
    // Coverage: q105's sh8 gram table, train-side distinct grams,
    // per-eval-doc covered fraction.
    "q203_ngram_coverage" ->
      s"""WITH sh8 AS (
         |  SELECT DISTINCT doc_id, source, gram FROM (
         |    SELECT doc_id, source,
         |      unnest([array_to_string(w[i:i+7], '|')
         |              for i in range(1, len(w) - 6)]) AS gram
         |    FROM (SELECT doc_id, source, $toksSql AS w FROM documents) t0) t1),
         |train AS (SELECT DISTINCT gram FROM sh8 WHERE source <> 'src0'),
         |ev AS (SELECT doc_id, gram FROM sh8 WHERE source = 'src0'),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
         |        FROM ev GROUP BY 1),
         |cov AS (
         |  SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered
         |  FROM ev e JOIN train t USING (gram) GROUP BY 1)
         |SELECT t.doc_id, t.n_grams,
         |  COALESCE(c.n_covered, CAST(0 AS BIGINT)) AS n_covered,
         |  CAST(COALESCE(c.n_covered, 0) AS DOUBLE)
         |    / CAST(t.n_grams AS DOUBLE) AS coverage
         |FROM tot t LEFT JOIN cov c USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,
    // Quality × dup: the shared closure beside the q20 quality formula
    // in fixed point, per-bucket dup fractions off a window sum.
    "q208_quality_dup_profile" -> qualityDupProfileSql,
    // q211 = q208's profile consuming the materialized closure artifact —
    // identical output by construction, same oracle.
    "q211_artifact_quality_dup" -> qualityDupProfileSql,
    // LSH P/R: the est CTE (shared hash family) beside q22's exact-Jaccard
    // rule, full-outer flag counting.
    "q206_lsh_recall_report" ->
      s"""WITH $minhashEstCte,
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
         |  FROM sh a JOIN sh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT da, db FROM common
         |  JOIN sizes sa ON da = sa.doc_id
         |  JOIN sizes sb ON db = sb.doc_id
         |  WHERE CAST(c AS DOUBLE) / (sa.n_sh + sb.n_sh - c) >= 0.5),
         |lsh AS (SELECT da, db FROM est WHERE est_jaccard >= 0.5),
         |f AS (
         |  SELECT COALESCE(e.da, l.da) AS da, COALESCE(e.db, l.db) AS db,
         |    e.da IS NOT NULL AS in_exact, l.da IS NOT NULL AS in_lsh
         |  FROM exact e FULL OUTER JOIN lsh l
         |    ON e.da = l.da AND e.db = l.db)
         |SELECT
         |  CAST(SUM(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
         |  CAST(SUM(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  CAST(SUM(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS DOUBLE) AS precision,
         |  CAST(SUM(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(CASE WHEN in_exact THEN 1 ELSE 0 END) AS DOUBLE) AS recall
         |FROM f""".stripMargin,
    // Sampled audit twin of q206: exact tier on the even-id-hash half,
    // production LSH set restricted to sampled endpoints.
    "q214_lsh_recall_sampled" ->
      s"""WITH $minhashEstCte,
         |samp AS (
         |  SELECT doc_id FROM documents
         |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |        AS BIGINT)
         |        % greatest(2, (SELECT COUNT(*) FROM documents) // 2500) = 0),
         |shs AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN samp USING (doc_id)),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shs GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
         |  FROM shs a JOIN shs b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT da, db FROM common
         |  JOIN sizes sa ON da = sa.doc_id
         |  JOIN sizes sb ON db = sb.doc_id
         |  WHERE CAST(c AS DOUBLE) / (sa.n_sh + sb.n_sh - c) >= 0.5),
         |lsh AS (
         |  SELECT e.da, e.db FROM est e
         |  JOIN samp pa ON e.da = pa.doc_id
         |  JOIN samp pb ON e.db = pb.doc_id
         |  WHERE est_jaccard >= 0.5),
         |f AS (
         |  SELECT COALESCE(e.da, l.da) AS da, COALESCE(e.db, l.db) AS db,
         |    e.da IS NOT NULL AS in_exact, l.da IS NOT NULL AS in_lsh
         |  FROM exact e FULL OUTER JOIN lsh l
         |    ON e.da = l.da AND e.db = l.db)
         |SELECT
         |  (SELECT COUNT(*) FROM samp) AS n_sampled,
         |  CAST(SUM(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
         |  CAST(SUM(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  CAST(SUM(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS DOUBLE) AS precision,
         |  CAST(SUM(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(CASE WHEN in_exact THEN 1 ELSE 0 END) AS DOUBLE) AS recall
         |FROM f""".stripMargin,
    // Good–Turing: shingle-type document frequencies → count-of-counts,
    // r+1 self-join, two long-ratio divisions.
    "q215_good_turing" ->
      s"""WITH $shingleCte,
         |tf AS (
         |  SELECT shingle AS token, COUNT(*) AS r FROM sh
         |  GROUP BY shingle),
         |cc AS (SELECT r, COUNT(*) AS n_types FROM tf GROUP BY r),
         |tot AS (SELECT CAST(SUM(r) AS BIGINT) AS t_tokens FROM tf)
         |SELECT c.r, c.n_types, c.r * c.n_types AS n_tokens,
         |  CAST(c.r + 1 AS DOUBLE) * CAST(COALESCE(n2.n_types, 0) AS DOUBLE)
         |    / CAST(c.n_types AS DOUBLE) AS gt_rstar,
         |  CAST(c.r * c.n_types AS DOUBLE) / CAST(t.t_tokens AS DOUBLE) AS p_mass
         |FROM cc c LEFT JOIN cc n2 ON n2.r = c.r + 1 CROSS JOIN tot t
         |WHERE c.r <= 10 ORDER BY c.r""".stripMargin,
    // Zipf slope: per-source top-100 rank/freq ilns at 1e6 fp, OLS from
    // BIGINT moments (sums cast back to BIGINT — every moment sized to
    // fit, so the arithmetic is exactly Spark's long math).
    "q216_zipf_slope" ->
      s"""WITH tf AS (
         |  SELECT source, token, COUNT(*) AS freq FROM (
         |    SELECT source, unnest($toksSql) AS token FROM documents) t
         |  GROUP BY source, token),
         |rk AS (
         |  SELECT source,
         |    CAST(FLOOR(CAST(${graft.functions.IntLn.iln1e9Sql("rnk")} AS DOUBLE) / 1000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(${graft.functions.IntLn.iln1e9Sql("freq")} AS DOUBLE) / 1000.0) AS BIGINT) AS y
         |  FROM (SELECT source, freq, token,
         |      ROW_NUMBER() OVER (PARTITION BY source
         |        ORDER BY freq DESC, token ASC) AS rnk
         |    FROM tf) r
         |  WHERE rnk <= 100),
         |m AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM rk GROUP BY source)
         |SELECT source, n_terms,
         |  CAST(n_terms * sxy - sx * sy AS DOUBLE)
         |    / CAST(n_terms * sxx - sx * sx AS DOUBLE) AS zipf_slope
         |FROM m ORDER BY source""".stripMargin,
    // S-curve: exact pairs at J ≥ 0.25 beside the shared hash family's
    // band table; collision = same (band, bucket); predicted rate by the
    // identical square-chain, floor-quantized per pair.
    "q221_lsh_scurve" -> {
      val j4 = "((j * j) * (j * j))"
      val q2 = s"((1.0 - $j4) * (1.0 - $j4))"
      val q8 = s"(($q2 * $q2) * ($q2 * $q2))"
      s"""WITH samp AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |        AS BIGINT) % 2 = 0),
         |docs2 AS (
         |  SELECT doc_id, text FROM samp
         |  UNION ALL
         |  SELECT doc_id + $AddedDocIdOffset,
         |    array_to_string(w[1:CAST(greatest(3.0,
         |      FLOOR(len(w) * ((4.0 + doc_id % 12) / 16.0))) AS BIGINT)],
         |      ' ')
         |  FROM (SELECT doc_id, $toksSql AS w FROM samp) t0
         |  WHERE doc_id % 4 = 0),
         |sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      unnest([array_to_string(w[i:i+2], '|')
         |              for i in range(1, len(w) - 1)]) AS shingle
         |    FROM (SELECT doc_id,
         |            list_filter(string_split_regex(trim(text), '\\s+'),
         |              x -> len(x) > 0) AS w
         |          FROM docs2) t1) t2),
         |hs AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
         |      % 268435456 AS hs
         |  FROM sh),
         |mh AS (
         |  SELECT doc_id, i,
         |    MIN(((2 * i + 1) * hs + 7919 * i) % 268435456) AS minhash
         |  FROM hs CROSS JOIN range(32) t(i) GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band,
         |    md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY i))
         |      AS bucket
         |  FROM mh GROUP BY doc_id, i // 4),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
         |  FROM sh a JOIN sh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |ex AS (
         |  SELECT da, db,
         |    CAST(c AS DOUBLE) / (sa.n_sh + sb.n_sh - c) AS j
         |  FROM common
         |  JOIN sizes sa ON da = sa.doc_id
         |  JOIN sizes sb ON db = sb.doc_id
         |  WHERE CAST(c AS DOUBLE) / (sa.n_sh + sb.n_sh - c) >= 0.25),
         |coll AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket
         |      AND a.doc_id < b.doc_id),
         |p AS (
         |  SELECT
         |    CAST(least(FLOOR(j * 10.0), 9.0) AS BIGINT) AS j_bucket,
         |    cl.da IS NOT NULL AS caught,
         |    CAST(FLOOR((1.0 - $q8) * 1e9) AS BIGINT) AS pred_fp
         |  FROM ex e LEFT JOIN coll cl ON e.da = cl.da AND e.db = cl.db)
         |SELECT j_bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_caught,
         |  CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS catch_rate,
         |  CAST(CAST(SUM(pred_fp) AS BIGINT) AS DOUBLE) / 1e9
         |    / CAST(COUNT(*) AS DOUBLE) AS pred_rate
         |FROM p GROUP BY j_bucket ORDER BY j_bucket""".stripMargin
    },

    // DSIR: hashed-unigram bucket log-ratios (iln per BUCKET, 256 rows),
    // per-doc integer sum + n_tok·Δ_totals, deterministic top-50.
    "q217_dsir_weights" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source,
         |    CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % 256 AS b
         |  FROM (SELECT doc_id, source, unnest($toksSql) AS token
         |        FROM documents) t),
         |tgt AS (SELECT b, COUNT(*) AS cnt_t FROM tok
         |        WHERE source = 'src0' GROUP BY b),
         |rawb AS (SELECT b, COUNT(*) AS cnt_r FROM tok
         |         WHERE source <> 'src0' GROUP BY b),
         |stats AS (
         |  SELECT r.b,
         |    CAST(${graft.functions.IntLn.iln1e9Sql("COALESCE(t.cnt_t, 0) + 1")} AS BIGINT)
         |      - CAST(${graft.functions.IntLn.iln1e9Sql("r.cnt_r + 1")} AS BIGINT) AS delta
         |  FROM rawb r LEFT JOIN tgt t USING (b)),
         |tots AS (
         |  SELECT CAST(${graft.functions.IntLn.iln1e9Sql("(SELECT SUM(cnt_r) FROM rawb) + 256")} AS BIGINT)
         |    - CAST(${graft.functions.IntLn.iln1e9Sql("(SELECT SUM(cnt_t) FROM tgt) + 256")} AS BIGINT) AS d_tot),
         |perdoc AS (
         |  SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |    CAST(SUM(delta) AS BIGINT) AS sum_delta
         |  FROM tok JOIN stats USING (b) WHERE source <> 'src0'
         |  GROUP BY doc_id, source)
         |SELECT doc_id, source, n_tok,
         |  CAST(sum_delta + n_tok * d_tot AS DOUBLE) / 1e9 AS log_weight
         |FROM perdoc CROSS JOIN tots
         |ORDER BY sum_delta + n_tok * d_tot DESC, doc_id ASC
         |LIMIT 50""".stripMargin,
    // Effective tokens: the shared closure, token sums split by keeper.
    "q204_effective_tokens" -> effectiveTokensSql,
    // q210 = q204 consuming the materialized closure artifact.
    "q210_artifact_tokens" -> effectiveTokensSql,
    // Tier overlap: q21's md5-fingerprint rule beside the shared closure
    // chain, cross-tabulated.
    "q199_dedup_tier_overlap" -> tierOverlapSql,
    // q209 = q199 consuming the materialized closure artifact.
    "q209_artifact_tier_overlap" -> tierOverlapSql,
    // MinHash accuracy: sliced shingle table, exact Jaccard off set
    // sizes, the minhashEstCte hash family re-derived on the slice, per
    // pair joined on ALL common-shingle pairs (not just LSH candidates).
    "q197_minhash_accuracy" ->
      s"""WITH $shingleCte,
         |s32 AS (SELECT doc_id, shingle FROM sh WHERE doc_id < 32),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM s32 GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
         |  FROM s32 a JOIN s32 b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |hs AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 268435456 AS hs
         |  FROM s32),
         |mh AS (
         |  SELECT doc_id, i,
         |    MIN(((2 * i + 1) * hs + 7919 * i) % 268435456) AS minhash
         |  FROM hs CROSS JOIN range(32) t(i) GROUP BY doc_id, i),
         |est AS (
         |  SELECT da, db,
         |    CAST(SUM(CASE WHEN ha.minhash = hb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / 32 AS est_jaccard
         |  FROM common
         |  JOIN mh ha ON ha.doc_id = da
         |  JOIN mh hb ON hb.doc_id = db AND hb.i = ha.i
         |  GROUP BY da, db),
         |j AS (
         |  SELECT c.da, c.db,
         |    CAST(c.c AS DOUBLE) / (sa.n_sh + sb.n_sh - c.c) AS jaccard
         |  FROM common c
         |  JOIN sizes sa ON c.da = sa.doc_id
         |  JOIN sizes sb ON c.db = sb.doc_id)
         |SELECT j.da, j.db, j.jaccard, e.est_jaccard,
         |  abs(j.jaccard - e.est_jaccard) AS abs_err
         |FROM j JOIN est e ON j.da = e.da AND j.db = e.db
         |ORDER BY j.da, j.db""".stripMargin,
    "q55_chunking" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    unnest([array_to_string(w[k*24+1 : k*24+32], ' ')
         |            for k in range(0, CAST((len(w) + 23) // 24 AS INT))]) AS chunk,
         |    unnest(range(0, (len(w) + 23) // 24)) AS chunk_id
         |  FROM t WHERE len(w) > 0)
         |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id, chunk,
         |  CAST(len(list_filter(string_split_regex(trim(chunk), '\\s+'),
         |    x -> len(x) > 0)) AS INTEGER) AS n_chunk_tokens
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q56_pii_mask" ->
      s"""SELECT masked, COUNT(*) AS n, MIN(c_custkey) AS first_key
         |FROM (SELECT c_custkey,
         |        regexp_replace(
         |          regexp_replace(c_name, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
         |          '[0-9]+', '<NUM>', 'g') AS masked
         |      FROM customer) t
         |GROUP BY masked ORDER BY masked""".stripMargin,
    "q72_hash_sample" ->
      """SELECT doc_id, source, lang,
        |  CASE WHEN lang = 'en' THEN CAST(4 AS BIGINT) ELSE CAST(2 AS BIGINT) END AS rate
        |FROM documents
        |WHERE CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
        |      % (CASE WHEN lang = 'en' THEN 4 ELSE 2 END) = 0
        |ORDER BY doc_id""".stripMargin,
    "q52_dedup_canonical" -> dedupCanonicalSql,
    // q115 = q52 through the DataFrame CC — same oracle verbatim.
    "q115_dedup_canonical_df" -> dedupCanonicalSql,
    // q224: the oracle IS the full recompute over the grown snapshot —
    // the shared closure chain re-pointed at docs2 (v1 ∪ added), which
    // the incremental star-edge plan must equal by the pure-growth
    // theorem (see the query comment).
    "q224_closure_refresh" -> refreshOracle(
      s"""SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $AddedDocIdOffset, 'v2new ' || text FROM documents
         |  WHERE doc_id % 11 = 0""".stripMargin),
    // q225: same full-recompute oracle over the CDC'd snapshot — survivors
    // (doc_id % 13 <> 0) plus q224's added docs; the incremental star +
    // component-local re-pair plan must equal it by the partition argument
    // in the query comment.
    "q225_closure_refresh_cdc" -> refreshOracle(
      s"""SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + $AddedDocIdOffset, 'v2new ' || text FROM documents
         |  WHERE doc_id % 11 = 0""".stripMargin),
    // q229: the same full-recompute oracle as q225 — here it gates the v2
    // closure READ BACK from the maintained (persisted, bucketed) table,
    // so a maintenance bug that corrupts the artifact on disk fails the
    // hash even if the in-plan refresh was right.
    "q229_artifact_maintenance" -> refreshOracle(
      s"""SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + $AddedDocIdOffset, 'v2new ' || text FROM documents
         |  WHERE doc_id % 11 = 0""".stripMargin),
    // q231: the same full-recompute oracle — here it gates the COMPOSED
    // merge-on-read view over the delta tables, so the composition law
    // (v1 ∖ tomb ∖ changed-keys ∪ changed = v2) is what the hash pins.
    "q231_artifact_maintenance_delta" -> refreshOracle(
      s"""SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + $AddedDocIdOffset, 'v2new ' || text FROM documents
         |  WHERE doc_id % 11 = 0""".stripMargin),
    // q226: the ten-stage release chain — every stage's already-gated SQL
    // twin composed in the flagship's order (q190 injection + detection,
    // q169 histogram gate, q21 fingerprint rule, the shared closure chain
    // standing in for the artifact, q153's Bloom bit model, q136's
    // canonical bucket, q124's quota rank, q101's naive prefix sum,
    // q133's shard hash).
    "q226_corpus_release" -> corpusReleaseSql,
    "q24_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, token, COUNT(*) AS cnt,
         |    CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents) t
         |  GROUP BY doc_id, token),
         |bits AS (
         |  SELECT doc_id, i AS bit,
         |    SUM(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS s
         |  FROM tok CROSS JOIN range(32) t(i) GROUP BY doc_id, i)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The NAIVE sequential prefix sum — the definition the distributed
    // two-phase scan must reproduce exactly. Integer arithmetic only.
    "q101_pack_sequences" ->
      s"""WITH counted AS (
         |  SELECT doc_id, n_tok FROM (
         |    SELECT doc_id, len($toksSql) AS n_tok FROM documents) t
         |  WHERE n_tok > 0),
         |placed AS (
         |  SELECT doc_id, n_tok,
         |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
         |  FROM counted),
         |spans AS (
         |  SELECT doc_id, st, st + n_tok AS fin,
         |    unnest(generate_series(st // 512, (st + n_tok - 1) // 512)) AS bin
         |  FROM placed)
         |SELECT doc_id, bin,
         |  GREATEST(st, bin * 512) - bin * 512 AS off_in_bin,
         |  LEAST(fin, (bin + 1) * 512) - GREATEST(st, bin * 512) AS len,
         |  GREATEST(st, bin * 512) - st AS doc_from
         |FROM spans ORDER BY bin, doc_id""".stripMargin,

    // Cluster-level split: q52's closure + the portable md5 bucket — the
    // same 60-bit hash tokenHash60 computes Spark-side.
    "q136_split_assign" -> splitAssignSql,
    // q146 = q136's split read from the MATERIALIZED closure artifact
    // (sources.DedupClosure) — same values by construction (the artifact IS
    // q52's closure), so the oracle recomputes the closure it persisted.
    "q146_artifact_split" -> splitAssignSql,
    // q147 = q137's quality-argmax canonical consuming the same artifact.
    "q147_artifact_canonical" -> qualityCanonicalSql,
    // CMS mirror: salted md5 row hashes, per-source counters summed
    // counter-wise, per-token MIN over the 4 probed counters.
    "q151_cms_heavy_hitters" ->
      s"""WITH tok AS (SELECT source, unnest($toksSql) AS token FROM documents),
         |ps AS (
         |  SELECT source, r,
         |    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || token), 1, 15) AS BIGINT) % 1024 AS idx,
         |    COUNT(*) AS c
         |  FROM tok CROSS JOIN range(0, 4) t(r)
         |  GROUP BY 1, 2, 3),
         |sk AS (SELECT r, idx, CAST(SUM(c) AS BIGINT) AS c FROM ps GROUP BY 1, 2),
         |probe AS (
         |  SELECT v.token, t.r,
         |    CAST('0x' || substr(md5(CAST(t.r AS VARCHAR) || '|' || v.token), 1, 15) AS BIGINT) % 1024 AS idx
         |  FROM (SELECT DISTINCT token FROM tok) v CROSS JOIN range(0, 4) t(r)),
         |est AS (
         |  SELECT p.token, MIN(s.c) AS est
         |  FROM probe p JOIN sk s ON s.r = p.r AND s.idx = p.idx
         |  GROUP BY p.token),
         |ex AS (SELECT token, COUNT(*) AS exact FROM tok GROUP BY token)
         |SELECT e.token, e.est, x.exact
         |FROM est e JOIN ex x USING (token)
         |ORDER BY e.est DESC, e.token ASC LIMIT 20""".stripMargin,

    // Winsorize: quantile_disc mirrors percentile_disc (q70); the band
    // edges are actual elements of the bit-identical quality column.
    "q141_winsorized_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    0.3 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
         |    + 0.3 * (CAST(${langScoreSql(TextOps.langStopwords.toMap.apply("en"))} AS DOUBLE) / greatest(len(toks), 1))
         |    + 0.2 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
         |    + 0.2 * (1.0 - least((CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS DOUBLE) / greatest(len(toks), 1)) / 10.0, 1.0))
         |      AS quality
         |  FROM (SELECT doc_id, source, text, $toksSql AS toks FROM documents) x),
         |p AS (
         |  SELECT source,
         |    quantile_disc(quality, 0.05) AS p05,
         |    quantile_disc(quality, 0.95) AS p95
         |  FROM t GROUP BY source)
         |SELECT doc_id, t.source, quality,
         |  greatest(p05, least(quality, p95)) AS quality_w,
         |  (quality < p05 OR quality > p95) AS clipped
         |FROM t JOIN p ON p.source = t.source
         |ORDER BY doc_id""".stripMargin,

    // A-ES weighted sample: the same IntLn difference form, the same
    // one-division priority, ORDER BY + LIMIT as the top-k.
    "q139_weighted_sample" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) + 1 AS h,
         |    CAST(floor((
         |      0.3 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
         |      + 0.3 * (CAST(${langScoreSql(TextOps.langStopwords.toMap.apply("en"))} AS DOUBLE) / greatest(len(toks), 1))
         |      + 0.2 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
         |      + 0.2 * (1.0 - least((CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS DOUBLE) / greatest(len(toks), 1)) / 10.0, 1.0))
         |    ) * 1000000000.0) AS BIGINT) + 1 AS w_fp
         |  FROM t),
         |p AS (
         |  SELECT doc_id, w_fp,
         |    (${graft.functions.IntLn.iln1e9Sql("h")}
         |     - ${graft.functions.IntLn.iln1e9Sql("1152921504606846976")}) AS a
         |  FROM q)
         |SELECT doc_id, w_fp, CAST(a AS DOUBLE) / CAST(w_fp AS DOUBLE) AS priority
         |FROM p ORDER BY priority DESC, doc_id LIMIT 200""".stripMargin,

    // Quality-argmax canonical: q52's closure + q20's quality formula +
    // one ROW_NUMBER under (quality DESC, doc_id).
    "q137_quality_canonical" -> qualityCanonicalSql,

    // Dup-span coverage: positional 8-grams via zipped unnests (a position
    // list + a comprehension over the same range), corpus-frequency window,
    // the same gaps-and-islands interval union.
    "q157_dup_span_coverage" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tt AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks FROM t),
         |g AS (
         |  SELECT doc_id,
         |    unnest(range(0, greatest(len(toks) - 7, 0))) AS st,
         |    unnest([CAST('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15) AS BIGINT)
         |            for i in range(1, len(toks) - 6)]) AS gh
         |  FROM tt),
         |ds AS (SELECT doc_id, st FROM (
         |  SELECT doc_id, st, COUNT(*) OVER (PARTITION BY gh) AS cnt FROM g) x
         |  WHERE cnt > 1),
         |c AS (
         |  SELECT doc_id,
         |    GREATEST(0, (st + 8) - GREATEST(COALESCE(MAX(st + 8) OVER (
         |      PARTITION BY doc_id ORDER BY st
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), st)) AS new_cov
         |  FROM ds),
         |p AS (SELECT doc_id, SUM(new_cov) AS dup_cov FROM c GROUP BY doc_id)
         |SELECT tt.doc_id, n_toks,
         |  CAST(COALESCE(dup_cov, 0) AS BIGINT) AS dup_tokens,
         |  CAST(COALESCE(dup_cov, 0) AS DOUBLE) / GREATEST(n_toks, 1) AS dup_frac
         |FROM tt LEFT JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin,

    // HLL mirror: same 60-bit hash, low-8-bit bucket, 53 - len(bin(h >> 8))
    // rank (bin() is minimal-width in both engines), per-source MAX
    // registers max-merged into __all, fixed-point Z, one float division.
    "q158_hll_registers" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |bi AS (
         |  SELECT source,
         |    unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS bigram
         |  FROM t WHERE len(toks) >= 2),
         |h AS (SELECT source, bigram,
         |        CAST('0x' || substr(md5(bigram), 1, 15) AS BIGINT) AS h FROM bi),
         |r AS (SELECT source, h & 255 AS idx,
         |        CASE WHEN (h >> 8) = 0 THEN 53 ELSE 53 - len(bin(h >> 8)) END AS rho
         |      FROM h),
         |ps AS (SELECT source, idx, MAX(rho) AS reg FROM r GROUP BY 1, 2),
         |gm AS (SELECT '__all' AS source, idx, MAX(reg) AS reg FROM ps GROUP BY idx),
         |au AS (SELECT * FROM ps UNION ALL SELECT * FROM gm),
         |sk AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nonzero,
         |         CAST(SUM(1::BIGINT << CAST(53 - reg AS INTEGER)) AS BIGINT) AS zpart
         |       FROM au GROUP BY source),
         |zt AS (SELECT source, nonzero,
         |         CAST(zpart + (256 - nonzero) * 9007199254740992 AS BIGINT) AS z
         |       FROM sk),
         |ex AS (SELECT source, CAST(COUNT(DISTINCT bigram) AS BIGINT) AS exact
         |       FROM bi GROUP BY source
         |       UNION ALL
         |       SELECT '__all', CAST(COUNT(DISTINCT bigram) AS BIGINT) FROM bi)
         |SELECT zt.source, nonzero, z,
         |  (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0
         |    / CAST(z AS DOUBLE) AS est,
         |  exact
         |FROM zt JOIN ex USING (source) ORDER BY source""".stripMargin,

    // Histogram quantiles: same 64-bin width-16 grid, counter-wise merge
    // into __all, ceil(q·N) rank rule on BOTH the histogram cumulative and
    // the exact row_number twin.
    "q160_histogram_quantiles" ->
      s"""WITH d AS (SELECT source, doc_id, n_chars FROM documents),
         |b AS (SELECT source,
         |        LEAST(CAST(FLOOR(n_chars / 16) AS BIGINT), 63) AS bin FROM d),
         |ps AS (SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
         |gm AS (SELECT '__all' AS source, bin, CAST(SUM(c) AS BIGINT) AS c
         |       FROM ps GROUP BY bin),
         |hist AS (SELECT * FROM ps UNION ALL SELECT * FROM gm),
         |cum AS (SELECT source, bin, c,
         |          SUM(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
         |          SUM(c) OVER (PARTITION BY source) AS total
         |        FROM hist),
         |qt AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q),
         |est AS (
         |  SELECT source, q, CAST(CEIL(q * total) AS BIGINT) AS target,
         |         MIN(bin) AS qbin
         |  FROM cum CROSS JOIN qt
         |  WHERE cum >= CEIL(q * total)
         |  GROUP BY 1, 2, 3),
         |e2 AS (SELECT source, q, target,
         |         CAST((qbin + 1) * 16 AS BIGINT) AS est_edge FROM est),
         |rk AS (SELECT source, n_chars,
         |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn
         |       FROM (SELECT source, doc_id, n_chars FROM d
         |             UNION ALL SELECT '__all', doc_id, n_chars FROM d) u),
         |ex AS (SELECT rk.source, q, MIN(n_chars) AS exact
         |       FROM rk JOIN e2 ON e2.source = rk.source AND rk.rn = e2.target
         |       GROUP BY 1, 2)
         |SELECT e2.source, e2.q AS q, target, est_edge,
         |       CAST(exact AS BIGINT) AS exact
         |FROM e2 JOIN ex ON ex.source = e2.source AND ex.q = e2.q
         |ORDER BY e2.source, e2.q""".stripMargin,

    // Dup-span trim: covered = dup-window starts × their 8 offsets
    // (DISTINCT — the oracle needn't merge islands to agree on the covered
    // SET), anti-join on position, ordered string_agg reassembly.
    "q161_dup_span_trim" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
         |             unnest(toks) AS token FROM t),
         |g AS (
         |  SELECT doc_id,
         |    unnest(range(0, greatest(len(toks) - 7, 0))) AS st,
         |    unnest([md5(array_to_string(toks[i:i+7], ' '))
         |            for i in range(1, len(toks) - 6)]) AS gh
         |  FROM t),
         |ds AS (SELECT doc_id, st FROM (
         |  SELECT doc_id, st, COUNT(*) OVER (PARTITION BY gh) AS cnt FROM g) x
         |  WHERE cnt > 1),
         |cov AS (SELECT DISTINCT doc_id, st + o AS pos
         |        FROM ds CROSS JOIN range(0, 8) r(o)),
         |k AS (
         |  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS kept,
         |         string_agg(token, ' ' ORDER BY pos) AS trimmed_text
         |  FROM p ANTI JOIN cov ON cov.doc_id = p.doc_id AND cov.pos = p.pos
         |  GROUP BY p.doc_id),
         |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM t)
         |SELECT n.doc_id, n_toks, COALESCE(kept, 0) AS kept,
         |  COALESCE(trimmed_text, '') AS trimmed_text
         |FROM n LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Source-similarity matrix: salted-md5 minhash permutations (q151's
    // salt idiom) at source grain, the exact shingle-set Jaccard alongside.
    "q163_source_similarity" ->
      s"""WITH ss AS (SELECT DISTINCT source, shingle FROM (
         |  SELECT source,
         |    unnest([array_to_string(w[i:i+2], '|') for i in range(1, len(w) - 1)]) AS shingle
         |  FROM (SELECT source, $toksSql AS w FROM documents) t0) t1),
         |sig AS (SELECT source, i,
         |          MIN(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || shingle), 1, 15) AS BIGINT)) AS mh
         |        FROM ss CROSS JOIN range(0, 32) t(i) GROUP BY 1, 2),
         |m AS (SELECT a.source AS sa, b.source AS sb,
         |        SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS matches
         |      FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
         |      GROUP BY 1, 2),
         |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ss GROUP BY 1),
         |it AS (SELECT a.source AS sa, b.source AS sb,
         |         CAST(COUNT(*) AS BIGINT) AS n_inter
         |       FROM ss a JOIN ss b
         |         ON a.shingle = b.shingle AND a.source < b.source
         |       GROUP BY 1, 2),
         |pairs AS (SELECT a.source AS sa, b.source AS sb,
         |            a.n AS n_a, b.n AS n_b
         |          FROM sz a JOIN sz b ON a.source < b.source)
         |SELECT p.sa, p.sb, n_a, n_b,
         |  CAST(COALESCE(n_inter, 0) AS BIGINT) AS n_inter,
         |  CAST(n_a + n_b - COALESCE(n_inter, 0) AS BIGINT) AS n_union,
         |  CAST(COALESCE(n_inter, 0) AS DOUBLE)
         |    / (n_a + n_b - COALESCE(n_inter, 0)) AS jaccard,
         |  CAST(matches AS DOUBLE) / 32.0 AS est_jaccard
         |FROM pairs p
         |JOIN m ON m.sa = p.sa AND m.sb = p.sb
         |LEFT JOIN it ON it.sa = p.sa AND it.sb = p.sb
         |ORDER BY p.sa, p.sb""".stripMargin,

    // KL drift: the same iln1e9 cascade, exact integer term sums (HUGEINT
    // on this side, DECIMAL(38,0) on Spark's), two pinned float divisions.
    "q164_source_kl_drift" ->
      s"""WITH tok AS (SELECT source, unnest($toksSql) AS token FROM documents),
         |cs AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_s
         |       FROM tok GROUP BY 1, 2),
         |ct AS (SELECT token, CAST(SUM(c_s) AS BIGINT) AS c FROM cs GROUP BY 1),
         |ns AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s FROM cs GROUP BY 1),
         |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ct),
         |terms AS (
         |  SELECT cs.source, CAST(cs.c_s AS HUGEINT) * (
         |      ${graft.functions.IntLn.iln1e9Sql("c_s")}
         |      + ${graft.functions.IntLn.iln1e9Sql("n")}
         |      - ${graft.functions.IntLn.iln1e9Sql("n_s")}
         |      - ${graft.functions.IntLn.iln1e9Sql("c")}) AS term_fp
         |  FROM cs JOIN ct USING (token) JOIN ns USING (source) CROSS JOIN nt)
         |SELECT t.source, ns.n_s,
         |  CAST(SUM(term_fp) AS DOUBLE) AS kl_fp,
         |  (CAST(SUM(term_fp) AS DOUBLE) / 1e9) / CAST(ns.n_s AS DOUBLE) AS kl
         |FROM terms t JOIN ns ON ns.source = t.source
         |GROUP BY t.source, ns.n_s
         |ORDER BY t.source""".stripMargin,

    // Source novelty: first-seen source per shingle in alphabetical order,
    // per-source marginal contribution + cumulative distinct curve.
    "q166_source_novelty" ->
      s"""WITH ss AS (SELECT DISTINCT source, shingle FROM (
         |  SELECT source,
         |    unnest([array_to_string(w[i:i+2], '|') for i in range(1, len(w) - 1)]) AS shingle
         |  FROM (SELECT source, $toksSql AS w FROM documents) t0) t1),
         |f AS (SELECT shingle, MIN(source) AS source FROM ss GROUP BY 1),
         |nn AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new
         |       FROM f GROUP BY 1),
         |nt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles
         |       FROM ss GROUP BY 1)
         |SELECT nt.source, n_shingles,
         |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
         |  CAST(COALESCE(n_new, 0) AS DOUBLE) / n_shingles AS novelty,
         |  CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY nt.source)
         |       AS BIGINT) AS cum_distinct
         |FROM nt LEFT JOIN nn ON nn.source = nt.source
         |ORDER BY nt.source""".stripMargin,

    // Logistic-regression training: the oracle replays the identical
    // 5-epoch trajectory as an unrolled CTE chain — each wk CTE derives
    // the next weights from the previous gradient CTE's fixed-point BIGINT
    // sums, so the weight sequence (and hence the final decision boundary
    // and accuracy) is bit-identical without the SQL ever seeing the
    // engine's learned values.
    "q168_quality_classifier" -> logregOracleSql,
    "q207_calibration_bins" -> calibrationOracleSql,
    // AUC: same trained-weight CTE chain; counter-grouped Mann–Whitney
    // with average-rank ties, integer numerator, one final division.
    "q212_classifier_auc" -> aucOracleSql,
    // Winnowing: positional 3-gram hashes (list comprehension), window-4
    // list_min fingerprints, df-cap 50, inverted-index pair join,
    // containment off integer counts.
    "q213_winnow_pairs" ->
      s"""WITH t0 AS (SELECT doc_id,
         |  list_filter(string_split_regex(trim(text), '\\s+'),
         |    x -> len(x) > 0) AS w FROM documents),
         |hs AS (SELECT doc_id,
         |  [CAST('0x' || substr(md5(array_to_string(w[i:i+2], '|')), 1, 15)
         |     AS BIGINT) % 268435456 for i in range(1, len(w) - 1)] AS h
         |  FROM t0),
         |fp AS (SELECT DISTINCT doc_id, fp FROM (
         |    SELECT doc_id,
         |      unnest([list_min(h[i:i+3]) for i in range(1, len(h) - 2)]) AS fp
         |    FROM hs WHERE len(h) >= 4) u),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
         |          FROM fp GROUP BY doc_id),
         |capped AS (SELECT * FROM fp WHERE fp IN
         |  (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= 50)),
         |sh AS (SELECT a.doc_id AS da, b.doc_id AS db,
         |         CAST(COUNT(*) AS BIGINT) AS n_shared
         |       FROM capped a JOIN capped b
         |         ON a.fp = b.fp AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT da, db, n_shared,
         |  CAST(n_shared AS DOUBLE) / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE)
         |    AS containment
         |FROM sh JOIN sizes sa ON sa.doc_id = da
         |        JOIN sizes sb ON sb.doc_id = db
         |ORDER BY da, db""".stripMargin,

    // Per-source quantile gate: identical 64-bin histogram, descending
    // cumulative threshold rule, bin-granular keep.
    "q169_source_quality_gate" ->
      s"""WITH t AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
         |q AS (SELECT doc_id, source,
         |  0.3 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
         |  + 0.3 * (CAST(${langScoreSql(TextOps.langStopwords.toMap.apply("en"))} AS DOUBLE) / greatest(len(toks), 1))
         |  + 0.2 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
         |  + 0.2 * (1.0 - least((CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(toks, w -> CAST(length(w) AS BIGINT)))) AS DOUBLE) / greatest(len(toks), 1)) / 10.0, 1.0)) AS quality
         |  FROM t),
         |b AS (SELECT doc_id, source, quality,
         |        least(CAST(floor(quality * 64.0) AS BIGINT), 63) AS bin FROM q),
         |h AS (SELECT source, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
         |cm AS (SELECT source, bin,
         |         SUM(c) OVER (PARTITION BY source ORDER BY bin DESC) AS cum,
         |         SUM(c) OVER (PARTITION BY source) AS total
         |       FROM h),
         |thr AS (SELECT source, MAX(bin) AS thr_bin FROM cm
         |        WHERE cum >= CAST(ceil(CAST(total AS DOUBLE) * 0.25) AS BIGINT)
         |        GROUP BY source)
         |SELECT b.doc_id, b.source, b.quality, b.bin, thr.thr_bin,
         |  b.bin >= thr.thr_bin AS keep
         |FROM b JOIN thr ON thr.source = b.source
         |ORDER BY b.doc_id""".stripMargin,

    // Tokenizer fertility: integer count sums per source, global row
    // aggregated from the per-source counters, two IEEE divisions.
    "q171_tokenizer_fertility" ->
      s"""WITH per AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS n_words,
         |    CAST(SUM(CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)) AS BIGINT) AS n_bpe_tokens,
         |    CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS n_chars
         |  FROM documents GROUP BY source),
         |u AS (
         |  SELECT source, n_docs, n_words, n_bpe_tokens, n_chars FROM per
         |  UNION ALL
         |  SELECT '__all', CAST(SUM(n_docs) AS BIGINT),
         |         CAST(SUM(n_words) AS BIGINT),
         |         CAST(SUM(n_bpe_tokens) AS BIGINT),
         |         CAST(SUM(n_chars) AS BIGINT) FROM per)
         |SELECT source, n_docs, n_words, n_bpe_tokens, n_chars,
         |  CAST(n_bpe_tokens AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS fertility,
         |  CAST(n_chars AS DOUBLE) / CAST(greatest(n_bpe_tokens, 1) AS DOUBLE) AS chars_per_token
         |FROM u ORDER BY source""".stripMargin,

    // Padding waste: identical integer bit-length bucketing (bin() string
    // length on both engines), integer sums, one IEEE division.
    "q176_padding_waste" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, n_tok,
         |    CAST(1 AS BIGINT) << (CASE WHEN n_tok = 1 THEN 0
         |      ELSE length(bin(n_tok - 1)) END) AS bucket
         |  FROM t WHERE n_tok > 0),
         |g AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS sum_tok
         |  FROM f GROUP BY 1)
         |SELECT bucket, n_docs, sum_tok,
         |  bucket * n_docs AS padded_tok,
         |  bucket * n_docs - sum_tok AS waste_tok,
         |  CAST(bucket * n_docs - sum_tok AS DOUBLE)
         |    / CAST(bucket * n_docs AS DOUBLE) AS waste_frac
         |FROM g ORDER BY bucket""".stripMargin,

    // Threshold sweep: q23's est chain once, five thresholds filter the
    // same estimates; pair counts + distinct docs per dial.
    "q175_dedup_threshold_sweep" ->
      s"""WITH $minhashEstCte,
         |p AS (SELECT da, db, est_jaccard FROM est WHERE est_jaccard >= 0.5),
         |thr AS (SELECT 0.5 + CAST(i AS DOUBLE) * 0.1 AS threshold
         |        FROM range(5) t(i)),
         |f AS (SELECT threshold, da, db FROM p, thr
         |      WHERE est_jaccard >= threshold),
         |np AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |       FROM f GROUP BY 1),
         |nd AS (SELECT threshold, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
         |       FROM (SELECT threshold, unnest([da, db]) AS doc FROM f) t0
         |       GROUP BY 1)
         |SELECT np.threshold, np.n_pairs, nd.n_docs
         |FROM np JOIN nd ON nd.threshold = np.threshold
         |ORDER BY np.threshold""".stripMargin,

    // Cross-source dup matrix: q23's pair chain, endpoints resolved to
    // sources, unordered-pair canonicalization, per-pair counts.
    "q173_cross_source_dup_matrix" ->
      s"""WITH $minhashEstCte,
         |p AS (SELECT da, db FROM est WHERE est_jaccard >= 0.5),
         |j AS (
         |  SELECT least(a.source, b.source) AS sa,
         |         greatest(a.source, b.source) AS sb
         |  FROM p JOIN documents a ON a.doc_id = p.da
         |         JOIN documents b ON b.doc_id = p.db)
         |SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM j GROUP BY sa, sb ORDER BY sa, sb""".stripMargin
  )

  /** q168's oracle: the full 5-epoch GD trajectory unrolled into CTEs.
    * Feature/label expressions mirror the Spark plan (q118's proven
    * fragments); the fast-sigmoid and fixed-point gradient quantization
    * make every intermediate bit-identical across engines. */
  /** q168's trainer, extracted for q207 (calibration): engineered feature
    * table (checkpointed — 6+ scans) and the 4 weights after 5 fixed-point
    * gradient epochs. The weight trajectory is bit-identical in the
    * oracle's unrolled CTE (see q168's Scaladoc). */
  private def logregTrain(s: SparkSession, d: String)
      : (DataFrame, Array[Double]) = {
    val en = TextOps.langStopwords.toMap.apply("en")
    val t = docs(s, d).select(col("doc_id"),
      TextOps.tokens(col("text")).as("toks"))
    val nWords = size(col("toks"))
    val sumLen = aggregate(col("toks"), lit(0L), (acc, w) => acc + length(w))
    val meanLen = sumLen.cast("double") / greatest(nWords, lit(1)).cast("double")
    val alphaWords = size(filter(col("toks"), w => w.rlike("[a-z]")))
    val stopHits = TextOps.langScore(col("toks"), en)
    val feats = t.select(col("doc_id"),
        ((nWords.cast("double") - lit(50.0)) / lit(100.0)).as("x1"),
        ((meanLen - lit(4.0)) / lit(10.0)).as("x2"),
        (stopHits.cast("double") / greatest(nWords, lit(1)).cast("double")
          - lit(0.1)).as("x3"),
        lit(1.0).as("x4"),
        when(nWords.between(lit(50), lit(100000)) &&
            meanLen.between(lit(3.0), lit(10.0)) &&
            (alphaWords.cast("double")
              / greatest(nWords, lit(1)).cast("double")) > lit(0.8) &&
            stopHits >= lit(2), lit(1.0)).otherwise(lit(0.0)).as("y"))
      .localCheckpoint() // 6 scans (5 epochs + the consumer) of the cache
    val lr = 4.0
    var w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to 5) {
      val z = logregZ(w)
      val p = logregSig(z)
      val gs = (1 to 4).map(j =>
        sum(floor((p - col("y")) * col(s"x$j") * lit(1e9)).cast("long"))
          .as(s"g$j"))
      val row = feats.agg(gs.head, gs.tail :+ count(lit(1)).as("n"): _*).head()
      val n = row.getLong(4).toDouble
      w = Array.tabulate(4)(j =>
        w(j) - lr * ((row.getLong(j).toDouble / 1e9) / n))
    }
    (feats, w)
  }

  private def logregZ(ws: Array[Double]): org.apache.spark.sql.Column =
    lit(ws(0)) * col("x1") + lit(ws(1)) * col("x2") +
      lit(ws(2)) * col("x3") + lit(ws(3)) * col("x4")

  /** The rational sigmoid surrogate 0.5 + z/(2(1+|z|)) — (0, 1)-bounded,
    * libm-free (portable op for op). */
  private def logregSig(z: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  /** DuckDB mirror of [[logregSig]] over a z expression string. */
  private def logregSigSql(zz: String) = s"(0.5 + $zz/(2.0*(1.0+abs($zz))))"

  private def logregZSql(ws: Seq[String]) =
    s"(${ws(0)}*x1 + ${ws(1)}*x2 + ${ws(2)}*x3 + ${ws(3)}*x4)"

  /** The unrolled trainer CTE chain (feats + 5 epochs, ending with `w5`
    * holding the trained weights) — shared by q168 (weights + accuracy)
    * and q207 (calibration bins). */
  private lazy val logregCteSql: String = {
    val stop = langScoreSql(TextOps.langStopwords.toMap.apply("en"))
    val mwl = "(CAST(list_sum(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(toks, w -> CAST(length(w) AS BIGINT)))) AS DOUBLE) " +
      "/ CAST(greatest(len(toks), 1) AS DOUBLE))"
    val feats =
      s"""feats AS (
         |  SELECT doc_id,
         |    (CAST(len(toks) AS DOUBLE) - 50.0) / 100.0 AS x1,
         |    ($mwl - 4.0) / 10.0 AS x2,
         |    CAST($stop AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) - 0.1 AS x3,
         |    1.0 AS x4,
         |    CASE WHEN len(toks) BETWEEN 50 AND 100000
         |      AND $mwl BETWEEN 3.0 AND 10.0
         |      AND CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
         |           / CAST(greatest(len(toks), 1) AS DOUBLE) > 0.8
         |      AND $stop >= 2
         |    THEN 1.0 ELSE 0.0 END AS y
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents) t0)""".stripMargin
    val steps = (1 to 5).map { k =>
      val ws =
        if (k == 1) Seq("0.0", "0.0", "0.0", "0.0")
        else (1 to 4).map(j => s"w${k - 1}.w$j")
      val p = logregSigSql(logregZSql(ws))
      val from = if (k == 1) "feats" else s"feats, w${k - 1}"
      val gSums = (1 to 4).map(j =>
        s"SUM(CAST(floor(($p - y)*x$j*1e9) AS BIGINT)) AS g$j").mkString(", ")
      val prev = (1 to 4).map(j =>
        if (k == 1) "0.0" else s"w${k - 1}.w$j")
      val wFrom = if (k == 1) s"g${k}c" else s"g${k}c, w${k - 1}"
      val wSel = (1 to 4).map(j =>
        s"${prev(j - 1)} - 4.0*((CAST(g${k}c.g$j AS DOUBLE)/1e9)/CAST(g${k}c.n AS DOUBLE)) AS w$j").mkString(", ")
      s"""g${k}c AS (SELECT $gSums, COUNT(*) AS n FROM $from),
         |w$k AS (SELECT $wSel FROM $wFrom)""".stripMargin
    }.mkString(",\n")
    s"$feats,\n$steps"
  }

  private lazy val logregOracleSql: String = {
    val zf = logregZSql((1 to 4).map(j => s"w5.w$j"))
    s"""WITH $logregCteSql,
       |a AS (SELECT CAST(SUM(CASE WHEN ($zf >= 0.0) = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE)
       |        / CAST(COUNT(*) AS DOUBLE) AS train_acc,
       |      CAST(COUNT(*) AS BIGINT) AS n_docs FROM feats, w5)
       |SELECT f.feature,
       |  CASE f.feature WHEN 'x1_n_words' THEN w5.w1
       |    WHEN 'x2_mean_word_len' THEN w5.w2
       |    WHEN 'x3_stop_frac' THEN w5.w3 ELSE w5.w4 END AS weight,
       |  a.train_acc, a.n_docs
       |FROM (SELECT unnest(['x1_n_words', 'x2_mean_word_len',
       |        'x3_stop_frac', 'x4_bias']) AS feature) f, w5, a
       |ORDER BY f.feature""".stripMargin
  }

  /** q207: the same trained model's reliability table — per decile bin of
    * predicted p, the empirical positive rate beside the mean prediction. */
  /** q212's oracle: the trained-weight CTEs, then the identical
    * counter-grouped rank-sum AUC at exact (score_fp) and 64-bin
    * granularity — integer num2 both ways, one double division. */
  private lazy val aucOracleSql: String = {
    val p = logregSigSql(logregZSql((1 to 4).map(j => s"w5.w$j")))
    s"""WITH $logregCteSql,
       |sc AS (SELECT y, CAST(floor($p * 1e9) AS BIGINT) AS score_fp
       |       FROM feats, w5),
       |g AS (SELECT score_fp AS k,
       |        CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
       |        CAST(SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS BIGINT) AS neg
       |      FROM sc GROUP BY 1),
       |c AS (SELECT pos, neg,
       |        COALESCE(SUM(neg) OVER (ORDER BY k
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |          0) AS cumneg
       |      FROM g),
       |e AS (SELECT CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS num2,
       |        CAST(SUM(pos) AS BIGINT) AS n_pos,
       |        CAST(SUM(neg) AS BIGINT) AS n_neg FROM c),
       |gh AS (SELECT CAST(least(floor(CAST(score_fp AS DOUBLE) / 1e9 * 64.0),
       |          63.0) AS BIGINT) AS k,
       |        CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
       |        CAST(SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS BIGINT) AS neg
       |       FROM sc GROUP BY 1),
       |ch AS (SELECT pos, neg,
       |         COALESCE(SUM(neg) OVER (ORDER BY k
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |           0) AS cumneg
       |       FROM gh),
       |eh AS (SELECT CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS num2,
       |         CAST(SUM(pos) AS BIGINT) AS n_pos,
       |         CAST(SUM(neg) AS BIGINT) AS n_neg FROM ch)
       |SELECT e.n_pos, e.n_neg,
       |  CAST(e.num2 AS DOUBLE)
       |    / (2.0 * CAST(e.n_pos AS DOUBLE) * CAST(e.n_neg AS DOUBLE)) AS auc,
       |  CAST(eh.num2 AS DOUBLE)
       |    / (2.0 * CAST(eh.n_pos AS DOUBLE) * CAST(eh.n_neg AS DOUBLE))
       |    AS auc_hist64,
       |  2.0 * (CAST(e.num2 AS DOUBLE)
       |    / (2.0 * CAST(e.n_pos AS DOUBLE) * CAST(e.n_neg AS DOUBLE)))
       |    - 1.0 AS gini
       |FROM e, eh""".stripMargin
  }

  private lazy val calibrationOracleSql: String = {
    val p = logregSigSql(logregZSql((1 to 4).map(j => s"w5.w$j")))
    s"""WITH $logregCteSql,
       |sc AS (SELECT y, $p AS p FROM feats, w5),
       |b AS (SELECT y, p,
       |        greatest(least(CAST(floor(p * 10.0) AS BIGINT), 9), 0) AS bin
       |      FROM sc)
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS frac_pos,
       |  CAST(SUM(CAST(floor(p * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
       |    / CAST(COUNT(*) AS DOUBLE) AS mean_p
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin
  }

  /** q136's split oracle — shared verbatim by q146 (the artifact-consuming
    * twin: the Spark side reads the persisted closure, the oracle recomputes
    * the closure it persisted). */
  private lazy val splitAssignSql =
    s"""$dedupCompCte,
       |asg AS (
       |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical
       |  FROM documents d LEFT JOIN comp c USING (doc_id)),
       |b AS (
       |  SELECT doc_id, canonical,
       |    CAST('0x' || substr(md5(CAST(canonical AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket
       |  FROM asg)
       |SELECT doc_id, canonical, bucket,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  /** q137's quality-canonical oracle — shared verbatim by q147. */
  private lazy val qualityCanonicalSql =
    s"""$dedupCompCte,
       |q AS (
       |  SELECT doc_id,
       |    0.3 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
       |    + 0.3 * (CAST(${langScoreSql(TextOps.langStopwords.toMap.apply("en"))} AS DOUBLE) / greatest(len(toks), 1))
       |    + 0.2 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
       |    + 0.2 * (1.0 - least((CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS DOUBLE) / greatest(len(toks), 1)) / 10.0, 1.0))
       |      AS quality
       |  FROM (SELECT doc_id, text, $toksSql AS toks FROM documents) t),
       |cl AS (
       |  SELECT q.doc_id, q.quality, COALESCE(c.component, q.doc_id) AS cluster
       |  FROM q LEFT JOIN comp c ON c.doc_id = q.doc_id)
       |SELECT doc_id, cluster, quality,
       |  ROW_NUMBER() OVER (PARTITION BY cluster
       |                     ORDER BY quality DESC, doc_id) = 1 AS keep
       |FROM cl ORDER BY doc_id""".stripMargin

  /** q199's tier-overlap oracle — shared verbatim by q209 (the
    * artifact-consuming twin; the oracle recomputes the closure the
    * artifact persisted, the q146/q147 discipline). */
  private lazy val tierOverlapSql =
    s"""$dedupCompCte,
       |ex AS (
       |  SELECT doc_id,
       |    doc_id <> MIN(doc_id) OVER (PARTITION BY
       |      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS exact_dup
       |  FROM documents),
       |nr AS (
       |  SELECT d.doc_id,
       |    COALESCE(c.component, d.doc_id) <> d.doc_id AS near_dup
       |  FROM documents d LEFT JOIN comp c USING (doc_id))
       |SELECT CASE WHEN exact_dup AND near_dup THEN 'both'
       |    WHEN exact_dup THEN 'exact_only'
       |    WHEN near_dup THEN 'near_only'
       |    ELSE 'neither' END AS tier,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM ex JOIN nr USING (doc_id)
       |GROUP BY 1 ORDER BY tier""".stripMargin

  /** q204's effective-token oracle — shared verbatim by q210. */
  private lazy val effectiveTokensSql =
    s"""$dedupCompCte,
       |tk AS (SELECT doc_id, source,
       |         CAST(len($toksSql) AS BIGINT) AS n_tok
       |       FROM documents),
       |v AS (
       |  SELECT t.source, t.n_tok,
       |    COALESCE(c.component, t.doc_id) = t.doc_id AS keep
       |  FROM tk t LEFT JOIN comp c USING (doc_id))
       |SELECT source, CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
       |  CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
       |    AS effective_tokens,
       |  1.0 - CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(n_tok) AS DOUBLE) AS savings
       |FROM v GROUP BY source ORDER BY source""".stripMargin

  /** q208's quality × dup-status oracle — shared verbatim by q211. */
  private lazy val qualityDupProfileSql =
    s"""$dedupCompCte,
       |q AS (
       |  SELECT doc_id,
       |    CAST(floor((
       |    0.3 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
       |    + 0.3 * (CAST(${langScoreSql(TextOps.langStopwords.toMap.apply("en"))} AS DOUBLE) / greatest(len(toks), 1))
       |    + 0.2 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
       |    + 0.2 * (1.0 - least((CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS DOUBLE) / greatest(len(toks), 1)) / 10.0, 1.0))
       |    ) * 1e9) AS BIGINT) AS qfp
       |  FROM (SELECT doc_id, text, $toksSql AS toks FROM documents) t),
       |v AS (
       |  SELECT
       |    CAST(least(floor(CAST(qfp AS DOUBLE) / 1e8), 9.0) AS INTEGER)
       |      AS q_bucket,
       |    COALESCE(c.component, q.doc_id) <> q.doc_id AS is_dup
       |  FROM q LEFT JOIN comp c USING (doc_id)),
       |g AS (SELECT q_bucket, is_dup, CAST(COUNT(*) AS BIGINT) AS n_docs
       |      FROM v GROUP BY 1, 2)
       |SELECT q_bucket, is_dup, n_docs,
       |  CAST(n_docs AS DOUBLE)
       |    / CAST(SUM(n_docs) OVER (PARTITION BY q_bucket) AS DOUBLE)
       |    AS frac_of_bucket
       |FROM g ORDER BY q_bucket, is_dup""".stripMargin
}
