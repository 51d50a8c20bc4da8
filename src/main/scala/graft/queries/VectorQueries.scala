package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions
import graft.graph.GraphOps
import graft.vector.VectorOps

/** Similarity-search queries over `embeddings` (SURVEY.md §2 V1-V3 + the
  * north-star ANN surface). Every query — including the LSH and IVF
  * approximate paths — has an EXACT DuckDB oracle because all similarity math
  * is a sequential double fold and all pseudo-randomness is integer
  * arithmetic (see [[graft.vector.VectorOps]]).
  */
object VectorQueries {

  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** SemDeDup's body once the corpus `e` is assigned to `cells (vec_id,
    * cluster)`: exact cosine ≥ 0.4 between members of the same cell, then
    * the canonical step over that pair graph (q112 and q138 differ only in
    * the assignment). The cells frame is read by both pair sides and the
    * output, so callers pass it checkpointed. */
  private def semDedupWithinCells(e: DataFrame, cells: DataFrame): DataFrame = {
    val member = e.join(cells, Seq("vec_id"))
      .select(col("cluster"), col("vec_id"), col("embedding"))
    val pairs = member.select(col("cluster"), col("vec_id").as("ia"),
        col("embedding").as("ea"))
      .join(member.select(col("cluster"), col("vec_id").as("ib"),
        col("embedding").as("eb")), Seq("cluster"))
      .filter(col("ia") < col("ib"))
      .filter(GraftFunctions.cosineSim(col("ea"), col("eb")) >= 0.4)
      .select(col("ia").as("src"), col("ib").as("dst"))
    GraphOps.withCanonical(cells, "vec_id", pairs)
      .select(col("vec_id"), col("cluster"), col("canonical"),
        (col("canonical") === col("vec_id")).as("is_canonical"))
      .orderBy(col("vec_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // V1/V2 — brute-force cosine kNN: 8 query vectors × full corpus, top-5.
    "q25_knn_bruteforce" -> ((s, d) => {
      val e = emb(s, d)
      VectorOps.knnBruteForce(e.filter(col("vec_id") < 8), e, 5)
        .orderBy(col("query_id"), col("rn"))
    }),

    // Embedding-cosine near-dup pairs — exact O(N²) baseline, computed with
    // the native codegen'd cosine (30× the HOF fold at sf0.1: 2.7s vs 83s).
    "q26_cosine_pairs" -> ((s, d) =>
      VectorOps.cosinePairs(emb(s, d), 0.35, GraftFunctions.cosineSim)
        .orderBy(col("ia"), col("ib"))),

    // Sign-LSH ANN: 8 hyperplanes → 256 buckets → candidates → exact cosine.
    "q27_lsh_pairs" -> ((s, d) =>
      VectorOps.lshNeighborPairs(emb(s, d), 8, 0.2)
        .orderBy(col("ia"), col("ib"))),

    // SAME semantics and SAME oracle as q27, but DECLARATIVE: the user
    // writes a join on the approx_cosine_join marker predicate and the
    // RewriteApproxCosineJoin optimizer rule turns the quadratic marker
    // join into the LSH bucket equi-join + exact cosine verify — SURVEY
    // §4's "custom similarity-join strategy" tier, proven under the hash
    // gate. The rule is session state: the one query that installs it on
    // the caller's session (a no-op on a graft.Harness session).
    "q74_approx_join_rule" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = emb(s, d)
      val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
      a.join(b,
          GraftFunctions.approxCosineJoin(col("ea"), col("eb"), 0.2, 8) &&
            col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          GraftFunctions.cosineSim(col("ea"), col("eb")).as("cosine"))
        .orderBy(col("ia"), col("ib"))
    }),

    // HOF-fold cross-check of the native expression on a vec_id<300 subset:
    // same math through `aggregate`/`zip_with`, bit-identical per element —
    // keeps the portable reference implementation in the correctness gate
    // without paying its 30× cost on the full corpus.
    "q38_cosine_hof" -> ((s, d) =>
      VectorOps.cosinePairs(emb(s, d).filter(col("vec_id") < 300), 0.35,
        VectorOps.cosine)
        .orderBy(col("ia"), col("ib"))),

    // IVF: label-cell centroids (decimal-exact means) → nearest-cell probe.
    "q28_ivf_knn" -> ((s, d) => {
      val e = emb(s, d)
      val cents = VectorOps.centroids(e, "label")
      VectorOps.ivfKnn(e.filter(col("vec_id") < 8), e, cents, "label", 3)
        .orderBy(col("query_id"), col("rn"))
    }),

    // IVF multi-probe: scan the 2 nearest cells per query — the standard
    // recall/cost dial (quantization-boundary neighbors come back without
    // ever scanning the corpus).
    "q54_ivf_multiprobe" -> ((s, d) => {
      val e = emb(s, d)
      val cents = VectorOps.centroids(e, "label")
      VectorOps.ivfKnn(e.filter(col("vec_id") < 8), e, cents, "label", 3, nprobe = 2)
        .orderBy(col("query_id"), col("rn"))
    }),

    // ANN RECALL as a GATED number: on fixed data, recall of each
    // approximate path against its exact baseline is a deterministic
    // integer ratio, so "approximate but useful" becomes a regression-proof
    // contract — a blocking or probe change that silently hurts recall now
    // breaks the hash, not just a vibe. Two rows:
    //   lsh_pairs / lsh_pairs@0.4 — single-band sign-LSH pairs (q27's
    //                blocking) vs the exact O(N²) pair set, at the hard
    //                0.2 threshold and restricted to the ≥0.4 pairs (the strongest tier non-empty at every SF);
    //   lsh_banded / lsh_banded@0.4 — 32-plane × 4-band banded sign-LSH
    //                (q100's operator, 8-bit band keys): the
    //                recall/candidate dial, same exact baselines. The
    //                tiered rows gate "recall rises with similarity" as
    //                NUMBERS, not prose — both pair sets carry their exact
    //                cosine, so the ≥0.4 tier is a filter over the same
    //                materialized sets, not a recompute;
    //   ivf_top5   — IVF nprobe=2 top-5 (q54's path, k=5) vs brute-force
    //                top-5 (q25's math). All hit sets are semi-joins of
    //                approximate against exact; counts aggregate through
    //                1-row broadcast aggregates (no collect).
    "q99_ann_recall" -> ((s, d) => {
      val e = emb(s, d)
      // the exact O(N²) baseline is referenced EIGHT times (per-tier
      // semi-joins + totals) — materialize the tiny surviving pair set once
      // instead of re-running the quadratic join per reference
      val exactPairs = VectorOps.cosinePairs(e, 0.2, GraftFunctions.cosineSim)
        .localCheckpoint()
      val lshPairs = VectorOps.lshNeighborPairs(e, 8, 0.2)
        .select(col("ia"), col("ib")).localCheckpoint()
      val bandedPairs = VectorOps.lshNeighborPairsBanded(e, 32, 4, 0.2,
          GraftFunctions.lshSignature)
        .select(col("ia"), col("ib")).localCheckpoint()
      def pairRecallRow(metric: String, approx: DataFrame, tier: Double) = {
        val base = exactPairs.filter(col("cosine") >= tier)
          .select(col("ia"), col("ib"))
        base.join(approx, Seq("ia", "ib"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(base.agg(count(lit(1)).as("total"))))
          .select(lit(metric).as("metric"), col("hits"), col("total"))
      }
      val q = e.filter(col("vec_id") < 8)
      val brute = VectorOps.knnBruteForce(q, e, 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint() // referenced twice (semi-join + total)
      val cents = VectorOps.centroids(e, "label")
      val ivf = VectorOps.ivfKnn(q, e, cents, "label", 5, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"))
      val ivfRow = brute.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(broadcast(brute.agg(count(lit(1)).as("total"))))
      pairRecallRow("lsh_pairs", lshPairs, 0.2)
        .unionByName(pairRecallRow("lsh_pairs@0.4", lshPairs, 0.4))
        .unionByName(pairRecallRow("lsh_banded", bandedPairs, 0.2))
        .unionByName(pairRecallRow("lsh_banded@0.4", bandedPairs, 0.4))
        .unionByName(ivfRow.select(lit("ivf_top5").as("metric"),
          col("hits"), col("total")))
        .withColumn("recall",
          col("hits").cast("double") / col("total").cast("double"))
        .orderBy(col("metric"))
    }),

    // Banded sign-LSH ANN pairs — the recall/candidate-dial member of the
    // cosine similarity-join family: 32 planes in 4 bands of 8 bits, so a
    // pair is a candidate when any 8-bit band agrees (~1.6 % of all pairs)
    // and recall rises steeply with similarity where single-band q27 stays
    // flat-low. Gated on the full (ia, ib, cosine) pair set.
    // INT8-QUANTIZED brute-force top-5 — the compressed-store twin of q25:
    // both sides quantized to int8 codes (per-vector scale cancels in
    // cosine, so similarity is a pure integer dot — the only float is the
    // final sqrt/divide). Gated on the full ranked list, so quantization
    // error is pinned exactly, not summarized.
    "q102_quantized_knn" -> ((s, d) => {
      val e = emb(s, d)
      VectorOps.knnBruteForceInt8(e.filter(col("vec_id") < 8), e, 5)
        .orderBy(col("query_id"), col("rn"))
    }),

    // BINARY-code Hamming top-5 — the 1-bit tier below q102's int8: sign
    // codes (two 32-dim longs), similarity = popcount(xor). Everything is
    // integer arithmetic, so the gate is drift-proof by construction.
    "q103_hamming_knn" -> ((s, d) => {
      val e = emb(s, d)
      VectorOps.hammingTopK(e.filter(col("vec_id") < 8), e, 5)
        .orderBy(col("query_id"), col("rn"))
    }),

    // DETERMINISTIC Lloyd k-means — real clustering beside the label-cell
    // stand-ins (IVF/PQ): min-vec_id seeds, 2 assign/update rounds with
    // DECIMAL(28,12) centroid means, final assignment gated row by row
    // (the oracle unrolls both rounds). The codebook broadcasts each
    // round; the corpus is scanned, never shuffled.
    "q111_kmeans" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      VectorOps.kmeansAssign(emb(s, d), 8, 2)
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy(col("vec_id"))
    }),

    // SemDeDup (semantic dedup): k-means cells as the blocking stage,
    // exact cosine >= 0.4 WITHIN each cell, connected components over the
    // near-dup pair graph, min-id representative — embedding-space
    // near-dedup the way q52 is shingle-space near-dedup. The pair scan is
    // cell-local (never corpus²), and the k-means assignment is computed
    // once (localCheckpoint: it feeds both pair sides and the report).
    //
    // k is a SCALE DIAL, not a constant: k = max(8, ceil(N/64)) keeps the
    // expected cell population near 64, so the within-cell pair scan is
    // O(N · cellSize) ≈ O(64·N) — linear in the corpus — instead of the
    // (N/k)² blowup a fixed k gives at 100× (same dial discipline as
    // Packing.bucketSize). N is the parquet footers' row count
    // (Tables.rowCount, no job); the oracle derives k identically from
    // COUNT(*) OVER ().
    // NOTE the remaining term: with k ∝ N, the FLAT centroid assign is
    // O(N·k) = O(N²/64) — ScaleBench measured it as the suite's one
    // superlinear growth (×10 → 3.2×, ×30 → 15.7×). q138 is the scale
    // path: the same SemDeDup through the two-level ivf2Assign (×30 →
    // 3.8×). This flat form stays as the exact-rule member of the pair.
    "q112_semdedup" -> ((s, d) => {
      val e = emb(s, d)
      val k = math.max(8L, math.ceil(Tables.rowCount(s, d, "embeddings") / 64.0).toLong).toInt
      semDedupWithinCells(e, VectorOps.kmeansAssign(e, k, 2).localCheckpoint())
    }),

    // SemDeDup through the TWO-LEVEL (IVF-flat) assign — the ×100 scale
    // dial ScaleBench's q112 measurement demanded: same k ∝ N cell count,
    // but assignment routes through c ≈ √k coarse cells (O(N·√k) instead
    // of O(N²/64); see [[graft.vector.VectorOps.ivf2Assign]]). The rule
    // is approximate vs q112's flat argmin, and the oracle gates THE RULE
    // exactly (both argmin levels, both tie-breaks) — the house pattern
    // for approximate operators (q27/q100): exact gate on the approximate
    // algorithm, recall observed separately.
    "q138_semdedup_ivf2" -> ((s, d) => {
      val e = emb(s, d)
      // Clamp the requested k to the corpus size so c is derived from the
      // REALIZED fine-seed count (= min(n, k)) exactly as the oracle's
      // `coarse` CTE does — otherwise a corpus with n < 8 vectors would
      // pick a different coarse-cell count than the SQL twin.
      val n = Tables.rowCount(s, d, "embeddings")
      val k = math.min(n, math.max(8L, math.ceil(n / 64.0).toLong)).toInt
      val c = math.max(2L, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
      semDedupWithinCells(e, VectorOps.ivf2Assign(e, k, c).localCheckpoint())
    }),

    // EMBEDDING OUTLIER SCAN: cosine of every vector to its OWN label's
    // centroid, bottom-3 per label — the corpus-QA pass that surfaces
    // mislabeled / off-manifold embeddings before they poison ANN recall
    // or SemDeDup cells. Centroid means are FIXED-POINT long sums
    // (floor(x·1e9) per element), NOT the module's DECIMAL(28,12) means:
    // this query exposes mean-derived doubles raw, and double→DECIMAL
    // casting is NOT cross-engine exact — Spark rounds the double's
    // shortest decimal repr HALF_UP while DuckDB rounds the exact binary
    // value HALF_EVEN, so a 13th-decimal tie (hit once in this very
    // corpus, label 1 dim 37) flips the last quantum. floor-of-double is
    // the same IEEE op everywhere, so the long sums agree exactly
    // (int64-safe to ~4·10⁹ unit-scale vectors per label). The rank form
    // (not a threshold) keeps the gate off quantization boundaries.
    // Scale shape: the centroid table is |labels|·dim doubles — genuinely
    // key-sized (label is a closed enum), so the broadcast is safe where
    // q108's was not; the corpus is scanned once and only (label, cos)
    // pairs reach the top-k window.
    "q120_embedding_outliers" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      val cents = fixedPointLabelCentroids(e)
      e.join(broadcast(cents), col("label") === col("cell"))
        .select(col("vec_id"), col("label"),
          GraftFunctions.cosineSim(col("embedding"), col("centroid")).as("cos_centroid"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("label"))
            .orderBy(col("cos_centroid").asc, col("vec_id").asc)))
        .filter(col("rn") <= 3)
        .select(col("label"), col("vec_id"), col("cos_centroid"),
          col("rn").cast("int").as("rn"))
        .orderBy(col("label"), col("rn"))
    }),

    // PRODUCT-QUANTIZED ADC top-5 — the m-subspace tier of the compressed
    // similarity family (scalar int8 = q102, 1-bit = q103): 4 subspaces
    // of 16 dims, label-cell codebooks, asymmetric-distance top-k. The
    // full ranked list is gated, so quantization error is pinned exactly.
    "q113_pq_adc_knn" -> ((s, d) => {
      val e = emb(s, d)
      VectorOps.pqTopK(e.filter(col("vec_id") < 8), e, 4, 64, 5)
        .orderBy(col("query_id"), col("rn"))
    }),

    // IVF-PQ top-5 — the FAISS production composition (IndexIVFPQ,
    // by_residual=false): q28/q54's coarse-list pruning (WHICH lists a
    // query reads) stacked on q113's PQ compression (WHAT is read — m
    // codes, never raw floats). nprobe=2 probes the two nearest per-label
    // coarse cells; ADC ranks only inside the probed lists, so both
    // approximations — list pruning and quantization error — land in the
    // gated ranked output as exact numbers. At 100 TB the candidate set is
    // the probed fraction OF the compressed code table; coarse book,
    // probe pairs and per-query ADC tables all broadcast.
    "q170_ivfpq_knn" -> ((s, d) => {
      val e = emb(s, d)
      val cents = VectorOps.centroids(e, "label")
      VectorOps.ivfPqTopK(e.filter(col("vec_id") < 8), e, cents, 4, 64, 5,
          nprobe = 2)
        .orderBy(col("query_id"), col("rn"))
    }),

    // EMBEDDING-SPACE CONFUSION MATRIX — q165's acting twin: where q165
    // reports which label CENTROIDS look alike, this assigns every VECTOR
    // to its nearest centroid (L2, the IVF assignment rule) and counts
    // (label, pred) pairs — the label-noise / split-candidate diagnostic a
    // curation pass reads before trusting labels for hard-negative mining
    // (q159) or stratified eval. Off-diagonal mass = members sitting in
    // another label's cell. One corpus scan against the broadcast 1-row
    // codebook (the kmeansAssign argmin pattern — zero shuffle before the
    // |labels|²-bounded aggregate); fractions are per-label row shares.
    "q174_centroid_confusion" -> ((s, d) => {
      val e = emb(s, d)
      val cents = VectorOps.centroids(e, "label")
      val book = cents.agg(
        collect_list(struct(col("cell"), col("centroid"))).as("book"))
      val assigned = e.crossJoin(broadcast(book))
        .select(col("vec_id"), col("label"),
          array_min(transform(col("book"), b =>
            struct(VectorOps.l2Dist(col("embedding"), b.getField("centroid"))
              .as("dist"), b.getField("cell").as("cell"))))
            .getField("cell").as("pred"))
      val totals = assigned.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
      assigned.groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
        .join(totals, Seq("label"))
        .select(col("label"), col("pred"), col("n"),
          (col("n").cast("double") / col("n_label").cast("double")).as("frac"))
        .orderBy(col("label"), col("pred"))
    }),

    // MATRYOSHKA TRUNCATION EVAL — the MRL question (can we serve ANN on a
    // 4×-truncated prefix of the embedding?) answered as a gated retrieval
    // metric, not a vibe: per query, top-5 by full 64-dim cosine vs top-5
    // by first-16-dims cosine, overlap counted; queries with zero overlap
    // survive via the left join. The decision number for
    // prefix-dimension index tiering (store/scan 16 dims, rerank the
    // shortlist at 64): at 100 TB a 4× narrower scan is 4× less I/O on
    // the brute tier and 4× smaller LSH/IVF inputs on the blocked tiers.
    // Exact by the module's fold discipline on both widths.
    "q172_matryoshka_overlap" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 8)
      def trunc(df: DataFrame) = df.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val full = VectorOps.knnBruteForce(q, e, 5)
        .select(col("query_id"), col("neighbor_id"))
      val low = VectorOps.knnBruteForce(trunc(q), trunc(e), 5)
        .select(col("query_id"), col("neighbor_id"))
      val overlap = full.join(low, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
      q.select(col("vec_id").as("query_id"))
        .join(overlap, Seq("query_id"), "left")
        .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
        .withColumn("overlap_frac", col("n_overlap").cast("double") / lit(5.0))
        .orderBy(col("query_id"))
    }),

    "q100_lsh_banded_pairs" -> ((s, d) => {
      // the 32-plane × 64-dim signature fold is the query's dominant
      // expression cost — native, like the verify cosine
      VectorOps.lshNeighborPairsBanded(emb(s, d), 32, 4, 0.2,
          GraftFunctions.lshSignature)
        .orderBy(col("ia"), col("ib"))
    }),

    // IN-ENGINE text → vector: the feature-hashing embedder
    // ([[VectorOps.hashEmbedLong]]) in its long (doc_id, pos, val) form —
    // the engine-expressible share of the reference's `kb._embed` boundary
    // (model vectors stay precomputed inputs; hashed vectors are computed
    // HERE, vocabulary-free). Long form IS the columnar layout: one
    // (doc, pos) count shuffle + one doc aggregation, nothing broadcast,
    // nothing corpus-sized in memory.
    "q148_hash_embed" -> ((s, d) =>
      VectorOps.hashEmbedLong(Tables.documents(s, d), "doc_id", "text", 64)
        .orderBy(col("doc_id"), col("pos"))),

    // Brute-force top-3 cosine neighbors over the HASH embeddings — the
    // q25/q26-style exact baseline proving hash-embedded documents feed
    // the standard similarity surface unchanged (native codegen cosine;
    // values bit-identical cross-engine because the embedder emits exact
    // int64 counts over one IEEE division). Query side is a DETERMINISTIC
    // 1/16 slice (doc_id % 16 = 0) probing the FULL corpus — the q25
    // contract: the embed stage still covers every document (that is the
    // operator under test), while the exact-baseline join stays a probe,
    // not an all-pairs blow-up; the full-corpus pair story is q150's
    // banded LSH over the same vectors.
    "q149_hash_embed_knn" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = VectorOps.hashEmbed(Tables.documents(s, d), "doc_id", "text", 64)
        .localCheckpoint() // both join sides reference the embed plan
      val a = e.filter(col("doc_id") % 16 === 0)
        .select(col("doc_id"), col("embedding").as("ea"))
      val b = e.select(col("doc_id").as("nbr"), col("embedding").as("eb"))
      a.join(b, col("doc_id") =!= col("nbr"))
        .withColumn("cosine", GraftFunctions.cosineSim(col("ea"), col("eb")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("cosine").desc, col("nbr").asc)))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("nbr"), col("cosine"), col("rn"))
        .orderBy(col("doc_id"), col("rn"))
    }),

    // Banded sign-LSH near-dup pairs over the HASH embeddings — q100's
    // scale machinery consuming q148's output shape verbatim: the full
    // embed → ANN path with no model anywhere, end-to-end under the hash
    // gate. Same first-collision-band emission, but a WIDER banding dial
    // than q100: 64 planes in 4 bands = 16-bit band keys (65,536 buckets
    // per band) — the quadratic dial of banded LSH, since the candidate
    // join carries an N²·P(band collision) term even between unrelated
    // vectors. The 64 planes come from the SALTED-md5 family
    // ([[VectorOps.saltedPlaneWeights]]), NOT the congruential
    // plane weight: at 64 planes the linear family's lattice collapses
    // the signature to ~9 effective hyperplanes, so the 16-bit keys
    // behaved like ~4-bit keys — measured on the ×10 ScaleBench corpus as
    // 35.1M candidate pairs (top bucket 2,460 of 50k docs, visibly
    // periodic keys) vs 6.4M with md5 planes. The residual mass is
    // genuine vector correlation (hashed tf-idf of a shared vocabulary),
    // which is why this query is observed at ×10/×30 and excluded from
    // the ×100 decade alongside q154/q155 (pair mass grows with fixture
    // geometry, not blocking quality). Identical near-dup vectors (the
    // θ = 0.9 TARGET) collide in every band regardless of key width, and
    // the oracle mirrors the exact banding + md5 weights, so the whole
    // dial is hash-gated, not asserted.
    "q150_hash_embed_lsh" -> ((s, d) => {
      val e = VectorOps.hashEmbed(Tables.documents(s, d), "doc_id", "text", 64)
        .select(col("doc_id").as("vec_id"), col("embedding"))
        .localCheckpoint() // referenced 3× (signature + both verify sides)
      // the native salted signature memoizes the 64×64 weight matrix
      // per executor and fuses the 64-plane fold into one loop per row
      VectorOps.lshNeighborPairsBanded(e, 64, 4, 0.9,
          GraftFunctions.lshSignatureSalted)
        .orderBy(col("ia"), col("ib"))
    }),

    // MATERIALIZED embed artifact ([[graft.sources.EmbedArtifact]]) — the
    // write-once/read-many production shape of q148: the embed runs ONCE
    // per corpus snapshot (it is the corpus's dominant token shuffle) and
    // persists BUCKETED BY vec_id; consumers locate it by a driver-side
    // file-metadata fingerprint (zero Spark jobs — the q146/q147
    // staleness contract, EmbedArtifactSpec pins it). Output is the long
    // (vec_id, pos, val) columnar form so the oracle re-derives every
    // value from the raw text — the artifact is hash-gated end to end,
    // parquet round-trip included.
    "q178_embed_artifact" -> ((s, d) => {
      val art = graft.sources.EmbedArtifact.read(s, Tables.documents(s, d), d)
      art.select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").as("val"))
        .orderBy(col("vec_id"), col("pos"))
    }),

    // q150's banded LSH near-dup pairs CONSUMING the artifact — the embed
    // stage (token shuffle + two doc-keyed aggregations) disappears from
    // the consumer plan entirely, replaced by a bucketed scan; the
    // signature projection and the banded candidate join are unchanged,
    // and the oracle is q150's verbatim (same pairs, same cosines — the
    // artifact is value-identical to the in-plan embed).
    "q179_artifact_lsh" -> ((s, d) => {
      val e = graft.sources.EmbedArtifact.read(s, Tables.documents(s, d), d)
      VectorOps.lshNeighborPairsBanded(e, 64, 4, 0.9,
          GraftFunctions.lshSignatureSalted)
        .orderBy(col("ia"), col("ib"))
    }),

    // IN-ENGINE PCA: top principal component by an 8-step fixed-iteration
    // power method ([[graft.ml.Pca]]), projections out — the SemDeDup-
    // style whitening/ordering direction computed WITHOUT a linear-algebra
    // library and bit-identical in the oracle. Determinism architecture
    // (the q168 trainer discipline applied to second moments): moment
    // sums are per-row fixed-point longs (order-independent), the
    // covariance entry is PURE double arithmetic from the int64 factors
    // (deliberately NOT HUGEINT-widened — DuckDB's HUGEINT→DOUBLE cast is
    // 1–3 ULP off, see Pca.covMatrix), and the iteration runs UN-normalized from the
    // all-ones vector in a fixed fold order (normalizing needs sqrt —
    // libm, the q114 caveat — while C⁸·1 is pure +/·; the uniform λ⁸
    // scale is harmless to ordering/whitening consumers and mirrored
    // exactly). Scale shape: ONE corpus pass for the d² moments (the
    // double explode is map-side combined — each partition emits ≤ 4096
    // partial rows, the shuffle is partitions×d², never rows×d²), d²
    // longs of driver state (the LogReg bounded-model shape), one
    // broadcast-literal projection pass. Exactness bound: |x| ≤ 1 ⇒
    // int64 moment sums exact to ~9.2e9 rows (the LogReg bound).
    "q185_embedding_pca" -> ((s, d) => {
      val e = emb(s, d)
      val (n, sums, m) = graft.ml.Pca.momentSums(e, "embedding", 64)
      val w = graft.ml.Pca.powerIterate(graft.ml.Pca.covMatrix(n, sums, m), 8)
      e.select(col("vec_id"),
          graft.ml.Pca.projection(col("embedding"), w).as("pc1"))
        .orderBy(col("vec_id"))
    }),

    // HARD-NEGATIVE MINING — the contrastive-training prep op: for each
    // query vector, the top-5 most-similar vectors carrying a DIFFERENT
    // label (the "looks alike, isn't" pairs an embedding model trains
    // against). Exact-baseline contract (the q25/q149 pattern): a
    // deterministic 1/50 query slice broadcast against the full corpus
    // with the label-mismatch predicate IN the join (never a post-filter
    // over an unlabeled top-k — a hub vector with many same-label
    // neighbors would starve), native codegen cosine, windowed top-5. At
    // 100 TB the same label predicate composes with any ANN tier's
    // candidate join (q27/q54/q100 blocking), so this baseline is also
    // that path's recall oracle.
    "q159_hard_negatives" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      val q = broadcast(e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("embedding").as("q_emb")))
      e.select(col("vec_id").as("neg_id"), col("label").as("n_label"),
          col("embedding").as("c_emb"))
        .join(q, col("n_label") =!= col("q_label"))
        .withColumn("cosine",
          GraftFunctions.cosineSim(col("q_emb"), col("c_emb")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cosine").desc, col("neg_id").asc)))
        .filter(col("rn") <= 5)
        .select(col("query_id"), col("neg_id"), col("cosine"), col("rn"))
        .orderBy(col("query_id"), col("rn"))
    }),

    // LABEL-CENTROID SIMILARITY MATRIX — class-confusability diagnostics
    // for contrastive training (q159's planning twin): pairwise cosine
    // between per-label centroids, with both labels' populations
    // alongside. High-cosine label pairs are where hard negatives live
    // and where a classifier head will bleed — this 45-row matrix is the
    // artifact a curriculum/mining pass consumes. Scale: centroids are
    // FIXED-POINT per-dimension means ([[fixedPointLabelCentroids]] — one
    // narrow (label, pos) shuffle, corpus scanned once); floor(x·1e9)
    // int64 sums, NOT DECIMAL(28,12) (decimal CASTs round half-up on one
    // engine and to-nearest on the other, and near-orthogonal centroids
    // amplify that 1e-12 mean wobble through the canceling dot product —
    // measured 1e-11 relative drift at sf0.01). The pair join is
    // |labels|²-bounded over k·d doubles, nothing corpus-sized.
    // PER-SOURCE EMBEDDING DRIFT — q164's embedding-space sibling: where
    // q164 measures how each source's UNIGRAM distribution diverges from
    // the corpus (KL), this measures how its EMBEDDING mass does — cosine
    // between the source's hash-embed centroid and the global centroid.
    // The domain-coverage dashboard number: a source drifting toward 0 is
    // contributing geometry the rest of the corpus doesn't have (or noise
    // — q120/q167 disambiguate). Fixed-point discipline throughout:
    // per-(source, pos) floor(val·1e9) int64 sums, the GLOBAL centroid
    // aggregated FROM the per-source sums in-plan (the q151/q160
    // distributivity shape — no second corpus scan), one division per
    // mean, sequential-fold cosine. Scale: one embed pass + one
    // (sources × 64)-key aggregate; the centroid tables are tiny.
    "q177_source_embed_drift" -> ((s, d) => {
      val e = VectorOps.hashEmbedLong(Tables.documents(s, d), "doc_id", "text", 64)
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val ns = src.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val sv = e.join(src, Seq("doc_id"))
        .groupBy(col("source"), col("pos"))
        .agg(sum(floor(col("val") * lit(1e9)).cast("long")).as("s_fp"))
      val sc = sv.join(ns, Seq("source"))
        .select(col("source"),
          struct(col("pos"),
            ((col("s_fp").cast("double") / lit(1e9)) / col("n")).as("mean"))
            .as("pm"))
        .groupBy(col("source"))
        .agg(transform(array_sort(collect_list(col("pm"))),
          x => x.getField("mean")).as("centroid"))
      val gv = sv.groupBy(col("pos")).agg(sum(col("s_fp")).as("g_fp"))
      val nt = ns.agg(sum(col("n")).as("nt"))
      val gc = gv.crossJoin(nt)
        .select(struct(col("pos"),
          ((col("g_fp").cast("double") / lit(1e9)) / col("nt")).as("mean"))
          .as("pm"))
        .agg(transform(array_sort(collect_list(col("pm"))),
          x => x.getField("mean")).as("g_centroid"))
      sc.join(ns, Seq("source")).crossJoin(broadcast(gc))
        .select(col("source"), col("n").as("n_docs"),
          GraftFunctions.cosineSim(col("centroid"), col("g_centroid"))
            .as("cos_to_global"))
        .orderBy(col("source"))
    }),

    "q165_label_centroid_sim" -> ((s, d) => {
      val e = emb(s, d)
      val cnt = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
      val c = fixedPointLabelCentroids(e)
        .join(cnt, col("cell") === col("label"))
        .select(col("label"), col("n"), col("centroid"))
      c.as("a").join(c.as("b"), col("a.label") < col("b.label"))
        .select(col("a.label").as("la"), col("b.label").as("lb"),
          col("a.n").as("n_a"), col("b.n").as("n_b"),
          GraftFunctions.cosineSim(col("a.centroid"), col("b.centroid"))
            .as("cos_centroid"))
        .orderBy(col("la"), col("lb"))
    }),

    // LABEL-COHESION REPORT — q120's aggregate twin (same fixed-point
    // centroids): per label, the fixed-point MEAN member→centroid cosine
    // plus exact min/max — the intra-class tightness number that ranks
    // which labels are diffuse (candidates for relabeling or splitting)
    // the way q120 ranks which MEMBERS are outliers. The mean is a
    // floor(cos·1e9) int64 sum (partition-order-independent) divided
    // once; min/max are exact double comparisons. One corpus scan against
    // a broadcast codebook, one |labels|-row aggregate — nothing shuffles
    // at corpus grain.
    "q167_label_cohesion" -> ((s, d) => {
      val e = emb(s, d)
      val cents = fixedPointLabelCentroids(e)
      e.join(broadcast(cents), col("label") === col("cell"))
        .select(col("label"),
          GraftFunctions.cosineSim(col("embedding"), col("centroid")).as("cos"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("cos") * lit(1e9)).cast("long")).cast("double")
            / lit(1e9) / count(lit(1))).as("mean_cos"),
          min(col("cos")).as("min_cos"),
          max(col("cos")).as("max_cos"))
        .orderBy(col("label"))
    }),

    // PROTOTYPICALITY PRUNING (coreset selection) — the Sorscher et al.
    // "Beyond neural scaling laws" data-pruning rule, engine-internal:
    // cluster the embedding space (q111's deterministic Lloyd), score
    // every vector by cosine to its final-codebook centroid
    // (prototypicality), and mark the MOST prototypical 25% of each cell
    // pruned — with abundant data, the easy/redundant center mass teaches
    // least, so the keep-set is the hard boundary mass. Ranking is
    // per-cell (row_number over (cos desc, vec_id)), so no cell is
    // starved by another's cosine distribution — the q184 per-source
    // discipline in embedding space. Scale shape: codebook broadcasts
    // (k·d doubles), scoring is one corpus scan, and the only corpus
    // shuffle is the per-cell rank window; output is N rows of
    // (id, cell, score, verdict) a downstream filter consumes.
    "q187_prototype_prune" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      // members feed two subtrees (the fixed-point centroids AND the
      // scoring join): materialize the k-means assignment once — the q112
      // cells discipline
      val member = e.select(col("vec_id"), col("embedding"))
        .join(VectorOps.kmeansAssign(e, 8, 2), Seq("vec_id"))
        .localCheckpoint()
      // score against the FIXED-POINT per-cluster centroid, not the
      // DECIMAL codebook mean (see fixedPointCentroids: decimal→double
      // is ~1 ULP engine-dependent — fine under q111's argmin gate,
      // visible in a hash-gated cosine)
      val cents = fixedPointCentroids(member, "cluster")
      val scored = member
        .join(broadcast(cents), Seq("cluster"))
        .select(col("vec_id"), col("cluster"),
          GraftFunctions.cosineSim(col("embedding"), col("centroid"))
            .as("proto_cos"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cluster"))
            .orderBy(col("proto_cos").desc, col("vec_id").asc)))
        .withColumn("cell_n",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .select(col("vec_id"), col("cluster"), col("proto_cos"),
          col("rn").cast("int").as("rn"),
          (col("rn") <= floor(col("cell_n").cast("double") / 4.0))
            .as("pruned"))
        .orderBy(col("vec_id"))
    }),

    // kNN-GRAPH CONSTRUCTION + ONE NN-DESCENT ROUND — the neighborhood
    // graph the curation family consumes (SemDeDup/D4-style pruning,
    // q119's link prediction, q200's label-noise vote) built the way a
    // 100 TB corpus can afford. WORKING GRAPH G0 = within-cell top-3
    // (the ivf2 index's ~64-vector cells — k ∝ N, the q138/q223 dial,
    // so the warm start is O(N·64) at ANY corpus size; fixed-k=8 Lloyd
    // cells were measured at 79.8 s at sf0.1 from their O(N²/8) pair
    // mass) UNION
    // 3 deterministic random-bucket edges per vector (md5 bucket of
    // ~8 mates, edges by id order — NN-descent's random init, giving the
    // reach a cell-confined graph structurally lacks: a purely
    // within-cell G0 expands to within-cell candidates forever, measured
    // here as a 0-gain refine). REFINE = TWO NN-descent rounds (Dong et
    // al. 2011): per round, candidates = G ∪ reversed(G) ∪
    // neighbors-of-neighbors (≤ ~48/vector), re-ranked cosine top-3 —
    // random bridges carry each vector into other cells' curated
    // neighborhoods in round 1, and round 2 walks the improved edges one
    // hop further. The output reports the convergence series
    // recall_init → recall_refined → recall_refined2 (r14 measured one
    // round at 0.339→0.368; round 2 is the "does it still move" dial —
    // where the series plateaus, the residual is hash-independent
    // geometry: a vector whose true neighbors share no cell, bucket, or
    // refined path is unreachable by local descent, and only random
    // restarts would find it). Gated against the exact brute-force
    // top-3. Recall monotonicity PER ROUND is a THEOREM under the shared
    // (cos desc, id asc) total order: each round's candidate set
    // contains the previous graph, so any prior hit displaced from a
    // refined top-3 is displaced by a strictly better candidate, itself
    // necessarily exact-top-3. The audit side carries the q214 dial IN
    // CODE (the r13 q206 lesson) with a DECADE-ADAPTIVE modulus (the
    // r14-verdict adaptivity ask): exact truth is computed only for the
    // deterministic id-hash 1/max(8, N/512) of the vectors — the audited
    // count pins at ~512 as the corpus grows, so the audit's brute-force
    // mass grows ~N·512, never N²·const (each audited u still ranks
    // against the FULL corpus — top-3 truth needs every candidate);
    // recalls are unbiased estimators on the audited slice
    // (n_exact = 3·n_audited).
    "q220_knn_graph" -> ((s, d) => {
      // build ladder LIVES IN KnnGraphArtifact (r16: the graph is a
      // write-once artifact — q228 consumes the persisted copy; this gate
      // runs the SAME code self-contained, so the DuckDB hash pins the
      // artifact's values too). Warm-start cells = the ivf2 index (k ∝ N,
      // ~64-vector cells — the q138/q223 dial): within-cell candidate work
      // stays O(N·64) at any corpus size, where fixed-k Lloyd cells made
      // it O(N²/k). Top-3 KEEPS the cosine: a carried edge is never
      // re-scored, each descent round pays the embedding joins only for
      // pairs it has not seen.
      import graft.sources.KnnGraphArtifact
      // r17: fanned out BEFORE the checkpoint — every scoring join and the
      // exact-audit broadcast-NL stage inherits this table's width, and the
      // single-file scan pinned them all to one task (guide §2.5)
      val e = graft.sources.Layout.fanOutScan(
          emb(s, d).select(col("vec_id"), col("embedding")), col("vec_id"))
        .localCheckpoint() // feeds cells, scoring joins, and the exact side
      val n = e.count()
      val (sc0, refined, refined2) = KnnGraphArtifact.stages(e)
      val init = KnnGraphArtifact.topK(sc0)
      val audMod = math.max(8L, n / 512L) // ~512 audited at any scale
      val audited = e.filter(
        pmod(graft.text.TextOps.tokenHash60(col("vec_id").cast("string")),
          lit(audMod)) === 0L)
      val exact = KnnGraphArtifact.topK(audited
        .select(col("vec_id").as("u"), col("embedding").as("eu"))
        .join(e.select(col("vec_id").as("v"), col("embedding").as("ev")),
          col("u") =!= col("v"))
        // native codegen cosine — bit-identical to the HOF fold
        // (CosineSpec); the audit's N_audited×N pass was the query's
        // single largest stage as an interpreted fold
        .withColumn("cos",
          GraftFunctions.cosineSim(col("eu"), col("ev"))))
      exact.select(col("u"), col("v"))
        .join(init.select(col("u"), col("v"), lit(true).as("i")),
          Seq("u", "v"), "left")
        .join(refined.select(col("u"), col("v"), lit(true).as("rf")),
          Seq("u", "v"), "left")
        .join(refined2.select(col("u"), col("v"), lit(true).as("rf2")),
          Seq("u", "v"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(when(col("i"), 1L).otherwise(0L)).as("hit_init"),
          sum(when(col("rf"), 1L).otherwise(0L)).as("hit_refined"),
          sum(when(col("rf2"), 1L).otherwise(0L)).as("hit_refined2"))
        .crossJoin(broadcast(e.agg(count(lit(1)).as("n_vecs"))))
        .crossJoin(broadcast(audited.agg(count(lit(1)).as("n_audited"))))
        .select(col("n_vecs"), col("n_audited"), col("n_exact"),
          (col("hit_init").cast("double") / col("n_exact").cast("double"))
            .as("recall_init"),
          (col("hit_refined").cast("double")
            / col("n_exact").cast("double")).as("recall_refined"),
          (col("hit_refined2").cast("double")
            / col("n_exact").cast("double")).as("recall_refined2"))
    }),

    // SEMANTIC DEDUP OFF THE kNN ARTIFACT — the consumer the graph exists
    // FOR (SemDeDup/D4-style pruning; the reference's disambiguation-by-
    // similarity consumes persisted neighbor candidates the same way,
    // /root/reference/dev.ipynb cells 84-88): edges of the PERSISTED
    // refined top-3 graph (KnnGraphArtifact — built once per corpus
    // snapshot, bucketed by u) at cosine ≥ 0.4 (the house SemDeDup dial,
    // q112) → connected components → min-id canonical; every vector whose
    // canonical differs is a semantic duplicate a curation pass drops.
    // q112/q138 recompute cells + within-cell cosines per run; THIS is the
    // production read — the bench cost is an artifact scan + CC over the
    // (sparse, ≥0.4-filtered) edge set, never an embed or a cell build.
    // Scale shape: the artifact side is bucketed (no exchange), the
    // thresholded edge set is ≤ 3N rows before filtering, and CC runs on
    // the surviving fraction only — consumer cost is flat-in-read at any
    // corpus size once the snapshot's graph exists (SCALE_r16: warm run
    // builds, steady run reads). Oracle = q220's chain (recursion-safe
    // form) + thresholded reach closure, exact.
    "q228_semdedup_knn_artifact" -> ((s, d) => {
      val e = emb(s, d)
      val g = graft.sources.KnnGraphArtifact.read(s, e, d)
      val sem = g.filter(col("cos") >= 0.4)
        .select(col("u").as("src"), col("v").as("dst"))
      GraphOps.withCanonical(e.select(col("vec_id")), "vec_id", sem)
        .withColumn("pruned", col("canonical") =!= col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // EMBED-ARTIFACT CDC MAINTENANCE, FROZEN MODEL — the vector family's
    // delta-layout lifecycle step (q231's shape applied to EmbedArtifact,
    // r15 verdict item 2's "signature/embed artifacts" completed): the
    // delta's documents are embedded under the SNAPSHOT's (token, idf)
    // table (VectorOps.hashEmbedLongWithIdf) — tf-idf weights are
    // corpus-statistics-dependent, so re-deriving idf from the grown
    // corpus would silently change EVERY persisted vector and invalidate
    // every downstream ANN index; freezing the featurizer at snapshot
    // build is what production embedding pipelines do, and it is WHY the
    // maintenance write can be delta-sized (a survivor's vector provably
    // never changes). Writes: the added docs' vectors + a tombstone list;
    // gated output = the composed merge-on-read v2 table in q178's
    // exploded (vec_id, pos, val) form. Unseen delta vocabulary carries
    // weight 0 (the frozen-featurizer OOV rule — 'v2new' itself exercises
    // it). Oracle: the v1 hash-embed chain (idf over the FULL v1 corpus)
    // for survivors ∪ the delta chain applied under the SAME idf —
    // survivor rows must equal the v1 artifact's bytes, delta rows the
    // frozen application, and one drifted idf value anywhere breaks the
    // hash.
    "q232_embed_maintenance" -> ((s, d) => {
      val dd = Tables.documents(s, d)
      val v1 = dd.select(col("doc_id"), col("text"))
      val removed = v1.filter(col("doc_id") % 13 === 0).select(col("doc_id"))
      val added = v1.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + TextQueries.AddedDocIdOffset).as("doc_id"),
          concat(lit("v2new "), col("text")).as("text"))
      graft.sources.EmbedArtifact.maintainCdcDelta(
        s, dd, d, added, removed, "cdcd")
      graft.sources.EmbedArtifact.readDelta(s, dd, d, "cdcd")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").as("val"))
        .orderBy(col("vec_id"), col("pos"))
    }),

    // kNN-GRAPH ARTIFACT CDC MAINTENANCE — the triangle-closing lifecycle
    // step (r16 verdict item 1): DedupClosure and EmbedArtifact both had
    // CDC delta maintenance; the kNN graph — the most EXPENSIVE of the
    // three snapshot builds (205.8 s at ×100) — was rebuild-only. The
    // maintenance rule and its correctness/quality contracts live in
    // KnnGraphArtifact.maintainCdcDelta's scaladoc: removal-incident lists
    // repaired from surviving neighbors-of-neighbors + reverse edges,
    // arriving vectors routed through the FROZEN snapshot index (persisted
    // cells + books — re-deriving k ∝ N would re-assign every vector),
    // one NN-descent round localized to the touched frontier, untouched
    // lists verbatim BY CONSTRUCTION. Fixture: tombstones = vec_id % 13,
    // arrivals = vec_id % 11 re-minted at the offset namespace with
    // per-element NEGATED embeddings (within-arrival geometry preserved,
    // decorrelated from the snapshot — the sign-flip replica trick).
    // Gated output = the COMPOSED merge-on-read v2 graph; the oracle
    // replays the v1 build chain (the q220 CTEs — so the gate re-pins the
    // artifact) plus the full maintenance rule in SQL: one wrong routing
    // argmin, missed repair candidate, or broken composition breaks the
    // hash. Bit-equality to a from-scratch v2 rebuild is deliberately NOT
    // the contract (approximate graphs are trajectory-dependent — see the
    // scaladoc); R17QueriesSpec measures maintained-vs-rebuilt recall.
    "q233_knn_maintenance" -> ((s, d) => {
      val e = emb(s, d)
      val removed = e.filter(col("vec_id") % 13 === 0).select(col("vec_id"))
      val added = e.filter(col("vec_id") % 11 === 0)
        .select((col("vec_id") + TextQueries.AddedDocIdOffset).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      graft.sources.KnnGraphArtifact.maintainCdcDelta(
        s, e, d, added, removed, "cdcd")
      graft.sources.KnnGraphArtifact.readDelta(s, e, d, "cdcd")
        .orderBy(col("u"), col("v"))
    }),

    // SEMANTIC SPLIT ASSIGNMENT OFF THE PERSISTED SEMANTIC CLOSURE — the
    // q146 consumer discipline one level up (r16 verdict item 3): q228
    // reads the graph artifact but still pays pointer-jumping CC on every
    // read (39.4 s at ×100, CC-bound); the θ=0.4 canonical table is now
    // itself a write-once artifact (KnnGraphArtifact.materializeSemClosure,
    // built once per snapshot off the persisted graph, bucketed by
    // vec_id), and THIS consumer — leakage-safe splits in embedding
    // space, so semantic near-dups never straddle train/val/test (q136's
    // md5-bucket rule on the SEMANTIC canonical) — pays a bucketed scan
    // plus per-row expression work, never an embed, a cell build, or a
    // CC. Oracle = q228's recursive chain + the split rule, exact.
    "q234_semantic_split" -> ((s, d) => {
      val e = emb(s, d)
      val cl = graft.sources.KnnGraphArtifact.readSemClosure(s, e, d)
      cl.withColumn("bucket",
          pmod(graft.text.TextOps.tokenHash60(col("canonical").cast("string")),
            lit(100L)))
        .select(col("vec_id"), col("canonical"), col("bucket"),
          when(col("bucket") < 80, lit("train"))
            .when(col("bucket") < 90, lit("val"))
            .otherwise(lit("test")).as("split"))
        .orderBy(col("vec_id"))
    }),

    // IVF CELL-BALANCE REPORT — index-health diagnostics for the ANN
    // family (q28/q54/q112/q138/q170): per-cell population under the
    // corpus-derived k ∝ N codebook (q112's dial), reduced to the numbers
    // that price probe latency — empty-cell count (wasted codebook),
    // min/max/avg population, and imbalance = max/avg (the tail-latency
    // multiplier: a probe landing in the fattest cell scans imbalance×
    // the average inverted list). The index is built with the TWO-LEVEL
    // ivf2Assign — the ×100 scale path (q138) and therefore the index
    // whose balance a production probe actually experiences; the flat
    // k ∝ N assign would be the suite's one O(N²/64) superlinear term.
    // Scale shape: two-level assignment is O(N·√k·d) expression work, the
    // report is a k-row aggregate collapsed to ONE row — nothing
    // corpus-sized ever reaches the driver.
    "q188_ivf_balance" -> ((s, d) => {
      val e = emb(s, d)
      val n = Tables.rowCount(s, d, "embeddings")
      val k = math.min(n, math.max(8L, math.ceil(n / 64.0).toLong)).toInt
      val c = math.max(2L, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
      VectorOps.ivf2Assign(e, k, c)
        .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
        .agg(
          lit(k.toLong).as("cells_seeded"),
          count(lit(1)).as("cells_used"),
          (lit(k.toLong) - count(lit(1))).as("cells_empty"),
          sum(col("sz")).as("n_vecs"),
          min(col("sz")).as("min_size"),
          max(col("sz")).as("max_size"),
          (sum(col("sz")).cast("double") / count(lit(1)).cast("double"))
            .as("avg_size"),
          (max(col("sz")).cast("double") * count(lit(1)).cast("double")
            / sum(col("sz")).cast("double")).as("imbalance"))
    }),

    // JOHNSON–LINDENSTRAUSS ±1 PROJECTION + distortion report — the
    // dimensionality-reduction dial for every downstream distance op:
    // project 64-dim embeddings to 16 dims through a deterministic ±1
    // sign matrix (sign(j,i) = md5("jl|j|i") parity — the
    // salted-plane hash-family discipline, recomputable in ANSI
    // SQL), then report per-pair distance preservation on the fixed
    // 32-vector slice (q25's bounded-query discipline):
    // ratio = ||Rx−Ry|| / (√16·||x−y||) ≈ 1 is the JL guarantee. The
    // projection itself is MAP-ONLY (16 sequential folds over 64 dims per
    // row, sign literals baked into the plan) — at 100 TB it rides the
    // ingest scan with zero shuffle, and every later pair/ANN stage pays
    // 4× less distance arithmetic.
    // PROTOTYPICALITY PRUNE, HISTOGRAM SCALE PATH — q187's production
    // twin, built the way the 100 TB index actually is: cells from the
    // TWO-LEVEL ivf2 assign (q138/q188), and the per-cell prune boundary
    // from a 64-BIN HISTOGRAM THRESHOLD (q169's sortless gate) instead of
    // q187's per-cell rank window. The rank window is exact but needs a
    // full per-cell sort — at a fixed k the cells are corpus-sized and
    // the sort is the bottleneck; the histogram needs ONE k·64-counter
    // aggregate (map-side combinable) + a broadcast join-back, pruning
    // "at least the top quartile" at bin granularity. Exact rule, gated:
    // the bin boundary is deterministic (cosines are cross-engine exact
    // off the fixed-point centroids), so the oracle reproduces every
    // keep/prune verdict.
    "q195_prototype_prune_hist" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      val n = Tables.rowCount(s, d, "embeddings")
      val k = math.min(n, math.max(8L, math.ceil(n / 64.0).toLong)).toInt
      val cc = math.max(2L, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
      val member = e.select(col("vec_id"), col("embedding"))
        .join(VectorOps.ivf2Assign(e, k, cc), Seq("vec_id"))
        .localCheckpoint()
      val cents = fixedPointCentroids(member, "cluster")
      val binned = member.join(broadcast(cents), Seq("cluster"))
        .select(col("vec_id"), col("cluster"),
          GraftFunctions.cosineSim(col("embedding"), col("centroid"))
            .as("proto_cos"))
        .withColumn("bin", greatest(
          least(floor((col("proto_cos") + lit(1.0)) * lit(32.0))
            .cast("long"), lit(63L)), lit(0L)))
      val thr = binned.groupBy(col("cluster"), col("bin"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("cluster")).orderBy(col("bin").desc)))
        .withColumn("total", sum(col("cnt")).over(
          Window.partitionBy(col("cluster"))))
        .withColumn("target",
          ceil(col("total").cast("double") * lit(0.25)).cast("long"))
        .filter(col("cum") >= col("target"))
        .groupBy(col("cluster")).agg(max(col("bin")).as("thr_bin"))
      binned.join(broadcast(thr), Seq("cluster"))
        .select(col("vec_id"), col("cluster"), col("proto_cos"),
          col("bin"), col("thr_bin"),
          (col("bin") >= col("thr_bin")).as("pruned"))
        .orderBy(col("vec_id"))
    }),

    // kNN LABEL-NOISE DETECTOR — the label-error audit a labeled training
    // set needs (Confident-Learning-style, by neighborhood vote): within
    // each two-level IVF cell (the q138/q188/q195 index), every vector's
    // 5 nearest same-cell neighbors (cosine desc, id tie-break) vote;
    // a strict majority (≥ 3/5) for a DIFFERENT label marks the row
    // suspect. Blocking bounds the vote to the cell's inverted list —
    // O(N · cellSize) cosines, linear in the corpus — and every verdict
    // is deterministic (ranked tie-breaks, (count desc, label asc)
    // argmax), so the oracle reproduces the full suspect set. Vectors in
    // singleton cells keep NULL votes and are never suspect.
    "q200_label_noise_knn" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      val n = Tables.rowCount(s, d, "embeddings")
      val k = math.min(n, math.max(8L, math.ceil(n / 64.0).toLong)).toInt
      val cc = math.max(2L, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
      val mem = e.join(VectorOps.ivf2Assign(e, k, cc), Seq("vec_id"))
        .select(col("cluster"), col("vec_id"), col("label"),
          col("embedding"))
        .localCheckpoint() // feeds both pair sides and the verdict join
      val nb = mem.select(col("cluster"), col("vec_id"), col("embedding"))
        .join(mem.select(col("cluster"), col("vec_id").as("nb_id"),
          col("label").as("nb_label"), col("embedding").as("nb_emb")),
          Seq("cluster"))
        .filter(col("vec_id") =!= col("nb_id"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(GraftFunctions.cosineSim(col("embedding"), col("nb_emb")).desc,
              col("nb_id").asc)))
        .filter(col("rn") <= 5)
      val maj = nb.groupBy(col("vec_id"), col("nb_label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("c").desc, col("nb_label").asc)))
        .filter(col("r") === 1)
        .select(col("vec_id"), col("nb_label").as("maj_label"),
          col("c").as("maj_count"))
      mem.select(col("vec_id"), col("label"))
        .join(maj, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"), col("maj_label"),
          col("maj_count"),
          coalesce(col("maj_count") >= 3 &&
            col("maj_label") =!= col("label"), lit(false)).as("suspect"))
        .orderBy(col("vec_id"))
    }),

    "q189_jl_distortion" -> ((s, d) => {
      val e = emb(s, d).filter(col("vec_id") < 32)
      val proj = e.select(col("vec_id"), col("embedding"),
        array((0 until 16).map(j =>
          aggregate(
            zip_with(col("embedding"),
              array((0 until 64).map(i => lit(jlSign(j, i))): _*),
              (x, sg) => x.cast("double") * sg),
            lit(0.0), (acc, x) => acc + x)): _*).as("proj"))
      val a = proj.select(col("vec_id").as("ia"),
        col("embedding").as("ea"), col("proj").as("pa"))
      val b = proj.select(col("vec_id").as("ib"),
        col("embedding").as("eb"), col("proj").as("pb"))
      a.join(b, col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          VectorOps.l2Dist(col("ea"), col("eb")).as("d_orig"),
          VectorOps.l2Dist(col("pa"), col("pb")).as("d_proj"))
        .withColumn("ratio",
          when(col("d_orig") > 0.0,
            col("d_proj") / (lit(4.0) * col("d_orig"))))
        .orderBy(col("ia"), col("ib"))
    }))

  /** Per-label centroids with fixed-point (floor(x·1e9) int64) per-dimension
    * means — partition-order-independent without decimal casts; shared by
    * q120 (member outliers) and q167 (label cohesion). Output (cell,
    * centroid array<double>). */
  private def fixedPointLabelCentroids(e: DataFrame): DataFrame =
    fixedPointCentroids(e, "label").withColumnRenamed("label", "cell")

  /** The same fixed-point means keyed on an arbitrary cell column — q187
    * scores against per-CLUSTER centroids (k-means cells), q120/q167
    * against per-label ones. Gated cosine VALUES must come off these, not
    * the DECIMAL(28,12) codebook means: decimal→double casts differ by
    * ~1 ULP across engines (the q185 lesson) — fine under an argmin gate,
    * visible under a hash gate. */
  private def fixedPointCentroids(df: DataFrame, cellCol: String): DataFrame =
    df.select(col(cellCol), posexplode(col("embedding")))
      .groupBy(col(cellCol), col("pos"))
      .agg((sum(floor(col("col").cast("double") * lit(1e9)).cast("long"))
        .cast("double") / lit(1e9) / count(lit(1))).as("mean"))
      .groupBy(col(cellCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean")))),
        el => el.getField("mean")).as("centroid"))

  /** JL ±1 sign for (plane j, dim i): parity of the top-60-bit integer of
    * md5("jl|j|i") — same portable hash family as
    * [[graft.vector.VectorOps.saltedPlaneWeights]]; the engine folds the
    * signs in as literals, the oracle recomputes them from md5 in SQL. */
  private def jlSign(j: Int, i: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"jl|$j|$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
  }

  /** DuckDB mirror of the q189 projection: plane j of `a` — the same
    * sequential left-fold over dims with the md5-parity sign recomputed
    * in SQL (saltedSigSqlN's discipline). */
  private def jlProjSql(a: String, j: Int) =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * " +
      s"(CASE WHEN CAST('0x' || substr(md5('jl|$j|' || CAST(i - 1 AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0 " +
      s"THEN 1.0 ELSE -1.0 END))), (acc, x) -> acc + x)"

  /** DuckDB mirror of VectorOps.dot: sequential left-fold of per-element
    * double products (1-indexed lists). */
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"

  private def normSql(a: String) = s"sqrt(${dotSql(a, a)})"

  private[queries] def cosSql(a: String, b: String) =
    s"(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))"

  /** DuckDB mirror of VectorOps.l2Dist. */
  private def l2Sql(a: String, b: String) =
    s"sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), " +
      s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), (acc, x) -> acc + x))"

  /** DuckDB mirror of the native lsh_signature (0-indexed dims),
    * plane-count-parameterized (q27/q74 use 8, q99/q100's banded form 32). */
  private def sigSqlN(nPlanes: Int) =
    s"array_to_string(list_transform(range(0, $nPlanes), p -> CASE WHEN " +
      "list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding)+1), " +
      "i -> CAST(embedding[i] AS DOUBLE) * " +
      "((CAST((p * 73856093 + (i - 1) * 19349663) % 10007 AS DOUBLE) / 10007.0) * 2.0 - 1.0)" +
      ")), (acc, x) -> acc + x) >= 0 THEN '1' ELSE '0' END), '')"

  private val sigSql = sigSqlN(8)

  /** DuckDB mirror of the native lsh_signature_salted: weights recomputed
    * from md5("pl|p|d") — the engine memoizes the same values
    * ([[graft.vector.VectorOps.saltedPlaneWeights]]). */
  private def saltedSigSqlN(nPlanes: Int) =
    s"array_to_string(list_transform(range(0, $nPlanes), p -> CASE WHEN " +
      "list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding)+1), " +
      "i -> CAST(embedding[i] AS DOUBLE) * " +
      "((CAST(CAST('0x' || substr(md5('pl|' || CAST(p AS VARCHAR) || '|' || CAST(i - 1 AS VARCHAR)), 1, 15) AS BIGINT) % 10007 AS DOUBLE) / 10007.0) * 2.0 - 1.0)" +
      ")), (acc, x) -> acc + x) >= 0 THEN '1' ELSE '0' END), '')"

  /** DuckDB mirror of VectorOps.quantizeInt8 / cosineInt8: integer dot of
    * int8 codes, double only at the final sqrt/divide. */
  private val quantizeSql =
    """CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
      |     ELSE list_transform(embedding,
      |            x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / mx)) AS BIGINT))
      |END""".stripMargin

  private def idotSql(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, len($a)+1), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  private def cosInt8Sql(a: String, b: String) =
    s"(CAST(${idotSql(a, b)} AS DOUBLE) / " +
      s"(sqrt(CAST(${idotSql(a, a)} AS DOUBLE)) * sqrt(CAST(${idotSql(b, b)} AS DOUBLE))))"

  /** Unrolled deterministic-Lloyd CTE chain: seeds c0 = min-vec_id
    * vectors, then per round an assignment (argmin L2, (dist, cell)
    * tie-break) and a DECIMAL(28,12) centroid update — mirroring
    * VectorOps.kmeansAssign round for round. Ends with `af(vec_id,
    * cluster)`, the final assignment under the last codebook.
    *
    * `kSql` is a SQL expression for the cell count; it may reference `n`
    * (COUNT(*) OVER () on embeddings), so a caller can derive k from the
    * corpus size exactly the way the Spark side does. */
  private[queries] def kmeansCte(k: Int, iters: Int): String = kmeansCte(k.toString, iters)

  private[queries] def kmeansCte(kSql: String, iters: Int): String = {
    def assignSql(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.centroid")} ASC, c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN $cents c) t
         |  WHERE rn = 1)""".stripMargin
    val head =
      s"""c0 AS (
         |  SELECT vec_id AS cell,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
         |  FROM (SELECT vec_id, embedding,
         |          ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
         |          COUNT(*) OVER () AS n
         |        FROM embeddings) seed
         |  WHERE rn <= ($kSql))""".stripMargin
    val rounds = (1 to iters).flatMap { r =>
      Seq(assignSql(s"a$r", s"c${r - 1}"),
        s"""d$r AS (
           |  SELECT cell, i - 1 AS pos,
           |    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
           |      / COUNT(*) AS mean
           |  FROM a$r CROSS JOIN range(1, 65) t(i) GROUP BY cell, i),
           |c$r AS (
           |  SELECT cell, list(mean ORDER BY pos) AS centroid
           |  FROM d$r GROUP BY cell)""".stripMargin)
    }
    val fin =
      s"""af AS (
         |  SELECT vec_id, cell AS cluster FROM (
         |    SELECT e.vec_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql("e.embedding", "c.centroid")} ASC, c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN c$iters c) t
         |  WHERE rn = 1)""".stripMargin
    (head +: rounds :+ fin).mkString(",\n")
  }

  /** Unrolled [[graft.vector.VectorOps.ivf2Assign]] CTE chain ending at
    * `af(vec_id, cluster)` — min-vec_id fine seeds (k = max(8, ceil(n/64))
    * clamped by n), c ≈ √k coarse prefix, fine→coarse argmin,
    * vector→effective-coarse argmin, vector→fine argmin within the cell,
    * all (L2 asc, cell asc) tie-breaks. Shared by q138 (two-level
    * SemDeDup) and q188 (cell-balance report). */
  private[queries] lazy val ivf2AfCte: String =
    s"""fine AS (
       |  SELECT vec_id AS cell,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
       |  FROM (SELECT vec_id, embedding,
       |          ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
       |          COUNT(*) OVER () AS n
       |        FROM embeddings) seed
       |  WHERE rn <= greatest(8, CAST(ceil(n / 64.0) AS BIGINT))),
       |coarse AS (
       |  SELECT cell AS ccell, centroid AS ccentroid FROM (
       |    SELECT cell, centroid,
       |      ROW_NUMBER() OVER (ORDER BY cell) AS rnf,
       |      COUNT(*) OVER () AS k
       |    FROM fine) t
       |  WHERE rnf <= greatest(2, CAST(ceil(sqrt(k)) AS BIGINT))),
       |f2c AS (
       |  SELECT ccell, cell, centroid FROM (
       |    SELECT c.ccell, f.cell, f.centroid,
       |      ROW_NUMBER() OVER (PARTITION BY f.cell
       |        ORDER BY ${l2Sql("f.centroid", "c.ccentroid")} ASC, c.ccell ASC) AS rn
       |    FROM fine f CROSS JOIN coarse c) t
       |  WHERE rn = 1),
       |ecoarse AS (
       |  SELECT DISTINCT f.ccell, fi.centroid AS ccentroid
       |  FROM f2c f JOIN fine fi ON fi.cell = f.ccell),
       |vc AS (
       |  SELECT vec_id, embedding, ccell FROM (
       |    SELECT e.vec_id, e.embedding, c.ccell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2Sql("e.embedding", "c.ccentroid")} ASC, c.ccell ASC) AS rn
       |    FROM embeddings e CROSS JOIN ecoarse c) t
       |  WHERE rn = 1),
       |af AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT v.vec_id, f.cell AS cluster,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${l2Sql("v.embedding", "f.centroid")} ASC, f.cell ASC) AS rn
       |    FROM vc v JOIN f2c f ON f.ccell = v.ccell) t
       |  WHERE rn = 1)""".stripMargin

  /** q220's kNN-graph chain — warm-start cells off `af` (ivf2AfCte must
    * precede it), md5 random buckets, TWO NN-descent rounds — ending at
    * `refined2(u, v, cos)`. RECURSION-SAFE FORM, shared by the q220 gate
    * and the q228 artifact consumer (whose closure needs WITH RECURSIVE):
    * under WITH RECURSIVE DuckDB parses any CTE with a top-level UNION as
    * the anchor/step recursive form and stops DEDUPLICATING it (measured:
    * WITH RECURSIVE a AS (SELECT 1 UNION SELECT 1) yields 2 rows), so
    * every dedup here is an explicit SELECT DISTINCT over UNION ALL —
    * identical semantics under a plain WITH, safe under RECURSIVE. */
  private lazy val knnChainCte: String =
    s"""wc AS (
       |  SELECT e.vec_id, e.embedding, a.cluster
       |  FROM embeddings e JOIN af a USING (vec_id)),
       |within AS (
       |  SELECT a.vec_id AS u, b.vec_id AS v,
       |    ${cosSql("a.embedding", "b.embedding")} AS cos
       |  FROM wc a JOIN wc b
       |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
       |celltop AS (
       |  SELECT u, v FROM (
       |    SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u
       |      ORDER BY cos DESC, v ASC) AS rn FROM within) t
       |  WHERE rn <= 3),
       |rb AS (
       |  SELECT vec_id,
       |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
       |      AS BIGINT)
       |      % greatest((SELECT COUNT(*) FROM embeddings) // 8, 1) AS rb
       |  FROM embeddings),
       |rnd AS (
       |  SELECT u, v FROM (
       |    SELECT a.vec_id AS u, b.vec_id AS v,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY b.vec_id ASC) AS rn
       |    FROM rb a JOIN rb b
       |      ON a.rb = b.rb AND a.vec_id <> b.vec_id) t
       |  WHERE rn <= 3),
       |g0 AS (SELECT DISTINCT u, v FROM (
       |  SELECT u, v FROM celltop UNION ALL SELECT u, v FROM rnd) tg0),
       |sc0 AS (
       |  SELECT c.u, c.v,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
       |  FROM g0 c JOIN embeddings ea ON ea.vec_id = c.u
       |  JOIN embeddings eb ON eb.vec_id = c.v),
       |init AS (
       |  SELECT u, v FROM (
       |    SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u
       |      ORDER BY cos DESC, v ASC) AS rn FROM sc0) t
       |  WHERE rn <= 3),
       |cand AS (SELECT DISTINCT u, v FROM (
       |  SELECT u, v FROM g0
       |  UNION ALL SELECT v AS u, u AS v FROM g0
       |  UNION ALL SELECT a.u, b.v
       |    FROM g0 a JOIN g0 b ON a.v = b.u WHERE a.u <> b.v) tc1),
       |sc AS (
       |  SELECT c.u, c.v,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand c JOIN embeddings ea ON ea.vec_id = c.u
       |  JOIN embeddings eb ON eb.vec_id = c.v),
       |refined AS (
       |  SELECT u, v, cos FROM (
       |    SELECT u, v, cos, ROW_NUMBER() OVER (PARTITION BY u
       |      ORDER BY cos DESC, v ASC) AS rn FROM sc) t
       |  WHERE rn <= 3),
       |cand2 AS (SELECT DISTINCT u, v FROM (
       |  SELECT u, v FROM refined
       |  UNION ALL SELECT v AS u, u AS v FROM refined
       |  UNION ALL SELECT a.u, b.v
       |    FROM refined a JOIN refined b ON a.v = b.u WHERE a.u <> b.v) tc2),
       |sc2 AS (
       |  SELECT c.u, c.v,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand2 c JOIN embeddings ea ON ea.vec_id = c.u
       |  JOIN embeddings eb ON eb.vec_id = c.v),
       |refined2 AS (
       |  SELECT u, v, cos FROM (
       |    SELECT u, v, cos, ROW_NUMBER() OVER (PARTITION BY u
       |      ORDER BY cos DESC, v ASC) AS rn FROM sc2) t
       |  WHERE rn <= 3)""".stripMargin

  /** DuckDB mirror of VectorOps.l2Sq (no final sqrt — the ADC unit). */
  private def l2sqSql(a: String, b: String) =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), " +
      s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), (acc, x) -> acc + x)"

  def oracles: Map[String, String] = Map(
    // Outliers: per-label fixed-point per-dim means (floor(x·1e9) long
    // sums — double→DECIMAL casts round differently across engines, see
    // the query comment), the same cosine fold, rank-form gate. The
    // division chain (/1e9, then /COUNT) mirrors the Spark op order.
    "q120_embedding_outliers" ->
      s"""WITH cent AS (
         |  SELECT label, i - 1 AS pos,
         |    CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT))
         |         AS DOUBLE) / 1e9 / COUNT(*) AS mean
         |  FROM embeddings CROSS JOIN range(1, 65) t(i)
         |  GROUP BY 1, 2),
         |cl AS (SELECT label, list(mean ORDER BY pos) AS centroid
         |       FROM cent GROUP BY label),
         |sc AS (
         |  SELECT e.vec_id, e.label,
         |    ${cosSql("e.embedding", "c.centroid")} AS cos_centroid
         |  FROM embeddings e JOIN cl c USING (label)),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
         |    ORDER BY cos_centroid ASC, vec_id ASC) AS rn
         |  FROM sc)
         |SELECT label, vec_id, cos_centroid, CAST(rn AS INTEGER) AS rn
         |FROM r WHERE rn <= 3 ORDER BY label, rn""".stripMargin,
    "q111_kmeans" ->
      s"""WITH ${kmeansCte(8, 2)}
         |SELECT vec_id, cluster,
         |  COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
         |FROM af ORDER BY vec_id""".stripMargin,
    // SemDeDup: the same unrolled k-means cells, exact cosine >= 0.4
    // within each cell, transitive closure (reach) to components,
    // min-id representative — q52's closure pattern in embedding space.
    // k = max(8, ceil(n/64)) — the same corpus-derived dial as the Spark
    // side (n = COUNT(*) OVER () in the seed subquery).
    "q112_semdedup" ->
      s"""WITH RECURSIVE ${kmeansCte(
             "greatest(8, CAST(ceil(n / 64.0) AS BIGINT))", 2)},
         |mem AS (
         |  SELECT a.vec_id, a.cluster, e.embedding
         |  FROM af a JOIN embeddings e USING (vec_id)),
         |p0 AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |    ${cosSql("a.embedding", "b.embedding")} AS cosine
         |  FROM mem a JOIN mem b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
         |pairs AS (SELECT ia, ib FROM p0 WHERE cosine >= 0.4),
         |edges AS (SELECT ia AS src, ib AS dst FROM pairs
         |          UNION SELECT ib, ia FROM pairs),
         |reach(root, node) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
         |  UNION
         |  SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.node),
         |comp AS (SELECT root AS vec_id, MIN(node) AS component
         |         FROM reach GROUP BY root)
         |SELECT a.vec_id, a.cluster,
         |  COALESCE(c.component, a.vec_id) AS canonical,
         |  COALESCE(c.component, a.vec_id) = a.vec_id AS is_canonical
         |FROM af a LEFT JOIN comp c USING (vec_id)
         |ORDER BY a.vec_id""".stripMargin,
    // Two-level SemDeDup: the ivf2Assign rule unrolled — min-id fine
    // seeds, c ≈ √k coarse prefix, fine→coarse argmin, vector→effective-
    // coarse argmin, vector→fine argmin within the cell (all (L2 asc,
    // cell asc) tie-breaks), then q112's closure verbatim.
    "q138_semdedup_ivf2" ->
      s"""WITH RECURSIVE
         |$ivf2AfCte,
         |mem AS (
         |  SELECT a.vec_id, a.cluster, e.embedding
         |  FROM af a JOIN embeddings e USING (vec_id)),
         |p0 AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |    ${cosSql("a.embedding", "b.embedding")} AS cosine
         |  FROM mem a JOIN mem b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
         |pairs AS (SELECT ia, ib FROM p0 WHERE cosine >= 0.4),
         |edges AS (SELECT ia AS src, ib AS dst FROM pairs
         |          UNION SELECT ib, ia FROM pairs),
         |reach(root, node) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
         |  UNION
         |  SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.node),
         |comp AS (SELECT root AS vec_id, MIN(node) AS component
         |         FROM reach GROUP BY root)
         |SELECT a.vec_id, a.cluster,
         |  COALESCE(c.component, a.vec_id) AS canonical,
         |  COALESCE(c.component, a.vec_id) = a.vec_id AS is_canonical
         |FROM af a LEFT JOIN comp c USING (vec_id)
         |ORDER BY a.vec_id""".stripMargin,
    // PQ/ADC: per-subspace label-cell codebooks (16-dim slices), argmin
    // encoding, fixed-point ADC sums — every stage mirrors pqTopK.
    "q113_pq_adc_knn" ->
      s"""WITH books AS (
         |  SELECT sub, label AS cell, i - 1 AS pos,
         |    CAST(SUM(CAST(CAST(embedding[sub * 16 + i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |      / COUNT(*) AS mean
         |  FROM embeddings CROSS JOIN range(0, 4) s(sub)
         |                  CROSS JOIN range(1, 17) t(i)
         |  GROUP BY sub, label, i),
         |cents AS (
         |  SELECT sub, cell, list(mean ORDER BY pos) AS centroid
         |  FROM books GROUP BY sub, cell),
         |sl AS (
         |  SELECT vec_id, sub, embedding[sub * 16 + 1 : sub * 16 + 16] AS emb
         |  FROM embeddings CROSS JOIN range(0, 4) s(sub)),
         |enc AS (
         |  SELECT vec_id, sub, cell FROM (
         |    SELECT sl.vec_id, sl.sub, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY sl.vec_id, sl.sub
         |        ORDER BY ${l2sqSql("sl.emb", "c.centroid")} ASC, c.cell ASC) AS rn
         |    FROM sl JOIN cents c ON c.sub = sl.sub) t
         |  WHERE rn = 1),
         |qd AS (
         |  SELECT sl.vec_id AS query_id, sl.sub, c.cell,
         |    CAST(floor(${l2sqSql("sl.emb", "c.centroid")} * 1e9) AS BIGINT) AS d2_fp
         |  FROM sl JOIN cents c ON c.sub = sl.sub
         |  WHERE sl.vec_id < 8),
         |adc AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id, SUM(q.d2_fp) AS adc_fp
         |  FROM enc e JOIN qd q
         |    ON q.sub = e.sub AND q.cell = e.cell AND e.vec_id <> q.query_id
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT query_id, neighbor_id, CAST(adc_fp AS DOUBLE) / 1e9 AS adc,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc_fp ASC, neighbor_id ASC) AS rn
         |  FROM adc)
         |SELECT query_id, neighbor_id, adc, CAST(rn AS INTEGER) AS rn
         |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // IVF-PQ: q113's codebook/encoding/ADC CTEs verbatim, plus q54's
    // coarse probe (nprobe=2 per-label centroids) restricting the ADC join
    // to probed lists — both approximation levels unrolled exactly.
    "q170_ivfpq_knn" ->
      s"""WITH dims AS (
         |  SELECT label AS ccell, i - 1 AS pos,
         |         CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |           / COUNT(*) AS mean
         |  FROM embeddings CROSS JOIN range(1, 65) t(i)
         |  GROUP BY label, i),
         |ccents AS (
         |  SELECT ccell, list(mean ORDER BY pos) AS centroid
         |  FROM dims GROUP BY ccell),
         |qv AS (SELECT vec_id AS query_id, embedding AS q_emb
         |       FROM embeddings WHERE vec_id < 8),
         |ad AS (
         |  SELECT query_id, ccell,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |           ORDER BY ${l2Sql("q_emb", "centroid")} ASC, ccell ASC) AS crn
         |  FROM qv CROSS JOIN ccents),
         |assigned AS (SELECT query_id, ccell FROM ad WHERE crn <= 2),
         |books AS (
         |  SELECT sub, label AS cell, i - 1 AS pos,
         |    CAST(SUM(CAST(CAST(embedding[sub * 16 + i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |      / COUNT(*) AS mean
         |  FROM embeddings CROSS JOIN range(0, 4) s(sub)
         |                  CROSS JOIN range(1, 17) t(i)
         |  GROUP BY sub, label, i),
         |cents AS (
         |  SELECT sub, cell, list(mean ORDER BY pos) AS centroid
         |  FROM books GROUP BY sub, cell),
         |sl AS (
         |  SELECT vec_id, label AS ccell, sub,
         |         embedding[sub * 16 + 1 : sub * 16 + 16] AS emb
         |  FROM embeddings CROSS JOIN range(0, 4) s(sub)),
         |enc AS (
         |  SELECT vec_id, ccell, sub, cell FROM (
         |    SELECT sl.vec_id, sl.ccell, sl.sub, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY sl.vec_id, sl.sub
         |        ORDER BY ${l2sqSql("sl.emb", "c.centroid")} ASC, c.cell ASC) AS rn
         |    FROM sl JOIN cents c ON c.sub = sl.sub) t
         |  WHERE rn = 1),
         |qd AS (
         |  SELECT sl.vec_id AS query_id, sl.sub, c.cell,
         |    CAST(floor(${l2sqSql("sl.emb", "c.centroid")} * 1e9) AS BIGINT) AS d2_fp
         |  FROM sl JOIN cents c ON c.sub = sl.sub
         |  WHERE sl.vec_id < 8),
         |adc AS (
         |  SELECT q.query_id, e.ccell, e.vec_id AS neighbor_id,
         |         SUM(q.d2_fp) AS adc_fp
         |  FROM enc e
         |  JOIN assigned a ON a.ccell = e.ccell AND e.vec_id <> a.query_id
         |  JOIN qd q ON q.query_id = a.query_id AND q.sub = e.sub
         |           AND q.cell = e.cell
         |  GROUP BY 1, 2, 3),
         |r AS (
         |  SELECT query_id, ccell, neighbor_id,
         |    CAST(adc_fp AS DOUBLE) / 1e9 AS adc,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc_fp ASC, neighbor_id ASC) AS rn
         |  FROM adc)
         |SELECT query_id, ccell, neighbor_id, adc, CAST(rn AS INTEGER) AS rn
         |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // Confusion matrix: per-label centroids (the q28 dims/cents CTEs),
    // per-vector argmin by (L2 asc, cell asc), (label, pred) counts with
    // per-label row shares.
    "q174_centroid_confusion" ->
      s"""WITH dims AS (
         |  SELECT label AS cell, i - 1 AS pos,
         |         CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |           / COUNT(*) AS mean
         |  FROM embeddings CROSS JOIN range(1, 65) t(i)
         |  GROUP BY label, i),
         |cents AS (
         |  SELECT cell, list(mean ORDER BY pos) AS centroid
         |  FROM dims GROUP BY cell),
         |asg AS (
         |  SELECT e.vec_id, e.label, c.cell AS pred,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${l2Sql("e.embedding", "c.centroid")} ASC, c.cell ASC) AS rn
         |  FROM embeddings e CROSS JOIN cents c),
         |a AS (SELECT vec_id, label, pred FROM asg WHERE rn = 1),
         |t AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
         |      FROM a GROUP BY 1),
         |m AS (SELECT label, pred, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM a GROUP BY 1, 2)
         |SELECT m.label, m.pred, m.n,
         |  CAST(m.n AS DOUBLE) / CAST(t.n_label AS DOUBLE) AS frac
         |FROM m JOIN t ON t.label = m.label
         |ORDER BY m.label, m.pred""".stripMargin,
    // Matryoshka overlap: two exact rankings (full 64 dims / first 16
    // dims), intersection counted per query, zero-overlap queries kept.
    "q172_matryoshka_overlap" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |           FROM embeddings WHERE vec_id < 8),
         |fs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY ${cosSql("q_emb", "e.embedding")} DESC, e.vec_id ASC) AS rn
         |  FROM q JOIN embeddings e ON e.vec_id <> query_id),
         |ls AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY ${cosSql("q_emb[1:16]", "e.embedding[1:16]")} DESC, e.vec_id ASC) AS rn
         |  FROM q JOIN embeddings e ON e.vec_id <> query_id),
         |ov AS (
         |  SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
         |  FROM (SELECT query_id, neighbor_id FROM fs WHERE rn <= 5) f
         |  JOIN (SELECT query_id, neighbor_id FROM ls WHERE rn <= 5) l
         |    ON l.query_id = f.query_id AND l.neighbor_id = f.neighbor_id
         |  GROUP BY 1)
         |SELECT q.query_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
         |  CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / 5.0 AS overlap_frac
         |FROM q LEFT JOIN ov ON ov.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin,
    "q38_cosine_hof" ->
      s"""SELECT a.vec_id AS ia, b.vec_id AS ib,
         |       ${cosSql("a.embedding", "b.embedding")} AS cosine
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE a.vec_id < 300 AND b.vec_id < 300
         |  AND ${cosSql("a.embedding", "b.embedding")} >= 0.35
         |ORDER BY ia, ib""".stripMargin,
    "q25_knn_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |           FROM embeddings WHERE vec_id < 8),
         |s AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         ${cosSql("q_emb", "e.embedding")} AS cosine
         |  FROM q JOIN embeddings e ON e.vec_id <> query_id),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |  FROM s)
         |SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rn
         |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    "q26_cosine_pairs" ->
      s"""SELECT a.vec_id AS ia, b.vec_id AS ib,
         |       ${cosSql("a.embedding", "b.embedding")} AS cosine
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35
         |ORDER BY ia, ib""".stripMargin,
    "q27_lsh_pairs" ->
      s"""WITH sig AS (
         |  SELECT vec_id, embedding, $sigSql AS bucket FROM embeddings)
         |SELECT a.vec_id AS ia, b.vec_id AS ib,
         |       ${cosSql("a.embedding", "b.embedding")} AS cosine
         |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.2
         |ORDER BY ia, ib""".stripMargin,
    // q74 = q27 through the optimizer-rule rewrite — same oracle verbatim.
    "q74_approx_join_rule" ->
      s"""WITH sig AS (
         |  SELECT vec_id, embedding, $sigSql AS bucket FROM embeddings)
         |SELECT a.vec_id AS ia, b.vec_id AS ib,
         |       ${cosSql("a.embedding", "b.embedding")} AS cosine
         |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.2
         |ORDER BY ia, ib""".stripMargin,
    "q28_ivf_knn" -> ivfOracle(nprobe = 1),
    "q54_ivf_multiprobe" -> ivfOracle(nprobe = 2),
    // Prototypicality prune: the unrolled q111 k-means CTE (af = final
    // assignment), FIXED-POINT per-cluster centroids (q120's cent/cl CTE
    // keyed on the k-means cell), cosine to the own-cell centroid,
    // per-cell (cos desc, vec_id) rank, top-quartile (most prototypical)
    // marked pruned.
    // kNN graph: the shared ivf2 cells for the warm start, md5 random
    // buckets for the reach, TWO NN-descent rounds (UNION = Spark's
    // distinct), all three graphs flagged against the exact brute-force
    // top-3 on the adaptive id-hash audit slice (mod = max(8, N//512)).
    "q220_knn_graph" ->
      // chain = the shared recursion-safe form (knnChainCte — explicit
      // DISTINCT over UNION ALL, so the same text serves q228's recursive
      // closure); this query itself needs no recursion
      s"""WITH $ivf2AfCte,
         |$knnChainCte,
         |aud AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
         |        AS BIGINT)
         |        % greatest((SELECT COUNT(*) FROM embeddings) // 512, 8)
         |        = 0),
         |ex AS (
         |  SELECT u, v FROM (
         |    SELECT a.vec_id AS u, b.vec_id AS v,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY ${cosSql("a.embedding", "b.embedding")} DESC,
         |          b.vec_id ASC) AS rn
         |    FROM aud a JOIN embeddings b
         |      ON a.vec_id <> b.vec_id) t
         |  WHERE rn <= 3)
         |SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM aud) AS n_audited,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN i.u IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS recall_init,
         |  CAST(SUM(CASE WHEN r.u IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS recall_refined,
         |  CAST(SUM(CASE WHEN r2.u IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS recall_refined2
         |FROM ex x
         |LEFT JOIN init i ON x.u = i.u AND x.v = i.v
         |LEFT JOIN refined r ON x.u = r.u AND x.v = r.v
         |LEFT JOIN refined2 r2 ON x.u = r2.u AND x.v = r2.v""".stripMargin,
    // Semantic dedup off the kNN artifact: the same chain (the artifact's
    // contents ARE refined2 — the q146/q209 consumer-oracle discipline:
    // the oracle models the artifact read as a recompute), edges at
    // cos >= 0.4 symmetrized, transitive closure (reach), min-id
    // canonical, coalesce-to-self for unpaired vectors.
    "q228_semdedup_knn_artifact" ->
      s"""WITH RECURSIVE $ivf2AfCte,
         |$knnChainCte,
         |sem AS (
         |  SELECT u AS src, v AS dst FROM refined2 WHERE cos >= 0.4
         |  UNION ALL
         |  SELECT v, u FROM refined2 WHERE cos >= 0.4),
         |reach(root, node) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM sem) t
         |  UNION
         |  SELECT r.root, e.dst FROM reach r JOIN sem e ON e.src = r.node),
         |comp AS (SELECT root AS vec_id, MIN(node) AS canonical
         |         FROM reach GROUP BY root)
         |SELECT e.vec_id,
         |  COALESCE(c.canonical, e.vec_id) AS canonical,
         |  COALESCE(c.canonical, e.vec_id) <> e.vec_id AS pruned
         |FROM embeddings e LEFT JOIN comp c USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin,
    // kNN-graph CDC maintenance: the v1 chain (q220's CTEs — fine/f2c/
    // ecoarse are the FROZEN books, af the frozen cells, refined2 the v1
    // graph) + the full maintenance rule — tombstone drop, touched-list
    // repair (reverse + neighbors-of-neighbors), added routed through the
    // frozen books (the vc/af argmin shapes on the added table), one
    // localized descent round, merge-on-read composition. Mirrors
    // KnnGraphArtifact.maintainCdcDelta/readDelta clause for clause.
    "q233_knn_maintenance" ->
      s"""WITH $ivf2AfCte,
         |$knnChainCte,
         |mg1 AS MATERIALIZED (SELECT u, v, cos FROM refined2),
         |maf0 AS MATERIALIZED (SELECT vec_id, cluster FROM af),
         |mrem AS MATERIALIZED (
         |  SELECT vec_id FROM embeddings WHERE vec_id % 13 = 0),
         |madd AS MATERIALIZED (
         |  SELECT vec_id + ${TextQueries.AddedDocIdOffset} AS vec_id,
         |    list_transform(embedding, x -> -x) AS embedding
         |  FROM embeddings WHERE vec_id % 11 = 0),
         |me2 AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 13 <> 0
         |  UNION ALL SELECT vec_id, embedding FROM madd),
         |mg1s AS MATERIALIZED (
         |  SELECT u, v, cos FROM mg1
         |  WHERE u NOT IN (SELECT vec_id FROM mrem)
         |    AND v NOT IN (SELECT vec_id FROM mrem)),
         |mtu AS MATERIALIZED (
         |  SELECT DISTINCT u FROM mg1
         |  WHERE v IN (SELECT vec_id FROM mrem)
         |    AND u NOT IN (SELECT vec_id FROM mrem)),
         |mac AS (
         |  SELECT vec_id, embedding, ccell FROM (
         |    SELECT a.vec_id, a.embedding, c.ccell,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY ${l2Sql("a.embedding", "c.ccentroid")} ASC, c.ccell ASC) AS rn
         |    FROM madd a CROSS JOIN ecoarse c) t
         |  WHERE rn = 1),
         |maf AS MATERIALIZED (
         |  SELECT vec_id, cluster FROM (
         |    SELECT v.vec_id, f.cell AS cluster,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${l2Sql("v.embedding", "f.centroid")} ASC, f.cell ASC) AS rn
         |    FROM mac v JOIN f2c f ON f.ccell = v.ccell) t
         |  WHERE rn = 1),
         |mscell AS MATERIALIZED (
         |  SELECT vec_id, cluster FROM maf0 WHERE vec_id % 13 <> 0),
         |mcadd AS (
         |  SELECT a.vec_id AS u, s.vec_id AS v
         |    FROM maf a JOIN mscell s USING (cluster)
         |  UNION ALL
         |  SELECT s.vec_id, a.vec_id FROM maf a JOIN mscell s USING (cluster)
         |  UNION ALL
         |  SELECT a.vec_id, b.vec_id FROM maf a JOIN maf b
         |    ON a.cluster = b.cluster),
         |mcrep AS (
         |  SELECT g.v AS u, g.u AS v FROM mg1s g
         |  WHERE g.v IN (SELECT u FROM mtu)
         |  UNION ALL
         |  SELECT a.u, b.v FROM mg1s a JOIN mg1s b ON a.v = b.u
         |  WHERE a.u IN (SELECT u FROM mtu)),
         |mcnew AS MATERIALIZED (
         |  SELECT DISTINCT u, v FROM (
         |    SELECT u, v FROM mcadd UNION ALL SELECT u, v FROM mcrep) t
         |  WHERE u <> v
         |    AND NOT EXISTS (SELECT 1 FROM mg1s g WHERE g.u = t.u AND g.v = t.v)),
         |msc1 AS (
         |  SELECT c.u, c.v, ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |  FROM mcnew c JOIN me2 ea ON ea.vec_id = c.u
         |  JOIN me2 eb ON eb.vec_id = c.v),
         |mtchd AS MATERIALIZED (
         |  SELECT DISTINCT u FROM (
         |    SELECT u FROM mtu UNION ALL SELECT vec_id FROM madd
         |    UNION ALL SELECT u FROM mcnew) t),
         |mgpt AS MATERIALIZED (
         |  SELECT u, v, cos FROM (
         |    SELECT u, v, cos, ROW_NUMBER() OVER (PARTITION BY u
         |      ORDER BY cos DESC, v ASC) AS rn
         |    FROM (SELECT g.u, g.v, g.cos FROM mg1s g
         |            WHERE g.u IN (SELECT u FROM mtchd)
         |          UNION ALL SELECT u, v, cos FROM msc1) t0) t
         |  WHERE rn <= 3),
         |mgp AS MATERIALIZED (
         |  SELECT u, v, cos FROM mg1s WHERE u NOT IN (SELECT u FROM mtchd)
         |  UNION ALL SELECT u, v, cos FROM mgpt),
         |mcl AS MATERIALIZED (
         |  SELECT DISTINCT u, v FROM (
         |    SELECT g.v AS u, g.u AS v FROM mgp g
         |    WHERE g.v IN (SELECT u FROM mtchd)
         |    UNION ALL
         |    SELECT a.u, b.v FROM mgpt a JOIN mgp b ON a.v = b.u) t
         |  WHERE u <> v
         |    AND NOT EXISTS (SELECT 1 FROM mgp g WHERE g.u = t.u AND g.v = t.v)),
         |msc2 AS (
         |  SELECT c.u, c.v, ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |  FROM mcl c JOIN me2 ea ON ea.vec_id = c.u
         |  JOIN me2 eb ON eb.vec_id = c.v),
         |mdg AS (
         |  SELECT u, v, cos FROM (
         |    SELECT u, v, cos, ROW_NUMBER() OVER (PARTITION BY u
         |      ORDER BY cos DESC, v ASC) AS rn
         |    FROM (SELECT u, v, cos FROM mgpt
         |          UNION ALL SELECT u, v, cos FROM msc2) t0) t
         |  WHERE rn <= 3)
         |SELECT u, v, cos FROM (
         |  SELECT u, v, cos FROM mg1
         |  WHERE u NOT IN (SELECT vec_id FROM mrem)
         |    AND u NOT IN (SELECT u FROM mtchd)
         |  UNION ALL
         |  SELECT u, v, cos FROM mdg) t
         |ORDER BY u, v""".stripMargin,
    // Semantic split off the persisted closure: q228's chain + q136's
    // md5-bucket split rule on the SEMANTIC canonical.
    "q234_semantic_split" ->
      s"""WITH RECURSIVE $ivf2AfCte,
         |$knnChainCte,
         |sem AS (
         |  SELECT u AS src, v AS dst FROM refined2 WHERE cos >= 0.4
         |  UNION ALL
         |  SELECT v, u FROM refined2 WHERE cos >= 0.4),
         |reach(root, node) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM sem) t
         |  UNION
         |  SELECT r.root, e.dst FROM reach r JOIN sem e ON e.src = r.node),
         |comp AS (SELECT root AS vec_id, MIN(node) AS canonical
         |         FROM reach GROUP BY root),
         |asg AS (
         |  SELECT e.vec_id, COALESCE(c.canonical, e.vec_id) AS canonical
         |  FROM embeddings e LEFT JOIN comp c USING (vec_id)),
         |bkt AS (
         |  SELECT vec_id, canonical,
         |    CAST('0x' || substr(md5(CAST(canonical AS VARCHAR)), 1, 15)
         |      AS BIGINT) % 100 AS bucket
         |  FROM asg)
         |SELECT vec_id, canonical, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM bkt ORDER BY vec_id""".stripMargin,
    "q187_prototype_prune" ->
      s"""WITH ${kmeansCte(8, 2)},
         |mem AS (
         |  SELECT a.vec_id, a.cluster, e.embedding
         |  FROM af a JOIN embeddings e USING (vec_id)),
         |cent AS (
         |  SELECT cluster, i - 1 AS pos,
         |    CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT))
         |         AS DOUBLE) / 1e9 / COUNT(*) AS mean
         |  FROM mem CROSS JOIN range(1, 65) t(i)
         |  GROUP BY 1, 2),
         |cl AS (SELECT cluster, list(mean ORDER BY pos) AS centroid
         |       FROM cent GROUP BY cluster),
         |sc AS (
         |  SELECT m.vec_id, m.cluster,
         |    ${cosSql("m.embedding", "c.centroid")} AS proto_cos
         |  FROM mem m JOIN cl c USING (cluster)),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
         |      ORDER BY proto_cos DESC, vec_id ASC) AS rn,
         |    COUNT(*) OVER (PARTITION BY cluster) AS cell_n
         |  FROM sc)
         |SELECT vec_id, cluster, proto_cos, CAST(rn AS INTEGER) AS rn,
         |  rn <= floor(CAST(cell_n AS DOUBLE) / 4.0) AS pruned
         |FROM r ORDER BY vec_id""".stripMargin,
    // Cell-balance report over the TWO-LEVEL index (q138's unrolled af
    // rule, shared CTE): `fine`'s row count IS the realized seed count
    // (min(n, k)), so cells_seeded needs no separate clamp.
    "q188_ivf_balance" ->
      s"""WITH $ivf2AfCte,
         |sizes AS (
         |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM af GROUP BY cluster),
         |seeded AS (SELECT CAST(COUNT(*) AS BIGINT) AS cells_seeded FROM fine)
         |SELECT cells_seeded,
         |  CAST(COUNT(*) AS BIGINT) AS cells_used,
         |  cells_seeded - COUNT(*) AS cells_empty,
         |  CAST(SUM(sz) AS BIGINT) AS n_vecs,
         |  MIN(sz) AS min_size,
         |  MAX(sz) AS max_size,
         |  CAST(SUM(sz) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_size,
         |  CAST(MAX(sz) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
         |    / CAST(SUM(sz) AS DOUBLE) AS imbalance
         |FROM sizes CROSS JOIN seeded
         |GROUP BY cells_seeded""".stripMargin,
    // Histogram prune: the shared two-level af rule, fixed-point
    // centroids, q169's cum-desc threshold CTE at 64-bin granularity.
    "q195_prototype_prune_hist" ->
      s"""WITH $ivf2AfCte,
         |mem AS (
         |  SELECT a.vec_id, a.cluster, e.embedding
         |  FROM af a JOIN embeddings e USING (vec_id)),
         |cent AS (
         |  SELECT cluster, i - 1 AS pos,
         |    CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT))
         |         AS DOUBLE) / 1e9 / COUNT(*) AS mean
         |  FROM mem CROSS JOIN range(1, 65) t(i)
         |  GROUP BY 1, 2),
         |cl AS (SELECT cluster, list(mean ORDER BY pos) AS centroid
         |       FROM cent GROUP BY cluster),
         |b AS (
         |  SELECT m.vec_id, m.cluster,
         |    ${cosSql("m.embedding", "c.centroid")} AS proto_cos,
         |    greatest(least(CAST(floor((${cosSql("m.embedding", "c.centroid")} + 1.0) * 32.0) AS BIGINT), 63), 0) AS bin
         |  FROM mem m JOIN cl c USING (cluster)),
         |h AS (SELECT cluster, bin, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM b GROUP BY 1, 2),
         |t2 AS (
         |  SELECT cluster, bin,
         |    SUM(cnt) OVER (PARTITION BY cluster ORDER BY bin DESC) AS cum,
         |    SUM(cnt) OVER (PARTITION BY cluster) AS total
         |  FROM h),
         |thr AS (
         |  SELECT cluster, MAX(bin) AS thr_bin FROM t2
         |  WHERE cum >= CAST(ceil(CAST(total AS DOUBLE) * 0.25) AS BIGINT)
         |  GROUP BY 1)
         |SELECT b.vec_id, b.cluster, b.proto_cos, b.bin, thr.thr_bin,
         |  b.bin >= thr.thr_bin AS pruned
         |FROM b JOIN thr USING (cluster) ORDER BY b.vec_id""".stripMargin,
    // Label noise: the shared two-level af rule, per-vector ranked
    // same-cell neighbors, (count desc, label asc) majority argmax,
    // null-safe suspect coalesce for singleton cells.
    "q200_label_noise_knn" ->
      s"""WITH $ivf2AfCte,
         |mem AS (
         |  SELECT a.vec_id, a.cluster, e.label, e.embedding
         |  FROM af a JOIN embeddings e USING (vec_id)),
         |nb AS (
         |  SELECT a.vec_id, b.vec_id AS nb_id, b.label AS nb_label,
         |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${cosSql("a.embedding", "b.embedding")} DESC,
         |        b.vec_id ASC) AS rn
         |  FROM mem a JOIN mem b
         |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
         |cnt AS (
         |  SELECT vec_id, nb_label, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM nb WHERE rn <= 5 GROUP BY 1, 2),
         |maj AS (
         |  SELECT vec_id, nb_label AS maj_label, c AS maj_count FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY c DESC, nb_label ASC) AS r
         |    FROM cnt) t
         |  WHERE r = 1)
         |SELECT m.vec_id, m.label, j.maj_label, j.maj_count,
         |  COALESCE(j.maj_count >= 3 AND j.maj_label <> m.label, FALSE)
         |    AS suspect
         |FROM mem m LEFT JOIN maj j USING (vec_id)
         |ORDER BY m.vec_id""".stripMargin,
    // JL distortion: the 16 projection planes recomputed from md5 parity
    // (the engine bakes the identical signs in as literals), distances as
    // the house sequential folds, ratio guarded against the d_orig = 0
    // degenerate pair.
    "q189_jl_distortion" ->
      s"""WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 32),
         |proj AS (
         |  SELECT vec_id, embedding,
         |    [${(0 until 16).map(j => jlProjSql("embedding", j)).mkString(",\n     ")}] AS pr
         |  FROM s),
         |p AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |    ${l2Sql("a.embedding", "b.embedding")} AS d_orig,
         |    ${l2Sql("a.pr", "b.pr")} AS d_proj
         |  FROM proj a JOIN proj b ON a.vec_id < b.vec_id)
         |SELECT ia, ib, d_orig, d_proj,
         |  CASE WHEN d_orig > 0.0 THEN d_proj / (4.0 * d_orig) END AS ratio
         |FROM p ORDER BY ia, ib""".stripMargin,
    // Sign codes as the same sequential acc·2+bit fold (list_prepend seeds
    // the init), Hamming via bit_count(xor) — all-integer.
    "q103_hamming_knn" ->
      s"""WITH codes AS (
         |  SELECT vec_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(embedding[1:32],
         |        x -> CASE WHEN CAST(x AS DOUBLE) >= 0
         |             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |      (acc, b) -> acc * 2 + b) AS lo,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(embedding[33:64],
         |        x -> CASE WHEN CAST(x AS DOUBLE) >= 0
         |             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |      (acc, b) -> acc * 2 + b) AS hi
         |  FROM embeddings),
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS hamming
         |  FROM codes q JOIN codes c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY hamming ASC, neighbor_id ASC) AS rn
         |  FROM s)
         |SELECT query_id, neighbor_id, CAST(hamming AS BIGINT) AS hamming,
         |  CAST(rn AS INTEGER) AS rn
         |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // q25's oracle with both sides quantized: the scale cancels, so the
    // pair score is an exact integer dot — only the final sqrt/divide is
    // floating point, correctly rounded on both engines.
    "q102_quantized_knn" ->
      s"""WITH qz AS (
         |  SELECT vec_id, $quantizeSql AS code
         |  FROM (SELECT vec_id, embedding,
         |          list_max(list_transform(embedding,
         |            x -> abs(CAST(x AS DOUBLE)))) AS mx
         |        FROM embeddings) t),
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${cosInt8Sql("q.code", "c.code")} AS cosine
         |  FROM qz q JOIN qz c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |  FROM s)
         |SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rn
         |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // Recall = |approx ∩ exact| / |exact| on fixed data — pure integer
    // arithmetic once the underlying pair/top-k sets agree (q25-q27/q54
    // oracles pin those), so the ratio is hash-exact across engines.
    "q99_ann_recall" ->
      s"""WITH exact AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |         ${cosSql("a.embedding", "b.embedding")} AS cosine
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.2),
         |sig AS (
         |  SELECT vec_id, embedding, $sigSql AS bucket FROM embeddings),
         |lshp AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib
         |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.2),
         |lrow AS (
         |  SELECT 'lsh_pairs' AS metric,
         |    (SELECT COUNT(*) FROM exact e JOIN lshp l
         |       ON e.ia = l.ia AND e.ib = l.ib) AS hits,
         |    (SELECT COUNT(*) FROM exact) AS total),
         |lrow5 AS (
         |  SELECT 'lsh_pairs@0.4' AS metric,
         |    (SELECT COUNT(*) FROM exact e JOIN lshp l
         |       ON e.ia = l.ia AND e.ib = l.ib WHERE e.cosine >= 0.4) AS hits,
         |    (SELECT COUNT(*) FROM exact WHERE cosine >= 0.4) AS total),
         |sig32 AS (
         |  SELECT vec_id, embedding, ${sigSqlN(32)} AS bucket FROM embeddings),
         |bsig AS (
         |  SELECT vec_id, embedding, b AS band,
         |         substr(bucket, b * 8 + 1, 8) AS key
         |  FROM sig32 CROSS JOIN range(0, 4) t(b)),
         |bandp AS (
         |  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |  FROM bsig a JOIN bsig b
         |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.2),
         |brow AS (
         |  SELECT 'lsh_banded' AS metric,
         |    (SELECT COUNT(*) FROM exact e JOIN bandp l
         |       ON e.ia = l.ia AND e.ib = l.ib) AS hits,
         |    (SELECT COUNT(*) FROM exact) AS total),
         |brow5 AS (
         |  SELECT 'lsh_banded@0.4' AS metric,
         |    (SELECT COUNT(*) FROM exact e JOIN bandp l
         |       ON e.ia = l.ia AND e.ib = l.ib WHERE e.cosine >= 0.4) AS hits,
         |    (SELECT COUNT(*) FROM exact WHERE cosine >= 0.4) AS total),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |      FROM embeddings WHERE vec_id < 8),
         |bs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         ${cosSql("q_emb", "e.embedding")} AS cosine
         |  FROM q JOIN embeddings e ON e.vec_id <> query_id),
         |br AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |  FROM bs),
         |brute AS (SELECT query_id, neighbor_id FROM br WHERE rn <= 5),
         |dims AS (
         |  SELECT label AS cell, i - 1 AS pos,
         |         CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |           / COUNT(*) AS mean
         |  FROM embeddings CROSS JOIN range(1, 65) t(i)
         |  GROUP BY label, i),
         |cents AS (
         |  SELECT cell, list(mean ORDER BY pos) AS centroid
         |  FROM dims GROUP BY cell),
         |ad AS (
         |  SELECT query_id, q_emb, cell,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |           ORDER BY ${l2Sql("q_emb", "centroid")} ASC, cell ASC) AS crn
         |  FROM q CROSS JOIN cents),
         |assigned AS (SELECT query_id, q_emb, cell FROM ad WHERE crn <= 2),
         |probe AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         ${cosSql("q_emb", "e.embedding")} AS cosine
         |  FROM assigned a JOIN embeddings e
         |    ON e.label = a.cell AND e.vec_id <> a.query_id),
         |ir AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |  FROM probe),
         |ivf AS (SELECT query_id, neighbor_id FROM ir WHERE rn <= 5),
         |irow AS (
         |  SELECT 'ivf_top5' AS metric,
         |    (SELECT COUNT(*) FROM brute b JOIN ivf v
         |       ON b.query_id = v.query_id AND b.neighbor_id = v.neighbor_id) AS hits,
         |    (SELECT COUNT(*) FROM brute) AS total)
         |SELECT metric, hits, total,
         |  CAST(hits AS DOUBLE) / CAST(total AS DOUBLE) AS recall
         |FROM (SELECT * FROM irow UNION ALL SELECT * FROM lrow
         |      UNION ALL SELECT * FROM lrow5
         |      UNION ALL SELECT * FROM brow
         |      UNION ALL SELECT * FROM brow5) u
         |ORDER BY metric""".stripMargin,
    // Banded variant of q27's oracle: the 32-plane signature, four 8-bit
    // prefix slices as band keys, DISTINCT over the per-band candidate
    // union, exact cosine verify.
    "q100_lsh_banded_pairs" ->
      s"""WITH sig AS (
         |  SELECT vec_id, embedding, ${sigSqlN(32)} AS bucket FROM embeddings),
         |bsig AS (
         |  SELECT vec_id, embedding, b AS band,
         |         substr(bucket, b * 8 + 1, 8) AS key
         |  FROM sig CROSS JOIN range(0, 4) t(b))
         |SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib,
         |       ${cosSql("a.embedding", "b.embedding")} AS cosine
         |FROM bsig a JOIN bsig b
         |  ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.2
         |ORDER BY ia, ib""".stripMargin,

    // Source drift: per-(source, pos) fixed-point sums over the hemb
    // mirror, global centroid aggregated from the per-source sums, one
    // division per mean, the same sequential-fold cosine.
    "q177_source_embed_drift" ->
      s"""$hashEmbCte,
         |sv AS (SELECT d.source, h.pos,
         |         CAST(SUM(CAST(floor(h.val * 1e9) AS BIGINT)) AS BIGINT) AS s_fp
         |       FROM hemb h JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM documents GROUP BY 1),
         |sc AS (SELECT sv.source,
         |         list((CAST(s_fp AS DOUBLE) / 1e9) / n ORDER BY pos) AS centroid
         |       FROM sv JOIN ns ON ns.source = sv.source GROUP BY sv.source),
         |gv AS (SELECT pos, CAST(SUM(s_fp) AS BIGINT) AS g_fp
         |       FROM sv GROUP BY 1),
         |nt AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM ns),
         |gc AS (SELECT list((CAST(g_fp AS DOUBLE) / 1e9) / nt.nt ORDER BY pos)
         |         AS g_centroid
         |       FROM gv, nt)
         |SELECT sc.source, ns.n AS n_docs,
         |  ${cosSql("sc.centroid", "gc.g_centroid")} AS cos_to_global
         |FROM sc JOIN ns ON ns.source = sc.source CROSS JOIN gc
         |ORDER BY sc.source""".stripMargin,

    // Feature-hashing embedder mirror: pos = h % 64, sign = bit 6 of the
    // portable 60-bit md5 hash; exact int64 signed counts, 0..63 zero-fill,
    // norm = sqrt of the exact sum-of-squares (≥1 guard), one division.
    "q148_hash_embed" ->
      s"""$hashEmbCte
         |SELECT doc_id, pos, val FROM hemb ORDER BY doc_id, pos""".stripMargin,

    // The q25-discipline brute-force over hash embeds: dense vectors
    // reassembled per doc, the same sequential-fold cosine, top-3 window.
    // Query side mirrors the engine's deterministic 1/16 slice.
    "q149_hash_embed_knn" ->
      s"""$hashEmbCte,
         |earr AS (SELECT doc_id, list(val ORDER BY pos) AS embedding
         |         FROM hemb GROUP BY doc_id),
         |sc AS (
         |  SELECT a.doc_id, b.doc_id AS nbr,
         |    ${cosSql("a.embedding", "b.embedding")} AS cosine
         |  FROM earr a JOIN earr b ON a.doc_id <> b.doc_id
         |  WHERE a.doc_id % 16 = 0)
         |SELECT doc_id, nbr, cosine, CAST(rn AS INTEGER) AS rn
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |        ORDER BY cosine DESC, nbr ASC) AS rn FROM sc) t
         |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    // q100's banded sign-LSH mirror with the embeddings sourced from the
    // hash-embed CTE instead of the parquet table, at q150's wider dial:
    // 64 planes, 4 bands of 16 bits.
    "q150_hash_embed_lsh" -> hashEmbedLshSql,

    // q178 re-derives the artifact's every value from the raw text — the
    // materialize/read cycle must be a no-op on values.
    "q178_embed_artifact" ->
      s"""$hashEmbCte
         |SELECT doc_id AS vec_id, pos, val FROM hemb
         |ORDER BY vec_id, pos""".stripMargin,

    // q179 = q150's oracle verbatim: the artifact-consuming plan must
    // emit the identical pair set and cosines.
    "q179_artifact_lsh" -> hashEmbedLshSql,

    // q232: v1 chain (idf over the FULL v1 corpus) for the surviving
    // docs ∪ the delta chain under the SAME (frozen) idf — the builder
    // CTEs guarantee the two instantiations share every arithmetic rule,
    // and the composed merge-on-read output is what the hash pins.
    "q232_embed_maintenance" ->
      s"""WITH ${hashTfCtes("v", "documents")},
         |vst AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
         |idf AS (SELECT token,
         |          CAST(${graft.functions.IntLn.iln1e9Sql("n_docs")} - ${graft.functions.IntLn.iln1e9Sql("df")} AS DOUBLE) / 1e9 AS idf
         |        FROM (SELECT token, COUNT(*) AS df FROM vtft GROUP BY token) d
         |        CROSS JOIN vst),
         |${hashApplyCtes("v", "documents", "idf")},
         |dd2 AS (SELECT doc_id + ${TextQueries.AddedDocIdOffset} AS doc_id,
         |               'v2new ' || text AS text
         |        FROM documents WHERE doc_id % 11 = 0),
         |${hashTfCtes("x", "dd2")},
         |${hashApplyCtes("x", "dd2", "idf")}
         |SELECT vec_id, pos, val FROM (
         |  SELECT doc_id AS vec_id, pos, val FROM vhemb
         |  WHERE doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id AS vec_id, pos, val FROM xhemb) t
         |ORDER BY vec_id, pos""".stripMargin,

    // Hard negatives: q25's windowed-top-k discipline with the
    // label-mismatch predicate in the join.
    "q159_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS q_label,
         |                  embedding AS q_emb
         |           FROM embeddings WHERE vec_id % 50 = 0),
         |s AS (
         |  SELECT query_id, e.vec_id AS neg_id,
         |         ${cosSql("q_emb", "e.embedding")} AS cosine
         |  FROM q JOIN embeddings e ON e.label <> q.q_label),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neg_id ASC) AS rn
         |  FROM s)
         |SELECT query_id, neg_id, cosine, CAST(rn AS INTEGER) AS rn
         |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,

    // Label-centroid similarity: fixed-point per-dim means (q120's floor
    // 1e9 cent CTE — portable, no decimal rounding-mode dependence),
    // pairwise sequential-fold cosine.
    "q165_label_centroid_sim" ->
      s"""WITH d AS (
         |  SELECT label, i - 1 AS pos,
         |    CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT))
         |         AS DOUBLE) / 1e9 / COUNT(*) AS mean
         |  FROM embeddings CROSS JOIN range(1, 65) t(i) GROUP BY 1, 2),
         |c AS (SELECT label, list(mean ORDER BY pos) AS centroid
         |      FROM d GROUP BY label),
         |n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM embeddings GROUP BY 1)
         |SELECT a.label AS la, b.label AS lb, na.n AS n_a, nb.n AS n_b,
         |  ${cosSql("a.centroid", "b.centroid")} AS cos_centroid
         |FROM c a JOIN c b ON a.label < b.label
         |JOIN n na ON na.label = a.label
         |JOIN n nb ON nb.label = b.label
         |ORDER BY la, lb""".stripMargin,

    // Label cohesion: q120's fixed-point centroids, then a fixed-point
    // mean of member→centroid cosines (floor(cos·1e9) BIGINT sum).
    "q167_label_cohesion" ->
      s"""WITH cent AS (
         |  SELECT label, i - 1 AS pos,
         |    CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT))
         |         AS DOUBLE) / 1e9 / COUNT(*) AS mean
         |  FROM embeddings CROSS JOIN range(1, 65) t(i)
         |  GROUP BY 1, 2),
         |cl AS (SELECT label, list(mean ORDER BY pos) AS centroid
         |       FROM cent GROUP BY label),
         |sc AS (
         |  SELECT e.label,
         |    ${cosSql("e.embedding", "c.centroid")} AS cos
         |  FROM embeddings e JOIN cl c USING (label))
         |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(floor(cos * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
         |    / COUNT(*) AS mean_cos,
         |  MIN(cos) AS min_cos, MAX(cos) AS max_cos
         |FROM sc GROUP BY label ORDER BY label""".stripMargin,

    // q185: the full fixed-point-moment → covariance → 8 un-normalized
    // power steps → projection chain unrolled (the q168 trajectory
    // pattern). Every fold runs in ascending index order — the same
    // sequence of IEEE ops as ml.Pca's driver loop.
    "q185_embedding_pca" -> pcaOracleSql
  )

  /** q185's oracle: moments and covariance exactly as ml.Pca computes
    * them (fixed-point long sums, covariance in pure double arithmetic
    * from the int64 factors — no HUGEINT widening, see Pca.covMatrix), then
    * the 8 power steps as list-comprehension matrix·vector products with
    * left-fold ascending-index summation. */
  private lazy val pcaOracleSql: String = {
    def matVec(mat: String, v: String) =
      s"""[list_reduce(
         |    list_prepend(0.0, list_transform(range(64),
         |      j -> $mat[CAST(i AS INTEGER)+1][CAST(j AS INTEGER)+1]
         |             * $v[CAST(j AS INTEGER)+1])),
         |    (a, b) -> a + b) for i in range(64)]""".stripMargin
    val steps = (1 to 8).map { k =>
      s"v$k AS (SELECT ${matVec("mat", "v")} AS v FROM cm, v${k - 1})"
    }.mkString(",\n")
    s"""WITH mom AS (
       |  SELECT i, j,
       |    CAST(SUM(CAST(floor(CAST(embedding[CAST(i AS INTEGER)+1] AS DOUBLE)
       |      * CAST(embedding[CAST(j AS INTEGER)+1] AS DOUBLE) * 1e9)
       |      AS BIGINT)) AS BIGINT) AS s
       |  FROM embeddings, range(64) ti(i), range(64) tj(j)
       |  GROUP BY i, j),
       |mm AS (
       |  SELECT i,
       |    CAST(SUM(CAST(floor(CAST(embedding[CAST(i AS INTEGER)+1] AS DOUBLE)
       |      * 1e9) AS BIGINT)) AS BIGINT) AS m,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM embeddings, range(64) ti(i) GROUP BY i),
       |c AS (
       |  SELECT mom.i, mom.j,
       |    (CAST(ma.n AS DOUBLE) * CAST(mom.s AS DOUBLE) * 1e9
       |        - CAST(ma.m AS DOUBLE) * CAST(mb.m AS DOUBLE))
       |      / (CAST(ma.n AS DOUBLE) * CAST(ma.n AS DOUBLE) * 1e18) AS cv
       |  FROM mom JOIN mm ma ON ma.i = mom.i JOIN mm mb ON mb.i = mom.j),
       |crow AS (SELECT i, list(cv ORDER BY j) AS vals FROM c GROUP BY i),
       |cm AS (SELECT list(vals ORDER BY i) AS mat FROM crow),
       |v0 AS (SELECT list_transform(range(64), x -> 1.0) AS v),
       |$steps
       |SELECT vec_id,
       |  list_reduce(
       |    list_prepend(0.0, list_transform(range(64),
       |      i -> CAST(embedding[CAST(i AS INTEGER)+1] AS DOUBLE)
       |             * v[CAST(i AS INTEGER)+1])),
       |    (a, b) -> a + b) AS pc1
       |FROM embeddings, v8 ORDER BY vec_id""".stripMargin
  }

  /** Shared DuckDB mirror of [[VectorOps.hashEmbedLong]] at dim 64
    * (q148/q149/q150): `hemb` = (doc_id, pos, val) — hashed tf·idf with
    * IntLn idf, fixed-point signed bucket sums, fixed-point norm.
    *
    * `hashEmbedLshSql` below is q150's full oracle — shared verbatim by
    * q179 (the artifact-consuming twin must emit the identical pair set
    * and cosines). */
  private lazy val hashEmbedLshSql =
    s"""$hashEmbCte,
       |earr AS (SELECT doc_id AS vec_id, list(val ORDER BY pos) AS embedding
       |         FROM hemb GROUP BY doc_id),
       |sig AS (
       |  SELECT vec_id, embedding, ${saltedSigSqlN(64)} AS bucket FROM earr),
       |bsig AS (
       |  SELECT vec_id, embedding, b AS band,
       |         substr(bucket, b * 16 + 1, 16) AS key
       |  FROM sig CROSS JOIN range(0, 4) t(b))
       |SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib,
       |       ${cosSql("a.embedding", "b.embedding")} AS cosine
       |FROM bsig a JOIN bsig b
       |  ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
       |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.9
       |ORDER BY ia, ib""".stripMargin

  private lazy val hashEmbCte =
    s"""WITH tok AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(trim(text), '\\s+'),
      |      w -> len(w) > 0)) AS token
      |  FROM documents),
      |tft AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |st AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      |idf AS (SELECT token,
      |          CAST(${graft.functions.IntLn.iln1e9Sql("n_docs")} - ${graft.functions.IntLn.iln1e9Sql("df")} AS DOUBLE) / 1e9 AS idf
      |        FROM (SELECT token, COUNT(*) AS df FROM tft GROUP BY token) d
      |        CROSS JOIN st),
      |w AS (SELECT t.doc_id, h % 64 AS pos,
      |        (1 - 2 * ((h >> 6) % 2))
      |          * CAST(floor(CAST(t.tf AS DOUBLE) * i.idf * 1e9) AS BIGINT) AS w_fp
      |      FROM (SELECT *,
      |              CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
      |            FROM tft) t
      |      JOIN idf i USING (token)),
      |cnt AS (SELECT doc_id, pos, SUM(w_fp) AS c_fp FROM w GROUP BY 1, 2),
      |grid AS (SELECT d.doc_id, u.pos
      |         FROM (SELECT DISTINCT doc_id FROM documents) d
      |         CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) u),
      |f AS (SELECT g.doc_id, g.pos,
      |        CAST(COALESCE(c.c_fp, 0) AS DOUBLE) / 1e9 AS c
      |      FROM grid g LEFT JOIN cnt c ON c.doc_id = g.doc_id AND c.pos = g.pos),
      |n AS (SELECT doc_id,
      |        sqrt(CAST(greatest(SUM(CAST(floor(c * c * 1e9) AS BIGINT)), 1) AS DOUBLE) / 1e9) AS norm
      |      FROM f GROUP BY doc_id),
      |hemb AS (SELECT f.doc_id, f.pos, f.c / n.norm AS val
      |         FROM f JOIN n USING (doc_id))""".stripMargin

  /** Name-prefixed tf CTEs of the hash embedder over `rel` — the q232
    * oracle instantiates the chain twice (v1 corpus / CDC delta) with the
    * SAME frozen idf table, so the chain is a builder, not a copy. */
  private def hashTfCtes(p: String, rel: String): String =
    s"""${p}tok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(trim(text), '\\s+'),
       |      w -> len(w) > 0)) AS token
       |  FROM $rel),
       |${p}tft AS (SELECT doc_id, token, COUNT(*) AS tf
       |            FROM ${p}tok GROUP BY 1, 2)""".stripMargin

  /** Name-prefixed weighting/normalization CTEs (the
    * [[graft.vector.VectorOps.hashEmbedLongWithIdf]] tail) over a tf
    * chain from [[hashTfCtes]] and a caller-named idf relation. */
  private def hashApplyCtes(p: String, rel: String, idfRel: String): String =
    s"""${p}w AS (SELECT t.doc_id, h % 64 AS pos,
       |        (1 - 2 * ((h >> 6) % 2))
       |          * CAST(floor(CAST(t.tf AS DOUBLE) * i.idf * 1e9) AS BIGINT) AS w_fp
       |      FROM (SELECT *,
       |              CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
       |            FROM ${p}tft) t
       |      JOIN $idfRel i USING (token)),
       |${p}cnt AS (SELECT doc_id, pos, SUM(w_fp) AS c_fp
       |            FROM ${p}w GROUP BY 1, 2),
       |${p}grid AS (SELECT d.doc_id, u.pos
       |         FROM (SELECT DISTINCT doc_id FROM $rel) d
       |         CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) u),
       |${p}f AS (SELECT g.doc_id, g.pos,
       |        CAST(COALESCE(c.c_fp, 0) AS DOUBLE) / 1e9 AS c
       |      FROM ${p}grid g LEFT JOIN ${p}cnt c
       |        ON c.doc_id = g.doc_id AND c.pos = g.pos),
       |${p}n AS (SELECT doc_id,
       |        sqrt(CAST(greatest(SUM(CAST(floor(c * c * 1e9) AS BIGINT)), 1) AS DOUBLE) / 1e9) AS norm
       |      FROM ${p}f GROUP BY doc_id),
       |${p}hemb AS (SELECT f.doc_id, f.pos, f.c / n.norm AS val
       |         FROM ${p}f f JOIN ${p}n n USING (doc_id))""".stripMargin

  /** IVF oracle, nprobe-parameterized: q28 single-probe, q54 multi-probe. */
  private def ivfOracle(nprobe: Int): String =
      s"""WITH dims AS (
         |  SELECT label AS cell, i - 1 AS pos,
         |         CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |           / COUNT(*) AS mean
         |  FROM embeddings CROSS JOIN range(1, 65) t(i)
         |  GROUP BY label, i),
         |cents AS (
         |  SELECT cell, list(mean ORDER BY pos) AS centroid
         |  FROM dims GROUP BY cell),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |      FROM embeddings WHERE vec_id < 8),
         |ad AS (
         |  SELECT query_id, q_emb, cell,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |           ORDER BY ${l2Sql("q_emb", "centroid")} ASC, cell ASC) AS crn
         |  FROM q CROSS JOIN cents),
         |assigned AS (SELECT query_id, q_emb, cell FROM ad WHERE crn <= $nprobe),
         |probe AS (
         |  SELECT query_id, a.cell, e.vec_id AS neighbor_id,
         |         ${cosSql("q_emb", "e.embedding")} AS cosine
         |  FROM assigned a JOIN embeddings e
         |    ON e.label = a.cell AND e.vec_id <> a.query_id),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |  FROM probe)
         |SELECT query_id, cell, neighbor_id, cosine, CAST(rn AS INTEGER) AS rn
         |FROM r WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin
}
