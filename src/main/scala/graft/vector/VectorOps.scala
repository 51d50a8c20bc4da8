package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Vector / similarity-search operators for the embedding surface
  * (SURVEY.md §2 V1-V3; north-star ANN requirement). The reference consumes
  * sentence-transformer vectors through LanceDB ANN search
  * (/root/reference/dev.ipynb cells 70-75); here the engine operates on a
  * precomputed `embedding: array<float>` column.
  *
  * Determinism discipline: every similarity is computed as a SEQUENTIAL
  * left-to-right double accumulation with each element cast to double
  * BEFORE multiplying — bit-identical to a DuckDB `list_reduce` over the
  * same expression, so even float-heavy queries keep exact oracle parity.
  * Cosine and the sign-LSH signatures run as native codegen'd expressions
  * ([[GraftFunctions.cosineSim]], [[GraftFunctions.lshSignature]]);
  * [[cosine]] keeps the portable HOF fold they are bit-identical to.
  *
  * Scale design (100 TB):
  *  - similarity math is per-row expression work — stays inside
  *    WholeStageCodegen, no shuffle, no UDF.
  *  - brute-force kNN broadcasts the (small) query set: one pass over the
  *    corpus, map-side top-k via window on (query, cosine) — O(Q·N) compute
  *    but N is scanned once and never shuffled in full (only Q·N candidate
  *    rows shrink to Q·k after the per-query window).
  *  - random-hyperplane LSH reduces self-join ANN from O(N²) to bucketed
  *    candidates; the signature is computed per-row (no shuffle), the bucket
  *    join shuffles on an 8-bit key — the classic sign-LSH plan.
  *  - IVF: coarse quantizer = per-label centroids (tiny, broadcast); probe =
  *    equi-join on the assigned cell, so the expensive scan touches one
  *    inverted list per query instead of the corpus.
  */
object VectorOps {

  /** Sequential-fold dot product with per-element double casts:
    * fold(0.0, zip(a,b), (acc,(x,y)) -> acc + double(x)*double(y)). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, p) => acc + p)

  /** L2 norm, same fold discipline. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity = dot / (|a|·|b|) as HOF folds; 0-norm inputs yield
    * NaN (0/0 in double division), matching [[graft.functions.CosineSimilarity]].
    * The portable reference form: main code runs the native
    * [[GraftFunctions.cosineSim]], and only q38 (which gates this fold
    * against the oracle) and the perfbench probes call this. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** L2 (Euclidean) distance. */
  def l2Dist(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => x.cast("double") - y.cast("double")),
      lit(0.0), (acc, dd) => acc + dd * dd))

  /** Salted-md5 hyperplane weights for WIDE signatures — the q163 lesson
    * applied to sign-LSH. The congruential plane weight of
    * [[graft.functions.LshSignature]] has lattice structure: the weight
    * rows of planes p and p′ are the SAME sawtooth orbit offset by
    * 4433·(p−p′) mod 10007, so planes 9 apart differ by
    * only 131/10007 ≈ 1.3 % — at 64 planes the family collapses to ~9
    * effective hyperplanes and 16-bit band keys behave like ~4-bit keys
    * (measured on the ×10 ScaleBench corpus: 35.1M candidate pairs vs
    * 6.4M with this family — 5.5×, and the periodic band keys like
    * `1010101101010101` disappear). Harmless at the ≤ 8 planes q27/q100
    * use (offsets stay ≥ 2151/10007); fatal at 64. Weights are derived
    * from md5("pl|p|d") exactly as the DuckDB mirror recomputes them;
    * [[graft.functions.LshSignatureSalted]] memoizes the matrix per
    * executor. */
  def saltedPlaneWeights(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"pl|$p|$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      (h % 10007L).toDouble / 10007.0 * 2.0 - 1.0
    }

  /** Brute-force cosine top-k: for each row of `queries` (small — broadcast),
    * the k nearest rows of `corpus` by cosine, self-pairs excluded.
    * Output: (query_id, neighbor_id, cosine, rn). */
  def knnBruteForce(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    // cosine is the native codegen twin (bit-identical by CosineSpec) — no
    // scan fan-out here: knnBruteForce callers often pass DERIVED corpora
    // (hashEmbed outputs, truncations), where the fan-out gate's physical
    // planning of the subtree costs more than the single-task savings the
    // native cosine already removed (measured: q149 +1.2 s with the gate,
    // q25 ±0.3 s)
    val scored = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"))
      .join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        GraftFunctions.cosineSim(col("q_emb"), col("c_emb")))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rn"))
  }

  /** Symmetric per-vector INT8 quantization — the 4×-memory compression
    * path a 100 TB embedding store actually ships: q_i = round(x_i ·
    * 127/max|x|), the all-zero vector maps to zeros. The per-vector scale
    * CANCELS in cosine, so quantized similarity is a pure INTEGER dot over
    * int8 codes (exact long sums, no float drift possible — the only
    * floating point left is the final sqrt/divide, correctly rounded on
    * every engine). Accuracy vs float is gated end-to-end by q102's
    * quantized top-k and law-tested recall floor in VectorSpec. */
  def quantizeInt8(vec: Column): Column = {
    val mx = array_max(transform(vec, x => abs(x.cast("double"))))
    transform(vec, x =>
      when(mx === 0.0, lit(0L))
        .otherwise(round(x.cast("double") * (lit(127.0) / mx)).cast("long")))
  }

  /** Cosine over two quantized (long-code) vectors: integer dot and norms,
    * double only at the final sqrt/divide. */
  def cosineInt8(a: Column, b: Column): Column = {
    def idot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0L), (acc, v) => acc + v)
    idot(a, b).cast("double") /
      (sqrt(idot(a, a).cast("double")) * sqrt(idot(b, b).cast("double")))
  }

  /** Brute-force top-k under INT8 quantization — [[knnBruteForce]]'s shape
    * with both sides quantized and the integer cosine; zero-vector codes
    * produce NaN cosine exactly like the float path (parity by design).
    * Output: (query_id, neighbor_id, cosine, rn). */
  def knnBruteForceInt8(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      quantizeInt8(col("embedding")).as("q_emb")))
    corpus.select(col("vec_id").as("neighbor_id"),
        quantizeInt8(col("embedding")).as("c_emb"))
      .join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineInt8(col("q_emb"), col("c_emb")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rn"))
  }

  /** BINARY (sign-bit) embedding code over 32 consecutive dimensions
    * starting at `offset` (0-based): a sequential acc·2 + signbit fold, so
    * dimension order is pinned and the code fits comfortably in a Long
    * (DuckDB's BIGINT errors on overflow, so a single 64-dim code is out —
    * a 64-dim embedding carries TWO 32-dim codes). The 1-bit tier of the
    * quantization family below [[quantizeInt8]]: 32× compression, and
    * similarity becomes bit_count(xor) — pure integer, zero drift. */
  def signCode32(vec: Column, offset: Int): Column =
    aggregate(slice(vec, offset + 1, 32),
      lit(0L),
      (acc, x) => acc * 2 + when(x.cast("double") >= 0, 1L).otherwise(0L))

  /** Brute-force top-k by HAMMING distance over the two 32-dim sign codes —
    * the binary-embedding retrieval baseline (cheapest similarity scan a
    * 100 TB store can run: one xor+popcount per candidate, 8 bytes per
    * vector). Ties break toward the smaller neighbor id.
    * Output: (query_id, neighbor_id, hamming, rn). */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def coded(df: DataFrame, idAs: String, pfx: String) =
      df.select(col("vec_id").as(idAs),
        signCode32(col("embedding"), 0).as(s"${pfx}_lo"),
        signCode32(col("embedding"), 32).as(s"${pfx}_hi"))
    val q = broadcast(coded(queries, "query_id", "q"))
    coded(corpus, "neighbor_id", "c")
      .join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming",
        bit_count(col("q_lo").bitwiseXOR(col("c_lo"))).cast("long") +
          bit_count(col("q_hi").bitwiseXOR(col("c_hi"))).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("hamming").asc, col("neighbor_id").asc)))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"), col("rn"))
  }

  /** Exact cosine near-dup pairs (ia < ib, cosine >= threshold). O(N²) —
    * the correctness baseline that [[lshNeighborPairs]] approximates.
    * `cosineFn` is [[GraftFunctions.cosineSim]], or [[cosine]] where the
    * HOF fold itself is under test (q38) — bit-identical results. */
  def cosinePairs(vecs: DataFrame, threshold: Double,
                  cosineFn: (Column, Column) => Column): DataFrame = {
    // fanned out: the O(N²) scoring stage streams side `a` at scan width
    val a = graft.sources.Layout.fanOutScan(
      vecs.select(col("vec_id").as("ia"), col("embedding").as("ea")), col("ia"))
    val b = vecs.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    a.join(b, col("ia") < col("ib"))
      .withColumn("cosine", cosineFn(col("ea"), col("eb")))
      .filter(col("cosine") >= threshold)
      .select(col("ia"), col("ib"), col("cosine"))
  }

  /** LSH-bucketed ANN pairs: per-row signatures → equi-join on the bucket →
    * exact cosine on candidates only → threshold. The scale path: candidate
    * count ≈ N²/2^nPlanes instead of N². */
  def lshNeighborPairs(vecs: DataFrame, nPlanes: Int, threshold: Double): DataFrame = {
    val sig = vecs.select(col("vec_id"), col("embedding"),
      GraftFunctions.lshSignature(col("embedding"), nPlanes).as("bucket"))
    val a = sig.select(col("vec_id").as("ia"), col("embedding").as("ea"),
      col("bucket"))
    val b = sig.select(col("vec_id").as("ib"), col("embedding").as("eb"),
      col("bucket"))
    a.join(b, Seq("bucket")).filter(col("ia") < col("ib"))
      .withColumn("cosine", GraftFunctions.cosineSim(col("ea"), col("eb")))
      .filter(col("cosine") >= threshold)
      .select(col("ia"), col("ib"), col("cosine"))
  }

  /** BANDED sign-LSH pairs — the recall/candidate dial [[lshNeighborPairs]]
    * lacks. One `bucket` of all nPlanes bits demands agreement on EVERY
    * hyperplane, so pair recall is p^nPlanes (p = 1 − θ/π) — ~1 % for
    * 0.2-cosine pairs at 8 planes. Banding MinHash-style (q23's trick
    * applied to the cosine family) makes a pair a candidate when ANY band
    * of nPlanes/bands consecutive bits agrees: recall
    * 1 − (1 − p^(n/b))^b, rising steeply with pair similarity, while
    * candidates stay bucket-bounded at ~bands · N²/2^(n/b) expected.
    *
    * The band width IS the blocking: at 32 planes × 4 bands each key is
    * 8 bits (256 buckets/band → ~1.6 % of all pairs are candidates); a
    * naive 8 planes × 4 bands leaves 2-bit keys (4 buckets/band), ~68 % of
    * ALL pairs become candidates, and the "LSH" silently degenerates to a
    * brute-force scan — the first cut of q100 did exactly that and cost
    * 48 s at sf0.1 vs ~2 s now.
    *
    * Plan shape: the bucket self-join moves ONLY (band, key, vec_id) rows;
    * candidate pairs are dedup'd on the two ids FIRST and the embeddings
    * attach afterwards via two hash joins for the exact-cosine verify — at
    * no point does a candidate row carry a vector through a shuffle.
    * Recall of both variants is hash-gated by q99.
    *
    * `sigFn` picks the plane family: [[GraftFunctions.lshSignature]]
    * (congruential, ≤ 32 planes) or [[GraftFunctions.lshSignatureSalted]]
    * (wide signatures, see [[saltedPlaneWeights]]). */
  def lshNeighborPairsBanded(vecs: DataFrame, nPlanes: Int, bands: Int,
                             threshold: Double,
                             sigFn: (Column, Int) => Column): DataFrame = {
    require(nPlanes % bands == 0, "lshNeighborPairsBanded: bands must divide nPlanes")
    val rowsPerBand = nPlanes / bands
    val sig = vecs.select(col("vec_id"),
      sigFn(col("embedding"), nPlanes).as("sig"))
    // Each banded row also carries the bit-string PREFIX of all lower
    // bands, so the bucket join can emit a pair only in its FIRST
    // colliding band (no lower-band chunk agrees) — one emission per pair
    // by construction, which replaces the old pair-level `.distinct()`
    // shuffle (input duplication ≤ bands×) with a map-side string check.
    val banded = sig.select(col("vec_id"),
      explode(expr(s"transform(sequence(0, ${bands - 1}), " +
        s"b -> struct(b AS band, substring(sig, b * $rowsPerBand + 1, $rowsPerBand) AS key, " +
        s"substring(sig, 1, b * $rowsPerBand) AS prefix))"))
        .as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"),
        col("bk.prefix").as("prefix"))
    val a = banded.select(col("vec_id").as("ia"), col("band"), col("key"),
      col("prefix").as("pa"))
    val b = banded.select(col("vec_id").as("ib"), col("band"), col("key"),
      col("prefix").as("pb"))
    val cand = a.join(b, Seq("band", "key")).filter(col("ia") < col("ib"))
      .filter(expr(s"band = 0 OR NOT exists(sequence(0, band - 1), " +
        s"bb -> substring(pa, bb * $rowsPerBand + 1, $rowsPerBand) = " +
        s"substring(pb, bb * $rowsPerBand + 1, $rowsPerBand))"))
      .select(col("ia"), col("ib"))
    cand
      .join(vecs.select(col("vec_id").as("ia"), col("embedding").as("ea")), Seq("ia"))
      .join(vecs.select(col("vec_id").as("ib"), col("embedding").as("eb")), Seq("ib"))
      .withColumn("cosine", GraftFunctions.cosineSim(col("ea"), col("eb")))
      .filter(col("cosine") >= threshold)
      .select(col("ia"), col("ib"), col("cosine"))
  }

  /** IVF coarse centroids: per-cell, per-dimension mean. The double sums go
    * through DECIMAL(28,12) so the result is partition-order-independent
    * (exact oracle parity); output (cell, centroid array<double>). */
  def centroids(vecs: DataFrame, cellCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(28, 12)
    vecs.select(col(cellCol).as("cell"), posexplode(col("embedding")))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("col").cast("double").cast(dec)).cast("double")
        / count(lit(1))).as("mean"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean")))),
        e => e.getField("mean")).as("centroid"))
  }

  /** IVF probe: assign each query to its `nprobe` nearest centroids
    * (broadcast arg-top-p), then search ONLY those cells' inverted lists;
    * top-k per query. `nprobe` is the classic IVF recall/cost dial — recall
    * lost to quantization boundaries comes back by scanning a few
    * neighboring cells, still never the corpus.
    * Output: (query_id, neighbor_id, cosine, rn). */
  def ivfKnn(queries: DataFrame, corpus: DataFrame, cents: DataFrame,
             cellCol: String, k: Int, nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val assigned = q.crossJoin(broadcast(cents))
      .withColumn("dist", l2Dist(col("q_emb"), col("centroid")))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("cell").asc)))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    val list = corpus.select(col(cellCol).as("cell"),
      col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    broadcast(assigned).join(list, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        GraftFunctions.cosineSim(col("q_emb"), col("c_emb")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        col("cosine"), col("rn"))
  }

  /** Squared L2 distance (no final sqrt) — the PQ/ADC building block:
    * sub-distances are summed ACROSS subspaces, and summing squared terms
    * (instead of square roots) keeps the total a true squared distance. */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") - y.cast("double")),
      lit(0.0), (acc, dd) => acc + dd * dd)

  /** Deterministic Lloyd k-means over `embedding: array<float>`: the k
    * seed centroids are the vectors with the k SMALLEST vec_ids (no
    * rand() — reproducible across runs, engines and task retries), then
    * `iters` assign/update rounds, then the final assignment. Assignment
    * is argmin L2 with (distance, cell) tie-break; the distance fold and
    * per-dimension DECIMAL(28,12) centroid means follow the module's
    * determinism discipline, so an unrolled SQL twin reproduces every
    * round bit for bit. A cell that attracts no members simply disappears
    * from the next round's codebook (standard Lloyd degeneracy; with
    * min-id seeds it never occurs on non-degenerate data).
    *
    * Scale shape per round: the codebook is k·d doubles — BROADCAST — so
    * assignment is one pass over the corpus with per-row expression work,
    * and the update is one shuffle of k·d (cell, pos) partial sums. The
    * corpus is never shuffled; total cost is `iters+1` corpus scans.
    *
    * @return (vec_id, cluster) — cluster ids are seed vec_ids */
  def kmeansAssign(vecs: DataFrame, k: Int, iters: Int): DataFrame =
    assignCells(vecs.select(col("vec_id"), col("embedding")),
      kmeansCodebook(vecs, k, iters))
      .select(col("vec_id"), col("cell").as("cluster"))

  /** Assign each vector to its nearest codebook cell — argmin L2 with the
    * module's (distance, cell) tie-break. The codebook rides as ONE
    * broadcast row holding the (cell, centroid) array, so assignment is
    * per-row expression work (argmin via array_min over (dist, cell)
    * structs, the tie-break encoded in the struct ordering) and the corpus
    * is NEVER shuffled. Output (vec_id, embedding, cell). */
  def assignCells(v: DataFrame, cents: DataFrame): DataFrame = {
    val bk =
      cents.agg(collect_list(struct(col("cell"), col("centroid"))).as("book"))
    v.crossJoin(broadcast(bk))
      .withColumn("cell",
        array_min(transform(col("book"), b =>
          struct(l2Dist(col("embedding"), b.getField("centroid")).as("dist"),
            b.getField("cell").as("cell")))).getField("cell"))
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** The final Lloyd codebook after `iters` assign/update rounds — the
    * centroids [[kmeansAssign]] assigns under, exposed for consumers that
    * need the cells AND the centroid values (prototypicality scoring
    * q187, streaming cell routing q194). Bounded k·d doubles; the only
    * exchange per round is the k·d (cell, pos) partial-sum update in
    * [[centroids]]. Output (cell, centroid array<double>). */
  def kmeansCodebook(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    val v = vecs.select(col("vec_id"), col("embedding"))
    var cents = v.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), x => x.cast("double")).as("centroid"))
    for (_ <- 1 to iters) cents = centroids(assignCells(v, cents), "cell")
    cents
  }

  /** The two-level argmin as a reusable expression: min (L2 dist, cell)
    * struct over a book array — the tie-break IS the struct ordering.
    * Public so stream-side routing (q223) replays the batch rule
    * expression-for-expression. */
  def argminCell(book: Column, vec: Column, cellField: String,
                 centField: String): Column =
    array_min(transform(book, b =>
      struct(l2Dist(vec, b.getField(centField)).as("dist"),
        b.getField(cellField).as("cell")))).getField("cell")

  /** The two-level index's book tables, exposed for consumers that route
    * OUTSIDE the batch assignment plan (q223's streaming serving):
    * `gbook` = (ccell, fines array<struct(cell, centroid)>) — ~√k fines
    * per coarse row, a STATIC join side; `ebookRow` = the 1-row effective
    * coarse book (~√k·d doubles — small enough to ride a streaming plan
    * as literals). Built exactly as [[ivf2Assign]] consumes them. */
  def ivf2Books(vecs: DataFrame, k: Int, c: Int): (DataFrame, DataFrame) = {
    val v = vecs.select(col("vec_id"), col("embedding"))
    val seeds = v.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), x => x.cast("double")).as("centroid"))
      .localCheckpoint()
    val coarse = seeds.orderBy(col("cell")).limit(c)
      .select(col("cell").as("ccell"), col("centroid").as("ccentroid"))
    val cbookRow = coarse
      .agg(collect_list(struct(col("ccell"), col("ccentroid"))).as("cbook"))
    // fine → owning coarse cell (k·c argmin work — codebook-sized, tiny)
    val f2c = seeds.crossJoin(broadcast(cbookRow))
      .withColumn("ccell",
        argminCell(col("cbook"), col("centroid"), "ccell", "ccentroid"))
      .select(col("ccell"), col("cell"), col("centroid"))
    // grouped fine book + the EFFECTIVE coarse book (cells owning fines)
    val gbook = f2c.groupBy(col("ccell"))
      .agg(collect_list(struct(col("cell"), col("centroid"))).as("fines"))
    val ebookRow = f2c.select(col("ccell")).distinct()
      .join(seeds, col("ccell") === col("cell"))
      .agg(collect_list(struct(col("ccell"), col("centroid"))).as("ebook"))
    (gbook, ebookRow)
  }

  /** TWO-LEVEL (IVF-flat) centroid assignment — the ×100 scale dial for
    * [[kmeansAssign]]'s flat argmin, which ScaleBench measured as the one
    * superlinear term in the suite (SemDeDup's k ∝ N makes flat assignment
    * O(N²/64)): route each vector through a COARSE codebook of
    * c ≈ √k cells first, then argmin only over the fine centroids owned by
    * that coarse cell — O(N·(c + k/c)·d) = O(N·√k·d) expression work.
    * Approximate by construction (the nearest fine centroid can live in a
    * neighboring coarse cell — classic IVF behavior at nprobe=1); the
    * DETERMINISTIC RULE itself is exact and oracle-gated: min-vec_id seed
    * centroids (no Lloyd, no rand()), argmin = (L2 dist asc, cell asc)
    * struct ordering at both levels — see [[argminCell]], which q223's
    * streaming router replays expression-for-expression.
    *
    * Scale shape: the coarse book (c·d doubles) broadcasts; the fine book
    * rides a GROUPED (ccell → fines) table joined on ccell with NO
    * broadcast hint — at toy scale AQE broadcasts it, at corpus scale
    * (k ∝ N makes the fine book corpus-sized/64) it becomes a shuffle
    * join on ccell, which is the point: the full fine codebook never has
    * to fit on the driver.
    *
    * Degenerate-duplicate safety: a coarse cell whose seed vector is
    * byte-identical to a smaller coarse seed wins no fines (the f2c
    * tie-break sends its own fine elsewhere); vectors therefore assign
    * over the EFFECTIVE coarse set (cells that own ≥ 1 fine — see
    * [[ivf2Books]]' ebook) so no row can drop through an empty cell.
    *
    * @return (vec_id, cluster) — cluster ids are fine-seed vec_ids */
  def ivf2Assign(vecs: DataFrame, k: Int, c: Int): DataFrame = {
    // r17: fanned out — the two argmin passes are the per-row hot loop and
    // ran at scan width (3.5 s single-task measured in q220's warm start)
    val v = graft.sources.Layout.fanOutScan(
      vecs.select(col("vec_id"), col("embedding")), col("vec_id"))
    val (gbook, ebookRow) = ivf2Books(vecs, k, c)
    val withCoarse = v.crossJoin(broadcast(ebookRow))
      .withColumn("ccell",
        argminCell(col("ebook"), col("embedding"), "ccell", "centroid"))
      .select(col("vec_id"), col("embedding"), col("ccell"))
    withCoarse.join(gbook, Seq("ccell")) // no broadcast hint — see Scaladoc
      .withColumn("cluster",
        argminCell(col("fines"), col("embedding"), "cell", "centroid"))
      .select(col("vec_id"), col("cluster"))
  }

  /** Product-quantization codebooks + asymmetric-distance (ADC) top-k —
    * the third tier of the compressed-similarity family (int8 scalar
    * quantization = q102, 1-bit sign codes = q103): the vector is split
    * into `m` subspaces of dim/m, each subspace gets its own small
    * codebook, and a corpus vector is stored as m small codes. Query
    * distance is the classic ADC sum: per subspace, look up the exact
    * distance from the query's sub-vector to the stored code's centroid.
    * Codebooks here are per-subspace label-cell DECIMAL means — the same
    * deterministic stand-in for a trained quantizer as [[centroids]]/IVF,
    * which keeps the whole operator (codebooks, codes, distances, ranks)
    * exactly reproducible in SQL.
    *
    * Determinism: sub-distances are squared-L2 sequential folds; the ADC
    * total is summed FIXED-POINT (floor(d²·1e9) longs, magnitude ≤ m·|sub
    * d²|·1e9 ≈ 1e12 for unit-scale embeddings — far from the int64 edge)
    * so the cross-subspace sum is order-independent.
    *
    * Scale shape: codebooks are m·cells·(dim/m) doubles — broadcast both
    * for encoding and for the query distance table. Encoding is one pass
    * over the corpus (m argmins per row, expression work); the ADC probe
    * joins the (corpus-sized) code table against the BROADCAST per-query
    * lookup table on (sub, code) and sums — the corpus crosses the wire
    * once as m-code rows, never as raw vectors. A 100 TB float corpus
    * becomes a ~100·(m/dim)/4 TB code table — the point of PQ.
    *
    * @return (query_id, neighbor_id, adc, rn) — adc = Σ_sub d², rn by
    *         (adc asc, neighbor asc), self-pairs excluded */
  def pqTopK(queries: DataFrame, corpus: DataFrame, m: Int, dim: Int,
             k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subLen = dim / m
    val bookRow = pqBookRow(corpus, m, subLen)
    val codes = pqCodes(corpus, bookRow, m, subLen)
    val qd = pqQueryDists(queries, bookRow, subLen)
    codes.join(broadcast(qd), Seq("sub", "cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumnRenamed("vec_id", "neighbor_id")
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2_fp")).as("adc_fp"))
      .withColumn("adc", col("adc_fp").cast("double") / lit(1e9))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_fp").asc, col("neighbor_id").asc)))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("rn"))
  }

  /** PQ codebooks collapsed to ONE broadcast row (sub, cell, centroid):
    * per-subspace label-cell DECIMAL means — see [[pqTopK]]. */
  private def pqBookRow(corpus: DataFrame, m: Int, subLen: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def subSlice(j: Column) =
      slice(col("embedding"), j * lit(subLen) + 1, lit(subLen))
    val dec = DecimalType(28, 12)
    val books = corpus
      .select(col("label").as("cell"),
        explode(transform(sequence(lit(0), lit(m - 1)),
          j => struct(j.as("sub"), subSlice(j).as("emb")))).as("s"))
      .select(col("cell"), col("s.sub").as("sub"), posexplode(col("s.emb")))
      .groupBy(col("sub"), col("cell"), col("pos"))
      .agg((sum(col("col").cast("double").cast(dec)).cast("double")
        / count(lit(1))).as("mean"))
      .groupBy(col("sub"), col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean")))),
        e => e.getField("mean")).as("centroid"))
    books.agg(
      collect_list(struct(col("sub"), col("cell"), col("centroid"))).as("book"))
  }

  /** PQ corpus encoding: ONE broadcast row holds the whole codebook, so
    * encoding is per-row argmin expression work — array_min over (d², cell)
    * structs per subspace, the tie-break in the struct order — and the
    * corpus is scanned, never shuffled or fanned out, to encode.
    * `carry` names passthrough corpus columns (e.g. the coarse cell). */
  private def pqCodes(corpus: DataFrame, bookRow: DataFrame, m: Int,
                      subLen: Int, carry: Seq[String] = Nil): DataFrame = {
    def subSlice(j: Column) =
      slice(col("embedding"), j * lit(subLen) + 1, lit(subLen))
    def subBook(j: Column) =
      filter(col("book"), b => b.getField("sub") === j)
    corpus.crossJoin(broadcast(bookRow))
      .select(col("vec_id") +: carry.map(col) :+
        explode(transform(sequence(lit(0), lit(m - 1)), j =>
          struct(j.as("sub"),
            array_min(transform(subBook(j), b =>
              struct(l2Sq(subSlice(j), b.getField("centroid")).as("d2"),
                b.getField("cell").as("cell")))).getField("cell").as("cell"))))
          .as("c"): _*)
      .select(col("vec_id") +: carry.map(col) :+
        col("c.sub").as("sub") :+ col("c.cell").as("cell"): _*)
  }

  /** Per-query ADC lookup table: exact d² from the query's sub-vector to
    * EVERY codebook entry — Q·m·cells rows, broadcast onto the code scan. */
  private def pqQueryDists(queries: DataFrame, bookRow: DataFrame,
                           subLen: Int): DataFrame = {
    def subSlice(j: Column) =
      slice(col("embedding"), j * lit(subLen) + 1, lit(subLen))
    queries.crossJoin(broadcast(bookRow))
      .select(col("vec_id").as("query_id"),
        explode(transform(col("book"), b =>
          struct(b.getField("sub").as("sub"), b.getField("cell").as("cell"),
            floor(l2Sq(subSlice(b.getField("sub")), b.getField("centroid"))
              * lit(1e9)).cast("long").as("d2_fp")))).as("q"))
      .select(col("query_id"), col("q.sub").as("sub"),
        col("q.cell").as("cell"), col("q.d2_fp").as("d2_fp"))
  }

  /** IVF-PQ — the FAISS production composition (IndexIVFPQ with
    * by_residual=false): the coarse IVF quantizer prunes WHICH inverted
    * lists a query reads (never the corpus), and PQ compresses WHAT is
    * read (m codes per vector, never raw floats). Coarse lists are keyed
    * by label (the module's deterministic stand-in codebook, as q28/q54);
    * queries probe their `nprobe` nearest per-label centroids by L2, and
    * ADC ranking runs only inside the probed lists.
    *
    * Scale shape: both prunings COMPOSE — the candidate set is
    * |probed lists| · (codes join), so a 100 TB float corpus is read as
    * the probed fraction of a ~(m/dim)/4-compressed code table; the
    * coarse book, probe pairs and per-query distance tables all broadcast.
    * Determinism: coarse argmin is an exact L2 fold with (dist, cell)
    * tie-break; ADC is [[pqTopK]]'s fixed-point sum — the oracle unrolls
    * both levels exactly.
    *
    * @return (query_id, ccell, neighbor_id, adc, rn) — rn by (adc asc,
    *         neighbor asc) within query, over probed lists only */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, cents: DataFrame,
                m: Int, dim: Int, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subLen = dim / m
    val assigned = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", l2Dist(col("q_emb"), col("centroid")))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("cell").asc)))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("cell").as("ccell"))
    val bookRow = pqBookRow(corpus, m, subLen)
    val codes = pqCodes(corpus.withColumn("ccell", col("label")), bookRow, m,
      subLen, carry = Seq("ccell"))
    val qd = pqQueryDists(queries, bookRow, subLen)
    codes.join(broadcast(assigned), Seq("ccell"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(qd), Seq("query_id", "sub", "cell"))
      .withColumnRenamed("vec_id", "neighbor_id")
      .groupBy(col("query_id"), col("ccell"), col("neighbor_id"))
      .agg(sum(col("d2_fp")).as("adc_fp"))
      .withColumn("adc", col("adc_fp").cast("double") / lit(1e9))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_fp").asc, col("neighbor_id").asc)))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("ccell"), col("neighbor_id"), col("adc"),
        col("rn"))
  }

  /** IN-ENGINE text → vector embedding: FEATURE-HASHED tf·idf (the
    * Weinberger et al. 2009 hashing trick over the tf-idf weighting
    * [[graft.text.RankedSearch.tfidfCosinePairs]] already uses): each token
    * hashes to a dimension (h mod dim) with a sign bit (bit log₂dim of h,
    * independent of pos for power-of-two dim), signed tf·idf weights
    * accumulate per dimension, and the vector is L2-normalized. This is the
    * engine-expressible share of the reference's `kb._embed` boundary
    * (sentence-transformers, dev.ipynb cell 73 ≈L4147): model-based vectors
    * stay precomputed inputs, but the engine now has a real text→vector
    * surface of its own — deterministic and shaped exactly like the
    * `embeddings` table, so hash-embedded documents feed the SAME
    * cosine/LSH/IVF/PQ machinery (q149/q150 prove it under the hash gate).
    * The idf factor is what makes the vectors DISCRIMINATIVE: raw hashed
    * counts are stopword-dominated (measured: 19% of ALL doc pairs clear
    * 0.3 cosine — banding degenerates toward brute force), while idf'd
    * vectors push unrelated pairs toward 0 and banded LSH blocks properly.
    *
    * Determinism (the tfidfCosinePairs discipline end to end): idf =
    * iln(N) − iln(df) via the integer-only fixed-point ln; per-token weight
    * w = tf · idf is one IEEE product of identical operands; bucket sums
    * accumulate floor(w·1e9) SIGNED int64 (shuffle-order-independent); the
    * norm is sqrt of int64 floor(c²·1e9) sums — int64-safe while the doc's
    * hashed-tf·idf L2 norm ≤ ~9.6e4, the same stated bound as
    * tfidfCosinePairs. All-zero vectors (sign cancellation, empty docs)
    * keep val = 0 via a greatest(·, 1) guard instead of dividing by zero.
    *
    * Scale shape: one (doc, token) tf shuffle; the df table is Heaps-law
    * vocabulary-sized and joins the token stream AQE-planned with NO
    * broadcast hint (q117's rule — a corpus-scale vocabulary must shuffle,
    * not hit the driver); then one (doc, pos) sum shuffle + one doc-keyed
    * norm aggregation, all map-side-combinable. The HASH bounds the output
    * dimension — no dense vocab×dim matrix ever exists.
    *
    * @param dim power of two (sign bit = bit log₂dim of the hash)
    * @return long form (doc_id, pos, val double) — one row per dimension,
    *         the exploded columnar layout of the dense vector
    */
  def hashEmbedLong(docs: DataFrame, idCol: String, textCol: String,
                    dim: Int): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0, "hashEmbedLong: dim must be a power of two")
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.text.TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = broadcast(
      docs.agg(countDistinct(col(idCol)).as("n_docs")))
    // the df/idf table derives from the SAME tf subtree the weighting
    // joins back to (one aggregate shuffle, reused) — the WithIdf variant
    // below exists for callers whose idf is a FROZEN snapshot table
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(nDocs)
      .select(col("token"),
        ((graft.functions.IntLn.iln1e9(col("n_docs"))
          - graft.functions.IntLn.iln1e9(col("df")))
          .cast("double") / lit(1e9)).as("idf"))
    hashEmbedApply(docs, idCol, tf, df, dim)
  }

  /** The (token, idf) weight table [[hashEmbedLong]] trains on `docs` —
    * exposed so a FROZEN-MODEL consumer (EmbedArtifact CDC maintenance,
    * q232) can embed a delta under the SNAPSHOT's statistics: in
    * production an embedding model is trained once and applied to every
    * later batch; re-deriving idf from a grown corpus would silently
    * re-embed (and re-index) everything downstream. Same exact integer
    * arithmetic as the in-plan form (IntLn fixed-point). */
  def hashEmbedIdf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.text.TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = broadcast(
      docs.agg(countDistinct(col(idCol)).as("n_docs")))
    tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(nDocs)
      .select(col("token"),
        ((graft.functions.IntLn.iln1e9(col("n_docs"))
          - graft.functions.IntLn.iln1e9(col("df")))
          .cast("double") / lit(1e9)).as("idf"))
  }

  /** [[hashEmbedLong]] under a CALLER-SUPPLIED (token, idf) table — the
    * frozen-model application path. Tokens absent from the idf table
    * (vocabulary unseen at snapshot time) carry weight 0 by the inner
    * join — exactly how a frozen featurizer treats out-of-vocabulary
    * input. */
  def hashEmbedLongWithIdf(docs: DataFrame, idCol: String, textCol: String,
                           dim: Int, idfTable: DataFrame): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0, "hashEmbedLong: dim must be a power of two")
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.text.TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    hashEmbedApply(docs, idCol, tf, idfTable, dim)
  }

  /** Shared weighting/normalization tail of the hash embedder: hash the
    * (doc, token, tf) stream against a (token, idf) table, fold signed
    * fixed-point weights per (doc, pos), zero-fill the grid, L2-normalize.
    * Exactly [[hashEmbedLong]]'s arithmetic — one body, two idf sources. */
  private def hashEmbedApply(docs: DataFrame, idCol: String, tf: DataFrame,
                             idfTable: DataFrame, dim: Int): DataFrame = {
    val signShift = java.lang.Integer.numberOfTrailingZeros(dim)
    val h = graft.text.TextOps.tokenHash60(col("token"))
    val counts = tf.join(idfTable, Seq("token"))
      .select(col("doc_id"), pmod(h, lit(dim.toLong)).as("pos"),
        ((lit(1L) - lit(2L) * pmod(shiftright(h, signShift), lit(2L)))
          * floor(col("tf").cast("double") * col("idf") * lit(1e9)).cast("long"))
          .as("w_fp"))
      .groupBy(col("doc_id"), col("pos"))
      .agg(sum(col("w_fp")).as("c_fp"))
    val grid = docs.select(col(idCol).as("doc_id"))
      .select(col("doc_id"), explode(sequence(lit(0L), lit(dim - 1L))).as("pos"))
    val filled = grid.join(counts, Seq("doc_id", "pos"), "left")
      .select(col("doc_id"), col("pos"),
        (coalesce(col("c_fp"), lit(0L)).cast("double") / lit(1e9)).as("c"))
    val norms = filled.groupBy(col("doc_id"))
      .agg(sqrt(greatest(
        sum(floor(col("c") * col("c") * lit(1e9)).cast("long")), lit(1L))
        .cast("double") / lit(1e9)).as("norm"))
    filled.join(norms, Seq("doc_id"))
      .select(col("doc_id"), col("pos"), (col("c") / col("norm")).as("val"))
  }

  /** [[hashEmbedLong]] assembled into the dense `(doc_id, embedding
    * array<double>)` shape of the `embeddings` table — the form the ANN
    * family consumes. One extra doc-keyed aggregation (struct sort on the
    * unique pos, then projection). */
  def hashEmbed(docs: DataFrame, idCol: String, textCol: String,
                dim: Int): DataFrame =
    hashEmbedLong(docs, idCol, textCol, dim)
      .groupBy(col("doc_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("val")))),
        e => e.getField("val")).as("embedding"))
}
