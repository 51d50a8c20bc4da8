package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-step validation for the dedup/ANN family: replays the production
  * query plans (by name, the exact `SparkEntry.queries` lambdas) against a
  * corpus REPLICATED ×M from the largest driver testdata, so the documented
  * scale dials (banded-LSH candidate rate, prefix-filter selectivity, AQE
  * plan shapes, fixed-k growth rules) are observed off the toy scale
  * instead of argued from the plan shape.
  *
  * Replication is similarity-PRESERVING within a replica and
  * similarity-BREAKING across replicas: replica k > 0 suffixes every token
  * with `_k` (so no cross-replica shingle overlap inflates LSH buckets —
  * the corpus is M independent copies, the honest "more data" shape, not a
  * pathological M× duplicate cluster) and shifts every embedding component
  * by k·0.0011 (distinct sign-LSH buckets, preserved within-replica
  * geometry). Replica 0 is byte-identical to the source, so ×1 numbers are
  * the production corpus.
  *
  * Emits `SCALE_r{N}.json`-shaped output: per-mult, per-query wall seconds
  * (noop-sink, same contract as Bench) and output row counts — for the
  * dedup queries rows = surviving clusters/matches, for q100 rows = the
  * candidate pairs that survived the cosine verify, i.e. the quantity whose
  * growth must stay ~linear in M if the blocking holds.
  */
object ScaleBench {

  /** Queries observed per family (SPARK_GRAFT_SCALE_FAMILIES filters, default
    * all). dedup = the original round-10 set. graph replays the ERKG surface
    * against the ×M entity graph — customer NAMES are suffixed per replica,
    * so the J2 seed list keeps matching ONLY replica 0: the honest
    * "bigger haystack, same needles" shape an investigation query must
    * survive (q13/q17/q86 should grow with the SCAN, not the frontier),
    * while q15 is global and must grow ~M. text adds the blocking-dial
    * observations (prefix-filter selectivity q22, rare-shingle q121,
    * per-doc-local q35, broadcast-probe q105, N-growing-k q112, closure
    * report q126). event checks the window/as-of shapes on ×M users. */
  private val families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq(
      "q52_dedup_canonical", "q100_lsh_banded_pairs", "q115_dedup_canonical_df",
      "q125_incremental_dedup", "q129_fuzzy_decontam",
      // the round-10 q66 rework: corpus-scale probe set through the
      // shuffle-hash join — included to observe the probe path's growth off
      // the toy scale (the broadcast it replaced would hide its cost in
      // driver memory instead)
      "q66_bm25_candidates",
      // multimodal near-dup banded joins. r13: the fixtures switched to
      // BLOCK-LOCAL groups (g = doc_id/20, ~20-doc groups at any corpus
      // size), so the id-strided replicas land in disjoint group spaces —
      // replication is similarity-breaking for media exactly like the
      // token-suffix trick is for text: true pairs grow ~M (one fixed dup
      // rate), never ~M², and both queries are ×100-decade eligible
      // (r12's % 251 geometry merged groups across replicas and the ~M²
      // clique output swamped the blocking signal).
      "q154_image_phash_pairs", "q155_audio_fp_pairs",
      // r14: incremental closure refresh — its WARM run builds the v1
      // DedupClosure artifact (pays q115's full-closure cost once), its
      // STEADY run is the maintenance shape: artifact star edges + delta
      // probes, so steady(q224) vs steady(q115) is the measured value of
      // incremental refresh at each scale (the q179 artifact discipline).
      // r15: q225 is the removal-tolerant twin (tombstones + additions) —
      // same artifact, extra component-local re-pair mass; and q213's
      // winnowing fingerprints (df-capped inverted self-join, the q66
      // champion-list shape) joins the decade table per the r14 verdict
      "q224_closure_refresh", "q225_closure_refresh_cdc",
      "q213_winnow_pairs",
      // r16: artifact maintenance — the WARM run builds the v1 artifacts
      // (closure + signatures) for the replica corpus, the STEADY run is
      // the maintenance shape proper: tombstone anti-join + delta
      // signatures + refreshCdc + two bucketed rewrites, so
      // steady(q229) vs steady(q115) is the measured value of advancing
      // the snapshot vs rebuilding it at each scale; q231 is the
      // delta-layout twin — steady(q231) vs steady(q229) prices the
      // merge-on-read write-amplification win (SCALE_r16 measured q229's
      // residual corpus-size term as the bucketed v2 rewrite)
      "q229_artifact_maintenance", "q231_artifact_maintenance_delta"),
    "graph" -> Seq(
      "q13_two_hop_network", "q17_suspicious_aliases",
      "q15_pagerank", "q86_ppr_seeds", "q143_harmonic_centrality"),
    // r16: the TPC-H-ish relational core at the decade (r15 verdict item
    // 3) — fact tables replicate ×M with strided keys (M disconnected
    // relational copies), dimensions stay shared, so q01/q02's scan +
    // groupBy must grow ~M under AQE/broadcast plans and q59's cube pays
    // the grouping-set multiplier on the ~M aggregate, never on the scan.
    "relational" -> Seq(
      "q01_pricing_summary", "q02_region_revenue", "q59_cube_revenue"),
    "text" -> Seq(
      "q22_jaccard_pairs", "q35_textrank", "q105_decontam",
      "q112_semdedup", "q138_semdedup_ivf2",
      "q121_containment_pairs", "q126_corpus_report",
      "q139_weighted_sample", "q145_bpe_corpus_tokens",
      // the in-engine hash-embed chain (r12): q148 is the embed itself
      // (one tf shuffle + Heaps-law df join — must grow ~M) and a
      // ×100-decade member. q150 (embed→banded-LSH) is observed at
      // ×10/×30 ONLY: hashed tf-idf vectors of a shared synthetic
      // vocabulary are genuinely correlated, so within-replica candidate
      // mass grows ~M·N₀² by fixture geometry (the q154/q155 rule — the
      // first attempted ×100 run spilled >230 GB of verify-join shuffle
      // and filled the disk). The md5-plane fix (lshSignatureSalted) cut
      // the ×10 candidate mass 5.5×; the residual is vector similarity
      // the engine must pay to verify, not blocking waste.
      "q148_hash_embed", "q150_hash_embed_lsh",
      // r13: the artifact-consuming twin of q150 — its WARM run builds the
      // EmbedArtifact for the replica corpus (pays q148 once), its STEADY
      // run is the production consumer shape: bucketed scan replaces the
      // embed stage, so steady(q179) vs steady(q150) is the measured value
      // of materializing the embed at each scale
      "q179_artifact_lsh",
      // r12 additions: the GD trainer (6 scans of a narrow cache — must
      // grow ~M), the histogram quality gate (64-counter aggregate +
      // broadcast join-back — must grow ~M), and the threshold sweep
      // (one q23-priced candidate pass + 5 pair-set aggregates)
      "q168_quality_classifier", "q169_source_quality_gate",
      "q175_dedup_threshold_sweep",
      // r13 additions: the coreset-prune pair (q187 exact rank window
      // over FIXED k=8 cells — the per-cell sort must grow superlinearly
      // in cell size, that's WHY q195 exists; q195 = two-level cells +
      // histogram threshold, must grow ~M), the two-level index balance
      // report (~M·√k assignment work), and the lexical-diversity rollup
      // (one map-side-combinable (source, word) count, ~M)
      "q187_prototype_prune", "q195_prototype_prune_hist",
      "q188_ivf_balance", "q192_lexical_diversity",
      // the label-noise vote: O(N · cellSize) same-cell cosines + two
      // rank windows — must grow ~M (cell size is pinned at ~64 by the
      // k ∝ N dial)
      "q200_label_noise_knn",
      // the pigeonhole simhash band joins. q202 (32-bit, byte-bands):
      // token-suffixed replicas hash to unrelated signatures so TRUE
      // pairs grow ~M, but the byte-band blocking admits random pairs as
      // candidates at 1−(1−2⁻⁸)⁴ ≈ 1.55 % — an N² term measured at ×100
      // (SCALE_r14: 22.5M rows ≈ 2.7× honest growth, 200 s steady). q222
      // is the scale path: same plan, 60-bit signature, 4×15-bit bands —
      // accidental rate 0.012 %, ~127× less wasted verify. Plus the
      // gram-key coverage semi-join (train grams grow ~M, eval fixed).
      "q202_simhash_pairs", "q222_simhash_wide", "q203_ngram_coverage",
      // r15: the kNN-graph build (production graphs O(N·64) + O(N·~48)
      // descent candidates; the exact audit side rides the ADAPTIVE
      // id-hash dial max(8, N/512) — audited count pins ~512, so audit
      // mass grows ~N·512, the decade-adaptivity the r14 verdict asked
      // to demonstrate) and the artifact-backed release flagship (warm
      // builds the replica corpus's DedupClosure, steady is the ten-stage
      // consumer chain — the production release-build shape)
      "q220_knn_graph", "q226_corpus_release",
      // r16: the kNN-graph CONSUMER — its WARM run builds the replica
      // corpus's KnnGraphArtifact (pays q220's graph ladder once), its
      // STEADY run is the production read: bucketed artifact scan +
      // thresholded CC, so steady(q228) vs steady(q220) is the measured
      // value of materializing the graph at each scale (the q179 twin
      // discipline)
      "q228_semdedup_knn_artifact",
      // r16: frozen-model embed maintenance — warm builds the replica
      // corpus's EmbedArtifact + idf, steady is the delta shape (delta
      // embed + tombstone write + merge-on-read compose)
      "q232_embed_maintenance",
      // r17: kNN-graph CDC maintenance — warm builds the replica corpus's
      // graph artifact + frozen routing index (the 205.8 s@×100 build paid
      // once), steady is the maintenance proper: tombstone-incident list
      // repair + frozen-index routing of arrivals + one localized descent
      // round + three delta-sized writes. steady(q233) vs warm(q233) /
      // steady(q220) is the measured value of advancing the graph snapshot
      // vs rebuilding it — the triangle-closing curve (r16 verdict item 1)
      "q233_knn_maintenance",
      // r17: the semantic-closure artifact consumer — warm builds the
      // θ=0.4 canonical table off the graph artifact (pays q228's CC
      // once), steady is a bucketed scan + expression work; vs q228's
      // steady (CC per read) this prices persisting the closure itself
      "q234_semantic_split",
      // r17: the q214 decade rows the r16 verdict flagged as the one
      // designated 100 TB scale path never measured past ×1 — q214's
      // sampled audit must hold its exact-tier pair mass ∝ rate² while
      // the LSH side stays full; q206 is the unsampled truth curve,
      // measured beside it once (×10/×30 only — its exact tier is the
      // documented superlinear baseline, a ×100 would just re-burn it)
      "q214_lsh_recall_sampled", "q206_lsh_recall_report"),
    // r17: the reference's flagship fused read path (RRF of prior×cosine
    // + fuzzy + BM25 — each tier had a scale dial, the fused read was
    // never pushed; r16 verdict item 4)
    "nlp" -> Seq("q79_hybrid_linking"),
    // r15: EM linkage at the decade — replicas block into disjoint
    // (blk, nat) spaces (custkey-derived blocks under id striding), so the
    // candidate aggregate must grow ~M while every EM iteration stays an
    // 8-row frame; the measured wall is the one corpus-scale pattern pass
    "linkage" -> Seq("q218_em_linkage"),
    "event" -> Seq(
      "q32_asof_join", "q87_rolling_actives", "q140_transition_probs"),
    // r14: the stream-static-literal serving pattern at the decade — both
    // queries hold their "model" (IVF codebook / quality baseline) as plan
    // literals and score arrivals statelessly (q194) or with O(windows)
    // StateStore rows (q198), so per-arrival cost must stay flat as the
    // replayed corpus replicates. The micro-batch replay and memory-sink
    // drain are part of the measured wall (the deployment shape, not an
    // overhead to subtract).
    // q194 (flat k=8 cells) is the oracle-isolated serving demo — its
    // per-query cost is its cell's inverted-list size, linear in the
    // corpus under fixed k. q223 is the production twin on the ivf2
    // index (k ∝ N, cell size pinned): per-arrival cost must stay flat.
    "stream" -> Seq(
      "q194_stream_ann", "q223_stream_ann_ivf2",
      "q198_stream_quality_drift",
      // r15: the z-band detector — per-arrival StateStore work must stay
      // flat (state = 3 longs × |users|, which replicates ~M under the
      // strided user_id namespace)
      "q227_stream_ewmv",
      // r16: the StateStore-heavy members the decade table lacked (r15
      // verdict item 4) — q96 (sequenced-file dedup replay: checkpoint
      // fsync + dropDuplicates state ~M keys), q162/q205 (per-window
      // sketch state: HLL registers / CMS counters, rows ∝ windows not
      // corpus), q219 (EWMA: 2 longs × |users| state, ~M users), and the
      // streaming EL serving path (stateless stream-static fan-out —
      // per-arrival cost must stay flat like q223's)
      "q96_stream_dedup_late", "q162_stream_hll", "q205_stream_cms_topk",
      "q219_stream_ewma", "q230_stream_entity_linking",
      // r17: the stream-stream OUTER join — the one streaming operator
      // class without a ×100 row (r16 verdict item 4): two-sided interval
      // state + min-side watermark eviction, state ∝ in-horizon rows
      "q89_stream_outer_join",
      // r17: the unlinked-drift monitor — stateless broadcast alias probe
      // + windowed StateStore agg; per-arrival cost must stay flat, state
      // ∝ windows × sources
      "q235_stream_unlinked_drift"))

  /** doc_id/vec_id namespace stride between replicas — far above any
    * driver-generated id at the scales this tool reads. */
  private val IdStride = 10000000L

  private def replicate(spark: SparkSession, base: String, m: Int, out: String): Unit = {
    val reps = spark.range(m).select(col("id").cast("int").as("k"))
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val suffixed = array_join(
      transform(split(col("text"), "\\s+"), t => concat(t, lit("_"), col("k"))),
      " ")
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("k") * IdStride).as("doc_id"),
        when(col("k") === 0, col("text")).otherwise(suffixed).as("text"),
        col("lang"), col("source"),
        when(col("k") === 0, col("n_chars"))
          .otherwise(length(array_join(
            transform(split(col("text"), "\\s+"), t => concat(t, lit("_"), col("k"))),
            " ")).cast("long")).as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    // Per-replica SIGN-FLIP mask, not an additive shift: flipping a fixed
    // per-replica subset of dimensions leaves every within-replica cosine
    // bit-identical (both sides flip the same dims) while cross-replica
    // cosines decorrelate to ~0 (half the products change sign) — an
    // additive constant barely moves sign-LSH projections, so replicas of
    // the same vector would collide into the same buckets and inflate the
    // pair count ~M² instead of the honest ~M (observed 112× at M=10).
    // Knuth multiplicative hash spreads the mask bits; k = 0 keeps the
    // source vectors byte-identical.
    emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("k") * IdStride).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          // bit (i%31) of k*knuth, via exact double div (k·knuth < 2^35)
          when(pmod(floor((col("k") * lit(2654435761L)).cast("double")
                 / pow(lit(2.0), (i % 31).cast("double"))).cast("long"),
                 lit(2L)) === 1L, -x)
            .otherwise(x)).as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // Relational + event tables, for the graph/event families: every KEY is
    // strided into the replica's id namespace (so the ×M entity graph is M
    // disconnected copies — "more data", not a denser graph), and customer
    // NAMES are suffixed for k > 0 so the literal J2 seed list still matches
    // only replica 0. l_partkey is NOT strided: part is a shared dimension
    // (only replica-0 suppliers reach the alias aggregation anyway).
    def strided(table: String, keys: Seq[String],
                rename: Map[String, Column => Column] = Map.empty): Unit = {
      val t = spark.read.parquet(s"$base/$table.parquet")
      val cols = t.columns.toSeq.map { c =>
        if (keys.contains(c)) (col(c) + col("k") * IdStride).as(c)
        else rename.get(c).map(f => f(col(c)).as(c)).getOrElse(col(c))
      }
      t.crossJoin(reps).select(cols: _*)
        .repartition(32).write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    val suffixNonZero: Column => Column = c =>
      when(col("k") === 0, c).otherwise(concat(c, lit("_"), col("k")))
    strided("customer", Seq("c_custkey"), Map("c_name" -> suffixNonZero))
    strided("orders", Seq("o_orderkey", "o_custkey"))
    strided("lineitem", Seq("l_orderkey", "l_suppkey"))
    strided("supplier", Seq("s_suppkey"))
    strided("events", Seq("event_id", "user_id"))
    // shared dimensions: copied verbatim
    Seq("part", "nation", "region").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = args.headOption.getOrElse("SCALE_r10.json")
    val mults = sys.env.get("SPARK_GRAFT_SCALE_MULTS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 10))
    val famFilter = sys.env.get("SPARK_GRAFT_SCALE_FAMILIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // query-level filter, composable with the family filter — the ×100
    // decade runs only the scale-path members (the exact baselines q22/q112
    // are MEANT to be superlinear; a decade further would just burn an hour
    // re-measuring a documented curve)
    val qFilter = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = families
      .filter { case (f, _) => famFilter.forall(_.contains(f)) }
      .flatMap(_._2)
      .filter(n => qFilter.forall(_.contains(n)))
    // Replica-namespace separation: the snapshot-refresh fixtures mint
    // "added" ids at AddedDocIdOffset above the real corpus — if a replica
    // id (k·IdStride + base) could reach that offset, added docs would
    // alias real docs of a later replica, silently merging components and
    // voiding the refresh queries' pure-growth/removal theorems.
    require(mults.max.toLong * IdStride + IdStride <
        graft.queries.TextQueries.AddedDocIdOffset,
      s"replica ids (max mult ${mults.max} × stride $IdStride) would " +
        "collide with the AddedDocIdOffset namespace")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // The streaming queries replay through a MEMORY sink (the
    // correctness-harness shape): at ×100 the collected sink exceeds the
    // 1 GiB default driver-result cap — a harness artifact, not an operator
    // property (production streams write to real sinks), so the replay tool
    // raises the cap rather than skipping the decade.
    val spark = Harness.session(cpus, "spark.driver.maxResultSize" -> "8g")

    // by-name: plan CONSTRUCTION must run inside the timer — most of these
    // queries end in an eager localCheckpoint, so the work happens at
    // construction and a strict parameter would time only the noop drain
    def timeNoop(df: => DataFrame): Double = {
      System.gc()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Shuffle partitions SCALE WITH INPUT (the knob a real cluster turns):
    // partitions = max(cpus, m × partsPerMult), so per-partition hash/sort
    // state stays roughly constant as the corpus replicates — separating
    // algorithmic growth from spill in the measured curves. AQE coalesces
    // the small stages back down, so the only cost of the higher ceiling is
    // scheduling, not tiny-task overhead.
    val partsPerMult =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_PARTS_PER_MULT", "8").toInt

    val perMult = mults.map { m =>
      spark.conf.set("spark.sql.shuffle.partitions",
        math.max(cpus, m * partsPerMult).toString)
      val dir =
        if (m == 1) base
        else {
          val d = s"/tmp/graft_scale_x$m"
          // builder-side iteration aid: reuse an existing replica dir across
          // family-filtered runs instead of rewriting ×M parquet each time.
          // The marker file records which base corpus the replicas were
          // built from — reuse only fires when it matches the current
          // SPARK_GRAFT_SF_DIR, so switching bases can't silently replay
          // stale replicas.
          val marker = Paths.get(s"$d/.graft_scale_base")
          val reuse = sys.env.contains("SPARK_GRAFT_SCALE_REUSE") &&
            Files.exists(Paths.get(s"$d/region.parquet")) &&
            Files.exists(marker) &&
            new String(Files.readAllBytes(marker), StandardCharsets.UTF_8).trim == base
          if (!reuse) {
            replicate(spark, base, m, d)
            Files.write(marker, base.getBytes(StandardCharsets.UTF_8))
          }
          d
        }
      // Write-IO accounting (r16 verdict item 6): maintenance queries'
      // separating number is BYTES WRITTEN, not seconds — the monolithic
      // vs merge-on-read layouts measure ~parity in wall at replica scale
      // because the avoided rewrite is small there; the write column is
      // the asymptote the layouts actually differ on. Measured as the sum
      // of warehouse files modified during the run (artifact tables are
      // the only warehouse writers; the noop sink writes nothing).
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      def writtenBytesSince(t0: Long): Long = {
        val root = Paths.get(warehouse)
        if (!Files.exists(root)) 0L
        else {
          val s = Files.walk(root)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala
              .filter(p => Files.isRegularFile(p) &&
                Files.getLastModifiedTime(p).toMillis >= t0)
              .map(Files.size).sum
          } finally s.close()
        }
      }
      val perQuery = names.map { name =>
        val fn = SparkEntry.queries(name)
        // warm (build) readings are SINGLE-SHOT by design: a warm run that
        // builds a write-once artifact cannot be repeated without deleting
        // the artifact it exists to keep (and a decade of 4 mults already
        // costs ~15 min per batch) — treat cross-mult non-monotonicity in
        // the warm column as single-measurement noise; steady is the
        // production-read number and the one the curves are judged on.
        val tw0 = System.currentTimeMillis()
        val warm = timeNoop(fn(spark, dir))
        val warmMb = writtenBytesSince(tw0).toDouble / 1e6
        val ts0 = System.currentTimeMillis()
        val steady = timeNoop(fn(spark, dir))
        val steadyMb = writtenBytesSince(ts0).toDouble / 1e6
        // refresh queries emit one row per v2 doc_id: a replica/offset
        // collision surfaces as duplicate ids — fail loud, not silently
        // publish an invalid decade curve. The check rides the SAME pass
        // as the row count (one agg) instead of a fourth corpus-scale run.
        // count(1) + null-count alongside countDistinct: count(doc_id)
        // skips NULLs, so a maintenance bug emitting NULL ids would
        // otherwise pass the collision check silently (r16 advice).
        val rows =
          if (name.contains("closure_refresh") ||
              name.contains("artifact_maintenance")) {
            val r = fn(spark, dir)
              .agg(count(lit(1)), countDistinct(col("doc_id")),
                sum(when(col("doc_id").isNull, 1L).otherwise(0L)))
              .collect()(0)
            val nulls = if (r.isNullAt(2)) 0L else r.getLong(2)
            require(nulls == 0L,
              s"$name at x$m: $nulls NULL v2 doc_ids — maintenance bug")
            require(r.getLong(1) == r.getLong(0),
              s"$name at x$m: ${r.getLong(0) - r.getLong(1)} duplicate " +
                "v2 doc_ids — replica namespace collision")
            r.getLong(0)
          } else fn(spark, dir).count()
        spark.sqlContext.clearCache()
        name -> (warm, steady, rows, warmMb, steadyMb)
      }
      m -> perQuery
    }

    val json = perMult.map { case (m, qs) =>
      val inner = qs.map { case (n, (w, s, r, wmb, smb)) =>
        s""""$n":{"warm_sec":$w,"steady_sec":$s,"rows":$r,""" +
          f""""warm_written_mb":$wmb%.1f,"steady_written_mb":$smb%.1f}"""
      }.mkString(",")
      s""""x$m":{$inner}"""
    }.mkString("{\"base\":\"" + base + "\",\"warm_note\":" +
      "\"warm readings are single-shot build runs; steady is the judged curve\",", ",", "}")
    Files.write(Paths.get(outPath), json.getBytes(StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
