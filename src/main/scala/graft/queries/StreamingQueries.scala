package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.functions.GraftFunctions
import graft.similarity.BlockedJoin
import graft.streaming.StreamOps
import graft.text.EntityLinking

/** ORACLE-GATED streaming queries (SURVEY.md §2 X3): each runs a real
  * Structured Streaming query — file source over the driver parquet,
  * `Trigger.AvailableNow`, memory sink — then returns the sink table as the
  * gated DataFrame. The DuckDB oracle is the BATCH semantics of the same
  * transform, so a green row proves stream/batch twin equivalence under the
  * driver's hash gate (round-2 verdict item #1: the streaming surface was
  * law-tested but had no external correctness entry).
  *
  * Determinism rules for a gate-able streaming query:
  *   - Aggregations run in Complete output mode (finite replay), so no
  *     window is withheld by the final watermark — output set equals batch.
  *   - Non-aggregating stateful ops (stream-stream join, dropDuplicates)
  *     run in Append mode; the whole file arrives in batch 0 with watermark
  *     still at epoch, so nothing is late-dropped and every match/survivor
  *     is emitted.
  *   - Dedup queries project ONLY columns functionally determined by the
  *     dedup key (fp → chunk, simhash) — which duplicate row survives
  *     `dropDuplicates` is arrival-order-dependent and must not be gated.
  *
  * Scale note: Complete mode here is a correctness-replay harness, not the
  * production shape — production runs the same transforms in append/update
  * with watermark-GC'd state (StreamOps scaladoc, StreamingSpec).
  */
object StreamingQueries {

  /** Memory-sink query names must be unique per start within a session;
    * Bench runs every query twice (warm-up + timed). */
  private val runSeq = new AtomicInteger(0)

  /** Run a streaming DataFrame to completion (AvailableNow) into a memory
    * sink and return its contents as a batch DataFrame. The result is
    * materialized (localCheckpoint), then the sink's temp view is dropped
    * and the checkpoint directory deleted — repeated invocations (Bench
    * warm-up + timed, long-lived sessions) leave no growing driver-memory
    * tables or orphan /tmp state, the same no-residue discipline the
    * library ops follow for caches. */
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  /** State partitions for the replay harness (r17, guide §2.2 "fewer,
    * larger partitions"): a stateful operator opens/commits/snapshots ONE
    * state-store instance per shuffle partition per micro-batch, and with
    * `spark.sql.shuffle.partitions = cores` the three-batch replays paid
    * 32 store lifecycles per operator per batch to hold KBs of state —
    * measured: q89's three stateful stages carried ~70 s of task time each
    * holding < 0.5 MB (the per-store open/commit/fsync floor, paid ×32).
    * State-store count is a DEPLOYMENT dial (pinned by the checkpoint at
    * the first batch, invariant under executor count), so the harness
    * right-sizes it to the replay's state volume. Partitioning is by key
    * hash either way — results are identical. */
  private val StreamParts = 8

  /** Run `body` with the session's shuffle partitions at [[StreamParts]],
    * restoring the caller's setting afterwards, also when `body` throws. */
  private def withStreamParts[T](spark: SparkSession)(body: => T): T = {
    val priorParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StreamParts.toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", priorParts)
  }

  private def runToTable(df: DataFrame, name: String, mode: String): DataFrame = {
    val spark = df.sparkSession
    val sink = s"${name}_${runSeq.incrementAndGet()}"
    val ckptPath = java.nio.file.Files.createTempDirectory(s"graft_ckpt_$sink")
    // try/finally: a stream that throws mid-run must still stop its query and
    // release the temp view + checkpoint dir, or repeated failed invocations
    // leak driver memory and /tmp state
    try withStreamParts(spark) {
      val q = df.writeStream
        .format("memory")
        .queryName(sink)
        .outputMode(mode)
        .option("checkpointLocation", ckptPath.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally if (q.isActive) q.stop()
      spark.table(sink).localCheckpoint()
    } finally {
      spark.catalog.dropTempView(sink)
      rmTree(ckptPath.toFile)
    }
  }

  /** Write `df` as ONE parquet file at `dst` with an explicit modification
    * time — FileStreamSource orders discovered files by mtime (oldest first),
    * so spaced mtimes pin the replay sequence deterministically. */
  private def writeSequencedFile(df: DataFrame, dst: java.io.File, mtimeMs: Long): Unit = {
    val stage = java.nio.file.Files.createTempDirectory("graft_seq_stage")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtimeMs)
    } finally rmTree(stage.toFile)
  }

  /** Streaming twin of [[graft.Tables.events]]: file source over the events
    * parquet. Mirrors the batch loader's two-generation `ts` handling
    * (TIMESTAMP(NANOS) read as long vs TIMESTAMP_NTZ micros) — the declared
    * stream schema must match the footer, so probe it with a batch read. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val probed = Tables.load(s, d, "events").schema("ts").dataType
    val tsIsLong = probed == org.apache.spark.sql.types.LongType
    // Declare exactly what the batch probe inferred — hardcoding NTZ for
    // the non-long case would diverge if a driver generation ships
    // isAdjustedToUTC=true micros (TimestampType) or inferTimestampNTZ is
    // off; `.sql` renders LONG/TIMESTAMP/TIMESTAMP_NTZ correctly.
    val tsDecl = s"ts ${probed.sql}"
    val raw = s.readStream
      .schema(s"event_id LONG, $tsDecl, user_id LONG, event_type STRING, " +
        "value DOUBLE, props STRING")
      .parquet(s"$d/{events}.parquet") // brace-glob: FileStreamSource needs a
      // directory/glob basePath, and the glob selects exactly this table
    if (tsIsLong) raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Streaming documents source. The documents table has no event-time
    * column, so the stream carries a synthetic deterministic `ts` derived
    * from doc_id (doc k arrives at epoch+k seconds) — enough to exercise
    * the watermark machinery without touching gated output columns. */
  private def docsStream(s: SparkSession, d: String): DataFrame =
    s.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(s"$d/{documents}.parquet")
      .withColumn("ts", timestamp_seconds(col("doc_id") + 86400L))
      // +1 day: a row at exactly epoch 0 is "late" against the initial
      // watermark (ts <= wm drops it) and doc 0 would silently vanish

  private def customerStream(s: SparkSession, d: String): DataFrame =
    s.readStream
      .schema("c_custkey LONG, c_name STRING, c_nationkey INT, " +
        "c_acctbal DOUBLE, c_mktsegment STRING")
      .parquet(s"$d/{customer}.parquet")

  private def embeddingsStream(s: SparkSession, d: String): DataFrame =
    s.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
      .parquet(s"$d/{embeddings}.parquet")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // STREAMING RECORD LINKAGE — q181's deployment shape: Fellegi–Sunter
    // weights are CALIBRATED ON THE STATIC REFERENCE (u counted from the
    // blocked A–A pairs of the reference corpus — "yesterday's pairs score
    // today's stream"; six longs of driver state riding the plan as
    // literals, the LogReg bounded-model shape), then arriving B-records
    // are scored by a stateless STREAM–STATIC join on the same composite
    // blocking key. No watermark, no state store: blocking bounds each
    // arriving record's comparison fan-out to its (constant-size) block,
    // so per-record cost is flat at any corpus size, and the oracle is the
    // equivalent batch join — weights included — under the hash gate.
    "q186_stream_linkage" -> ((s, d) => {
      val rA = LinkageQueries.withKeys(
        LinkageQueries.aRecords(graft.Tables.customer(s, d)))
        .localCheckpoint() // static side: A–A calibration + the stream join
      val aa = LinkageQueries.agreementCols(
        rA.select(col("rec_id").as("ra"), col("blk"), col("nat"),
            col("name").as("name_a"), col("seg").as("seg_a"),
            col("bal").as("bal_a"))
          .join(rA.select(col("rec_id").as("rb"), col("blk"), col("nat"),
            col("name").as("name_b"), col("seg").as("seg_b"),
            col("bal").as("bal_b")), Seq("blk", "nat"))
          .filter(col("ra") < col("rb")))
      val w = LinkageQueries.fsWeights(aa).collect()(0)
      def wl(n: String) = lit(w.getAs[Long](n))
      val bStream = LinkageQueries.withKeys(
        LinkageQueries.bRecords(customerStream(s, d)))
        .select(col("rec_id").as("rb"), col("blk"), col("nat"),
          col("name").as("name_b"), col("seg").as("seg_b"),
          col("bal").as("bal_b"))
      val scored = LinkageQueries.agreementCols(
        bStream.join(
          rA.select(col("rec_id").as("ra"), col("blk"), col("nat"),
            col("name").as("name_a"), col("seg").as("seg_a"),
            col("bal").as("bal_a")), Seq("blk", "nat")))
        .withColumn("score_fp",
          when(col("name_eq"), wl("w_name_a")).otherwise(wl("w_name_d"))
            + when(col("seg_eq"), wl("w_seg_a")).otherwise(wl("w_seg_d"))
            + when(col("bal_close"), wl("w_bal_a"))
              .otherwise(wl("w_bal_d")))
        .filter(col("score_fp") > 0)
        .select(col("ra"), col("rb"), col("name_eq"), col("seg_eq"),
          col("bal_close"),
          (col("score_fp").cast("double") / 1e9).as("score"))
      runToTable(scored, "q186_stream_linkage", "append")
        .orderBy(col("ra"), col("rb"))
    }),

    // STREAMING ANN SERVING — q186's deployment discipline applied to the
    // vector-retrieval family: the IVF codebook is trained on the STATIC
    // corpus (q111's deterministic Lloyd; k·d doubles of bounded driver
    // state riding the streaming plan as literals — the fsWeights shape),
    // each arriving query vector routes to its cell STATELESSLY (argmin
    // over the literal codebook, the kmeansAssign (dist, cell) tie-break
    // verbatim — no state store, no watermark), and a stream–static join
    // on the cell probes ONLY that cell's inverted list; candidates at
    // cosine >= 0.2 emit in append mode. Blocking bounds every arriving
    // vector's comparison fan-out to its cell, so per-query serving cost
    // is flat in corpus size; the oracle is the equivalent batch
    // cell-join (codebook, routing rule and threshold included) under
    // the hash gate.
    "q194_stream_ann" -> ((s, d) => {
      import graft.vector.VectorOps
      val e = graft.Tables.embeddings(s, d)
      // one k-means: the codebook feeds BOTH the static inverted list and
      // the stream-side routing literals
      val cb = VectorOps.kmeansCodebook(e, 8, 2).localCheckpoint()
      val corpus = VectorOps
        .assignCells(e.select(col("vec_id"), col("embedding")), cb)
        .filter(col("vec_id") % 16 =!= 0)
        .select(col("cell"), col("vec_id").as("neighbor_id"),
          col("embedding").as("c_emb"))
        .localCheckpoint() // static side of the stream-static join
      val book = cb.collect().map(r => (r.getAs[Long]("cell"),
        r.getAs[scala.collection.Seq[Double]]("centroid")))
      val bookCol = array(book.map { case (cell, cent) =>
        struct(lit(cell).as("cell"),
          array(cent.map(lit).toSeq: _*).as("centroid"))
      }.toSeq: _*)
      val qStream = embeddingsStream(s, d)
        .filter(col("vec_id") % 16 === 0)
        .withColumn("cell",
          array_min(transform(bookCol, b =>
            struct(VectorOps.l2Dist(col("embedding"),
                b.getField("centroid")).as("dist"),
              b.getField("cell").as("cell")))).getField("cell"))
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"), col("cell"))
      val matched = qStream.join(corpus, Seq("cell"))
        .withColumn("cosine", GraftFunctions.cosineSim(col("q_emb"), col("c_emb")))
        .filter(col("cosine") >= 0.2)
        .select(col("query_id"), col("cell"), col("neighbor_id"),
          col("cosine"))
      runToTable(matched, "q194_stream_ann", "append")
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // STREAMING ANN SERVING ON THE TWO-LEVEL INDEX — q194's 100 TB shape.
    // q194 (flat k=8 Lloyd cells) is the oracle-isolated serving demo;
    // its per-query cost is its CELL'S inverted-list size, which with
    // fixed k grows linearly in the corpus — the same flat-assign trap
    // q138 solved for SemDeDup. This twin serves off the ivf2 index
    // (k ∝ N fine cells, cell size pinned ~64): the ~√k-entry EFFECTIVE
    // coarse book rides the streaming plan as literals (bounded), each
    // arrival routes coarse→fine through the EXACT batch argmin
    // expression (VectorOps.argminCell — same (L2, cell) tie-break), the
    // fine books arrive by a stateless stream-static join on the coarse
    // cell (~√k fines per row), and the probe joins only the fine cell's
    // ~64-vector inverted list — per-arrival cost FLAT in corpus size.
    // Oracle = the batch two-level assignment (ivf2AfCte) joined on the
    // fine cell; the stream routing reproduces af's rule expression-for-
    // expression, so both engines emit identical candidates.
    "q223_stream_ann_ivf2" -> ((s, d) => {
      import graft.vector.VectorOps
      val e = graft.Tables.embeddings(s, d)
      val n = graft.Tables.rowCount(s, d, "embeddings")
      val k = math.min(n, math.max(8L, math.ceil(n / 64.0).toLong)).toInt
      val c = math.max(2L, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
      val (gbook, ebookRow) = VectorOps.ivf2Books(e, k, c)
      val erow = ebookRow.collect()(0)
        .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("ebook")
      val ebookCol = array(erow.map { r =>
        struct(lit(r.getLong(0)).as("ccell"),
          array(r.getAs[scala.collection.Seq[Double]](1).map(lit).toSeq: _*)
            .as("centroid"))
      }.toSeq: _*)
      val inv = e.join(VectorOps.ivf2Assign(e, k, c), Seq("vec_id"))
        .filter(col("vec_id") % 16 =!= 0)
        .select(col("cluster").as("cell"), col("vec_id").as("neighbor_id"),
          col("embedding").as("c_emb"))
        .localCheckpoint() // static inverted list
      val gb = gbook.localCheckpoint() // static routing side
      val qStream = embeddingsStream(s, d)
        .filter(col("vec_id") % 16 === 0)
        .withColumn("ccell",
          VectorOps.argminCell(ebookCol, col("embedding"),
            "ccell", "centroid"))
        .join(gb, Seq("ccell"))
        .withColumn("cell",
          VectorOps.argminCell(col("fines"), col("embedding"),
            "cell", "centroid"))
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"), col("cell"))
      val matched = qStream.join(inv, Seq("cell"))
        .withColumn("cosine", GraftFunctions.cosineSim(col("q_emb"), col("c_emb")))
        .filter(col("cosine") >= 0.2)
        .select(col("query_id"), col("cell"), col("neighbor_id"),
          col("cosine"))
      runToTable(matched, "q223_stream_ann_ivf2", "append")
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // STREAMING DEDUP PROBE — q125's corpus probe in deployment shape:
    // the reference corpus's MinHash signatures and banded buckets are a
    // write-once STATIC table; each arriving document computes its own
    // signature AS A ROW EXPRESSION (GraftFunctions.minhashSignature — no
    // shuffle, no state), explodes its 8 band buckets, and a stream–static
    // join on (band, bucket) + the house first-collision-band prefix
    // filter emits each (arrival, corpus) candidate EXACTLY ONCE with no
    // pair-level distinct and no state store; the per-pair verify is one
    // zip_with over the two signature arrays. Both sides are
    // BlockedJoin.blocks tables meeting in BlockedJoin.candidates, and each
    // carries its signature on its exploded rows: a streaming side cannot
    // be joined back to itself by id. Per-arrival cost is its
    // band fan-out (8 bucket lookups) — flat in corpus size. The gated
    // output is the per-arrival verdict (min-id corpus canonical + match
    // count, aggregated post-sink); oracle = q125's dupc rule verbatim.
    //
    // The signature is the NATIVE expression, not the HOF form: deriving
    // the 8 band buckets inlines the signature into each bucket slice
    // (CollapseProject), and the interpreted HOF tree re-evaluated 5.2×
    // per row — 39.8 s for this projection alone at sf0.1, the round-13
    // bench's 48–57 s mystery. Native: the whole query runs in ~3 s and
    // the streaming engine itself was measured to add nothing (stream
    // 41.7 s vs batch-equivalent 42.9 s on the pre-fix plan).
    "q201_stream_dedup_probe" -> ((s, d) => {
      import graft.dedup.DedupOps
      import graft.dedup.DedupOps.NearDup
      val corpus = Tables.documents(s, d).filter(col("source") === "src0")
      val keys = DedupOps.bandBuckets(col("sig"), NearDup.Hashes, NearDup.RowsPerBand)
      val staticSide = BlockedJoin.blocks(DedupOps.nearDupSignatures(corpus),
          col("doc_id"), keys, col("sig").as("csig"))
        .localCheckpoint() // probed by every micro-batch
      val streamSide = BlockedJoin.blocks(docsStream(s, d)
          .filter(col("source") =!= "src0")
          .withColumn("sig",
            GraftFunctions.minhashSignature(col("text"), NearDup.Shingle,
              NearDup.Hashes))
          // no-shingle docs have all-NULL signatures and the batch form has
          // no signature row for them: the sig[0] null test keeps its row set
          .filter(col("sig").getItem(0).isNotNull),
        col("doc_id"), keys, col("sig").as("bsig"))
      val matched = BlockedJoin.candidates(streamSide, staticSide)
        .withColumn("est",
          DedupOps.sigAgreement(col("bsig"), col("csig"), NearDup.Hashes))
        .filter(col("est") >= NearDup.Threshold)
        .select(col("a").as("bid"), col("b").as("cid"), col("est"))
      runToTable(matched, "q201_stream_dedup_probe", "append")
        .groupBy(col("bid"))
        .agg(min(col("cid")).as("canonical"),
          count(lit(1)).as("n_matches"))
        .select(col("bid").as("doc_id"), col("canonical"), col("n_matches"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING CMS HEAVY HITTERS — q151's Count-Min sketch with the
    // counters living IN the streaming engine (q162's HLL-register
    // discipline for counters): per (1-minute window × r × idx) counts
    // are StateStore aggregation state — |windows|·4·1024 longs however
    // many tokens arrive, where exact streaming counts would grow state
    // with the live vocabulary. Post-sink, each window's vocabulary
    // probes its counters (min over the 4 rows) and the top-3 per window
    // by estimate is gated beside the exact counts — sketch overestimate
    // included, bit-for-bit. Window starts are epoch seconds (the q198
    // integer-window discipline).
    "q205_stream_cms_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.text.{CountMin, TextOps}
      val sk = runToTable(
        StreamOps.cmsCounterAgg(docsStream(s, d), "1 minute", "1 hour",
          4, 1024),
        "q205_stream_cms_topk", "complete")
      val batch = Tables.documents(s, d)
        .select(expr("(doc_id + 86400) div 60 * 60").as("w_start"),
          explode(TextOps.tokens(col("text"))).as("token"))
      val probe = batch.select(col("w_start"), col("token")).distinct()
        .select(col("w_start"), col("token"),
          explode(sequence(lit(0), lit(3))).as("r"))
        .select(col("w_start"), col("token"), col("r"),
          CountMin.rowHash(col("r"), col("token"), 1024).as("idx"))
      val est = probe.join(sk, Seq("w_start", "r", "idx"))
        .groupBy(col("w_start"), col("token")).agg(min(col("c")).as("est"))
      val exact = batch.groupBy(col("w_start"), col("token"))
        .agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("w_start", "token"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("w_start"))
            .orderBy(col("est").desc, col("token").asc)))
        .filter(col("rn") <= 3)
        .select(col("w_start"), col("token"), col("est"), col("exact"),
          col("rn").cast("int").as("rn"))
        .orderBy(col("w_start"), col("rn"))
    }),

    // STREAMING QUALITY-DRIFT MONITOR — the live-ingest ops dashboard for
    // the batch quality rules (q20/q164/q169): the per-source quality
    // BASELINE is computed on the static reference corpus (fixed-point
    // floor(q·1e9) long sums, the q167 discipline — ONE long per source),
    // arriving docs aggregate per (1-minute window × source) IN THE
    // STREAMING ENGINE (StateStore aggregation, Complete replay), and
    // each window's fixed-point mean is compared to its baseline —
    // |mean − base| > 0.03 flags drift. Window starts are emitted as
    // epoch SECONDS (pure integer both sides); every op is long
    // arithmetic with `div` floor-division, so the batch oracle
    // reproduces every flag bit-for-bit. At production scale the state is
    // |windows|×|sources| longs — constant per window, watermark-GC'd.
    "q198_stream_quality_drift" -> ((s, d) => {
      import graft.text.TextOps
      val base = Tables.documents(s, d)
        .select(col("source"),
          floor(TextOps.qualityScore(col("text")) * 1e9).cast("long")
            .as("qfp"))
        .groupBy(col("source"))
        .agg(expr("sum(qfp) div count(1)").as("base_qfp"))
      val win = docsStream(s, d)
        .select(col("ts"), col("source"),
          floor(TextOps.qualityScore(col("text")) * 1e9).cast("long")
            .as("qfp"))
        .groupBy(window(col("ts"), "1 minute"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("qfp")).as("sum_qfp"))
        .select(col("window.start").cast("long").as("w_start"),
          col("source"), col("n_docs"), col("sum_qfp"))
      runToTable(win, "q198_stream_quality_drift", "complete")
        .join(broadcast(base), Seq("source"))
        .withColumn("mean_qfp", expr("sum_qfp div n_docs"))
        .select(col("w_start"), col("source"), col("n_docs"),
          col("mean_qfp"), col("base_qfp"),
          (abs(col("mean_qfp") - col("base_qfp")) > lit(30000000L))
            .as("drift"))
        .orderBy(col("w_start"), col("source"))
    }),

    // Tumbling-window aggregation executed BY THE STREAMING ENGINE
    // (StateStore aggregation, not batch HashAggregate); same oracle text
    // as batch q29.
    "q60_stream_tumbling" -> ((s, d) =>
      runToTable(
        StreamOps.tumblingAgg(eventsStream(s, d), "1 hour", "1 hour"),
        "q60_stream_tumbling", "complete")
        .orderBy(col("w_start"), col("event_type"))),

    // Sliding (hopping) windows, streaming-executed; q30's shape minus the
    // value sum (slidingAgg emits counts only).
    "q61_stream_sliding" -> ((s, d) =>
      runToTable(
        StreamOps.slidingAgg(eventsStream(s, d), "1 hour", "30 minutes", "1 hour"),
        "q61_stream_sliding", "complete")
        .orderBy(col("w_start"), col("event_type"))),

    // Built-in session windows, streaming-executed (session-merging state).
    "q62_stream_session" -> ((s, d) =>
      runToTable(
        StreamOps.sessionAgg(eventsStream(s, d), "30 minutes", "1 hour"),
        "q62_stream_session", "complete")
        .orderBy(col("user_id"), col("s_start"))),

    // STREAM–STATIC enrichment join (events stream ⋈ customer market
    // segment), then the tumbling StateStore aggregation keyed by the
    // enriched attribute — the stateless dimension-join shape, executed
    // by the streaming engine; the oracle is the equivalent batch join.
    "q142_stream_static_enrich" -> ((s, d) => {
      val dim = graft.Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      runToTable(
        StreamOps.staticEnrichAgg(eventsStream(s, d), dim, "1 hour", "1 hour"),
        "q142_stream_static_enrich", "complete")
        .orderBy(col("w_start"), col("segment"))
    }),

    // STREAMING SKETCH STATE — per-hour distinct-user HLL registers
    // maintained BY THE STREAMING ENGINE (StateStore max-aggregation, ≤ 256
    // longs per window — the bounded-state production shape for streaming
    // cardinality), finalized batch-side from the sink (Z, α·m²/Z) with the
    // exact per-window distinct alongside; the oracle recomputes the
    // registers from batch rows, so streaming state maintenance is proven
    // equivalent to the batch sketch bit-for-bit (q60's stream/batch twin
    // contract, q158's portability discipline).
    "q162_stream_hll" -> ((s, d) => {
      import graft.text.Hll
      val regs = runToTable(
        StreamOps.hllRegisterAgg(eventsStream(s, d), "1 hour", "1 hour"),
        "q162_stream_hll", "complete")
      val sk = Hll.zTable(regs, "w_start")
      val exact = graft.Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(countDistinct(col("user_id")).as("exact"))
        .select(col("w.start").as("w_start"), col("exact"))
      sk.join(exact, Seq("w_start"))
        .select(col("w_start"), col("nonzero"), col("z"),
          Hll.estimate(col("z")).as("est"), col("exact"))
        .orderBy(col("w_start"))
    }),

    // STREAM-STREAM interval join (errors ⋈ clicks of the same user within
    // 4 hours after the error) — real symmetric-hash join state, append
    // mode; all data lands in batch 0 so the emitted match set equals the
    // batch inner join.
    "q63_stream_interval_join" -> ((s, d) => {
      val ev = eventsStream(s, d)
      runToTable(
        StreamOps.intervalJoin(
          ev.filter(col("event_type") === "error")
            .select(col("user_id"), col("ts"), col("event_id")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("event_id")),
          keyCol = "user_id", windowSec = 14400L, watermark = "8 hours"),
        "q63_stream_interval_join", "append")
        .select(col("user_id"), col("l_ts"), col("l_event_id"),
          col("r_ts"), col("r_event_id"))
        .orderBy(col("l_event_id"), col("r_event_id"))
    }),

    // End-to-end streaming ingest (quality filter → PII mask → chunk →
    // watermarked exact dedup). Gated on (fp, chunk) — the columns the
    // dedup key determines; the surviving doc_id is arrival-order state.
    "q64_stream_ingest" -> ((s, d) =>
      runToTable(
        StreamOps.ingestPipeline(docsStream(s, d),
          minQuality = 0.45, chunkSize = 32, overlap = 8, watermark = "1 hour"),
        "q64_stream_ingest", "append")
        .select(col("fp"), col("chunk"))
        .orderBy(col("fp"))),

    // Streaming near-dup dedup keyed on the per-row SimHash expression;
    // gated on the surviving signature set (= distinct batch SimHashes).
    // Only the key is sunk, so the dedup state exchange carries the
    // SimHash, not the document rows and their text.
    "q65_stream_neardup" -> ((s, d) =>
      runToTable(
        StreamOps.nearDupDedup(docsStream(s, d), "text", "1 hour")
          .select(col("simhash")),
        "q65_stream_neardup", "append")
        .orderBy(col("simhash"))),

    // CUSTOM arbitrary state (flatMapGroupsWithState + event-time timeout):
    // per-user 30-min-gap sessions with running sums. Emission rule under a
    // finite replay: a session is output when a later same-user event closes
    // it (in-batch) or when the final watermark (max_ts - gap) passes its
    // timeout (last_ts + gap) — so each user's LAST session appears iff
    // last_ts + gap < max_ts - gap, and the oracle encodes exactly that
    // closure rule. Sums are sequential folds over the ts-ordered events
    // ((user_id, ts) is unique at every SF), mirrored by list_reduce.
    "q69_stream_sessionize" -> ((s, d) => {
      import s.implicits._
      val ev = eventsStream(s, d)
        .select(col("user_id"), col("ts"), col("value")).as[StreamOps.Ev]
      runToTable(StreamOps.sessionizeWithState(ev, gapMs = 1800000L).toDF(),
        "q69_stream_sessionize", "append")
        .select(col("user_id"), col("s_start"), col("s_end"), col("n"),
          col("sum_value"))
        .orderBy(col("user_id"), col("s_start"))
    }),

    // STREAMING EWMA ANOMALY DETECTOR — the per-entity adaptive-baseline
    // monitor beside q109's batch z-score (global, two-pass) and q198's
    // windowed drift means: EWMA is a RECURSIVE statistic (each value
    // depends on the whole per-user history), so it needs arbitrary state,
    // not windowed aggregation — two longs per user in the StateStore,
    // bounded by |users| however long the stream runs. Flag rule: after an
    // 8-event burn-in, any arrival outside [ewma/4, 4·ewma]. All integer
    // fixed-point (StreamOps.ewmaAnomalies scaladoc); the oracle replays
    // the identical recurrence as a DuckDB recursive CTE over the
    // (ts, event_id)-ordered per-user sequence.
    "q219_stream_ewma" -> ((s, d) => {
      import s.implicits._
      val ev = eventsStream(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .as[StreamOps.EvId]
      runToTable(StreamOps.ewmaAnomalies(ev, warmup = 8L).toDF(),
        "q219_stream_ewma", "update")
        .select(col("user_id"), col("event_id"), col("value_seen"),
          col("ewma_prev"))
        .orderBy(col("event_id"))
    }),

    // STREAMING EWMA + EWMV Z-BAND DETECTOR — q219's band made
    // VARIANCE-ADAPTIVE (the r14-verdict EWMA-family widening): the state
    // adds a third long, the EWMA of squared one-step residuals, and the
    // flag rule becomes |v − ewma| > 3σ instead of the fixed 4× ratio — a
    // noisy key stops flagging its own noise, a quiet key flags small
    // absolute jumps the ratio band would wave through, and a flagged
    // spike widens the band behind it (self-healing alarms, the ops
    // behavior CUSUM/EWMA control charts exist for). Same portable
    // arithmetic and recursive-CTE oracle discipline as q219; sigma2_prev
    // in the output prices each alarm's band beside it.
    "q227_stream_ewmv" -> ((s, d) => {
      import s.implicits._
      val ev = eventsStream(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .as[StreamOps.EvId]
      runToTable(StreamOps.ewmvAnomalies(ev, warmup = 8L).toDF(),
        "q227_stream_ewmv", "update")
        .select(col("user_id"), col("event_id"), col("value_seen"),
          col("ewma_prev"), col("sigma2_prev"))
        .orderBy(col("event_id"))
    }),

    // STREAMING ENTITY LINKING — the reference's core flow (gazetteer NER
    // V5 → candidates V2 → prior×cosine argmax V3,
    // /root/reference/dagster_icij/assets.py:107-130 + dev.ipynb cells
    // 84-88) in deployment shape (r15 verdict item 5): documents ARRIVE,
    // the "model" — alias→entity priors calibrated on the reference
    // corpus (J2's gazetteer) plus the embedding store — is STATIC, and
    // every arrival is scored by stateless stream-static joins: posexplode
    // tokens (map-side), broadcast gazetteer join (per-token candidate
    // fan-out bounded by the top-8 prior cap), both vectors by vector id
    // (doc_id % nvec, entity % nvec — q34's NlpQueries.withVectors, nvec
    // riding the plan as a literal, q223's codebook-literal rule),
    // score = prior × native cosine. No watermark, no StateStore —
    // per-arrival cost is the candidate fan-out, flat in corpus size. The
    // per-mention argmax (EntityLinking.bestLinks) is a bounded
    // per-key reduction applied POST-SINK — the q201/q223 house pattern:
    // append mode cannot rank, and in production the top-1 pick is the
    // sink consumer's O(candidates-per-mention) reduction, not stream
    // state. Oracle = q34's batch EL oracle VERBATIM — the gate pins the
    // streaming path to the batch semantics row for row.
    "q230_stream_entity_linking" -> ((s, d) => {
      // static side: the gazetteer, materialized once (the deployment's
      // model); the vectors attach by vector id from the embeddings scan
      val gazT = NlpQueries.gaz(s, d).localCheckpoint()
      val toks = docsStream(s, d)
        .select(col("doc_id"),
          posexplode(graft.text.TextOps.tokens(col("text")))
            .as(Seq("pos", "token")))
      // LEFT joins: the TWO-TIER prior-backoff rule (see
      // EntityLinking.bestLinks — a candidate missing either vector scores
      // on its prior but ranks below every fully-scored candidate of the
      // mention); ctx_cos rides through the sink for the argmax
      val scored = EntityLinking.scoreLinks(NlpQueries.withVectors(
          toks.join(broadcast(gazT), col("token") === col("alias")),
          Tables.embeddings(s, d), Tables.rowCount(s, d, "embeddings"), "left"))
        .select(col("doc_id"), col("pos"), col("token"), col("entity"),
          col("prior"), col("score"), col("ctx_cos"))
      EntityLinking.bestLinks(
          runToTable(scored, "q230_stream_entity_linking", "append"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // STREAMING UNLINKED-REVIEW DRIFT — the V6 report's live twin (r16
    // verdict item 7): q230 links arriving mentions; the reference's
    // flagship READ is the UNLINKED-mention review
    // (/root/reference/src/analysis.py:35, q36/q49), and the signal an EL
    // deployment actually pages on is its RATE moving — a gazetteer gone
    // stale against drifting input shows up as a rising share of tokens no
    // alias covers, long before anyone reads a review table. q198's
    // discipline applied to EL quality: the per-source unlinked-rate
    // BASELINE is computed on the static reference corpus (one long per
    // source), arriving docs explode to tokens (map-side), left-join the
    // BROADCAST alias set (stateless stream-static probe — the gazetteer
    // is the model, same static side as q230), aggregate per (1-minute
    // window × source) IN THE STREAMING ENGINE (StateStore rows ∝
    // windows×sources, never corpus), and each window's fixed-point rate
    // compares to its baseline — |rate − base| > 0.03 flags drift. All
    // integer arithmetic (floor-div fixed point), so the batch oracle
    // reproduces every flag bit for bit.
    "q235_stream_unlinked_drift" -> ((s, d) => {
      import graft.text.TextOps
      val al = NlpQueries.gaz(s, d).select(col("alias")).distinct()
        .withColumn("known", lit(1L)).localCheckpoint()
      val baseline = Tables.documents(s, d)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
        .join(broadcast(al), col("token") === col("alias"), "left")
        .groupBy(col("source"))
        .agg(expr("sum(case when known is null then 1 else 0 end) " +
          "* 1000000000 div count(1)").as("base_fp"))
      val win = docsStream(s, d)
        .select(col("ts"), col("source"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .join(broadcast(al), col("token") === col("alias"), "left")
        .groupBy(window(col("ts"), "1 minute"), col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_unlinked"))
        .select(col("window.start").cast("long").as("w_start"),
          col("source"), col("n_tokens"), col("n_unlinked"))
      runToTable(win, "q235_stream_unlinked_drift", "complete")
        .join(broadcast(baseline), Seq("source"))
        .withColumn("rate_fp", expr("n_unlinked * 1000000000 div n_tokens"))
        .select(col("w_start"), col("source"), col("n_tokens"),
          col("n_unlinked"), col("rate_fp"), col("base_fp"),
          (abs(col("rate_fp") - col("base_fp")) > lit(30000000L)).as("drift"))
        .orderBy(col("w_start"), col("source"))
    }),

    // REAL LATE DATA under the gate (the one behavior single-batch replay
    // cannot exercise): events split into three single-file batches replayed
    // in order via mtime + maxFilesPerTrigger=1 —
    //   batch 0: bulk-early rows   [lo+2h, lo+15d)   (watermark still epoch)
    //   batch 1: bulk-late rows    [lo+15d, hi]      (watermark -> hi - 1h)
    //   batch 2: the FIRST-2-HOURS rows — every one now far below the
    //            watermark, so the streaming engine must DROP them all
    // Append mode, so the final watermark (floor-ms(hi) - 1h; Spark tracks
    // watermarks in ms) additionally withholds still-open trailing windows.
    // The oracle encodes exactly those two rules — the output provably
    // differs from naive batch aggregation by the late-dropped rows plus the
    // withheld tail.
    // UPDATE-mode tumbling aggregation under the sequenced two-batch
    // replay — the third output mode gated (q60 is Complete, q78 Append):
    // each batch emits the CURRENT value of every group that changed, so
    // the sink accumulates batch-0's aggregates for batch-0 groups plus
    // the final aggregates for every group batch 1 touched. The oracle is
    // exactly that union — prefix aggregates ∪ final aggregates of
    // batch-1-touched groups — which only an incremental engine produces
    // (a batch engine has no "value as of batch 0" rows).
    "q94_stream_update" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("ts"), col("event_type"), col("value"))
      val lo = ev.agg(min(col("ts"))).head().getTimestamp(0).toInstant
      val mid = lo.plusSeconds(15 * 86400)
      val srcDir = java.nio.file.Files.createTempDirectory("graft_upd_src")
      try {
        val base = 1600000000000L
        writeSequencedFile(ev.filter(col("ts") < lit(mid)),
          new java.io.File(srcDir.toFile, "f0.parquet"), base)
        writeSequencedFile(ev.filter(col("ts") >= lit(mid)),
          new java.io.File(srcDir.toFile, "f1.parquet"), base + 60000L)
        val stream = s.readStream
          .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString)
        runToTable(StreamOps.tumblingAgg(stream, "1 hour", "1 hour"),
          "q94_stream_update", "update")
          .orderBy(col("w_start"), col("event_type"), col("n"))
      } finally rmTree(srcDir.toFile)
    }),

    // LEFT OUTER stream-stream interval join under a sequenced two-batch
    // replay: errors left-join clicks of the same user within 4 hours.
    // Matches emit as in q63; an UNMATCHED error emits a null-click row
    // only when a later batch's eviction proves no match can still arrive
    // (match horizon below the watermark). The multi-watermark rule is the
    // point: the GLOBAL watermark is the MIN over both sides' operators,
    // so the sparse error side drags it hours behind max event time, and
    // every unmatched left above that bound is correctly WITHHELD — the
    // oracle encodes the min-side watermark exactly (batch trajectory
    // verified against query progress at all three SFs).
    "q89_stream_outer_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val lo = ev.agg(min(col("ts"))).head().getTimestamp(0).toInstant
      val mid = lo.plusSeconds(15 * 86400)
      val srcDir = java.nio.file.Files.createTempDirectory("graft_outer_src")
      try {
        val base = 1600000000000L
        writeSequencedFile(ev.filter(col("ts") < lit(mid)),
          new java.io.File(srcDir.toFile, "f0.parquet"), base)
        writeSequencedFile(ev.filter(col("ts") >= lit(mid)),
          new java.io.File(srcDir.toFile, "f1.parquet"), base + 60000L)
        val stream = s.readStream
          .schema("user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING")
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString)
        runToTable(
          StreamOps.intervalJoinOuter(
            stream.filter(col("event_type") === "error")
              .select(col("user_id"), col("ts"), col("event_id")),
            stream.filter(col("event_type") === "click")
              .select(col("user_id"), col("ts"), col("event_id")),
            keyCol = "user_id", windowSec = 14400L, watermark = "1 hour"),
          "q89_stream_outer_join", "append")
          .select(col("user_id"), col("l_ts"), col("l_event_id"),
            col("r_ts"), col("r_event_id"))
          .orderBy(col("l_event_id"), col("r_event_id"))
      } finally rmTree(srcDir.toFile)
    }),

    "q78_stream_late_data" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("ts"), col("event_type"), col("value"))
      val lo = ev.agg(min(col("ts"))).head().getTimestamp(0).toInstant // one scalar
      val lateCut = lo.plusSeconds(2 * 3600)
      val mid = lo.plusSeconds(15 * 86400)
      val srcDir = java.nio.file.Files.createTempDirectory("graft_late_src")
      try {
        // fixed mtime base: ordering depends only on the 60 s spacing
        val base = 1600000000000L
        writeSequencedFile(ev.filter(col("ts") >= lit(lateCut) && col("ts") < lit(mid)),
          new java.io.File(srcDir.toFile, "f0.parquet"), base)
        writeSequencedFile(ev.filter(col("ts") >= lit(mid)),
          new java.io.File(srcDir.toFile, "f1.parquet"), base + 60000L)
        writeSequencedFile(ev.filter(col("ts") < lit(lateCut)),
          new java.io.File(srcDir.toFile, "f2.parquet"), base + 120000L)
        val stream = s.readStream
          .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString)
        runToTable(StreamOps.tumblingAgg(stream, "1 hour", "1 hour"),
          "q78_stream_late_data", "append")
          .orderBy(col("w_start"), col("event_type"))
      } finally rmTree(srcDir.toFile)
    }),

    // SESSION WINDOWS under the sequenced late-data replay (q78's harness
    // applied to `session_window` — the one streaming behavior round 6 left
    // single-batch): three mtime-ordered files, Append mode. Sessions whose
    // end (last event + gap) fell below the advancing watermark are emitted
    // and REMOVED from state; still-open trailing sessions are withheld by
    // the final watermark; every first-2-hours row replayed last arrives
    // below the watermark and is dropped before it can merge. A batch-1 row
    // can never merge into an already-emitted session: emission requires
    // session_end <= wm, and every batch-1 ts exceeds wm — the oracle
    // therefore sessionizes the SURVIVING rows globally and applies the
    // closure rule (s_end <= floor-ms(hi) - 1h) on top.
    "q95_stream_session_late" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
      val lo = ev.agg(min(col("ts"))).head().getTimestamp(0).toInstant
      val lateCut = lo.plusSeconds(2 * 3600)
      val mid = lo.plusSeconds(15 * 86400)
      val srcDir = java.nio.file.Files.createTempDirectory("graft_sess_src")
      try {
        val base = 1600000000000L
        writeSequencedFile(ev.filter(col("ts") >= lit(lateCut) && col("ts") < lit(mid)),
          new java.io.File(srcDir.toFile, "f0.parquet"), base)
        writeSequencedFile(ev.filter(col("ts") >= lit(mid)),
          new java.io.File(srcDir.toFile, "f1.parquet"), base + 60000L)
        writeSequencedFile(ev.filter(col("ts") < lit(lateCut)),
          new java.io.File(srcDir.toFile, "f2.parquet"), base + 120000L)
        val stream = s.readStream
          .schema("user_id BIGINT, ts TIMESTAMP")
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString)
        runToTable(StreamOps.sessionAgg(stream, "30 minutes", "1 hour"),
          "q95_stream_session_late", "append")
          .orderBy(col("user_id"), col("s_start"))
      } finally rmTree(srcDir.toFile)
    }),

    // STREAMING NEAR-DUP DEDUP under late data + state EVICTION (round-6
    // item #3: q65 ran single-batch). Uses the BOUNDED-state operator —
    // building this gate proved empirically that plain `dropDuplicates` on
    // a non-event-time key gets NO watermark interaction (no late drop, no
    // eviction; the StreamOps scaladoc caveat), so the eviction semantics
    // live in `dropDuplicatesWithinWatermark`. Three-batch replay over the
    // documents table with the deterministic ts rule (doc k at epoch+1d+k s):
    //   batch 0: every document — one emission per distinct SimHash; state
    //            expires at first-arrival ts + delay;
    //   batch 1: "late" probes — fresh unseen content stamped far below the
    //            watermark. PINNED SEMANTIC (observed, encoded in the
    //            oracle): streaming dedup does NOT late-drop — a
    //            below-watermark row with an unseen key still emits (state
    //            bounds are about eviction, not input filtering; contrast
    //            q78/q95 where aggregation drops late rows). Probe content
    //            is anti-joined against the corpus SimHashes so a
    //            coincidental collision cannot make emission depend on
    //            state-timing. The batch also lets the eviction pass clear
    //            every key whose expiry fell below wm = maxTs − delay,
    //            i.e. first-arrival ts < maxTs − 2·delay;
    //   batch 2: RE-ARRIVALS — doc_id % 5 == 2 documents replayed with
    //            ts + 40 days (well above wm). A re-arrival whose key was
    //            evicted is re-EMITTED (a real duplicate the horizon
    //            forgot — the by-design cost of bounded state); one whose
    //            key survived is suppressed.
    // Determinism: delay = maxId/4 s + 125 ms puts the eviction boundary
    // (maxTs − 2·delay) strictly BETWEEN document timestamps and scales
    // with the table; and within a SimHash collision group the stored
    // expiry is the arrival-order-dependent first member's, so re-arrivals
    // are restricted to groups that lie entirely on one side of the
    // boundary (fully-below ⇒ evicted ⇒ re-emit; fully-above ⇒ alive ⇒
    // suppressed; straddling groups excluded). The oracle encodes exactly
    // that rule in SQL.
    "q96_stream_dedup_late" -> ((s, d) => {
      import graft.dedup.DedupOps
      import graft.text.TextOps
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .withColumn("ts", timestamp_seconds(col("doc_id") + lit(86400L)))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val delayMs = maxId * 250L + 125L
      // eviction boundary on FIRST-ARRIVAL ts: expiry (ts+delay) below
      // wm (maxTs − delay) ⇔ ts below maxTs − 2·delay
      val boundaryUs = (86400L + maxId) * 1000000L - 2L * delayMs * 1000L
      // native simhash32 (law-pinned equal to the SimHash oracles)
      // — the interpreted HOF fold cost ~2 s per prep pass at scan width
      val sig = docs.withColumn("simhash",
        GraftFunctions.simhash32(col("text")))
      val grp = sig.groupBy(col("simhash"))
        .agg(min(col("doc_id")).as("gmin"), max(col("doc_id")).as("gmax"))
      val rearrivals = sig.join(grp, Seq("simhash"))
        .filter(col("doc_id") % 5 === 2)
        .filter(((col("gmax") + lit(86400L)) * lit(1000000L) < lit(boundaryUs)) ||
                ((col("gmin") + lit(86400L)) * lit(1000000L) > lit(boundaryUs)))
        .select(col("doc_id"), col("text"),
          timestamp_seconds(col("doc_id") + lit(86400L + 40L * 86400L)).as("ts"))
      val lateProbes = docs.filter(col("doc_id") % 5 === 3)
        .select(col("doc_id"),
          concat(lit("late-probe-"), col("doc_id")).as("text"))
        .withColumn("psim", GraftFunctions.simhash32(col("text")))
        .join(sig.select(col("simhash").as("psim")).distinct(),
          Seq("psim"), "left_anti")
        .select(col("doc_id"), col("text"),
          timestamp_seconds(lit(1000L)).as("ts"))
      val srcDir = java.nio.file.Files.createTempDirectory("graft_dedup_src")
      try {
        val base = 1600000000000L
        writeSequencedFile(docs.select(col("doc_id"), col("text"), col("ts")),
          new java.io.File(srcDir.toFile, "f0.parquet"), base)
        writeSequencedFile(lateProbes,
          new java.io.File(srcDir.toFile, "f1.parquet"), base + 60000L)
        writeSequencedFile(rearrivals,
          new java.io.File(srcDir.toFile, "f2.parquet"), base + 120000L)
        val stream = s.readStream
          .schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString)
        runToTable(
          StreamOps.nearDupDedupBounded(stream, "text", s"$delayMs milliseconds"),
          "q96_stream_dedup_late", "append")
          .select(col("simhash"))
          .orderBy(col("simhash"))
      } finally rmTree(srcDir.toFile)
    }),

    // CHECKPOINT-RESTART exactly-once (round-6 item #2: spec-only until
    // now). Query A consumes batch 0 and commits its aggregation state +
    // source offsets to the checkpoint; a brand-NEW query B starts from the
    // same checkpoint after batch 1 lands, restores state, reads ONLY the
    // new file, and its Complete-mode sink must equal the batch aggregation
    // of the whole table — state loss would drop batch-0 counts, offset
    // loss would double-read f0 and double them; either breaks the hash.
    "q97_stream_restart" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("ts"), col("event_type"), col("value"))
      val lo = ev.agg(min(col("ts"))).head().getTimestamp(0).toInstant
      val mid = lo.plusSeconds(15 * 86400)
      val srcDir = java.nio.file.Files.createTempDirectory("graft_restart_src")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ckpt")
      val sinkA = s"q97a_${runSeq.incrementAndGet()}"
      val sinkB = s"q97b_${runSeq.incrementAndGet()}"
      try withStreamParts(s) {
        val base = 1600000000000L
        def runOnce(sink: String): Unit = {
          val stream = s.readStream
            .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
            .option("maxFilesPerTrigger", "1")
            .parquet(srcDir.toString)
          val q = StreamOps.tumblingAgg(stream, "1 hour", "1 hour")
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt.toString)
            .trigger(Trigger.AvailableNow())
            .start()
          try q.awaitTermination()
          finally if (q.isActive) q.stop()
        }
        writeSequencedFile(ev.filter(col("ts") < lit(mid)),
          new java.io.File(srcDir.toFile, "f0.parquet"), base)
        runOnce(sinkA) // batch 0 only; state lives in the checkpoint now
        writeSequencedFile(ev.filter(col("ts") >= lit(mid)),
          new java.io.File(srcDir.toFile, "f1.parquet"), base + 60000L)
        runOnce(sinkB) // restored query: reads f1 ONLY, full result in sink
        s.table(sinkB)
          .orderBy(col("w_start"), col("event_type"))
          .localCheckpoint()
      } finally {
        s.catalog.dropTempView(sinkA); s.catalog.dropTempView(sinkB)
        rmTree(srcDir.toFile); rmTree(ckpt.toFile)
      }
    }))

  /** DuckDB mirror of TextOps.tokens (same fragment as TextQueries). */
  private val toksSql =
    "list_filter(string_split_regex(trim(text), '\\s+'), w -> len(w) > 0)"

  def oracles: Map[String, String] = Map(

    // q219: the EWMA recurrence replayed exactly — per-user
    // (ts, event_id)-ordered sequence, integer floor-division update,
    // flag-before-update against the n ≥ 8 burn-in.
    "q219_stream_ewma" ->
      """WITH RECURSIVE seq AS (
        |  SELECT user_id, event_id,
        |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |st AS (
        |  SELECT user_id, rn, v AS ewma, CAST(1 AS BIGINT) AS n
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, (7 * s.ewma + e.v) // 8, s.n + 1
        |  FROM st s JOIN seq e
        |    ON e.user_id = s.user_id AND e.rn = s.rn + 1)
        |SELECT e.user_id, e.event_id,
        |  CAST(e.v AS DOUBLE) / 100.0 AS value_seen,
        |  CAST(s.ewma AS DOUBLE) / 100.0 AS ewma_prev
        |FROM st s JOIN seq e
        |  ON e.user_id = s.user_id AND e.rn = s.rn + 1
        |WHERE s.n >= 8 AND (e.v > 4 * s.ewma OR 4 * e.v < s.ewma)
        |ORDER BY e.event_id""".stripMargin,

    // q227: the two-statistic recurrence replayed exactly — dev measured
    // against the pre-update mean, both floor-division updates, the
    // 3σ flag with the variance floor.
    "q227_stream_ewmv" ->
      """WITH RECURSIVE seq AS (
        |  SELECT user_id, event_id,
        |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |st AS (
        |  SELECT user_id, rn, v AS ewma, CAST(0 AS BIGINT) AS ewmv,
        |    CAST(1 AS BIGINT) AS n
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn,
        |    (7 * s.ewma + e.v) // 8,
        |    (7 * s.ewmv + (e.v - s.ewma) * (e.v - s.ewma)) // 8,
        |    s.n + 1
        |  FROM st s JOIN seq e
        |    ON e.user_id = s.user_id AND e.rn = s.rn + 1)
        |SELECT e.user_id, e.event_id,
        |  CAST(e.v AS DOUBLE) / 100.0 AS value_seen,
        |  CAST(s.ewma AS DOUBLE) / 100.0 AS ewma_prev,
        |  CAST(s.ewmv AS DOUBLE) / 10000.0 AS sigma2_prev
        |FROM st s JOIN seq e
        |  ON e.user_id = s.user_id AND e.rn = s.rn + 1
        |WHERE s.n >= 8
        |  AND (e.v - s.ewma) * (e.v - s.ewma) > 9 * greatest(s.ewmv, 1)
        |ORDER BY e.event_id""".stripMargin,

    // q230: q34's batch EL oracle VERBATIM — the streaming path
    // (stream-static candidate scoring + post-sink per-mention argmax)
    // must equal the batch entity linking row for row.
    "q230_stream_entity_linking" -> NlpQueries.entityLinkingSql,
    // Unlinked-rate drift: the q198 window rule ((doc_id+86400)//60*60 —
    // docsStream's synthetic ts) over token×alias coverage; all floor-div
    // fixed point, every drift flag bit-identical.
    "q235_stream_unlinked_drift" ->
      s"""WITH ${NlpQueries.gazCte},
         |al AS (SELECT DISTINCT alias FROM gz),
         |tk AS (
         |  SELECT doc_id, source,
         |    unnest(list_filter(string_split_regex(trim(text), '\\s+'),
         |                       w -> len(w) > 0)) AS token
         |  FROM documents),
         |mt AS (
         |  SELECT t.doc_id, t.source,
         |    CASE WHEN a.alias IS NULL THEN 1 ELSE 0 END AS unl
         |  FROM tk t LEFT JOIN al a ON t.token = a.alias),
         |base AS (
         |  SELECT source,
         |    CAST(SUM(unl) * 1000000000 // COUNT(*) AS BIGINT) AS base_fp
         |  FROM mt GROUP BY 1),
         |win AS (
         |  SELECT (doc_id + 86400) // 60 * 60 AS w_start, source,
         |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    CAST(SUM(unl) AS BIGINT) AS n_unlinked
         |  FROM mt GROUP BY 1, 2)
         |SELECT w.w_start, w.source, w.n_tokens, w.n_unlinked,
         |  CAST(w.n_unlinked * 1000000000 // w.n_tokens AS BIGINT) AS rate_fp,
         |  b.base_fp,
         |  abs(w.n_unlinked * 1000000000 // w.n_tokens - b.base_fp)
         |    > 30000000 AS drift
         |FROM win w JOIN base b USING (source)
         |ORDER BY w_start, source""".stripMargin,

    // q186: batch twin of the stream-static linkage — weights from the
    // A–A reference pairs, scores over the A×B blocked pairs.
    "q186_stream_linkage" ->
      s"""WITH ${LinkageQueries.recordsCteSql},
         |r AS (SELECT rec_id, src, name, nat, seg, bal,
         |    digits // 200 AS blk
         |  FROM recd),
         |aa AS (
         |  SELECT a.rec_id AS ra, b.rec_id AS rb,
         |    a.name = b.name AS name_eq, a.seg = b.seg AS seg_eq,
         |    abs(a.bal - b.bal) <= 1.0 AS bal_close
         |  FROM r a JOIN r b ON a.blk = b.blk AND a.nat = b.nat
         |    AND a.rec_id < b.rec_id
         |  WHERE a.src = 'A' AND b.src = 'A'),
         |agg AS (${LinkageQueries.aggFromSql} aa),
         |${LinkageQueries.wCteSql},
         |ab AS (
         |  SELECT a.rec_id AS ra, b.rec_id AS rb,
         |    a.name = b.name AS name_eq, a.seg = b.seg AS seg_eq,
         |    abs(a.bal - b.bal) <= 1.0 AS bal_close
         |  FROM r a JOIN r b ON a.blk = b.blk AND a.nat = b.nat
         |  WHERE a.src = 'A' AND b.src = 'B')
         |SELECT ra, rb, name_eq, seg_eq, bal_close,
         |  CAST((${LinkageQueries.scoreExprSql}) AS DOUBLE) / 1e9 AS score
         |FROM ab, w
         |WHERE (${LinkageQueries.scoreExprSql}) > 0
         |ORDER BY ra, rb""".stripMargin,
    // Batch twin of the streaming ANN probe: the unrolled q111 k-means
    // CTE assigns BOTH sides (af's argmin rule IS the stream's literal-
    // codebook routing), then the cell join + cosine threshold.
    "q194_stream_ann" ->
      s"""WITH ${VectorQueries.kmeansCte(8, 2)},
         |q AS (
         |  SELECT a.vec_id AS query_id, a.cluster AS cell,
         |    e.embedding AS q_emb
         |  FROM af a JOIN embeddings e USING (vec_id)
         |  WHERE a.vec_id % 16 = 0),
         |c AS (
         |  SELECT a.cluster AS cell, a.vec_id AS neighbor_id,
         |    e.embedding AS c_emb
         |  FROM af a JOIN embeddings e USING (vec_id)
         |  WHERE a.vec_id % 16 <> 0),
         |m AS (
         |  SELECT q.query_id, q.cell, c.neighbor_id,
         |    ${VectorQueries.cosSql("q.q_emb", "c.c_emb")} AS cosine
         |  FROM q JOIN c USING (cell))
         |SELECT query_id, cell, neighbor_id, cosine
         |FROM m WHERE cosine >= 0.2
         |ORDER BY query_id, neighbor_id""".stripMargin,
    // q223: the two-level assignment (shared ivf2 CTE chain) joined on
    // the fine cell — the stream's coarse→fine routing replays af's rule.
    "q223_stream_ann_ivf2" ->
      // plain WITH: ivf2AfCte is not recursive, and a RECURSIVE prefix
      // breaks UNION-distinct dedup in sibling CTEs (see the q220 oracle)
      s"""WITH ${VectorQueries.ivf2AfCte},
         |q AS (
         |  SELECT a.vec_id AS query_id, a.cluster AS cell,
         |    e.embedding AS q_emb
         |  FROM af a JOIN embeddings e USING (vec_id)
         |  WHERE a.vec_id % 16 = 0),
         |c AS (
         |  SELECT a.cluster AS cell, a.vec_id AS neighbor_id,
         |    e.embedding AS c_emb
         |  FROM af a JOIN embeddings e USING (vec_id)
         |  WHERE a.vec_id % 16 <> 0),
         |m AS (
         |  SELECT q.query_id, q.cell, c.neighbor_id,
         |    ${VectorQueries.cosSql("q.q_emb", "c.c_emb")} AS cosine
         |  FROM q JOIN c USING (cell))
         |SELECT query_id, cell, neighbor_id, cosine
         |FROM m WHERE cosine >= 0.2
         |ORDER BY query_id, neighbor_id""".stripMargin,

    // Batch twin of the streaming probe: q125's dupc rule verbatim
    // (TextQueries.mhSide per side, DISTINCT candidates, per-pair est,
    // min-id canonical + match count per flagged arrival).
    "q201_stream_dedup_probe" ->
      s"""WITH ${TextQueries.mhSide("b", "source <> 'src0'")},
         |${TextQueries.mhSide("c", "source = 'src0'")},
         |candbc AS (
         |  SELECT DISTINCT a.doc_id AS bid, b.doc_id AS cid
         |  FROM bandsb a JOIN bandsc b
         |    ON a.band = b.band AND a.bucket = b.bucket),
         |dup AS (
         |  SELECT bid, cid FROM (
         |    SELECT bid, cid,
         |      CAST(SUM(CASE WHEN hb.minhash = hc.minhash THEN 1 ELSE 0 END) AS DOUBLE) / 32 AS est
         |    FROM candbc
         |    JOIN mhb hb ON hb.doc_id = bid
         |    JOIN mhc hc ON hc.doc_id = cid AND hc.i = hb.i
         |    GROUP BY bid, cid) t
         |  WHERE est >= 0.5)
         |SELECT bid AS doc_id, MIN(cid) AS canonical,
         |  CAST(COUNT(*) AS BIGINT) AS n_matches
         |FROM dup GROUP BY bid ORDER BY doc_id""".stripMargin,
    // Batch twin of the streaming CMS: q151's counter/probe/estimate
    // CTEs keyed by the integer-derived window.
    "q205_stream_cms_topk" ->
      s"""WITH tok AS (
         |  SELECT (doc_id + 86400) // 60 * 60 AS w_start,
         |    unnest($toksSql) AS token
         |  FROM documents),
         |ps AS (
         |  SELECT w_start, r,
         |    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || token), 1, 15) AS BIGINT) % 1024 AS idx,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tok CROSS JOIN range(0, 4) t(r)
         |  GROUP BY 1, 2, 3),
         |probe AS (
         |  SELECT w_start, token, r,
         |    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || token), 1, 15) AS BIGINT) % 1024 AS idx
         |  FROM (SELECT DISTINCT w_start, token FROM tok) v
         |  CROSS JOIN range(0, 4) t(r)),
         |est AS (
         |  SELECT p.w_start, p.token, MIN(s.c) AS est
         |  FROM probe p JOIN ps s
         |    ON s.w_start = p.w_start AND s.r = p.r AND s.idx = p.idx
         |  GROUP BY 1, 2),
         |ex AS (SELECT w_start, token, CAST(COUNT(*) AS BIGINT) AS exact
         |       FROM tok GROUP BY 1, 2),
         |rk AS (
         |  SELECT e.w_start, e.token, e.est, x.exact,
         |    ROW_NUMBER() OVER (PARTITION BY e.w_start
         |      ORDER BY e.est DESC, e.token ASC) AS rn
         |  FROM est e JOIN ex x USING (w_start, token))
         |SELECT w_start, token, est, exact, CAST(rn AS INTEGER) AS rn
         |FROM rk WHERE rn <= 3 ORDER BY w_start, rn""".stripMargin,
    // Batch twin of the drift monitor: q20's exact quality formula in
    // fixed point, windows re-derived as pure doc_id integer arithmetic
    // (the stream's ts is timestamp_seconds(doc_id + 86400)).
    "q198_stream_quality_drift" ->
      s"""WITH t0 AS (SELECT doc_id, source, text, $toksSql AS toks
         |  FROM documents),
         |q AS (SELECT doc_id, source,
         |  CAST(floor((
         |  0.3 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
         |  + 0.3 * (CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','it','a'], t))) AS DOUBLE) / greatest(len(toks), 1))
         |  + 0.2 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
         |  + 0.2 * (1.0 - least((CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS DOUBLE) / greatest(len(toks), 1)) / 10.0, 1.0))
         |  ) * 1e9) AS BIGINT) AS qfp
         |  FROM t0),
         |base AS (
         |  SELECT source, CAST(SUM(qfp) // COUNT(*) AS BIGINT) AS base_qfp
         |  FROM q GROUP BY 1),
         |win AS (
         |  SELECT (doc_id + 86400) // 60 * 60 AS w_start, source,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(qfp) AS BIGINT) AS sum_qfp
         |  FROM q GROUP BY 1, 2)
         |SELECT w.w_start, w.source, w.n_docs,
         |  w.sum_qfp // w.n_docs AS mean_qfp, b.base_qfp,
         |  abs(w.sum_qfp // w.n_docs - b.base_qfp) > 30000000 AS drift
         |FROM win w JOIN base b USING (source)
         |ORDER BY w_start, source""".stripMargin,
    // Identical to q29's oracle: the streaming engine must reproduce the
    // batch tumbling aggregation bit-for-bit.
    "q60_stream_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    // Streaming HLL registers == batch-recomputed registers (q158's
    // portable-rank discipline over md5(user_id)).
    "q162_stream_hll" ->
      """WITH h AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
        |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM events),
        |r AS (SELECT w_start, h & 255 AS idx,
        |        CASE WHEN (h >> 8) = 0 THEN 53 ELSE 53 - len(bin(h >> 8)) END AS rho
        |      FROM h),
        |rg AS (SELECT w_start, idx, MAX(rho) AS reg FROM r GROUP BY 1, 2),
        |sk AS (SELECT w_start, CAST(COUNT(*) AS BIGINT) AS nonzero,
        |         CAST(SUM(1::BIGINT << CAST(53 - reg AS INTEGER)) AS BIGINT) AS zpart
        |       FROM rg GROUP BY 1),
        |zt AS (SELECT w_start, nonzero,
        |         CAST(zpart + (256 - nonzero) * 9007199254740992 AS BIGINT) AS z
        |       FROM sk),
        |ex AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
        |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact
        |       FROM events GROUP BY 1)
        |SELECT zt.w_start, nonzero, z,
        |  (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0
        |    / CAST(z AS DOUBLE) AS est,
        |  exact
        |FROM zt JOIN ex USING (w_start) ORDER BY w_start""".stripMargin,
    "q142_stream_static_enrich" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
        |  c.c_mktsegment AS segment, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY w_start, segment""".stripMargin,
    "q61_stream_sliding" ->
      """SELECT w_start, event_type, COUNT(*) AS n
        |FROM (
        |  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
        |                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
        |           AS w_start,
        |         event_type
        |  FROM events) t
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    // q31's gaps-and-islands oracle minus the value sum (sessionAgg emits
    // counts); same strict-> boundary semantics (EventSpec pins it).
    "q62_stream_session" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL '30 minutes'
        |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM o)
        |SELECT user_id, MIN(ts) AS s_start,
        |  MAX(ts) + INTERVAL '30 minutes' AS s_end, COUNT(*) AS n
        |FROM s GROUP BY user_id, sess ORDER BY user_id, s_start""".stripMargin,
    // Prefix aggregates of batch 0 ∪ final aggregates of every group batch
    // 1 touched (no row is late under the mid-split, so no drops).
    "q94_stream_update" ->
      """WITH m AS (SELECT MIN(ts) + INTERVAL '15 days' AS mid FROM events),
        |f0 AS (SELECT e.* FROM events e CROSS JOIN m WHERE e.ts < m.mid),
        |f1 AS (SELECT e.* FROM events e CROSS JOIN m WHERE e.ts >= m.mid),
        |u0 AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM f0 GROUP BY 1, 2),
        |touched AS (
        |  SELECT DISTINCT time_bucket(INTERVAL '1 hour', ts) AS w_start,
        |    event_type FROM f1),
        |u1 AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT * FROM u0
        |UNION ALL
        |SELECT u1.* FROM u1 JOIN touched t
        |  ON t.w_start = u1.w_start AND t.event_type = u1.event_type
        |ORDER BY w_start, event_type, n""".stripMargin,
    // Matched half = q63's inner join (no right row is ever late under this
    // split). Null half: an unmatched error emits iff its match horizon
    // (l_ts + 4h) closed below the flush batch's GLOBAL watermark — and the
    // global watermark is the MIN over the two sides' watermark operators,
    // so the SPARSE side (errors) governs: wm = min(max error ts, max click
    // ts), ms-floored, minus the 1 h delay. Pinned against the engine's
    // per-batch watermark trajectory at all three SFs (a max_ts-based bound
    // is wrong by hours whenever one side's events end early).
    "q89_stream_outer_join" ->
      """WITH wm AS (
        |  SELECT date_trunc('milliseconds', LEAST(
        |      (SELECT MAX(ts) FROM events WHERE event_type = 'error'),
        |      (SELECT MAX(ts) FROM events WHERE event_type = 'click')))
        |    - INTERVAL '1 hour' AS w),
        |err AS (SELECT user_id, ts, event_id FROM events
        |        WHERE event_type = 'error'),
        |clk AS (SELECT user_id, ts, event_id FROM events
        |        WHERE event_type = 'click'),
        |matched AS (
        |  SELECT e.user_id, e.ts AS l_ts, e.event_id AS l_event_id,
        |    c.ts AS r_ts, c.event_id AS r_event_id
        |  FROM err e JOIN clk c ON c.user_id = e.user_id
        |    AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL '4 hours'),
        |nulls AS (
        |  SELECT e.user_id, e.ts AS l_ts, e.event_id AS l_event_id,
        |    CAST(NULL AS TIMESTAMP) AS r_ts, CAST(NULL AS BIGINT) AS r_event_id
        |  FROM err e CROSS JOIN wm
        |  WHERE e.ts + INTERVAL '4 hours' < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM clk c
        |      WHERE c.user_id = e.user_id
        |        AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL '4 hours'))
        |SELECT * FROM matched UNION ALL SELECT * FROM nulls
        |ORDER BY l_event_id, r_event_id""".stripMargin,
    "q63_stream_interval_join" ->
      """SELECT e.user_id, e.ts AS l_ts, e.event_id AS l_event_id,
        |  c.ts AS r_ts, c.event_id AS r_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = e.user_id AND c.ts >= e.ts
        | AND c.ts <= e.ts + INTERVAL '4 hours'
        |ORDER BY l_event_id, r_event_id""".stripMargin,
    // Batch twin of the full ingest pipeline: quality >= 0.45 (q20's exact
    // formula) → mask (q56's exact regexes) → 32/8 chunks (q55's exact
    // slicing) → distinct (md5(chunk), chunk).
    "q64_stream_ingest" ->
      s"""WITH t0 AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |q AS (SELECT doc_id, text,
         |  0.3 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
         |  + 0.3 * (CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','it','a'], t))) AS DOUBLE) / greatest(len(toks), 1))
         |  + 0.2 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
         |  + 0.2 * (1.0 - least((CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS DOUBLE) / greatest(len(toks), 1)) / 10.0, 1.0)) AS quality
         |  FROM t0),
         |m AS (SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
         |    '[0-9]+', '<NUM>', 'g') AS text
         |  FROM q WHERE quality >= 0.45),
         |w AS (SELECT doc_id, $toksSql AS w FROM m),
         |c AS (SELECT unnest([array_to_string(w[k*24+1 : k*24+32], ' ')
         |                     for k in range(0, CAST((len(w) + 23) // 24 AS INT))]) AS chunk
         |      FROM w WHERE len(w) > 0)
         |SELECT DISTINCT md5(chunk) AS fp, chunk FROM c ORDER BY fp""".stripMargin,
    // Distinct SimHash signatures (q24's exact bit construction).
    "q65_stream_neardup" ->
      s"""WITH tok AS (
         |  SELECT doc_id, token, COUNT(*) AS cnt,
         |    CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents) t
         |  GROUP BY doc_id, token),
         |bits AS (
         |  SELECT doc_id, i AS bit,
         |    SUM(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS s
         |  FROM tok CROSS JOIN range(32) t(i) GROUP BY doc_id, i),
         |sig AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id)
         |SELECT DISTINCT simhash FROM sig ORDER BY simhash""".stripMargin,
    // Gaps-and-islands sessions (strict > gap, q31's boundary semantics)
    // plus the replay closure rule AT THE ENGINE'S EXACT MS GRANULARITY:
    // every non-last session of a user is emitted; the last one only if its
    // ms-ceiled timeout (GroupState's API is ms; StreamOps integer-ceils
    // the µs deadline) is strictly below the final eviction watermark
    // (floor-ms of max event time minus the gap delay — Spark tracks
    // watermarks in ms). Session sums replicate the sessionizer's
    // sequential ts-ordered fold via list_reduce.
    "q69_stream_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL '30 minutes'
        |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM o),
        |g AS (
        |  SELECT user_id, sess, MIN(ts) AS s_start,
        |    MAX(ts) + INTERVAL '30 minutes' AS s_end,
        |    COUNT(*) AS n,
        |    list_reduce(list_prepend(0.0, list(value ORDER BY ts)),
        |                (a, b) -> a + b) AS sum_value,
        |    MAX(ts) AS last_ts
        |  FROM s GROUP BY user_id, sess),
        |g2 AS (SELECT *, MAX(sess) OVER (PARTITION BY user_id) AS max_sess FROM g),
        |m AS (SELECT MAX(ts) AS max_ts FROM events)
        |SELECT user_id, s_start, s_end, CAST(n AS BIGINT) AS n, sum_value
        |FROM g2 CROSS JOIN m
        |WHERE sess < max_sess
        |   OR (epoch_us(last_ts) + 1800000000 + 999) // 1000
        |      < epoch_us(max_ts) // 1000 - 1800000
        |ORDER BY user_id, s_start""".stripMargin,
    // Late-data drop rule, encoded: the first-2-hours rows arrive in the
    // LAST replay batch, after batch 1 advanced the watermark to hi - 1h, so
    // the engine drops every one (their window ends sit ~29 days below the
    // watermark) — `kept` excludes them. Append-mode emission rule, encoded:
    // a window is emitted iff its end <= the final eviction watermark; Spark
    // tracks watermarks in MILLISECONDS (max event-time µs integer-divided
    // by 1000, minus the delay), and the eviction compare is <= in µs — the
    // WHERE mirrors that exact arithmetic. Everything else matches the plain
    // batch tumbling aggregation (q29/q60's oracle shape).
    "q78_stream_late_data" ->
      """WITH m AS (SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM events),
        |kept AS (
        |  SELECT e.ts, e.event_type, e.value FROM events e CROSS JOIN m
        |  WHERE e.ts >= m.lo + INTERVAL '2 hours'),
        |agg AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM kept GROUP BY 1, 2)
        |SELECT a.w_start, a.event_type, a.n, a.sum_value
        |FROM agg a CROSS JOIN m
        |WHERE epoch_us(a.w_start) + 3600000000
        |      <= (epoch_us(m.hi) // 1000 - 3600000) * 1000
        |ORDER BY w_start, event_type""".stripMargin,

    // q62's gaps-and-islands sessionization restricted to the SURVIVING
    // rows (first-2-hours rows replayed last are all late-dropped), plus
    // the session closure rule at the engine's ms granularity: a session
    // emits iff its end (last event + 30 min gap) is <= the final
    // watermark (floor-ms of max surviving event time minus the 1 h
    // delay) — open trailing sessions stay withheld in state.
    "q95_stream_session_late" ->
      """WITH m AS (SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM events),
        |kept AS (
        |  SELECT e.user_id, e.ts FROM events e CROSS JOIN m
        |  WHERE e.ts >= m.lo + INTERVAL '2 hours'),
        |o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL '30 minutes'
        |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM kept),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM o),
        |agg AS (
        |  SELECT user_id, MIN(ts) AS s_start,
        |    MAX(ts) + INTERVAL '30 minutes' AS s_end, COUNT(*) AS n
        |  FROM s GROUP BY user_id, sess)
        |SELECT a.user_id, a.s_start, a.s_end, a.n
        |FROM agg a CROSS JOIN m
        |WHERE epoch_us(a.s_end)
        |      <= (epoch_us(m.hi) // 1000 - 3600000) * 1000
        |ORDER BY user_id, s_start""".stripMargin,

    // Batch-0 emissions (one per distinct SimHash) ∪ late-probe emissions
    // ∪ re-emissions. A probe is a single unseen token, so its SimHash is
    // exactly the low 32 bits of its md5 (every +1 vote sets the bit) —
    // probes colliding with a corpus SimHash are excluded on both sides,
    // and their EMISSION pins the no-late-drop semantic. A re-arrival
    // (doc_id % 5 = 2, replayed +40 d) re-emits iff its SimHash group lies
    // entirely below the eviction boundary (first arrival's expiry
    // ts+delay fell under wm = maxTs − delay ⇒ evicted before the
    // re-arrival batch). Boundary arithmetic mirrors the engine in µs:
    // boundary = (86400 + max_id)·1e6 − 2·(max_id·250 + 125)·1000,
    // strictly between document timestamps so <-vs-<= cannot bite.
    "q96_stream_dedup_late" ->
      s"""WITH tok AS (
         |  SELECT doc_id, token, COUNT(*) AS cnt,
         |    CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents) t
         |  GROUP BY doc_id, token),
         |bits AS (
         |  SELECT doc_id, i AS bit,
         |    SUM(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS s
         |  FROM tok CROSS JOIN range(32) t(i) GROUP BY doc_id, i),
         |sig AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id),
         |m AS (SELECT MAX(doc_id) AS mx FROM documents),
         |grp AS (SELECT simhash, MAX(doc_id) AS gmax FROM sig GROUP BY simhash),
         |probe AS (
         |  SELECT DISTINCT CAST('0x' ||
         |      substr(md5('late-probe-' || CAST(doc_id AS VARCHAR)), 1, 8)
         |    AS BIGINT) AS simhash
         |  FROM documents WHERE doc_id % 5 = 3),
         |probefresh AS (
         |  SELECT simhash FROM probe
         |  WHERE simhash NOT IN (SELECT simhash FROM sig)),
         |reemit AS (
         |  SELECT DISTINCT s.simhash
         |  FROM sig s JOIN grp g USING (simhash) CROSS JOIN m
         |  WHERE s.doc_id % 5 = 2
         |    AND (86400 + g.gmax) * 1000000
         |        < (86400 + m.mx) * 1000000 - 2 * (m.mx * 250 + 125) * 1000)
         |SELECT simhash FROM (
         |  SELECT DISTINCT simhash FROM sig
         |  UNION ALL
         |  SELECT simhash FROM probefresh
         |  UNION ALL
         |  SELECT simhash FROM reemit) u
         |ORDER BY simhash""".stripMargin,

    // Exactly-once across a kill-and-restart: the restored query's
    // Complete-mode sink equals the batch aggregation of the WHOLE table —
    // q60's oracle verbatim. Lost state would drop batch-0 counts,
    // re-read offsets would double them.
    "q97_stream_restart" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin
  )
}
