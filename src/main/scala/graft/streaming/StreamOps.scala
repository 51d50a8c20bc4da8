package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.GraftFunctions

/** Structured Streaming twins of [[graft.events.EventOps]] (SURVEY.md §2 X3).
  * The batch-only reference has no streaming surface; the north star requires
  * tumbling/sliding windows, watermarks, streaming dedup, and custom state.
  *
  * Every transform here takes a STREAMING DataFrame (`isStreaming == true`)
  * with the `events` schema (`ts timestamp, user_id long, event_type string,
  * value double, event_id long`) and stays inside Spark's incremental
  * execution model: watermark-bounded state, append/update-mode-compatible
  * aggregations, no collect.
  *
  * Scale notes: streaming state lives in the state store keyed by
  * (window/key) — watermarks bound aggregation/join state. CAVEAT the q96
  * replay proved empirically: `dropDuplicates` on a key that does NOT
  * include the event-time column gets no watermark interaction at all —
  * late rows are NOT dropped and key state is NEVER evicted (Spark only
  * applies watermark eviction when the event-time column is part of the
  * dedup key; `dropDuplicatesWithinWatermark` exists precisely for this).
  * So [[dedup]]/[[nearDupDedup]]/[[ingestPipeline]] are EXACT but carry
  * state for every distinct key ever seen; the `...Bounded` variants trade
  * horizon-old re-crawl suppression for watermark-bounded state — at
  * 100 TB/day the bounded forms are the production shape.
  */
object StreamOps {

  /** Tumbling event-time aggregation with a watermark; append-mode ready. */
  def tumblingAgg(events: DataFrame, width: String, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming per-window HyperLogLog register maintenance
    * ([[graft.text.Hll]]): the cardinality-sketch STATE SHAPE a production
    * stream actually keeps — ≤ 256 longs per window regardless of how many
    * distinct keys arrive, vs. the unbounded per-window key set an exact
    * streaming countDistinct would hold. The register update is MAX —
    * idempotent and commutative, so micro-batch replays and out-of-order
    * arrivals cannot inflate the state (the same property that makes the
    * registers re-mergeable across windows/streams downstream). Emits the
    * raw register table (w_start, idx, reg); finalization (Z, estimate) is
    * per-window expression work for the consumer. */
  def hllRegisterAgg(events: DataFrame, width: String, watermark: String): DataFrame = {
    import graft.text.{Hll, TextOps}
    events.withWatermark("ts", watermark)
      .select(col("ts"),
        TextOps.tokenHash60(col("user_id").cast("string")).as("h"))
      .select(col("ts"), Hll.idx(col("h")).as("idx"), Hll.rho(col("h")).as("rho"))
      .groupBy(window(col("ts"), width).as("w"), col("idx"))
      .agg(max(col("rho")).as("reg"))
      .select(col("w.start").as("w_start"), col("idx"), col("reg"))
  }

  /** Streaming Count-Min counters: per (window, r, idx) token counts —
    * the CMS as StateStore aggregation state, q162's HLL-register
    * discipline applied to counters. The state is |windows|·d·w longs
    * HOWEVER many tokens arrive — the sketch's bounded-memory guarantee
    * moved into the streaming engine, where an exact per-token count
    * would grow state with the live vocabulary. */
  def cmsCounterAgg(docsStr: DataFrame, width: String, watermark: String,
                    d: Int, w: Int): DataFrame = {
    import graft.text.{CountMin, TextOps}
    docsStr.withWatermark("ts", watermark)
      .select(col("ts"), explode(TextOps.tokens(col("text"))).as("token"))
      .select(col("ts"), col("token"),
        explode(sequence(lit(0), lit(d - 1))).as("r"))
      .select(col("ts"), col("r"),
        CountMin.rowHash(col("r"), col("token"), w).as("idx"))
      .groupBy(window(col("ts"), width).as("wd"), col("r"), col("idx"))
      .agg(count(lit(1)).as("c"))
      .select(col("wd.start").cast("long").as("w_start"), col("r"),
        col("idx"), col("c"))
  }

  /** STREAM–STATIC enrichment: the streaming side joins a batch dimension
    * (user → attribute) stateLESSLY — Spark replans the static side every
    * micro-batch, so no join state accumulates and dimension updates are
    * picked up between batches (the standard enrichment shape; contrast
    * the stateful stream-stream interval joins). The join carries no
    * broadcast hint: a toy dimension broadcasts under AQE, a 100 TB user
    * dimension degrades to a per-batch shuffle join instead of the driver.
    * Downstream: q60's tumbling StateStore aggregation, keyed by the
    * ENRICHED attribute. */
  def staticEnrichAgg(events: DataFrame, dim: DataFrame, width: String,
                      watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .join(dim, Seq("user_id"))
      .groupBy(window(col("ts"), width).as("w"), col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("w_start"), col("segment"),
        col("n"), col("sum_value"))

  /** Sliding (hopping) windows with a watermark. */
  def slidingAgg(events: DataFrame, width: String, slide: String,
                 watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"))

  /** Built-in session windows with a watermark (state merges sessions). */
  def sessionAgg(events: DataFrame, gap: String, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("s_start"),
        col("w.end").as("s_end"), col("n"))

  /** Streaming exact dedup on `event_id` within the watermark horizon —
    * the streaming twin of [[graft.dedup.DedupOps.exactDedup]]'s semantics. */
  def dedup(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates("event_id")

  /** Input/output/state rows for the custom stateful sessionizer. */
  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Long, sumValue: Double)
  case class Session(user_id: Long, s_start: java.sql.Timestamp,
                     s_end: java.sql.Timestamp, n: Long, sum_value: Double)

  /** Custom sessionization via `flatMapGroupsWithState`: per-user sessions
    * closed after `gapMs` of event-time inactivity (event-time timeout).
    * Demonstrates the arbitrary-state API the built-in `session_window`
    * cannot express (e.g. carrying running sums with custom close logic).
    *
    * State timestamps are MICROSECOND epoch values — `Timestamp.getTime` is
    * millisecond-truncating, and a state built on it silently drops the µs
    * component of every boundary (caught by the q69 oracle gate). Running
    * sums are sequential folds over the ts-sorted events of each batch, so
    * the value is reproducible wherever (key, ts) is unique. */
  def sessionizeWithState(events: Dataset[Ev], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    def usOf(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def tsOf(us: Long): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
    events
      // ceil to whole seconds: a TRUNCATED delay would be shorter than the
      // session gap, and in a multi-batch stream an in-gap event arriving
      // behind the advanced watermark would be dropped as late
      .withWatermark("ts", s"${(gapMs + 999) / 1000} seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, tsOf(s.start),
              tsOf(s.lastTs + gapUs), s.n, s.sumValue))
          } else {
            val sorted = rows.toSeq.sortBy(e => usOf(e.ts))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = usOf(e.ts)
              cur match {
                case Some(s) if t - s.lastTs <= gapUs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.sumValue + e.value))
                case Some(s) =>
                  closed += Session(user, tsOf(s.start),
                    tsOf(s.lastTs + gapUs), s.n, s.sumValue)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // GroupState's timeout API takes MILLISECONDS — integer-ceil
              // the µs deadline UP so the timeout never fires a µs-fraction
              // early (q69's oracle mirrors this exact ms arithmetic)
              state.setTimeoutTimestamp((s.lastTs + gapUs + 999L) / 1000L)
            }
            closed.result().iterator
          }
      }
  }

  case class EvId(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
                  value: Double)
  case class EwmaState(ewmaFp: Long, n: Long)
  case class Anomaly(user_id: Long, event_id: Long, value_seen: Double,
                     ewma_prev: Double)

  /** Per-key streaming EWMA anomaly detector (`flatMapGroupsWithState`,
    * Update mode, no timeout): each key carries TWO LONGS of state — the
    * running EWMA in 1e2 fixed point and the fold count — so state is
    * bounded by |keys| however many events arrive (the q162/q205
    * counters-as-state discipline applied to a recursive statistic that
    * windowed aggregation cannot express: EWMA_k depends on every prior
    * event). An arrival is flagged when it leaves the [ewma/4, 4·ewma]
    * band after a `warmup`-event burn-in (cold-start floods gated off).
    *
    * Cross-engine exactness: the quantization is floor(value·100 + 0.5)
    * (one pinned IEEE chain), the update is the INTEGER recurrence
    * ewma' = ⌊(7·ewma + v) / 8⌋ via floorDiv (DuckDB `//` floor semantics,
    * not Scala `/` truncation — they differ on negatives), and the fold
    * order is (event-time µs, event_id) — a total order wherever
    * (key, ts) is unique, which the oracle's recursive CTE replays
    * row-for-row.
    *
    * REPLAY PRECONDITION (oracle parity): the (ts, event_id) sort is
    * per-MICRO-BATCH — a recursive statistic has no watermark-style
    * reordering buffer, so the global fold order equals the oracle's
    * per-key event-time order only when each key's events arrive in
    * event-time order ACROSS batches. The gated replays satisfy it
    * trivially (one AvailableNow batch); a sequenced multi-file replay
    * (the q78 maxFilesPerTrigger pattern) must sequence files in event-time
    * order or the fold diverges from the oracle BY DESIGN — out-of-order
    * arrival is processed in arrival order, the deployment semantic. */
  def ewmaAnomalies(events: Dataset[EvId], warmup: Long = 8L): Dataset[Anomaly] = {
    import events.sparkSession.implicits._
    def usOf(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, Anomaly](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[EvId], state: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
          var cur = state.getOption
          val flagged = Seq.newBuilder[Anomaly]
          sorted.foreach { e =>
            val v = math.floor(e.value * 100.0 + 0.5).toLong
            cur match {
              case Some(st) =>
                if (st.n >= warmup &&
                    (v > 4L * st.ewmaFp || 4L * v < st.ewmaFp))
                  flagged += Anomaly(user, e.event_id,
                    v.toDouble / 100.0, st.ewmaFp.toDouble / 100.0)
                cur = Some(EwmaState(
                  Math.floorDiv(7L * st.ewmaFp + v, 8L), st.n + 1))
              case None =>
                cur = Some(EwmaState(v, 1L))
            }
          }
          cur.foreach(state.update)
          flagged.result().iterator
      }
  }

  case class EwmvState(ewmaFp: Long, ewmvFp: Long, n: Long)
  case class ZAnomaly(user_id: Long, event_id: Long, value_seen: Double,
                      ewma_prev: Double, sigma2_prev: Double)

  /** Per-key streaming EWMA + EWMV (z-band) anomaly detector — the
    * variance-adaptive sibling of [[ewmaAnomalies]]'s fixed 4× band (the
    * ops counterpart of q109's batch z-score, recursive instead of
    * two-pass): each key carries THREE LONGS of state — the running mean
    * in 1e2 fixed point, the running variance of one-step residuals in
    * 1e4 fixed point (EWMA of dev², dev measured against the PRE-update
    * mean — the classic EWMV residual recurrence), and the fold count.
    * Flag rule after the `warmup` burn-in: dev² > 9·max(ewmv, 1), i.e.
    * |v − ewma| > 3σ with a 0.01-unit variance floor so a perfectly
    * constant history still flags a genuine jump instead of dividing by
    * zero. A 3σ spike both flags AND inflates ewmv — subsequent
    * same-sized values stop flagging as the band adapts, which is exactly
    * the difference from the fixed-band detector.
    *
    * Cross-engine exactness and the replay precondition are
    * [[ewmaAnomalies]]'s verbatim: floor(v·100 + 0.5) quantization,
    * floorDiv recurrences ewma' = ⌊(7·ewma + v)/8⌋ and
    * ewmv' = ⌊(7·ewmv + dev²)/8⌋ (dev² ≤ (2e7)² ≈ 4e14, well inside
    * int64), (event-time µs, event_id) fold order per micro-batch. */
  def ewmvAnomalies(events: Dataset[EvId], warmup: Long = 8L): Dataset[ZAnomaly] = {
    import events.sparkSession.implicits._
    def usOf(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmvState, ZAnomaly](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[EvId], state: GroupState[EwmvState]) =>
          val sorted = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
          var cur = state.getOption
          val flagged = Seq.newBuilder[ZAnomaly]
          sorted.foreach { e =>
            val v = math.floor(e.value * 100.0 + 0.5).toLong
            cur match {
              case Some(st) =>
                val dev = v - st.ewmaFp
                if (st.n >= warmup &&
                    dev * dev > 9L * math.max(st.ewmvFp, 1L))
                  flagged += ZAnomaly(user, e.event_id,
                    v.toDouble / 100.0, st.ewmaFp.toDouble / 100.0,
                    st.ewmvFp.toDouble / 10000.0)
                cur = Some(EwmvState(
                  Math.floorDiv(7L * st.ewmaFp + v, 8L),
                  Math.floorDiv(7L * st.ewmvFp + dev * dev, 8L),
                  st.n + 1))
              case None =>
                cur = Some(EwmvState(v, 0L, 1L))
            }
          }
          cur.foreach(state.update)
          flagged.result().iterator
      }
  }

  /** Watermarked STREAM-STREAM interval join: each left row pairs with the
    * right rows of the same key whose timestamp falls in
    * `[left.ts, left.ts + windowSec]` — the streaming twin of
    * [[graft.events.EventOps.rangeCountJoin]]'s matching rule.
    *
    * Both sides carry a watermark and the join condition bounds the time
    * range in BOTH directions, so Spark can GC each side's join state once
    * the watermark passes the window — without the range bound the state
    * grows forever. Output columns are prefixed l_/r_ to stay unambiguous.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   windowSec: Long, watermark: String): DataFrame =
    intervalJoinTyped(left, right, keyCol, windowSec, watermark, "inner")

  /** LEFT OUTER form of [[intervalJoin]]: unmatched left rows additionally
    * emit with null right columns — but only once the WATERMARK proves no
    * match can still arrive (wm > l_ts + window), because until then the
    * row must stay joinable state. That makes outer emission a
    * watermark-trajectory semantic, not a batch-join semantic: under a
    * sequenced replay the rule is exactly "unmatched AND expired below the
    * watermark some later batch ran with" (q89 encodes it in its oracle);
    * rows whose expiry the final watermark never passed are withheld —
    * the same discipline q78 pins for withheld windows. */
  def intervalJoinOuter(left: DataFrame, right: DataFrame, keyCol: String,
                        windowSec: Long, watermark: String): DataFrame =
    intervalJoinTyped(left, right, keyCol, windowSec, watermark, "left_outer")

  private def intervalJoinTyped(left: DataFrame, right: DataFrame,
                                keyCol: String, windowSec: Long,
                                watermark: String, joinType: String): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(keyCol).as("l_key") +: left.columns.filterNot(_ == keyCol)
        .map(c => col(c).as(s"l_$c")).toSeq: _*)
    val r = right.withWatermark("ts", watermark)
      .select(col(keyCol).as("r_key") +: right.columns.filterNot(_ == keyCol)
        .map(c => col(c).as(s"r_$c")).toSeq: _*)
    l.join(r, col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $windowSec SECONDS"),
        joinType)
      .withColumnRenamed("l_key", keyCol).drop("r_key")
  }

  /** Streaming NEAR-duplicate dedup: the dedup key is the per-row SimHash
    * expression ([[graft.functions.SimhashText]] — pure expression work,
    * no shuffle, no aggregation), so `dropDuplicates` stays the query's ONLY
    * stateful operator. EXACT but unbounded: the key omits the event-time
    * column, so this state is never watermark-evicted (object scaladoc
    * caveat) — use [[nearDupDedupBounded]] when state must stay bounded.
    * Documents whose token multisets hash to the same 32-bit SimHash
    * (near-identical content) keep only the first arrival. */
  def nearDupDedup(docs: DataFrame, textCol: String, watermark: String): DataFrame = {
    docs.withWatermark("ts", watermark)
      .withColumn("simhash",
        GraftFunctions.simhash32(col(textCol)))
      .dropDuplicates("simhash")
  }

  /** BOUNDED-STATE near-dup dedup: `dropDuplicatesWithinWatermark` keeps a
    * SimHash key's state only until the watermark passes its first
    * arrival's event time + delay, so duplicates are guaranteed suppressed
    * only within that horizon — a re-crawl older than the horizon
    * re-emits, the by-design cost of bounded state. [[nearDupDedup]] is
    * exact but its per-key state is never evicted (see the object scaladoc
    * caveat); at 100 TB/day this is the shape that survives. NOTE (pinned
    * by q96): streaming dedup does NOT drop late input rows — a
    * below-watermark arrival with an unseen key still emits; the watermark
    * governs state EVICTION only. Gated end-to-end under a sequenced
    * three-batch replay by q96. */
  def nearDupDedupBounded(docs: DataFrame, textCol: String,
                          watermark: String): DataFrame = {
    docs.withWatermark("ts", watermark)
      .withColumn("simhash",
        GraftFunctions.simhash32(col(textCol)))
      .dropDuplicatesWithinWatermark("simhash")
  }

  /** End-to-end STREAMING training-data ingest — the north-star pipeline as
    * one incremental query: quality-filter → PII-mask → context-window chunk
    * → exact chunk dedup. Everything upstream of the dedup is per-row
    * expression work (filters, regex masking, chunk enumeration — no
    * aggregation), so the `dropDuplicates` on the chunk fingerprint is the
    * query's ONLY stateful operator — exact but never evicted (object
    * scaladoc caveat; swap in `dropDuplicatesWithinWatermark` for the
    * bounded production shape). A new arrival of already-seen content
    * (re-crawls, mirror pages) emits nothing.
    * Output: (doc_id, ts, chunk_id, chunk, fp). */
  def ingestPipeline(docs: DataFrame, minQuality: Double, chunkSize: Int,
                     overlap: Int, watermark: String): DataFrame = {
    import graft.text.TextOps
    docs.withWatermark("ts", watermark)
      .filter(TextOps.qualityScore(col("text")) >= minQuality)
      .withColumn("text", TextOps.maskPii(col("text")))
      .select(col("doc_id"), col("ts"),
        posexplode(TextOps.chunks(col("text"), chunkSize, overlap))
          .as(Seq("chunk_id", "chunk")))
      .withColumn("fp", md5(col("chunk")))
      .dropDuplicates("fp")
  }

  /** File-based streaming source over an events directory (parquet), for
    * production wiring; tests use MemoryStream instead. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, " +
        "value DOUBLE, props STRING")
      .parquet(dir)
}
