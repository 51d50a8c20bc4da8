package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SEQUENCE PACKING for LLM training pipelines (north-star surface; the
  * reference has no analog): concatenate every document's token stream in
  * doc-id order into one virtual stream and chop it into fixed-`capacity`
  * context windows ("concat-and-chop", the standard GPT-pretraining packer —
  * zero padding waste, documents split across window boundaries). Output is
  * the SPAN MANIFEST: one row per (document, window) intersection telling the
  * loader which token range of which doc fills which slice of which window —
  * the shuffle-free recipe a downstream tokenizer/loader consumes.
  *
  * Scale design — the global prefix sum, distributed: a naive
  * `sum over (order by doc_id)` window has no partition key, so Spark would
  * collapse the whole corpus into ONE task. Instead the classic two-phase
  * scan:
  *   1. per-bucket token totals (`doc_id div bucketSize`), then the
  *      cumulative bucket offsets over the BUCKET table — a single-partition
  *      window over |docs|/bucketSize rows, thousands at most, broadcast
  *      back;
  *   2. within-bucket exclusive cumsum, partitioned by bucket — parallel.
  * Values are identical to the naive global window (the DuckDB oracle runs
  * exactly that), but no stage ever sorts more than one bucket per task.
  *
  * One read of the input: both phases derive from the narrow
  * `(doc_id, n_tok, bucket)` table, and that table is materialized
  * (`localCheckpoint`) — three longs, 24 B per non-empty document, against
  * the document text a second read would rescan. Left lazy, each phase
  * re-ran the whole upstream chain (q116's slice, closure and
  * decontamination): Catalyst infers a different `isnotnull` filter into
  * each copy (`isnotnull(doc_id div b)` in one, `isnotnull(doc_id)` in the
  * other), so their exchanges differ and exchange reuse cannot merge them.
  *
  * Determinism: integer arithmetic only (token counts, prefix sums, integer
  * div) — hash-gate-exact.
  */
object Packing {

  /** @param capacity   tokens per packed context window
    * @param bucketSize doc-ids per prefix-sum bucket (scale dial: at 100 TB
    *                   pick so both |docs|/bucketSize and bucketSize rows
    *                   fit a task comfortably)
    * @return (doc_id, bin, off_in_bin, len, doc_from): doc tokens
    *         [doc_from, doc_from+len) land in window `bin` at offset
    *         `off_in_bin`. Empty docs emit nothing. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    capacity: Long, bucketSize: Long = 256L): DataFrame = {
    val counted = docs
      .select(col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("bucket", expr("doc_id div " + bucketSize))
      .localCheckpoint() // the one read of `docs`: feeds both phases
    val bucketTotals = counted.groupBy(col("bucket"))
      .agg(sum(col("n_tok")).as("btot"))
    // cumulative offsets over the tiny bucket table: the one intentionally
    // single-partition window in this plan (thousands of rows, not docs)
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals
      .withColumn("boff", coalesce(sum(col("btot")).over(wOff), lit(0L)))
      .select(col("bucket"), col("boff"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val placed = counted.join(broadcast(offsets), Seq("bucket"))
      .withColumn("st",
        col("boff") + coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
      .withColumn("fin", col("st") + col("n_tok"))
    placed
      // integer `div`, not double floor-division: token offsets are exact
      // longs and must stay exact past 2^53
      .withColumn("bin0", expr(s"st div ${capacity}L"))
      .withColumn("bin1", expr(s"(fin - 1) div ${capacity}L"))
      .select(col("doc_id"), col("st"), col("fin"),
        explode(sequence(col("bin0"), col("bin1"))).as("bin"))
      .select(col("doc_id"), col("bin"),
        (greatest(col("st"), col("bin") * capacity) - col("bin") * capacity)
          .as("off_in_bin"),
        (least(col("fin"), (col("bin") + 1) * capacity) -
          greatest(col("st"), col("bin") * capacity)).as("len"),
        (greatest(col("st"), col("bin") * capacity) - col("st")).as("doc_from"))
  }
}
