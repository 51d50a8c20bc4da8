package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators re-expressed Spark-first.
  *
  * Each function mirrors one operator row of SURVEY.md §2 (IDs in scaladoc).
  * All are pure `DataFrame => DataFrame` / `Column => Column` combinators so
  * Catalyst sees one lazy plan and can push filters/prune columns across
  * operator boundaries — the reference executes each step eagerly in-process
  * (/root/reference/src/senzing_pipeline.py:400-421).
  */
object Relational {

  /** F1/STR2 — regex-blacklist rejection filter.
    * Reference: `filter_bearer` rejects a name when ANY of 17 regexes match
    * its lowercased form (/root/reference/src/senzing_pipeline.py:83-112).
    * One alternation regex keeps the predicate codegen-friendly and lets the
    * whole filter run inside WholeStageCodegen — no UDF, no per-pattern loop.
    */
  def keepNotMatching(c: Column, patterns: Seq[String]): Column =
    !lower(trim(c)).rlike(patterns.mkString("(", ")|(", ")"))

  /** A REDUCED demo blacklist covering the FIXTURES.md A6 accept/reject
    * pairs only — NOT reference-parity: it accepts names the reference
    * rejects (e.g. "bearer warrant", "al portador"). The reference-exact
    * 17-pattern list lives in [[graft.sources.Senzing.bearerPatterns]]; use
    * that wherever parity with the reference's filter matters. Case handled
    * by `keepNotMatching`'s lower().
    */
  val bearerPatterns: Seq[String] = Seq(
    "^(the )?bearer$",
    "^(the )?bearer ?\\(",          // "the bearer (1,000)"
    "^(the )?bearer no\\.? ?\\d*$", // "bearer no. 5"
    "bearer shares?",
    "^(el )?portador$",
    "^nan$",
    "^\\?+$")

  /** F2 — name-present filter
    * (/root/reference/src/senzing_pipeline.py:151-155,234-235). */
  def nonEmpty(c: Column): Column = c.isNotNull && length(trim(c)) > 0

  /** F4/SET2 — ID-set semi-join filter: keep rows of `df` whose `key` appears
    * in `ids` (/root/reference/src/senzing_pipeline.py:414-415). The id set is
    * small (hop frontier / seed list) so broadcast the right side: a broadcast
    * left-semi hash join, no shuffle of the big side.
    */
  def semiJoinFilter(df: DataFrame, ids: DataFrame, key: String): DataFrame =
    df.join(broadcast(ids), Seq(key), "left_semi")

  /** Complement of F4: left-anti (NOT EXISTS). */
  def antiJoinFilter(df: DataFrame, ids: DataFrame, key: String): DataFrame =
    df.join(broadcast(ids), Seq(key), "left_anti")

  /** A1 — alias → (entities, probabilities) aggregation, the reference's most
    * interesting aggregate (/root/reference/src/senzing_pipeline.py:289-305):
    * per alias, the distinct entities it maps to and
    * P(entity | alias) = cnt(entity) / total, as parallel arrays.
    *
    * Two-level hash aggregation (both map-side combinable — no skew blowup on
    * celebrity aliases), then pure array expressions. Arrays are sorted by
    * entity for deterministic output (oracle hash parity; the reference's dict
    * ordering is insertion order, an accident of scan order).
    */
  def aliasProbabilities(df: DataFrame, alias: String, entity: String): DataFrame = {
    val pairs = df.groupBy(col(alias).as("alias"), col(entity).as("entity"))
      .agg(count(lit(1)).as("cnt"))
    pairs.groupBy(col("alias"))
      .agg(sort_array(collect_list(struct(col("entity"), col("cnt")))).as("ec"))
      .select(
        col("alias"),
        transform(col("ec"), e => e.getField("entity")).as("entities"),
        transform(col("ec"), e =>
          e.getField("cnt") / aggregate(col("ec"), lit(0L), (acc, x) => acc + x.getField("cnt")))
          .as("probabilities"),
        aggregate(col("ec"), lit(0L), (acc, x) => acc + x.getField("cnt")).as("n_obs"))
  }

  /** A1 in LONG form — one row per (alias, entity) with
    * P(entity | alias) = cnt / total and the per-alias observation total.
    * Same aggregation tree as [[aliasProbabilities]] (two-level map-side
    * combinable hash agg; the window total is an integer sum, exact), but the
    * output is all-scalar columns: this is the form the hash-compared
    * correctness gate consumes — array-typed result columns are not sortable
    * by the driver's pandas harness. The array form stays available for
    * library users who want the reference's (entities[], probabilities[])
    * shape. Output: (alias, entity, cnt, probability, n_obs).
    */
  def aliasProbabilitiesLong(df: DataFrame, alias: String, entity: String): DataFrame = {
    val pairs = df.groupBy(col(alias).as("alias"), col(entity).as("entity"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("alias"))
    pairs.select(
      col("alias"), col("entity"), col("cnt"),
      (col("cnt").cast("double") / sum(col("cnt")).over(w)).as("probability"),
      sum(col("cnt")).over(w).as("n_obs"))
  }

  /** W1 — per-group top-k (reference: `doc._.phrases[:30]` per doc,
    * /root/reference/src/analysis.py:11). Rank-within-partition window; the
    * tie-break columns must make ordering total for deterministic output.
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], k: Int): DataFrame =
    df.withColumn("rn",
        row_number().over(Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)))
      .filter(col("rn") <= k)

  /** STR5 — default/coalesce semantics: empty string → default
    * (/root/reference/src/senzing_pipeline.py:345-353). */
  def emptyToDefault(c: Column, default: Column): Column =
    coalesce(nullif(trim(c), lit("")), default)

  /** Skew-safe two-level aggregation: celebrity keys (the data has them —
    * "Arzu Aliyeva" maps to ≥4 entities, SURVEY.md §4) are split across
    * `salt` shards in round 1, then the per-shard partials combine in a
    * second tiny aggregation. Result is identical to a plain
    * `groupBy(key).agg(count, sum)` — locked by a PropertySpec law — but no
    * single reducer ever sees a whole hot key. AQE's skew handling covers
    * joins; this is the aggregation-side analog for when one key dominates.
    * The salt is derived from stable columns (`saltFrom`), not rand(), so
    * the plan stays deterministic and retry-safe. */
  def saltedCountSum(df: DataFrame, key: String, valueCol: String,
                     salt: Int, saltFrom: Column): DataFrame =
    df.withColumn("__salt", pmod(hash(saltFrom), lit(salt)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast("decimal(18,2)")).as("__s"))
      .groupBy(col(key))
      .agg(sum(col("__n")).as("n"),
        sum(col("__s")).cast("double").as("sum_value"))
}
