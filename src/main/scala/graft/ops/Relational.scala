package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.functions.GraftFunctions

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

  /** A1 core — the reference's per-alias `Counter` of entities
    * (`senzing_pipeline.py:289-305`): one
    * `groupBy(alias)` aggregate holding a [[GraftFunctions.counterMap]] of
    * entities beside the alias's row count `n_obs`, so the observations
    * cross the network once, keyed by alias alone (map-side combinable).
    * The counter is an object aggregate, outside codegen: where nearly
    * every alias has a single entity the shuffle saves little and the
    * codegen two-level form is faster (CHANGES.md has the measurement).
    * Null entities are counted
    * beside the counter (a map key cannot be null) and come back as one
    * null-entity entry, first, as a null sorts first.
    * Output: (alias, n_obs, ec) with `ec` an array of struct(entity, cnt)
    * sorted by entity, the entity in the counter's key type (an integral
    * entity widened to bigint). */
  def aliasCounts(df: DataFrame, alias: String, entity: String): DataFrame = {
    val counted = df.groupBy(col(alias).as("alias"))
      .agg(GraftFunctions.counterMap(col(entity)).as("cm"),
        count(lit(1)).as("n_obs"), count(col(entity)).as("n_keyed"))
    val entityType = counted.schema("cm").dataType.asInstanceOf[MapType].keyType
    val nulls = col("n_obs") - col("n_keyed")
    counted.select(col("alias"), col("n_obs"),
      concat(
        when(nulls > 0,
          array(struct(lit(null).cast(entityType).as("entity"), nulls.as("cnt"))))
          .otherwise(array()),
        transform(map_entries(col("cm")),
          e => struct(e("key").as("entity"), e("value").as("cnt")))).as("ec"))
  }

  /** A1 — alias → (entities, probabilities) aggregation: per alias, the
    * distinct entities it maps to and P(entity | alias) = cnt(entity) / total,
    * as parallel arrays, from [[aliasCounts]]. Arrays are sorted by entity
    * for deterministic output (oracle hash parity; the reference's dict
    * ordering is insertion order, an accident of scan order).
    * Output: (alias, entities, probabilities, n_obs).
    */
  def aliasProbabilities(df: DataFrame, alias: String, entity: String): DataFrame =
    aliasCounts(df, alias, entity).select(
      col("alias"),
      transform(col("ec"), e => e("entity")).as("entities"),
      transform(col("ec"), e => e("cnt").cast("double") / col("n_obs")).as("probabilities"),
      col("n_obs"))

  /** A1 in LONG form — one row per (alias, entity) with
    * P(entity | alias) = cnt / total and the per-alias observation total,
    * from [[aliasCounts]]. All-scalar columns: this is the form the
    * hash-compared correctness gate consumes — array-typed result columns
    * are not sortable by the gate's pandas comparison. The array form stays
    * available for library users who want the reference's
    * (entities[], probabilities[]) shape.
    * Output: (alias, entity, cnt, probability, n_obs).
    */
  def aliasProbabilitiesLong(df: DataFrame, alias: String, entity: String): DataFrame =
    aliasCounts(df, alias, entity)
      .select(col("alias"), col("n_obs"), inline(col("ec")))
      .select(col("alias"), col("entity"), col("cnt"),
        (col("cnt").cast("double") / col("n_obs")).as("probability"),
        col("n_obs"))

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
