package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Senzing entity-report surface (SURVEY.md §1.1, §2 S5/S7/S8/S10/S11 +
  * F1-F7, G1-G2, A1): one explicit-schema pass over the JSONL export replaces
  * the reference's three full scans + two counting passes
  * (/root/reference/src/senzing_pipeline.py:61,63,225,227,333).
  *
  * Semantics are replicated from the reference EXACTLY as observed, including
  * two latent quirks, both documented at the relevant function:
  * the always-truthy DUNS branch making MISC unreachable (entity path), and
  * the raw-keyed RECORD_TYPE comparison disabling that branch (alias path).
  */
object Senzing {

  /** Explicit schema for the export (senzing_pipeline.py:66-75,229-266,
    * 335-360) — schema-on-read inference would force a second full scan at
    * 100 TB. FEATURES is a native map of feature-occurrence arrays. */
  val exportSchema: StructType = StructType(Seq(
    StructField("RESOLVED_ENTITY", StructType(Seq(
      StructField("ENTITY_ID", LongType),
      StructField("ENTITY_NAME", StringType),
      StructField("FEATURES", MapType(StringType,
        ArrayType(StructType(Seq(StructField("FEAT_DESC", StringType)))))),
      StructField("RECORDS", ArrayType(StructType(Seq(
        StructField("DATA_SOURCE", StringType),
        StructField("RECORD_ID", StringType),
        StructField("MATCH_KEY", StringType),
        StructField("ENTITY_DESC", StringType),
        StructField("INTERNAL_ID", LongType)))))))),
    StructField("RELATED_ENTITIES", ArrayType(StructType(Seq(
      StructField("ENTITY_ID", LongType),
      StructField("MATCH_LEVEL_CODE", StringType)))))))

  /** S5 — JSON Lines source, one scan, explicit schema. */
  def readExport(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(exportSchema).json(path)

  /** S8 — suspicion names, one per line, right-trimmed
    * (senzing_pipeline.py:406-408). */
  def readSuspicions(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(rtrim(col("value")).as("name"))

  /** F1 — the bearer-name blacklist (senzing_pipeline.py:83-112): 17
    * re.search patterns over the lowercased name, combined into ONE
    * alternation so the filter is a single codegen'd rlike. All patterns are
    * ^$-anchored, so search ≡ match. */
  val bearerPatterns: Seq[String] = Seq(
    "^\\-?(to\\s+)?([the]+\\s+)?bearer\\.?\\s?(\\d+)?(\\w)?$",
    "^.*bearer.*shares?$",
    "^the\\s+bearer\\s+\\([\\d\\,]+\\)$",
    "^[ae]l\\s+portador$",
    "^the\\s?bearer$",
    "^bearer\\s?warrant$",
    "^bearer\\s?shareholder$",
    "^the\\,\\s+bearer$",
    "^bearer\\s+\\(reedeem\\s+shares\\)$",
    "^the\\s+bearer\\s+\\(lost\\)$",
    "^bearer\\s+\\-\\s+[\\w]$",
    "^bearer\\s+\\\"\\w\\\"$",
    "^bearer\\s+[\\d\\-]+$",
    "^bearer\\s+no\\.\\s+\\d+$",
    "^the\\s+bearer\\s+at\\s+[\\d\\,]+$",
    "^nan$",
    "^[\\?]+$")

  /** keep-predicate: true iff the name survives the blacklist. */
  def bearerKeep(name: Column): Column =
    !lower(name).rlike(bearerPatterns.map(p => s"($p)").mkString("|"))

  /** First FEAT_DESC of a feature key (senzing_pipeline.py:71-74 takes
    * `feature[0]["FEAT_DESC"]`), null when absent; empty string is treated as
    * absent downstream (Python truthiness). */
  def feat(features: Column, key: String): Column =
    try_element_at(element_at(features, key), lit(1)).getField("FEAT_DESC")

  private def present(c: Column): Column = c.isNotNull && c =!= ""

  /** F6, entity path (senzing_pipeline.py:122-135): RECORD_TYPE PERSON→PER /
    * ORGANIZATION→ORG; else DOB|GROUP_ASSOCIATION→PER; else ORG.
    * The written MISC branch is DEAD CODE — `EntityFeature.DUNS_NUMBER.value
    * or …` (line 133) is an always-truthy string, so every remaining entity
    * is ORG; the observed type universe is exactly {PER, ORG}
    * (dev.ipynb cell 111). We replicate the OBSERVED semantics. */
  def entityType(features: Column): Column = {
    val rt = feat(features, "RECORD_TYPE")
    when(rt === "PERSON", "PER")
      .when(rt === "ORGANIZATION", "ORG")
      .when(map_contains_key(features, "DOB") ||
        map_contains_key(features, "GROUP_ASSOCIATION"), "PER")
      .otherwise("ORG")
  }

  /** F6, alias path (senzing_pipeline.py:237): `get_entity_type` is called
    * with the RAW string-keyed map whose values are ARRAYS, so the
    * `features["RECORD_TYPE"] == "PERSON"` comparison is list-vs-string and
    * never true — the RECORD_TYPE branch is disabled and the rule collapses
    * to DOB|GROUP_ASSOCIATION→PER else ORG. Replicated as observed. */
  def entityTypeRawKeyed(features: Column): Column =
    when(map_contains_key(features, "DOB") ||
      map_contains_key(features, "GROUP_ASSOCIATION"), "PER")
      .otherwise("ORG")

  private def seg(features: Column, key: String, prefix: String): Column = {
    val d = feat(features, key)
    when(present(d), concat(lit(prefix), d)).otherwise("")
  }

  /** F2+F1+F6+F7+J1 — the entity KB (senzing_pipeline.py:138-198):
    * name-present filter, bearer filter on the TRIMMED name, type inference,
    * order-sensitive description synthesis with the country broadcast lookup
    * (ORG: address, DUNS, phone, country, website; PER: DOB, phone, address,
    * group, country). Output: (entity_id string, type, name, description). */
  def entities(raw: DataFrame, countries: DataFrame): DataFrame = {
    val f = col("RESOLVED_ENTITY.FEATURES")
    val name = feat(f, "NAME")
    val base = raw
      .filter(map_contains_key(f, "NAME") && present(name))
      .filter(bearerKeep(trim(name)))
      .select(col("RESOLVED_ENTITY.ENTITY_ID").cast("string").as("entity_id"),
        entityType(f).as("type"), name.as("name"), f.as("f"))
      .withColumn("ccode", trim(feat(col("f"), "COUNTRY_OF_ASSOCIATION")))
      .join(broadcast(countries), col("ccode") === col("code"), "left")
    val countrySeg =
      when(present(col("country")), concat(lit(", in "), col("country")))
        .otherwise("")
    base.select(col("entity_id"), col("type"), col("name"),
      when(col("type") === "ORG",
        concat(col("name"),
          seg(col("f"), "ADDRESS", ", located at "),
          seg(col("f"), "DUNS_NUMBER", ", DUNS "),
          seg(col("f"), "PHONE", ", phone "),
          countrySeg,
          seg(col("f"), "WEBSITE", ", website ")))
      .otherwise(
        concat(col("name"),
          seg(col("f"), "DOB", ", born "),
          seg(col("f"), "PHONE", ", phone "),
          seg(col("f"), "ADDRESS", ", located at "),
          seg(col("f"), "GROUP_ASSOCIATION", ", associated with "),
          countrySeg)).as("description"))
  }

  /** F3 + alias extraction (senzing_pipeline.py:218-269): for entities with
    * a non-empty ENTITY_NAME, every RECORD contributes (ENTITY_DESC,
    * INTERNAL_ID) and — when `includePossiblyRelated` — every related entity
    * with MATCH_LEVEL_CODE ∈ {POSSIBLY_SAME, RESOLVED, DISCLOSED} contributes
    * (ENTITY_NAME, related ENTITY_ID). Output: (alias, entity, type). */
  def aliasRecords(raw: DataFrame, includePossiblyRelated: Boolean = true): DataFrame = {
    val named = raw.filter(present(col("RESOLVED_ENTITY.ENTITY_NAME")))
      .select(col("RESOLVED_ENTITY.ENTITY_NAME").as("ename"),
        entityTypeRawKeyed(col("RESOLVED_ENTITY.FEATURES")).as("type"),
        col("RESOLVED_ENTITY.RECORDS").as("recs"),
        col("RELATED_ENTITIES").as("rels"))
    val fromRecords = named
      .select(explode(col("recs")).as("r"), col("type"))
      .select(col("r.ENTITY_DESC").as("alias"),
        col("r.INTERNAL_ID").as("entity"), col("type"))
    if (!includePossiblyRelated) fromRecords
    else fromRecords.unionByName(named
      .select(col("ename"), col("type"), explode(col("rels")).as("rel"))
      .filter(col("rel.MATCH_LEVEL_CODE")
        .isin("POSSIBLY_SAME", "RESOLVED", "DISCLOSED"))
      .select(col("ename").as("alias"),
        col("rel.ENTITY_ID").as("entity"), col("type")))
  }

  /** F8 — EntityRuler gazetteer patterns (senzing_pipeline.py:278-286). */
  def patterns(aliasRecs: DataFrame): DataFrame =
    aliasRecs.select(col("type").as("label"), col("alias").as("pattern"),
      col("entity").cast("string").as("id"))

  /** A1 — weighted alias rows (senzing_pipeline.py:289-305): per alias the
    * entity list (as strings) and P(entity|alias) by record count. The
    * reference's Counter preserves first-seen order; we normalize to
    * (entity, cnt) ascending so the arrays are deterministic under
    * parallelism. */
  def aliases(aliasRecs: DataFrame): DataFrame =
    graft.ops.Relational.aliasProbabilities(
      aliasRecs.withColumn("entity", col("entity").cast("string")),
      "alias", "entity")

  /** J3 — self-alias union (tutorial.ipynb cell 7; dagster_icij/assets.py:
    * 121-124): every KB entity contributes its own name as an alias with
    * probability 1. `entities` must have (entity_id, name). */
  def withSelfAliases(aliases: DataFrame, entities: DataFrame): DataFrame =
    aliases.unionByName(entities.select(
      col("name").as("alias"),
      array(col("entity_id")).as("entities"),
      array(lit(1.0)).as("probabilities"),
      lit(1L).as("n_obs")))

  /** G1 — graph vertices (senzing_pipeline.py:329-361): name = first
    * non-empty ENTITY_DESC in record order (fallback: uid as string);
    * num_recs counts DISTINCT record uids (`DATA_SOURCE.upper() + "." +
    * RECORD_ID` — the reference accumulates into a dict, deduplicating);
    * per-record match_key defaults empty → "INITIAL" (exposed in the
    * records map). Output: (id, name, num_recs). */
  def graphVertices(raw: DataFrame): DataFrame = {
    val recs = col("RESOLVED_ENTITY.RECORDS")
    raw.select(
      col("RESOLVED_ENTITY.ENTITY_ID").as("id"),
      coalesce(
        try_element_at(filter(recs,
          r => r.getField("ENTITY_DESC").isNotNull &&
            r.getField("ENTITY_DESC") =!= ""), lit(1)).getField("ENTITY_DESC"),
        col("RESOLVED_ENTITY.ENTITY_ID").cast("string")).as("name"),
      size(array_distinct(transform(recs,
        r => concat_ws(".", upper(r.getField("DATA_SOURCE")),
          r.getField("RECORD_ID"))))).as("num_recs"))
  }

  /** G1 — directed related-entity edges: (src, dst, match_level_code). */
  def graphEdges(raw: DataFrame): DataFrame =
    raw.select(col("RESOLVED_ENTITY.ENTITY_ID").as("src"),
        explode(col("RELATED_ENTITIES")).as("rel"))
      .select(col("src"), col("rel.ENTITY_ID").as("dst"),
        col("rel.MATCH_LEVEL_CODE").as("match_level_code"))

  /** G2 — has_ref flag (senzing_pipeline.py:363-368): an entity is
    * referenced iff it has records OR is a neighbor of any entity. */
  def withHasRef(vertices: DataFrame, edges: DataFrame): DataFrame =
    vertices.join(edges.select(col("dst").as("id")).distinct()
        .withColumn("__isDst", lit(true)), Seq("id"), "left")
      .withColumn("has_ref", col("num_recs") > 0 || coalesce(col("__isDst"), lit(false)))
      .drop("__isDst")

  /** Per-record long table exposing the match-key default
    * (record_uid, match_key) per entity (STR5 semantics,
    * senzing_pipeline.py:341-347). */
  def recordTable(raw: DataFrame): DataFrame =
    raw.select(col("RESOLVED_ENTITY.ENTITY_ID").as("id"),
        explode(col("RESOLVED_ENTITY.RECORDS")).as("r"))
      .select(col("id"),
        concat_ws(".", upper(col("r.DATA_SOURCE")), col("r.RECORD_ID")).as("record_uid"),
        when(trim(col("r.MATCH_KEY")) === "", "INITIAL")
          .otherwise(col("r.MATCH_KEY")).as("match_key"))

  /** S10/S11 — JSONL sinks (arrays serialize inline natively). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
