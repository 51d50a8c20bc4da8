package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.vector.VectorOps

/** MATERIALIZED kNN-graph artifact — the write-once/read-many production
  * shape of q220's refined neighbor graph, completing the [[DedupClosure]] /
  * [[EmbedArtifact]] boundary for the neighborhood-graph family.
  *
  * The reference builds its vector KB once and every retrieval/
  * disambiguation call queries the persisted copy
  * (/root/reference/dev.ipynb cell 91 ≈L4600 — the LanceDB table is the
  * materialized neighbor-candidate source; cells 84-88 consume neighbor
  * candidates for disambiguation-by-similarity). The engine's q220 gate
  * deliberately rebuilds the graph in-plan (self-contained oracle plans,
  * the cache-hygiene discipline) — which SCALE_r15 priced at 251 s per run
  * at ×100, the suite's largest decade row, paid PER CONSUMER. In
  * production the graph — warm-start cells, random-bridge reach, two
  * NN-descent rounds — is built ONCE per corpus snapshot and persisted
  * BUCKETED BY u, so every consumer (SemDeDup pruning, link prediction,
  * label-noise votes) joins neighbors with no exchange on the artifact
  * side and pays an artifact READ, not a graph build. This object is that
  * boundary:
  *
  *  - [[stages]] — q220's exact build ladder (shared code, not a copy:
  *    q220 calls this, so the gate pins the artifact's values too);
  *  - [[graph]] — the final refined graph (u, v, cos): each vector's top-3
  *    neighbors after two descent rounds, cosines kept;
  *  - [[materialize]] / [[read]] — write-once via
  *    [[Artifacts.materializeBucketed]], keyed by
  *    [[Artifacts.sourceFingerprint]] over the SOURCE-FILE METADATA backing
  *    the embeddings (driver-side FS listing, zero Spark jobs to locate on
  *    re-read — the q146/q147 staleness contract).
  */
object KnnGraphArtifact {

  /** Neighbors kept per vector — q220's dial. */
  val K = 3

  /** Attach exact cosines to a candidate edge table (u, v). r17: the
    * cosine is the NATIVE codegen expression (bit-identical to the HOF
    * fold by CosineSpec, ~30× less per-row work — guide §4.1): every
    * build/maintenance scoring pass runs it once per candidate edge. */
  def score(e: DataFrame, cand: DataFrame): DataFrame = {
    cand
      .join(e.select(col("vec_id").as("u"), col("embedding").as("eu")),
        Seq("u"))
      .join(e.select(col("vec_id").as("v"), col("embedding").as("ev")),
        Seq("v"))
      .withColumn("cos", GraftFunctions.cosineSim(col("eu"), col("ev")))
  }

  /** Per-u top-K by (cos desc, v asc) — the shared total order that makes
    * per-round recall monotone (see q220's scaladoc). */
  def topK(scored: DataFrame): DataFrame = scored
    .withColumn("rn", row_number().over(Window.partitionBy(col("u"))
      .orderBy(col("cos").desc, col("v").asc)))
    .filter(col("rn") <= K).select(col("u"), col("v"), col("cos"))

  /** One NN-descent round over a SCORED graph: candidates = G ∪ G⁻¹ ∪
    * (G∘G); carried edges keep their cosine (deterministic on the same
    * doubles), only genuinely new pairs (anti-join) pay the embedding
    * joins — at ×100 the embedding side is shuffle-sized, so every avoided
    * scoring pass is a corpus-scale exchange saved. */
  def descend(e: DataFrame, scored: DataFrame): DataFrame = {
    val g = scored.select(col("u"), col("v"))
    val fresh = g.select(col("v").as("u"), col("u").as("v"))
      .unionByName(g.select(col("u"), col("v").as("mid"))
        .join(g.select(col("u").as("mid"), col("v").as("w")), Seq("mid"))
        .select(col("u"), col("w").as("v"))
        .filter(col("u") =!= col("v")))
      .distinct()
      .join(g, Seq("u", "v"), "left_anti")
    topK(scored.unionByName(
      score(e, fresh).select(col("u"), col("v"), col("cos"))))
  }

  /** q220's build ladder over `e` (vec_id, embedding; callers pass an
    * eagerly materialized frame — it feeds the cell assignment and every
    * scoring join). Returns (sc0, refined, refined2), each (u, v, cos):
    * sc0 = the scored warm-start graph (within-ivf2-cell top-3 ∪ 3
    * deterministic random-bucket bridges per vector), refined/refined2 =
    * after one/two NN-descent rounds. Work is O(N·64) warm start +
    * O(N·~48) candidates per round at ANY corpus size (k ∝ N cells pin
    * cell size, bucket size is pinned at ~8). */
  def stages(e: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val n = e.count()
    val nBuckets = math.max(n / 8L, 1L) // ~8 mates per bucket
    val k = math.min(n, math.max(8L, math.ceil(n / 64.0).toLong)).toInt
    val c2 = math.max(2L, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
    val withCell = e
      .join(VectorOps.ivf2Assign(e, k, c2), Seq("vec_id"))
    val cellCand = withCell
      .select(col("cluster"), col("vec_id").as("u"))
      .join(withCell.select(col("cluster"), col("vec_id").as("v")),
        Seq("cluster"))
      .filter(col("u") =!= col("v")).select(col("u"), col("v"))
    val rb = e.select(col("vec_id"),
      pmod(graft.text.TextOps.tokenHash60(col("vec_id").cast("string")),
        lit(nBuckets)).as("rb"))
    val rndEdges = rb.select(col("rb"), col("vec_id").as("u"))
      .join(rb.select(col("rb"), col("vec_id").as("v")), Seq("rb"))
      .filter(col("u") =!= col("v"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("u"))
        .orderBy(col("v").asc)))
      .filter(col("rn") <= 3).select(col("u"), col("v"))
    // r17 (guide §2.4 — don't recompute what a prior stage already paid
    // for): the warm-start used to build g0 = topK(score(cellCand)) ∪
    // rndEdges as a PAIR set and then re-score the WHOLE union — the
    // within-cell edges paid the two embedding joins + cosine twice. Keep
    // the scored within-cell top-K as-is and score only the random-bucket
    // edges not already in it: the (u, v) set and every cosine are
    // identical (same expression over the same embeddings), so q220's gate
    // and the persisted artifact are unchanged, but one O(N·K) scoring
    // pass (two corpus-side joins) is removed from the build.
    val cellTop = topK(score(e, cellCand)).localCheckpoint()
    val rndNew = rndEdges
      .join(cellTop.select(col("u"), col("v")), Seq("u", "v"), "left_anti")
    // every edge scored ONCE; init and round 1 both read this table
    val sc0 = cellTop
      .unionByName(score(e, rndNew).select(col("u"), col("v"), col("cos")))
      .localCheckpoint()
    val refined = descend(e, sc0)
      .localCheckpoint() // feeds round 2's three subtrees (+ q220's flag join)
    val refined2 = descend(e, refined)
    (sc0, refined, refined2)
  }

  /** The persisted graph plan: refined2 — (u, v, cos), K rows per u. */
  def graph(e: DataFrame): DataFrame = stages(e)._3

  /** Fingerprinted artifact name — same staleness contract as
    * [[DedupClosure.tableName]] (shared [[Artifacts]] machinery). */
  def tableName(embs: DataFrame, dir: String): String =
    s"graft_knn_graph_${Artifacts.sourceFingerprint(embs, dir, "vec_id")}"

  /** Write-once materialization bucketed by u. The build pays q220's graph
    * ladder once per corpus snapshot; every consumer read after that is a
    * bucketed scan. Returns the table name. */
  def materialize(spark: SparkSession, embs: DataFrame, dir: String,
                  buckets: Int = 8): String =
    Artifacts.materializeBucketed(spark, tableName(embs, dir), "u",
      buckets)(graph(embs.select(col("vec_id"), col("embedding"))
      .localCheckpoint()))

  /** The artifact as a DataFrame (u, v, cos), building it on first use. */
  def read(spark: SparkSession, embs: DataFrame, dir: String): DataFrame =
    spark.table(materialize(spark, embs, dir))

  // ---- frozen routing index (r17) -----------------------------------------

  /** The snapshot's per-vector cell assignment (vec_id, cluster) — the
    * ivf2 index the graph was warm-started from, persisted bucketed by
    * CLUSTER so an added vector's cell-mate probe is an equi-join with no
    * exchange on the corpus side. */
  def cellsTableName(embs: DataFrame, dir: String): String =
    s"${tableName(embs, dir)}_cells"

  /** The grouped fine book (ccell, fines array) — codebook-sized. */
  def gbookTableName(embs: DataFrame, dir: String): String =
    s"${tableName(embs, dir)}_gbook"

  /** The effective coarse book, EXPLODED to (ccell, centroid) rows (~√k —
    * re-collected to the 1-row broadcast form at maintenance time). */
  def ebookTableName(embs: DataFrame, dir: String): String =
    s"${tableName(embs, dir)}_ebook"

  /** Persist the snapshot's FROZEN routing index beside the graph: the
    * per-vector cell assignment plus the two-level books, write-once under
    * the same fingerprint. The frozen-model contract of [[EmbedArtifact]]
    * applied to the INDEX (r16 verdict item 1): maintenance must route
    * arriving vectors through the SNAPSHOT's cells — re-deriving the
    * codebook from the grown corpus would change k (k ∝ N) and silently
    * re-assign every vector, which is a rebuild wearing a maintenance
    * costume. Same deterministic k/c dials as [[stages]], so the cells
    * table equals the assignment the persisted graph was built from. */
  def materializeIndex(spark: SparkSession, embs: DataFrame, dir: String,
                       buckets: Int = 8): (String, String, String) = {
    val cT = cellsTableName(embs, dir)
    val gT = gbookTableName(embs, dir)
    val eT = ebookTableName(embs, dir)
    if (Seq(cT, gT, eT).exists(t => !spark.catalog.tableExists(t))) {
      val e = embs.select(col("vec_id"), col("embedding")).localCheckpoint()
      val n = e.count()
      val k = math.min(n, math.max(8L, math.ceil(n / 64.0).toLong)).toInt
      val c2 = math.max(2L, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
      lazy val books = VectorOps.ivf2Books(e, k, c2)
      Artifacts.materializeBucketed(spark, cT, "cluster", buckets)(
        VectorOps.ivf2Assign(e, k, c2))
      Artifacts.materializeBucketed(spark, gT, "ccell", buckets)(books._1)
      Artifacts.materializeBucketed(spark, eT, "ccell", 1)(
        books._2.select(explode(col("ebook")).as("e"))
          .select(col("e.ccell").as("ccell"),
            col("e.centroid").as("centroid")))
    }
    (cT, gT, eT)
  }

  // ---- CDC delta maintenance (r17) ----------------------------------------

  /** DELTA-LAYOUT CDC maintenance of the kNN-graph artifact — the
    * [[DedupClosure.maintainCdcDelta]] / [[EmbedArtifact.maintainCdcDelta]]
    * shape for the graph family, closing the artifact-maintenance triangle
    * (r16 verdict item 1; the graph is the most expensive of the three
    * builds — 205.8 s at ×100 — and was rebuild-only). The reference
    * rebuilds its LanceDB KB per snapshot (/root/reference/tutorial.ipynb
    * cell 8); incremental index maintenance is exactly what the engine
    * should do better.
    *
    * Maintenance rule (deterministic, delta-proportional, the standard
    * incremental ANN-graph insertion/repair):
    *  - REMOVALS: v1 edges incident to a tombstone are dropped; a survivor
    *    whose top-K list lost a member is REPAIRED from candidates the v1
    *    graph already curates — its surviving neighbors' neighbors plus
    *    reverse edges into it (a removed v can only change lists that
    *    contained v — the q225 component-local argument applied to per-u
    *    lists).
    *  - ADDITIONS: arriving vectors route through the FROZEN snapshot index
    *    ([[materializeIndex]] — coarse/fine argmin over the persisted
    *    books, exactly [[VectorOps.ivf2Assign]]'s rule); candidates = the
    *    cell's surviving members (bucketed cells-table probe) + added
    *    cell-mates, edges in BOTH directions (an added vector can enter a
    *    survivor's list).
    *  - ONE LOCALIZED NN-DESCENT ROUND over the touched frontier only:
    *    candidates are generated FROM touched lists (neighbors-of-neighbors
    *    + reverse edges into touched u), so untouched lists stay verbatim
    *    by construction across both rounds — R17QueriesSpec pins that law,
    *    plus composition == the in-plan rule and every edge's exact cosine.
    *
    * BIT-EQUALITY TO A FROM-SCRATCH REBUILD IS DELIBERATELY NOT THE
    * CONTRACT: an approximate kNN graph is trajectory-dependent — a v2
    * rebuild re-derives k ∝ N and re-seeds every cell, so its lists differ
    * from ANY incremental result (and from another rebuild at a different
    * N). The honest pinnable laws are the ones above; QUALITY vs the
    * rebuild is measured, not asserted — R17QueriesSpec compares audited
    * recall of the maintained graph against the rebuild's on the fixture,
    * and SCALE_r17 prices maintenance against the rebuild curve.
    *
    * Writes (all delta-sized): `_dg` — the touched lists (per-u top-K rows
    * for every u whose list could have changed), `_tomb` — removed ids,
    * `_tchd` — the touched-u set (needed because a touched u can end with
    * an EMPTY list; composition must still drop its v1 rows).
    * [[readDelta]] composes v2 merge-on-read:
    * v1 ∖ (u ∈ tomb) ∖ (u ∈ tchd) ∪ dg — a v1 edge to a removed v always
    * has its u in tchd, so no tombstone edge survives composition.
    *
    * Scale shape: every corpus-sized table (graph artifact, cells table,
    * v2 embeddings) is only ever PROBED by a delta-sized broadcast side or
    * scanned once pruned (the two `eNeed` semi-joins); the top-K windows
    * run over touched lists only — never a corpus-sized window, never a
    * corpus re-score. Returns (dgTable, tombTable, tchdTable). */
  def maintainCdcDelta(spark: SparkSession, embs: DataFrame, dir: String,
                       added: DataFrame, removed: DataFrame, tag: String,
                       buckets: Int = 8): (String, String, String) = {
    val base = tableName(embs, dir)
    val (cellsT, gbookT, ebookT) = materializeIndex(spark, embs, dir, buckets)
    val g1 = read(spark, embs, dir)
    val rem = removed.select(col("vec_id")).localCheckpoint()
    val addE = added.select(col("vec_id"), col("embedding")).localCheckpoint()
    val remU = rem.select(col("vec_id").as("u"))
    val remV = rem.select(col("vec_id").as("v"))
    val g1s = g1.join(broadcast(remU), Seq("u"), "left_anti")
      .join(broadcast(remV), Seq("v"), "left_anti")
    // survivors that lost a neighbor — delta-proportional (edges INTO the
    // tombstone set; the graph side is the bucketed artifact)
    val tu = g1.join(broadcast(remV), Seq("v"), "left_semi")
      .select(col("u")).distinct()
      .join(broadcast(remU), Seq("u"), "left_anti")
      .localCheckpoint()
    // route added vectors through the FROZEN index — |A|·√k expression work
    val ebookRow = broadcast(spark.table(ebookT)
      .agg(collect_list(struct(col("ccell"), col("centroid"))).as("ebook")))
    val aCell = addE.crossJoin(ebookRow)
      .withColumn("ccell", VectorOps.argminCell(col("ebook"),
        col("embedding"), "ccell", "centroid"))
      .select(col("vec_id"), col("embedding"), col("ccell"))
      .join(spark.table(gbookT), Seq("ccell"))
      .withColumn("cluster", VectorOps.argminCell(col("fines"),
        col("embedding"), "cell", "centroid"))
      .select(col("vec_id"), col("cluster"))
      .localCheckpoint()
    // cell-mate candidates, both directions + added×added within a cell
    val sCells = spark.table(cellsT)
      .join(broadcast(rem), Seq("vec_id"), "left_anti")
    val aMates = aCell
      .join(sCells.select(col("cluster"), col("vec_id").as("mate")),
        Seq("cluster"))
      .select(col("vec_id").as("u"), col("mate").as("v"))
    val candAdded = aMates
      .unionByName(aMates.select(col("v").as("u"), col("u").as("v")))
      .unionByName(aCell.select(col("cluster"), col("vec_id").as("u"))
        .join(aCell.select(col("cluster"), col("vec_id").as("v")),
          Seq("cluster"))
        .select(col("u"), col("v")))
    // repair candidates: reverse edges into touched u + surviving
    // neighbors-of-neighbors (probes of the bucketed graph artifact)
    val candRepair = g1s.select(col("v").as("u"), col("u").as("v"))
      .join(broadcast(tu), Seq("u"), "left_semi")
      .unionByName(g1s.join(broadcast(tu), Seq("u"), "left_semi")
        .select(col("u"), col("v").as("mid"))
        .join(g1s.select(col("u").as("mid"), col("v").as("w")), Seq("mid"))
        .select(col("u"), col("w").as("v")))
    val candNew = candAdded.unionByName(candRepair)
      .filter(col("u") =!= col("v")).distinct()
      .join(g1s.select(col("u"), col("v")), Seq("u", "v"), "left_anti")
      .localCheckpoint()
    // v2 embeddings, pruned to the candidate endpoints (one corpus scan
    // per scoring round — the only non-delta term, and it is a pushed-down
    // columnar scan with no corpus shuffle)
    val e2 = embs.select(col("vec_id"), col("embedding"))
      .join(broadcast(rem), Seq("vec_id"), "left_anti")
      .unionByName(addE)
    def scoreOn(cand: DataFrame): DataFrame = {
      val need = cand.select(col("u").as("vec_id"))
        .unionByName(cand.select(col("v").as("vec_id"))).distinct()
      val eNeed = e2.join(need, Seq("vec_id"), "left_semi").localCheckpoint()
      score(eNeed, cand).select(col("u"), col("v"), col("cos"))
    }
    val sc1 = scoreOn(candNew)
    val touched = tu
      .unionByName(addE.select(col("vec_id").as("u")))
      .unionByName(candNew.select(col("u"))).distinct()
      .localCheckpoint()
    // round-1 lists for touched u only (delta-sized window; untouched
    // lists are K-row fixpoints and pass through verbatim)
    val gpTouched = topK(
      g1s.join(broadcast(touched), Seq("u"), "left_semi").unionByName(sc1))
      .localCheckpoint()
    val gPrime = g1s.join(broadcast(touched), Seq("u"), "left_anti")
      .unionByName(gpTouched)
    // one localized descent round: candidates FOR touched u only
    val candL = gPrime.select(col("v").as("u"), col("u").as("v"))
      .join(broadcast(touched), Seq("u"), "left_semi")
      .unionByName(gpTouched.select(col("u"), col("v").as("mid"))
        .join(gPrime.select(col("u").as("mid"), col("v").as("w")), Seq("mid"))
        .select(col("u"), col("w").as("v")))
      .filter(col("u") =!= col("v")).distinct()
      .join(gPrime.select(col("u"), col("v")), Seq("u", "v"), "left_anti")
      .localCheckpoint()
    val sc2 = scoreOn(candL)
    val dg = topK(gpTouched.unionByName(sc2))
    val dgT = Artifacts.rematerializeBucketed(spark,
      s"${base}_${tag}_dg", "u", buckets)(dg)
    val tombT = Artifacts.rematerializeBucketed(spark,
      s"${base}_${tag}_tomb", "vec_id", 1)(rem)
    val tchdT = Artifacts.rematerializeBucketed(spark,
      s"${base}_${tag}_tchd", "u", 1)(touched)
    (dgT, tombT, tchdT)
  }

  /** Composed v2 graph over the delta layout (merge-on-read): v1 artifact
    * minus tombstoned u minus touched u, union the maintained touched
    * lists. Both anti-join sides are delta-sized broadcasts; the v1 side
    * stays a bucketed scan. */
  def readDelta(spark: SparkSession, embs: DataFrame, dir: String,
                tag: String): DataFrame = {
    val base = tableName(embs, dir)
    read(spark, embs, dir)
      .join(broadcast(spark.table(s"${base}_${tag}_tomb")
        .select(col("vec_id").as("u"))), Seq("u"), "left_anti")
      .join(broadcast(spark.table(s"${base}_${tag}_tchd")),
        Seq("u"), "left_anti")
      .unionByName(spark.table(s"${base}_${tag}_dg"))
  }

  // ---- semantic-dedup closure artifact (r17) -------------------------------

  /** SEMANTIC-DEDUP CLOSURE artifact — the [[DedupClosure]] discipline one
    * level up the same pipeline (r16 verdict item 3): q228's consumer read
    * is CC-bound, not scan-bound (39.4 s at ×100, pointer-jumping over the
    * thresholded edge set on EVERY read), so the θ=0.4 canonical table is
    * itself a write-once artifact keyed by the same source fingerprint —
    * built ONCE off the persisted graph, bucketed by vec_id, after which
    * every semantic-dedup consumer (split assignment, effective tokens,
    * curation drops) pays a bucketed scan, never a CC. */
  def semTableName(embs: DataFrame, dir: String): String =
    s"${tableName(embs, dir)}_sem040"

  /** Write-once semantic-closure materialization: edges of the persisted
    * graph at cos ≥ 0.4 → connected components → min-id canonical,
    * unpaired vectors canonical to themselves (exactly q228's plan, off
    * the graph artifact). Returns the table name. */
  def materializeSemClosure(spark: SparkSession, embs: DataFrame, dir: String,
                            buckets: Int = 8): String =
    Artifacts.materializeBucketed(spark, semTableName(embs, dir), "vec_id",
      buckets) {
      val sem = read(spark, embs, dir).filter(col("cos") >= 0.4)
        .select(col("u").as("src"), col("v").as("dst"))
      val comp = graft.graph.GraphOps.connectedComponentsDF(sem)
        .withColumnRenamed("id", "vec_id")
      embs.select(col("vec_id")).join(comp, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("canonical"))
    }

  /** The semantic closure as a DataFrame (vec_id, canonical), building it
    * on first use. */
  def readSemClosure(spark: SparkSession, embs: DataFrame,
                     dir: String): DataFrame =
    spark.table(materializeSemClosure(spark, embs, dir))
}
