package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.DedupOps
import graft.dedup.DedupOps.NearDup
import graft.graph.GraphOps

/** MATERIALIZED near-dup-closure artifact — the write-once/read-many
  * production shape of q52's cluster table.
  *
  * The reference materializes every intermediate at an asset boundary and
  * downstream assets consume the persisted copy
  * (/root/reference/dagster_icij/assets.py:86-98); the engine's oracle
  * queries deliberately do NOT share state (each q-entry is a self-contained
  * plan, the cache-hygiene discipline), which means the split (q136),
  * quality-canonical (q137), incremental (q125) and report (q126) queries
  * each recompute the same MinHash→CC closure. In production that closure is
  * computed ONCE per corpus snapshot, persisted BUCKETED BY doc_id, and every
  * consumer joins against the artifact with no exchange on the artifact side.
  * This object is that boundary:
  *
  *  - [[closure]] — the canonical cluster plan (doc_id, canonical), exactly
  *    q52's semantics: MinHash pairs under [[DedupOps.NearDup]] →
  *    pure-DataFrame connected components → min-id canonical, docs with no
  *    near-dup mapping to themselves;
  *  - [[materialize]] — write-once: persists the closure as a bucketed,
  *    per-bucket-sorted table ([[Bucketing]]'s layout, so consumer joins on
  *    doc_id need no exchange) keyed by a corpus fingerprint;
  *  - [[read]] — returns the artifact, building it only if absent.
  *
  * Staleness contract: the table name embeds the near-dup rule
  * ([[DedupOps.NearDup]]'s tag) and md5 over the SOURCE-FILE
  * METADATA backing `docs` — the sorted (path, length, modificationTime)
  * triples from the scan's file index. That is a driver-side filesystem
  * metadata call, NOT a data scan: at 100 TB a consumer locating the
  * artifact pays a file listing, not a corpus read (the round-11 shape —
  * md5(dir | count | Σ doc_id) — cost a full pruned scan of `documents`
  * on EVERY read call). A corpus regenerated at the same path changes the
  * part-file names/sizes/mtimes and forces a rebuild; a re-run over the
  * same snapshot reuses the artifact (ScaleBench's marker-file rule,
  * applied to a catalog table). Non-file-backed frames (in-memory test
  * data) have no file index and fall back to the content fingerprint.
  */
object DedupClosure {

  /** Near-dup pair graph of `docs (doc_id, text)` as CC edges
    * `(src, dst)`: [[DedupOps.minhashPairs]]' shared MinHash rule. */
  def pairEdges(docs: DataFrame): DataFrame =
    DedupOps.minhashPairs(docs).select(col("da").as("src"), col("db").as("dst"))

  /** q52's closure plan over `docs (doc_id, text)`: (doc_id, canonical),
    * the [[GraphOps.withCanonical]] step over [[pairEdges]] — canonical =
    * min doc_id of the near-dup component, self if unpaired. */
  def closure(docs: DataFrame): DataFrame =
    GraphOps.withCanonical(docs.select(col("doc_id")), "doc_id", pairEdges(docs))

  /** Fingerprinted artifact name: stable across runs over the same corpus
    * snapshot, different for any snapshot whose backing files differ.
    *
    * File-backed docs (the production path): md5 over the sorted
    * (path, length, modificationTime) of every file the scan reads —
    * driver-side FS metadata only, NO Spark job and NO data scan
    * (DedupClosureSpec pins that a post-materialize read runs zero jobs).
    * Frames with no file lineage (in-memory test data) fall back to the
    * content fingerprint (count, Σ doc_id) — one pruned scan. */
  def tableName(docs: DataFrame, dir: String): String =
    s"graft_dedup_closure_${NearDup.tag}_" +
      Artifacts.sourceFingerprint(docs, dir, "doc_id")

  /** Write-once materialization: build + persist the closure bucketed by
    * doc_id unless the fingerprinted table already exists. Returns the
    * table name. `buckets` follows [[Bucketing]]'s sizing rule (one bucket
    * of the closure ≈ one comfortable task). */
  def materialize(spark: SparkSession, docs: DataFrame, dir: String,
                  buckets: Int = 8): String =
    Artifacts.materializeBucketed(spark, tableName(docs, dir), "doc_id",
      buckets)(closure(docs))

  /** The artifact as a DataFrame (doc_id, canonical), building it on first
    * use — every subsequent consumer pays one fingerprint scan plus a
    * bucketed (exchange-free on this side) read. */
  def read(spark: SparkSession, docs: DataFrame, dir: String): DataFrame =
    spark.table(materialize(spark, docs, dir))

  /** SIGNATURE artifact — (doc_id, sig array of the rule's minhashes), the
    * second table a snapshot-maintenance system must persist beside the closure.
    * SCALE_r15 measured why: the r14 incremental refresh (q224) kept only
    * the closure, so every refresh recomputed MinHash signatures over the
    * FULL old corpus just to give the new×old probe something to join —
    * at ×100 that recompute made the "incremental" refresh (63.8 s steady)
    * SLOWER than the full q115 rebuild (~40–55 s). Signatures are
    * content-keyed and append-only (a doc's signature never changes), so
    * they are exactly the artifact shape: write once at snapshot build,
    * let every refresh scan 32 longs per doc instead of re-exploding and
    * re-hashing every shingle. Keyed by the same source fingerprint as the
    * closure (suffix `_sig`); same staleness contract. */
  def sigTableName(docs: DataFrame, dir: String): String =
    s"graft_dedup_sig_${NearDup.tag}_" +
      Artifacts.sourceFingerprint(docs, dir, "doc_id")

  /** Write-once signature materialization (see [[sigTableName]]). */
  def materializeSignatures(spark: SparkSession, docs: DataFrame, dir: String,
                            buckets: Int = 8): String =
    Artifacts.materializeBucketed(spark, sigTableName(docs, dir), "doc_id",
      buckets)(DedupOps.nearDupSignatures(docs))

  /** The signature artifact as a DataFrame (doc_id, sig), building on
    * first use. */
  def readSignatures(spark: SparkSession, docs: DataFrame, dir: String): DataFrame =
    spark.table(materializeSignatures(spark, docs, dir))

  /** CDC CLOSURE REFRESH — q225's plan as a reusable maintenance step
    * (see the q225 query comment for the correctness partition argument):
    * untouched components keep their v1 STAR EDGES verbatim, components a
    * removal hits are re-paired COMPONENT-LOCALLY among survivors off the
    * SIGNATURE artifact, arriving docs probe the survivor signatures +
    * pair among themselves. Returns the v2 closure (doc_id, canonical),
    * equal to the full recompute over (survivors ∪ added) bit for bit.
    * `survivors` is caller-supplied (not derived by anti-join) so a
    * predicate-shaped delta stays a pushed-down scan filter. */
  def refreshCdc(spark: SparkSession, v1: DataFrame, dir: String,
                 survivors: DataFrame, added: DataFrame,
                 removed: DataFrame): DataFrame = {
    val oldClosure = read(spark, v1, dir)
    val touched = oldClosure.join(removed, Seq("doc_id"))
      .select(col("canonical")).distinct().localCheckpoint() // delta-sized
    val starUntouched = oldClosure
      .join(touched, Seq("canonical"), "left_anti")
      .filter(col("doc_id") =!= col("canonical"))
      .select(col("doc_id").as("src"), col("canonical").as("dst"))
    // every old-side signature reads from the SIGNATURE ARTIFACT (the
    // SCALE_r15 lesson — see q224): the touched re-pair semi-joins the
    // artifact on the delta-sized touched-survivor id set, the new×old
    // probe anti-joins out the tombstones; only the arriving docs'
    // signatures are computed
    val sigAll = readSignatures(spark, v1, dir)
    val touchedSurvivors = oldClosure.join(touched, Seq("canonical"))
      .join(removed, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    val sigT = sigAll.join(touchedSurvivors, Seq("doc_id"), "left_semi")
    val repaired = DedupOps.minhashPairsFromSignatures(sigT, NearDup.Hashes,
      NearDup.RowsPerBand, NearDup.Threshold)
      .select(col("da").as("src"), col("db").as("dst"))
    val sigS = sigAll.join(removed, Seq("doc_id"), "left_anti")
    val sigN = DedupOps.nearDupSignatures(added)
      .localCheckpoint() // referenced twice (new×old probe + new×new)
    val newOld = DedupOps.crossPairsFromSignatures(sigN, sigS, NearDup.Hashes,
      NearDup.RowsPerBand, NearDup.Threshold)
      .select(col("ida").as("src"), col("idb").as("dst"))
    val newNew = DedupOps.minhashPairsFromSignatures(sigN, NearDup.Hashes,
      NearDup.RowsPerBand, NearDup.Threshold)
      .select(col("da").as("src"), col("db").as("dst"))
    val edges = starUntouched.unionByName(repaired)
      .unionByName(newOld).unionByName(newNew).localCheckpoint()
    GraphOps.withCanonical(
      survivors.select(col("doc_id")).unionByName(added.select(col("doc_id"))),
      "doc_id", edges)
  }

  /** CDC MAINTENANCE of BOTH snapshot artifacts (r15 verdict item 2): the
    * v2 SIGNATURE table is assembled from the v1 artifact minus tombstones
    * plus the delta's computed signatures (delta-proportional shingle
    * work — signatures are content-keyed, so survivor rows copy verbatim),
    * and the v2 CLOSURE comes from [[refreshCdc]] (star reuse +
    * component-local re-pair, never a corpus re-pair). Both persist
    * bucketed under versioned names (`<v1-fingerprint>_<tag>`) via
    * [[Artifacts.rematerializeBucketed]] — maintenance is an ACTION that
    * re-applies the delta on every call, not a write-once cache probe; the
    * write-once law keys SNAPSHOTS, and a maintenance tag names the v2
    * version deterministically so downstream consumers address it the way
    * they address a snapshot. R16QueriesSpec pins both tables equal to
    * their from-scratch v2 rebuilds. Returns (sigTable, closureTable). */
  def maintainCdc(spark: SparkSession, v1: DataFrame, dir: String,
                  survivors: DataFrame, added: DataFrame, removed: DataFrame,
                  tag: String, buckets: Int = 8): (String, String) = {
    val sigV2 = Artifacts.rematerializeBucketed(spark,
      s"${sigTableName(v1, dir)}_$tag", "doc_id", buckets)(
      readSignatures(spark, v1, dir)
        .join(removed, Seq("doc_id"), "left_anti")
        .unionByName(DedupOps.nearDupSignatures(added)))
    val cloV2 = Artifacts.rematerializeBucketed(spark,
      s"${tableName(v1, dir)}_$tag", "doc_id", buckets)(
      refreshCdc(spark, v1, dir, survivors, added, removed))
    (sigV2, cloV2)
  }

  /** DELTA-LAYOUT CDC maintenance — [[maintainCdc]]'s production
    * refinement: the monolithic form re-persists BOTH corpus-sized v2
    * tables per delta (at ×100 the bucketed rewrite is the maintenance
    * cost's one corpus-size term, SCALE_r16); this layout writes only
    * DELTA-SIZED tables — the added docs' signatures, a tombstone id
    * list, and the closure rows whose canonical CAN have changed — and
    * lets [[readDelta]]/[[readDeltaSignatures]] compose v2 at read time
    * (v1 artifact ∖ tombstones ∖ changed-keys ∪ changed — the
    * log-structured / merge-on-read shape every production table format
    * uses for exactly this reason).
    *
    * The changed-row superset is CORRECT by the q225 partition argument:
    * a doc's canonical can change only if its component lost a member
    * (touched by a removal) or gained a new-edge path (contains an added
    * doc) — v2's pair graph differs from v1's only by removed-incident
    * and added-incident edges, so components touching neither keep their
    * membership and min-id verbatim. `changed` = v2 rows of
    * added-containing components ∪ v2 rows of touched-component
    * survivors — delta-proportional by the same argument that prices
    * (b) in [[refreshCdc]]. R16QueriesSpec pins composed == monolithic
    * == full rebuild AND the delta tables' sizes. */
  def maintainCdcDelta(spark: SparkSession, v1: DataFrame, dir: String,
                       survivors: DataFrame, added: DataFrame,
                       removed: DataFrame, tag: String,
                       buckets: Int = 8): (String, String, String) = {
    val sigD = Artifacts.rematerializeBucketed(spark,
      s"${sigTableName(v1, dir)}_${tag}_dsig", "doc_id", buckets)(
      DedupOps.nearDupSignatures(added))
    val tomb = Artifacts.rematerializeBucketed(spark,
      s"${tableName(v1, dir)}_${tag}_tomb", "doc_id", 1)(removed)
    val v2 = refreshCdc(spark, v1, dir, survivors, added, removed)
      .localCheckpoint() // feeds the two changed-row semi-joins
    val oldClosure = read(spark, v1, dir)
    val touched = oldClosure.join(removed, Seq("doc_id"))
      .select(col("canonical")).distinct()
    val touchedSurv = oldClosure.join(touched, Seq("canonical"))
      .join(removed, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    val addedCanon = v2
      .join(added.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("canonical")).distinct()
    val changed = v2.join(addedCanon, Seq("canonical"), "left_semi")
      .unionByName(v2.join(touchedSurv, Seq("doc_id"), "left_semi"))
      .distinct()
    val dclo = Artifacts.rematerializeBucketed(spark,
      s"${tableName(v1, dir)}_${tag}_dclo", "doc_id", buckets)(changed)
    (sigD, tomb, dclo)
  }

  /** Composed v2 closure over the delta layout (merge-on-read): v1 rows
    * minus tombstones minus changed keys, union the changed rows. Both
    * anti-join sides are delta-sized broadcasts; the v1 side stays a
    * bucketed scan. */
  def readDelta(spark: SparkSession, v1: DataFrame, dir: String,
                tag: String): DataFrame = {
    val chg = spark.table(s"${tableName(v1, dir)}_${tag}_dclo")
    read(spark, v1, dir)
      .join(spark.table(s"${tableName(v1, dir)}_${tag}_tomb"),
        Seq("doc_id"), "left_anti")
      .join(chg.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(chg)
  }

  /** Composed v2 signatures over the delta layout: v1 artifact minus
    * tombstones union the delta signatures (signatures are content-keyed
    * — survivor rows never change, so no changed-row tier exists). */
  def readDeltaSignatures(spark: SparkSession, v1: DataFrame, dir: String,
                          tag: String): DataFrame =
    readSignatures(spark, v1, dir)
      .join(spark.table(s"${tableName(v1, dir)}_${tag}_tomb"),
        Seq("doc_id"), "left_anti")
      .unionByName(spark.table(s"${sigTableName(v1, dir)}_${tag}_dsig"))
}
