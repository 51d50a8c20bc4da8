package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-16 operators. The DuckDB gate pins
  * exact values at sf0.01; these pin the artifact laws that must hold on
  * ANY corpus — the kNN-graph artifact's read-equals-rebuild identity
  * (q228), the CDC maintenance's persisted-tables-equal-from-scratch laws
  * (q229), and the streaming EL's batch-twin identity (q230).
  */
class R16QueriesSpec extends SparkSuite {
  import SparkSpec.sf0001

  // ---- q228 ----------------------------------------------------------------

  test("q228: artifact read equals an in-plan graph rebuild; pruned implies a >=0.4 neighbor edge") {
    val e = Tables.embeddings(spark, sf0001)
    // the consumer, off the persisted artifact
    val viaArtifact = SparkEntry.queries("q228_semdedup_knn_artifact")(
      spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // the same closure off a FRESH in-plan graph build (never touching the
    // catalog table) — write-once must not drift from rebuild
    val g = graft.sources.KnnGraphArtifact.graph(
      e.select(col("vec_id"), col("embedding")).localCheckpoint())
    val sem = g.filter(col("cos") >= 0.4)
      .select(col("u").as("src"), col("v").as("dst"))
    val comp = graft.graph.GraphOps.connectedComponentsDF(sem)
      .withColumnRenamed("id", "vec_id")
    val rebuilt = e.select(col("vec_id")).join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("canonical"))
      .withColumn("pruned", col("canonical") =!= col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(viaArtifact === rebuilt)
    // law: pruned ⟺ canonical < vec_id (min-id representative survives)
    viaArtifact.foreach { case (id, canon, pruned) =>
      assert(pruned === (canon != id))
      assert(canon <= id)
    }
    // fixture sanity: the threshold actually splits — some pruned, some kept
    assert(viaArtifact.exists(_._3) && viaArtifact.exists(!_._3))
  }

  test("q228: the persisted graph table is exactly KnnGraphArtifact.graph's rows") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val persisted = graft.sources.KnnGraphArtifact.read(spark, e, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fresh = graft.sources.KnnGraphArtifact.graph(e.localCheckpoint())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(persisted === fresh)
    // 3-regular up to corpus size: every u carries at most K neighbors
    val byU = persisted.groupBy(_._1)
    byU.foreach { case (u, edges) =>
      assert(edges.size <= graft.sources.KnnGraphArtifact.K, s"u=$u")
    }
  }

  // ---- q229 ----------------------------------------------------------------

  test("q229: maintained v2 signature + closure tables equal their from-scratch rebuilds") {
    val off = graft.queries.TextQueries.AddedDocIdOffset
    val v1 = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val survivors = v1.filter(col("doc_id") % 13 =!= 0)
    val added = v1.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(lit("v2new "), col("text")).as("text"))
    val v2 = survivors.unionByName(added)
    // run the maintenance (the query does the same; direct call gives the
    // table names back)
    val removed = v1.filter(col("doc_id") % 13 === 0).select(col("doc_id"))
    val (sigT, cloT) = graft.sources.DedupClosure.maintainCdc(
      spark, v1, sf0001, survivors, added, removed, "cdcspec")
    // law 1: the persisted v2 closure equals the full recompute over v2
    val maintained = spark.table(cloT)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.sources.DedupClosure.closure(v2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintained === full)
    // law 2: the persisted v2 signatures equal a from-scratch signature
    // build over v2 (content-keyed: survivor rows copy verbatim, delta
    // rows compute)
    val sigMaint = spark.table(sigT)
      .select(col("doc_id"), col("sig"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    val sigFull = Oracles.minhashSignatureArray(
      Oracles.shingleTable(v2, "doc_id", "text", 3), 32)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    assert(sigMaint === sigFull)
    // fixture sanity: tombstones actually removed rows, delta added some
    assert(sigMaint.forall { case (id, _) => id % 13 != 0 || id >= off })
    assert(sigMaint.exists { case (id, _) => id >= off })
  }

  // ---- q231 ----------------------------------------------------------------

  test("q231: delta-layout composition equals the full rebuild; delta tables are delta-sized") {
    val off = graft.queries.TextQueries.AddedDocIdOffset
    val v1 = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val added = v1.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(lit("v2new "), col("text")).as("text"))
    val v2 = v1.filter(col("doc_id") % 13 =!= 0).unionByName(added)
    // the query runs the maintenance and returns the composed view
    val composed = SparkEntry.queries("q231_artifact_maintenance_delta")(
      spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.sources.DedupClosure.closure(v2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(composed === full)
    // the composed SIGNATURE view equals a from-scratch v2 signature build
    val sigC = graft.sources.DedupClosure
      .readDeltaSignatures(spark, v1, sf0001, "cdcd")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    val sigF = Oracles.minhashSignatureArray(
      Oracles.shingleTable(v2, "doc_id", "text", 3), 32)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    assert(sigC === sigF)
    // delta-sized writes: the changed-closure table is a small fraction of
    // the corpus, the delta-signature table is exactly the added docs
    val v1n = v1.count()
    val dclo = spark.table(
      s"${graft.sources.DedupClosure.tableName(v1, sf0001)}_cdcd_dclo")
    assert(dclo.count() < v1n / 2,
      s"changed-closure table is not delta-sized: ${dclo.count()} of $v1n")
    val dsig = spark.table(
      s"${graft.sources.DedupClosure.sigTableName(v1, sf0001)}_cdcd_dsig")
    assert(dsig.count() === added.count())
  }

  // ---- q232 ----------------------------------------------------------------

  test("q232: frozen-model law — survivor vectors byte-identical to the v1 artifact, delta embedded under v1 idf") {
    val off = graft.queries.TextQueries.AddedDocIdOffset
    val dd = Tables.documents(spark, sf0001)
    val rows = SparkEntry.queries("q232_embed_maintenance")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // no removed ids survive; added ids present
    assert(!rows.keys.exists { case (id, _) => id % 13 == 0 && id < off })
    assert(rows.keys.exists { case (id, _) => id >= off })
    // survivor rows equal the v1 artifact EXACTLY (the frozen-model law:
    // a surviving doc's vector never changes under maintenance)
    val v1art = graft.sources.EmbedArtifact.read(spark, dd, sf0001)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    v1art.foreach { case (id, emb) =>
      if (id % 13 != 0) emb.zipWithIndex.foreach { case (v, p) =>
        assert(rows((id, p.toLong)) === v, s"vec $id pos $p drifted")
      }
    }
    // every composed vector is 64-dimensional
    val dims = rows.keys.groupBy(_._1).map { case (_, ks) => ks.size }.toSet
    assert(dims === Set(64))
  }

  // ---- q230 ----------------------------------------------------------------

  test("q230: streaming entity linking equals batch q34 row for row") {
    val streamed = SparkEntry.queries("q230_stream_entity_linking")(
      spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    val batch = SparkEntry.queries("q34_entity_linking")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }
}
