package graft

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.DedupOps.{minhashBase, minhashHash}
import graft.text.TextOps

/** Reference twins of the similarity, graph and linking operators. Main
  * code keeps one implementation per operator — the native Catalyst
  * expressions in `graft.functions`, the DataFrame loops in
  * `graft.graph.GraphOps`, the single-pass linker in
  * `graft.text.EntityLinking` and its vector attach by vector id, the
  * per-alias counter behind the alias priors.
  * These are the slower relational, interpreted-HOF and GraphX forms they
  * replaced, kept only as oracles: each is law-equated with its main
  * counterpart in the specs.
  */
object Oracles {

  // ---- sign-LSH (native: graft.functions.LshSignature / LshSignatureSalted)

  /** Deterministic pseudo-random hyperplane weight in [-1, 1] for (plane p,
    * dim d): pure 64-bit integer arithmetic. */
  def planeWeight(p: Column, d: Column): Column =
    (((p.cast("long") * 73856093L + d.cast("long") * 19349663L) % 10007L)
      .cast("double") / 10007.0) * 2.0 - 1.0

  /** Sign-LSH signature as a HOF fold: an `nPlanes`-char '0'/'1' string,
    * bit p = sign of the projection of `vec` onto hyperplane p. */
  def lshSignature(vec: Column, nPlanes: Int): Column = {
    val bits = transform(sequence(lit(0), lit(nPlanes - 1)), p => {
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, d) => x.cast("double") * planeWeight(p, d)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit("1")).otherwise(lit("0"))
    })
    array_join(bits, "")
  }

  /** Sign-LSH over the salted-md5 plane family
    * (`VectorOps.saltedPlaneWeights`) folded into the plan as literals.
    * A NULL input array yields NULL, as the native form does. */
  def lshSignatureSalted(vec: Column, nPlanes: Int, dim: Int): Column = {
    val w = graft.vector.VectorOps.saltedPlaneWeights(nPlanes, dim)
    val bits = (0 until nPlanes).map { p =>
      val wRow = array(w(p).map(x => lit(x)): _*)
      when(aggregate(zip_with(vec, wRow, (x, ww) => x.cast("double") * ww),
        lit(0.0), (acc, v) => acc + v) >= 0, lit("1")).otherwise(lit("0"))
    }
    when(vec.isNotNull, concat(bits: _*))
  }

  // ---- SimHash (native: graft.functions.SimhashText)

  /** 32-bit SimHash as a relational plan: explode tokens → per-(doc, token)
    * count → explode 32 bit positions → signed contributions → per-(doc,
    * bit) sum → pack bits into one long. Docs without tokens get no row. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    relationalSimhash(docs, idCol, textCol, 32,
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))

  /** 60-bit SimHash, same relational plan over [[TextOps.tokenHash60]]. */
  def simhash60(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    relationalSimhash(docs, idCol, textCol, 60, TextOps.tokenHash60)

  private def relationalSimhash(docs: DataFrame, idCol: String, textCol: String,
                                width: Int, hash: Column => Column): DataFrame = {
    val tok = docs
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", hash(col("token")))
    val bits = tok.select(col("doc_id"),
        explode(sequence(lit(0), lit(width - 1))).as("bit"),
        col("cnt"), col("h"))
      .withColumn("contrib",
        when(expr("shiftright(h, bit)").bitwiseAND(1L) === 1L,
          col("cnt")).otherwise(-col("cnt")))
    bits.groupBy(col("doc_id"), col("bit")).agg(sum(col("contrib")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("shiftleft(cast(1 as bigint), bit)"))
        .otherwise(0L)).as("simhash"))
  }

  /** 32-bit SimHash as a per-row HOF expression over a token array: the
    * token hashes are bound once as a lambda value, a fold accumulates the
    * 32 signed bit counts and a second fold packs them into one long. */
  def simhashExpr(toks: Column): Column = {
    val hs = transform(toks, t =>
      conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    val bitIdx = sequence(lit(0), lit(31))
    val counts = aggregate(hs, array_repeat(lit(0L), 32), (acc, h) =>
      zip_with(acc, bitIdx, (cnt, b) =>
        cnt + when(call_function("shiftright", h, b)
          .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(counts, bitIdx, (s, b) =>
        when(s > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  // ---- MinHash (native: graft.functions.MinhashSignature)

  /** Exploded (doc_id, shingle) long table. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(TextOps.shingles(col(textCol), n)).as("shingle"))

  /** MinHash signature (doc_id, sig array<long>) as k `min` aggregates over
    * the exploded shingle table, one row per doc with ≥ 1 shingle. */
  def minhashSignatureArray(sh: DataFrame, k: Int): DataFrame = {
    val base = sh.select(col("doc_id"), minhashBase(col("shingle")).as("hs"))
    val mins = (0 until k).map(i => min(minhashHash(lit(i), col("hs"))).as(s"m$i"))
    base.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** MinHash signature as a per-row HOF expression; texts with no shingle
    * (< n tokens) yield all-NULL elements. */
  def minhashSignatureExpr(text: Column, n: Int, k: Int): Column = {
    val hsArr = transform(TextOps.shingles(text, n), s => minhashBase(s))
    get(transform(array(hsArr), hsV =>
      array((0 until k).map(i =>
        array_min(transform(hsV, h => minhashHash(lit(i), h)))): _*)),
      lit(0))
  }

  /** Exact n-gram Jaccard pairs (da < db, jaccard >= threshold) by the
    * all-pairs shingle self-join — the oracle of `jaccardPairsPrefix`. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, n).cache()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("common"))
    val pairs = common
      .join(sizes.select(col("doc_id").as("da"), col("n_sh").as("na")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("n_sh").as("nb")), Seq("db"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
    // materialize, then release the shingle cache: no cache-registry residue
    val out = pairs.localCheckpoint()
    sh.unpersist()
    out
  }

  // ---- GraphX twins (main: GraphOps.kHop / ssspWeighted / pageRankDeterministic
  // / connectedComponentsDF)

  /** GraphX connected components over the vertices the edges name: (id,
    * component), component = the lowest vertex id of the component. */
  def connectedComponentsGraphX(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val edgeRdd = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, ()) }
    val graph = Graph.fromEdges[Unit, Unit](edgeRdd, (),
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
    graph.connectedComponents().vertices.toDF("id", "component")
  }

  /** Pregel BFS: vertices within distance k of a seed along src → dst
    * edges. Every seed is a vertex at distance 0, with or without edges. */
  def kHopGraphX(spark: SparkSession, edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    // pregel needs at least one superstep
    if (k == 0) return seeds.select(col("id").cast("long")).distinct()
    val seedRdd = seeds.select(col("id").cast("long")).distinct().as[Long]
      .rdd.map(id => (id, 0))
    val edgeRdd = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, ()) }
    val graph = Graph[Int, Unit](seedRdd, edgeRdd, Int.MaxValue,
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
    val bfs = graph.pregel(Int.MaxValue, maxIterations = k)(
      (_, dist, msg) => math.min(dist, msg),
      t => if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
             Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
      (a, b) => math.min(a, b))
    bfs.vertices.filter { case (_, d) => d <= k }.map(_._1).toDF("id")
  }

  /** The self-union form of `GraphOps.symmetrize`: the edge list unioned
    * with its reverse, distinct. */
  def symmetrizeUnion(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** Pregel bounded-round relaxation: min total cost over walks of
    * ≤ maxRounds edges from a seed. */
  def ssspWeightedGraphX(spark: SparkSession, edges: DataFrame,
                         seeds: DataFrame, maxRounds: Int): DataFrame = {
    import spark.implicits._
    val seedRdd = seeds.select(col("id").cast("long")).as[Long]
      .rdd.map(id => (id, ()))
    val edgeRdd = edges
      .select(col("src").cast("long"), col("dst").cast("long"), col("cost").cast("long"))
      .as[(Long, Long, Long)].rdd.map { case (s, d, c) => Edge(s, d, c) }
    val graph = Graph.fromEdges[Long, Long](edgeRdd, Long.MaxValue,
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
      .outerJoinVertices(seedRdd)((_, _, s) =>
        if (s.isDefined) 0L else Long.MaxValue)
    val sssp = graph.pregel(Long.MaxValue, maxIterations = maxRounds)(
      (_, d, msg) => math.min(d, msg),
      t => if (t.srcAttr != Long.MaxValue && t.srcAttr + t.attr < t.dstAttr)
             Iterator((t.dstId, t.srcAttr + t.attr)) else Iterator.empty,
      (a, b) => math.min(a, b))
    sssp.vertices.filter { case (_, c) => c != Long.MaxValue }
      .toDF("id", "cost")
  }

  /** GraphX staticPageRank, fixed iteration count (resetProb 0.15). */
  def pageRank(spark: SparkSession, edges: DataFrame, numIter: Int): DataFrame = {
    import spark.implicits._
    val edgeRdd = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1.0) }
    val graph = Graph.fromEdges[Double, Double](edgeRdd, 1.0,
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
    graph.staticPageRank(numIter).vertices.toDF("id", "rank")
  }

  // ---- alias priors (main: graft.ops.Relational.aliasCounts, one
  //      counter_map per alias, and the forms built on it)

  /** (alias, entity) counts: the first level of the two-level A1 form. */
  private def aliasEntityCounts(df: DataFrame, alias: String, entity: String): DataFrame =
    df.groupBy(col(alias).as("alias"), col(entity).as("entity"))
      .agg(count(lit(1)).as("cnt"))

  /** A1 array form as a two-level hash aggregation: (alias, entity) counts,
    * then per alias the entity-sorted (entity, cnt) list.
    * Output: (alias, entities, probabilities, n_obs). */
  def aliasProbabilitiesTwoLevel(df: DataFrame, alias: String, entity: String): DataFrame = {
    val total = aggregate(col("ec"), lit(0L), (acc, x) => acc + x.getField("cnt"))
    aliasEntityCounts(df, alias, entity).groupBy(col("alias"))
      .agg(sort_array(collect_list(struct(col("entity"), col("cnt")))).as("ec"))
      .select(
        col("alias"),
        transform(col("ec"), e => e.getField("entity")).as("entities"),
        transform(col("ec"), e => e.getField("cnt") / total).as("probabilities"),
        total.as("n_obs"))
  }

  /** A1 long form: (alias, entity) counts, then the per-alias total as a
    * window. Output: (alias, entity, cnt, probability, n_obs). */
  def aliasProbabilitiesLongTwoLevel(df: DataFrame, alias: String, entity: String): DataFrame = {
    val w = Window.partitionBy(col("alias"))
    aliasEntityCounts(df, alias, entity).select(
      col("alias"), col("entity"), col("cnt"),
      (col("cnt").cast("double") / sum(col("cnt")).over(w)).as("probability"),
      sum(col("cnt")).over(w).as("n_obs"))
  }

  /** The gazetteer as (alias, entity) counts, then a window per alias for
    * the total and the top `maxCandidates` by (cnt desc, entity asc).
    * Output: (alias, entity, prior). */
  def gazetteerTwoLevel(obs: DataFrame, aliasCol: String, entityCol: String,
                        maxCandidates: Int): DataFrame = {
    val w = Window.partitionBy(col("alias"))
    aliasEntityCounts(obs, aliasCol, entityCol)
      .withColumn("total", sum(col("cnt")).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("cnt").desc, col("entity").asc)))
      .filter(col("rn") <= maxCandidates)
      .select(col("alias"), col("entity"),
        (col("cnt").cast("double") / col("total")).as("prior"))
  }

  // ---- entity linking (main: graft.text.EntityLinking.disambiguate)

  /** Disambiguation with the cosine computed once per distinct
    * (doc_id, entity) pair and joined back to the candidates — the same
    * two-tier prior backoff and tie order as the single-pass main form. */
  def disambiguatePairwise(candidates: DataFrame, docVecs: DataFrame,
                           entVecs: DataFrame): DataFrame = {
    val pairCos = candidates.select(col("doc_id"), col("entity")).distinct()
      .join(docVecs, Seq("doc_id"))
      .join(entVecs, Seq("entity"))
      .select(col("doc_id"), col("entity"),
        graft.functions.GraftFunctions.cosineSim(col("ctx_emb"), col("ent_emb")).as("ctx_cos"))
    candidates
      .join(pairCos, Seq("doc_id", "entity"), "left")
      .withColumn("score", col("prior") * coalesce(col("ctx_cos"), lit(1.0)))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"), col("pos"))
          .orderBy(col("ctx_cos").isNotNull.desc, col("score").desc, col("entity").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("pos"), col("token"), col("entity"),
        col("prior"), col("score"))
  }

  // ---- vector attach (main: graft.queries.NlpQueries.withVectors)

  /** The id-keyed vector tables the linkers joined before the attach by
    * vector id: (doc_id, ctx_emb) = docIds ⋈ embeddings[doc_id % nvec] and
    * (entity, ent_emb) = entityIds ⋈ embeddings[entity % nvec], with nvec
    * the embeddings count, cross-joined as a one-row broadcast. */
  def idTableVectors(docIds: DataFrame, entityIds: DataFrame,
                     e: DataFrame): (DataFrame, DataFrame) = {
    val nv = broadcast(e.agg(count(lit(1)).as("nvec")))
    def table(ids: DataFrame, key: String, emb: String): DataFrame =
      ids.select(col(key)).crossJoin(nv).withColumn("vid", col(key) % col("nvec"))
        .join(e.select(col("vec_id").as("vid"), col("embedding").as(emb)), "vid")
        .select(col(key), col(emb))
    (table(docIds, "doc_id", "ctx_emb"), table(entityIds, "entity", "ent_emb"))
  }
}
