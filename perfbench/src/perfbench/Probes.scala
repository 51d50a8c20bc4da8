package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.dedup.DedupOps
import graft.graph.GraphOps
import graft.pipeline.Erkg
import graft.queries.{NlpQueries, TextQueries}
import graft.sources.{Senzing, SenzingFixture}
import graft.text.{EntityLinking, FuzzyMatch, Packing, RankedSearch, TextOps}
import graft.vector.VectorOps

/** Layer probes of the traced run: each times one call into a layer's
  * public functions, in its own span, on inputs materialized beforehand
  * from the run's generated tables, so a probe's time is that layer's work
  * alone. Results are sent to the `noop` sink. Metric names are
  * `<layer>.<operator>.<measure>`; see perfbench/README.md. */
final class Probes(h: Harness, data: String, work: String) {
  private val spark = h.spark
  import spark.implicits._

  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val held = mutable.ArrayBuffer.empty[DataFrame]
  private var lastSpan = -1L

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** [[noop]] that also returns the row count, observed on the way. */
  private def noopCount(df: DataFrame): Long = {
    val obs = Observation()
    noop(df.observe(obs, count(lit(1))))
    obs.get.values.head.asInstanceOf[Long]
  }

  /** A probe input, persisted and counted outside every probe's timing. */
  private def input(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    held += p
    (p, p.count())
  }

  private def timed(name: String)(body: => Unit): Double = {
    System.gc()
    val (secs, id) = h.span(s"probe:$name") {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    h.drain()
    lastSpan = id
    System.err.println(f"[perfbench] probe $name: $secs%.2f s")
    secs
  }

  private def busy(name: String)(body: => Unit): Unit = metrics(s"$name.busy_s") = timed(name)(body)
  /** [[busy]] over a result whose row count is also wanted. */
  private def busyRows(name: String)(df: => DataFrame): Long = {
    var n = 0L
    busy(name) { n = noopCount(df) }
    n
  }
  private def perRow(name: String, rows: Long)(body: => Unit): Unit =
    metrics(s"$name.ns_per_row") = timed(name)(body) * 1e9 / rows
  private def stage(name: String)(df: => DataFrame): Unit = metrics(s"${name}_s") = timed(name)(noop(df))
  private def graph(name: String)(df: => DataFrame): Unit = {
    busy(name)(noop(df))
    metrics(s"$name.jobs") = h.tracer.statsOf(lastSpan).jobs
  }
  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  def run(): Map[String, Double] = {
    graft.functions.GraftFunctions.register(spark)
    sources()
    queries()
    text()
    dedup()
    vectorAndGraph()
    streaming()
    held.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    // blocks of dropped checkpoints are freed by the context cleaner after GC
    System.gc()
    Thread.sleep(1000)
    h.drain()
    metrics("sources.storage_left_mb") = h.counters.storageBytes / 1e6
    metrics("sources.warehouse_left") =
      Option(new java.io.File(s"$work/warehouse").listFiles).map(_.length).getOrElse(0).toDouble
    metrics.toMap
  }

  /** The Senzing export the q98 flagship reads: the program's fixed
    * fixture, written into the run's work directory. */
  private lazy val export: String = {
    val p = Paths.get(s"$work/senzing/export.jsonl")
    Files.createDirectories(p.getParent)
    Files.write(p, (SenzingFixture.lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  private def sources(): Unit = {
    val nLineitem = Tables.lineitem(spark, data).count()
    perRow("sources.scan", nLineitem)(noop(Tables.lineitem(spark, data)))
    busy("sources.senzing")(noop(Senzing.readExport(spark, export)))
  }

  /** Cumulative stage prefixes: q98's 2-hop closure (over the work-directory
    * export, with the plan of `SenzingQueries.flagshipStages`), q79's
    * signal A and q116's quality slice and near-dup canonicalization. The
    * other prefixes are left out to keep the traced run short. */
  private def queries(): Unit = {
    def raw = Senzing.readExport(spark, export)
    stage("queries.q98.s2_closure")(GraphOps.kHop(Senzing.graphEdges(raw).select(col("src"), col("dst")),
      Senzing.graphVertices(raw).join(broadcast(SenzingFixture.seedNames.toDF("name")), Seq("name"))
        .select(col("id")), 2))
    NlpQueries.hybridStages.take(1).foreach { case (n, fn) => stage(s"queries.q79.$n")(fn(spark, data)) }
    TextQueries.flagshipStages.take(2).foreach { case (n, fn) =>
      stage(s"queries.q116.$n")(fn(spark, data))
    }
  }

  private lazy val (docs, nDocs) = input(Tables.documents(spark, data))
  private lazy val (emb, nEmb) = input(Tables.embeddings(spark, data))

  private def text(): Unit = {
    perRow("text.tokens", nDocs)(noop(docs.select(TextOps.tokens(col("text")))))
    perRow("text.shingles", nDocs)(noop(docs.select(TextOps.shingles(col("text"), 3))))
    perRow("functions.minhash_signature", nDocs)(
      noop(docs.select(DedupOps.minhashSignatureNative(col("text"), 3, 32))))
    perRow("functions.simhash32", nDocs)(noop(docs.select(call_function("simhash32", col("text")))))

    // gazetteer: part-name tokens as alias sightings of their part (q79's)
    val (aliasObs, _) = input(Tables.lineitem(spark, data)
      .join(Tables.part(spark, data), col("l_partkey") === col("p_partkey"))
      .select(explode(TextOps.tokens(col("p_name"))).as("alias"), col("p_partkey").as("entity")))
    busy("text.gazetteer")(noop(EntityLinking.gazetteer(aliasObs, "alias", "entity", 8)))
    val (gaz, _) = input(EntityLinking.gazetteer(aliasObs, "alias", "entity", 8))
    val (toks, nTokens) = input(EntityLinking.tokenStream(docs, "doc_id", "text"))
    metrics("text.gazetteer.cands_per_token") =
      ratio(EntityLinking.mentionCandidatesFromTokens(toks, gaz).count(), nTokens)

    // ranked: prior x context cosine, top 5 per mention (q79's signal A)
    val (cands, _) = input(toks.select(col("doc_id"), col("token")).distinct()
      .join(broadcast(gaz), col("token") === col("alias"))
      .select(col("doc_id"), col("token"), col("entity"), col("prior")))
    val (docVecs, _) = input(docs.select(col("doc_id"), (col("doc_id") % nEmb).as("vid"))
      .join(emb.select(col("vec_id").as("vid"), col("embedding").as("ctx_emb")), "vid")
      .select(col("doc_id"), col("ctx_emb")))
    val (entVecs, _) = input(Tables.part(spark, data)
      .select(col("p_partkey").as("entity"), (col("p_partkey") % nEmb).as("vid"))
      .join(emb.select(col("vec_id").as("vid"), col("embedding").as("ent_emb")), "vid")
      .select(col("entity"), col("ent_emb")))
    busy("text.ranked")(noop(EntityLinking.rankedCandidates(cands, docVecs, entVecs,
      Seq("doc_id", "token"), 5, (a, b) => call_function("cosine_sim", a, b))))

    val (vocab, _) = input(toks.select(col("token")).distinct())
    val (aliases, _) = input(aliasObs.select(col("alias")).distinct())
    busy("text.fuzzy")(noop(FuzzyMatch.fuzzyCandidates(vocab, aliases, 2, 2, 5)))
    busy("text.bm25")(noop(RankedSearch.bm25TopK(Tables.part(spark, data), "p_partkey", "p_name",
      vocab.select(col("token").as("surface")), 1.2, 0.75, 1, 5)))

    busy("text.pack")(noop(Packing.packSequences(docs, "doc_id", "text", 512L)))
  }

  private def dedup(): Unit = {
    busy("dedup.minhash_sig")(noop(DedupOps.minhashSignatureRows(docs, "doc_id", "text", 3, 32)))
    val (sig, _) = input(DedupOps.minhashSignatureRows(docs, "doc_id", "text", 3, 32))
    val verified = busyRows("dedup.lsh")(DedupOps.minhashPairsFromSignatures(sig, 32, 4, 0.5))
    // filter-and-verify split: every band collision at the threshold floor,
    // against the pairs that pass the signature-agreement verify
    val candidates = DedupOps.minhashPairsFromSignatures(sig, 32, 4, 0.0).count()
    metrics("dedup.lsh.candidates") = candidates.toDouble
    metrics("dedup.lsh.verified") = verified.toDouble
    metrics("dedup.lsh.useful_ratio") = ratio(verified, candidates)
    metrics("dedup.jaccard_prefix.pairs") =
      busyRows("dedup.jaccard_prefix")(DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.5)).toDouble
  }

  private def vectorAndGraph(): Unit = {
    // cosine over 50 fixed partners per embedding: the native expression
    // against the interpreted VectorOps.cosine it replaced
    val (pairs, nPairs) = input(emb.select(col("embedding").as("ea"))
      .crossJoin(emb.filter(col("vec_id") < 50).select(col("embedding").as("eb"))))
    perRow("functions.cosine_sim", nPairs)(
      noop(pairs.select(call_function("cosine_sim", col("ea"), col("eb")))))
    perRow("vector.cosine_expr", nPairs)(noop(pairs.select(VectorOps.cosine(col("ea"), col("eb")))))
    busy("vector.hash_embed")(noop(VectorOps.hashEmbed(docs, "doc_id", "text", 64)))
    busy("vector.knn")(noop(VectorOps.knnBruteForce(emb.filter(col("vec_id") % 16 === 0), emb, 3)))

    val (edges, _) = input(Erkg.entityEdges(spark, data))
    val (seeds, _) = input(Erkg.seeds(spark, data))
    val (network, _) = input(GraphOps.kHop(edges, seeds, 2))
    graph("graph.khop")(GraphOps.kHop(edges, seeds, 2))
    graph("graph.pagerank")(GraphOps.pageRankDeterministic(edges, 10))
    graph("graph.harmonic")(GraphOps.harmonicCentrality(edges, network, 6))
    graph("graph.cc")(GraphOps.connectedComponentsDF(edges))
  }

  /** q65's stream replay under a query listener. */
  private def streaming(): Unit = {
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try busy("streaming.replay")(noop(graft.SparkEntry.queries("q65_stream_neardup")(spark, data)))
    finally {
      h.drain()
      spark.streams.removeListener(listener)
    }
    val batches = progress.synchronized(progress.toList).filter(_.numInputRows > 0)
    val batchMs = batches.map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong)
    val last = batches.lastOption.toSeq.flatMap(_.stateOperators)
    metrics("streaming.batches") = batches.size.toDouble
    metrics("streaming.batch_s") =
      if (batchMs.isEmpty) 0.0 else batchMs.sorted.apply(batchMs.size / 2) / 1e3
    metrics("streaming.state_rows") = last.map(_.numRowsTotal).sum.toDouble
    metrics("streaming.state_mb") = last.map(_.memoryUsedBytes).sum / 1e6
    metrics("streaming.commit_s") = batches.flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1e3
    metrics("streaming.rows_per_s") = ratio(batches.map(_.numInputRows).sum, batchMs.sum) * 1e3
  }
}
