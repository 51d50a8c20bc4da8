package graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{GenerateExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange,
  ReusedExchangeExec, ShuffleExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.queries.SenzingQueries

/** Physical-plan shape assertions: the scale properties the Scaladoc claims
  * (broadcasts, pushdown, pruning, codegen) are checked here so a regression
  * in plan shape fails CI, not a 100 TB run.
  */
class PlanSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private val sf = SparkSpec.sf0001

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.toString

  /** Post-execution plan: AQE-final, with exchanges inserted and codegen
    * stages marked `*(n)` (sparkPlan has neither). */
  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
  }

  test("q02 dimension joins are broadcast hash joins, never shuffle joins") {
    val p = plan("q02_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q01 pushes the shipdate filter into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"))
    assert(p.contains("LessThanOrEqual") || p.contains("lessThanOrEqual"))
  }

  test("q18 scan is pruned to the referenced document columns") {
    val p = plan("q18_token_stats")
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(scanLine.contains("doc_id") && scanLine.contains("text"))
    assert(!scanLine.contains("source") && !scanLine.contains("lang"))
  }

  test("q33 gazetteer mention match is a broadcast join against the token stream") {
    val p = plan("q33_gazetteer_mentions")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q01/q26 hot paths stay inside whole-stage codegen") {
    // `*(n)` prefixes are WholeStageCodegen stage markers; the aggregates and
    // the native cosine join must carry them
    assert(executedPlan("q01_pricing_summary").linesIterator
      .exists(l => l.contains("*(") && l.contains("HashAggregate")))
    assert(executedPlan("q26_cosine_pairs").linesIterator
      .exists(l => l.contains("*(") && l.contains("cosine_sim")))
  }

  test("q13 k-hop frontier joins broadcast the reached set") {
    val p = plan("q13_two_hop_network")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q08 window top-k gets Spark's native map-side partial top-k (WindowGroupLimit)") {
    // Spark 4's InferWindowGroupLimit rewrites Filter(rn <= k, Window(row_number))
    // into a partial WindowGroupLimit BELOW the shuffle + a final one above —
    // each map task forwards at most k rows per group instead of all rows.
    // This is why topKPerGroup stays a declarative window instead of a custom
    // operator: the built-in already gives the scale plan we'd hand-write.
    val p = plan("q08_topk_window")
    assert(p.contains("WindowGroupLimit"))
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      "expected partial + final WindowGroupLimit nodes")
  }

  test("q46 fuzzy blocking joins broadcast the bigram-frequency index") {
    val p = plan("q46_fuzzy_candidates")
    assert(p.contains("BroadcastHashJoin"))
    // the exact verify must appear as a plain filter on levenshtein, i.e.
    // AFTER blocking — never a cartesian levenshtein over probes × aliases
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("levenshtein"))
  }

  test("q48 dominance pruning is an anti-join on doc_id, not a cartesian sweep") {
    // the q48 query closure materializes its result for cache hygiene, so
    // its returned plan is a checkpoint scan — assert on the library op's
    // plan, which is what the query executes
    val docs = graft.Tables.documents(spark, sf)
    val spans = graft.text.EntityLinking.ngramSpans(docs, 3)
    val gaz = graft.text.EntityLinking.phraseGazetteer(spans, 30)
    val p = graft.text.EntityLinking.phraseMentionsGlobal(spans, gaz)
      .queryExecution.sparkPlan.toString
    assert(p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q55 chunking scan is pruned to (doc_id, text) and stays generator-only") {
    val p = plan("q55_chunking")
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(scanLine.contains("doc_id") && scanLine.contains("text"))
    assert(!scanLine.contains("source") && !scanLine.contains("lang"))
    // chunk enumeration is per-row expression work — no exchange before the
    // generate (only the final orderBy may range-shuffle)
    val beforeGenerate = p.substring(p.indexOf("Generate"))
    assert(!beforeGenerate.contains("Exchange hashpartitioning"))
  }

  test("q21 dedup window input carries fingerprints, not document text") {
    val p = executedPlan("q21_fingerprint_dedup")
    // the exchange feeding the window partitions by fp_md5; text must have
    // been projected away before it (hashpartitioning on fp_md5 present,
    // and no Exchange row containing the raw text column)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.exists(_.contains("fp_md5")))
    assert(!exchanges.exists(_.contains("text#")))
  }

  test("q83 tfidf join probes through the broadcast df-pruned idf table") {
    // the q83 closure materializes for cache hygiene (checkpoint scan), so
    // assert on the op's pre-checkpoint plan: the vocabulary-sized idf
    // table must reach the postings as a broadcast, and the pair stage must
    // stay an equi-join on token — a cartesian/BNLJ here means the
    // inverted-index blocking was lost
    val docs = graft.Tables.documents(spark, sf)
    val (out, postings) = graft.text.RankedSearch.tfidfPairsPlan(
      docs, "doc_id", "text", 0.1, 0.3)
    val p = out.queryExecution.sparkPlan.toString
    postings.unpersist()
    assert(p.contains("BroadcastHashJoin"))
    // the only nested-loop allowed is the 1-row n_docs scalar crossJoin
    assert(!p.contains("CartesianProduct"))
    val selfJoin = p.linesIterator.find(l =>
      l.contains("Join") && l.contains("token")).getOrElse("")
    assert(!selfJoin.contains("NestedLoop"),
      s"pair stage must be an equi-join on token, got: $selfJoin")
  }

  test("q53 ac_spans match stage participates in whole-stage codegen") {
    // ac_spans has a doGenCode (round-3 fix) — the generate/project stage
    // that evaluates it must carry a `*(n)` codegen marker; with the old
    // CodegenFallback the whole containing stage dropped to interpreted.
    val p = executedPlan("q53_ac_mentions")
    val acLines = p.linesIterator.filter(_.contains("ac_spans")).toSeq
    assert(acLines.nonEmpty)
    assert(acLines.exists(_.contains("*(")),
      s"ac_spans stage not codegen'd:\n${acLines.mkString("\n")}")
  }

  test("q101 prefix sum is two-phase: the per-doc window is bucket-partitioned") {
    // The scale trap packSequences exists to avoid: a global
    // `sum over (order by doc_id)` window has no partition key and runs the
    // whole corpus in ONE task. The plan must show (a) the document-level
    // cumsum window PARTITIONED by bucket, and (b) the only
    // unpartitioned-window sort being the tiny bucket-offsets table (fed by
    // the bucket aggregate, not by documents).
    val p = plan("q101_pack_sequences")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.size == 2, s"expected 2 windows in:\n$p")
    // Spark prints windowspecdefinition(bucket#.., doc_id#.. ASC ...) for
    // the bucket-partitioned per-doc cumsum and
    // windowspecdefinition(bucket#.. ASC ...) for the tiny offsets sort —
    // distinguish by the per-doc ordering column
    assert(windows.count(_.contains("doc_id")) == 1,
      s"document-level window count:\n${windows.mkString("\n")}")
    val docWindow = windows.find(_.contains("doc_id")).get
    assert(docWindow.contains("windowspecdefinition(bucket"),
      s"per-doc cumsum not bucket-partitioned:\n$docWindow")
  }

  test("q117 bigram-table joins are not mandatory broadcasts (Heaps-law growth)") {
    // the c2/c1 count tables grow with the corpus; only the 1-row vocab
    // aggregate may stay a pinned broadcast under threshold -1
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan("q117_bigram_lm_ppl")
      val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
      assert(bhj == 0, s"count-table join still forces a broadcast:\n$p")
    } finally spark.conf.set(key, prev)
  }

  test("q127 duplicated-hash join is not a mandatory broadcast (boilerplate growth)") {
    // the duplicated-window hash set grows with corpus boilerplate — a
    // broadcast() hint on it would OOM on repetitive corpora; with the
    // auto threshold at -1 the join must degrade to a shuffle join
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan("q127_repeated_spans")
      val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
      assert(bhj == 0, s"duplicated-hash join still forces a broadcast:\n$p")
    } finally spark.conf.set(key, prev)
  }

  test("q138 fine-book join is not a mandatory broadcast (k grows with N)") {
    // ivf2Assign's grouped fine book is corpus-sized/64 (k ∝ N) — only the
    // two 1-row coarse-book crossJoins are pinned broadcasts (they render
    // as BroadcastNestedLoopJoin); with the auto threshold at -1 the
    // ccell equi-join must degrade to a shuffle join, so no
    // BroadcastHashJoin may appear anywhere in the assign plan
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      spark.sharedState.cacheManager.clearCache() // see q135's comment
      val p = graft.vector.VectorOps
        .ivf2Assign(Tables.embeddings(spark, sf), 8, 3)
        .queryExecution.sparkPlan.toString
      val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
      assert(bhj == 0, s"fine-book join still forces a broadcast:\n$p")
    } finally spark.conf.set(key, prev)
  }

  test("q139 global top-k runs as TakeOrdered, never a full sort") {
    // orderBy(...).limit(k) must compile to TakeOrderedAndProject —
    // map-side partial top-k per partition; a global Sort before the
    // Limit would shuffle the whole corpus to sort it
    val p = plan("q139_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.linesIterator.exists(l =>
      l.trim.startsWith("Sort ") || l.contains("+- Sort ")), s"global sort:\n$p")
  }

  test("q135 degree joins are not mandatory broadcasts (vertex-table growth)") {
    // both degree attachments join a vertex-sized table — hinting it
    // broadcast would OOM the driver at graph scale; with the auto
    // threshold at -1 they must degrade to shuffle joins
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      // earlier suites may have cached overlapping plan fragments whose
      // SERIALIZED physical plans (built under the default threshold)
      // contain BroadcastHashJoins — cache substitution would splice them
      // into this fresh plan's printout and fail the count spuriously
      spark.sharedState.cacheManager.clearCache()
      val p = plan("q135_assortativity")
      val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
      assert(bhj == 0, s"degree join still forces a broadcast:\n$p")
    } finally spark.conf.set(key, prev)
  }

  test("q120 centroid join is a broadcast (label-enum-sized build side)") {
    val p = plan("q120_embedding_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q133 export-shard window is partitioned by shard, never global") {
    // a global (unpartitioned) row_number would pull the whole corpus into
    // one partition at 100 TB; the shard key must partition the window
    val p = plan("q133_export_shards")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, p)
    assert(windows.forall(_.contains("windowspecdefinition(shard")),
      s"unpartitioned window found:\n${windows.mkString("\n")}")
  }

  test("q66 probe-side block keys are never broadcast (corpus-scale probe set)") {
    // q66's mention set is every distinct adjacent bigram of the whole
    // corpus — a broadcast() hint on the blockKeys side would OOM the
    // driver at 100 TB (RankedSearch's docstring contract). tokenIdf and
    // the 1-row stats aggregate stay legitimately hinted (vocabulary- /
    // scalar-sized), so assert specifically that no broadcast build side
    // carries the `surface` column rather than counting all BHJs.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      // checkpoint=false: the production entry eagerly localCheckpoints,
      // which hides the retrieval plan behind an RDD scan
      val phys = graft.queries.NlpQueries.bm25Candidates(spark, sf, checkpoint = false)
        .queryExecution.sparkPlan
      val offenders = phys.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if {
              val build = j.buildSide match {
                case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
                case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
              }
              build.output.exists(_.name == "surface")
            } => j
      }
      assert(offenders.isEmpty,
        s"blockKeys probe still forces a broadcast:\n${offenders.mkString("\n")}")
      // and the probe join must still exist — degraded to a shuffle join
      val probeSmj = phys.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.output.exists(_.name == "surface") => j
      }
      assert(probeSmj.nonEmpty, s"expected a shuffle probe join:\n$phys")
    } finally spark.conf.set(key, prev)
  }

  test("q203 train-gram semi-join is not a mandatory broadcast (train side is corpus-sized)") {
    // q203 reverses q105's cardinality: the DISTINCT train 8-gram set is
    // the corpus-sized side — a broadcast() hint there is a driver OOM at
    // 100 TB (the semi-join must shuffle on the gram key, or ride q153's
    // Bloom). With auto-broadcast forced off, any surviving BHJ whose
    // build side carries `gram` would be a mandatory hint.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val phys = SparkEntry.queries("q203_ngram_coverage")(spark, sf)
        .queryExecution.sparkPlan
      val offenders = phys.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if {
              val build = j.buildSide match {
                case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
                case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
              }
              build.output.exists(_.name == "gram")
            } => j
      }
      assert(offenders.isEmpty,
        s"train grams still force a broadcast:\n${offenders.mkString("\n")}")
    } finally spark.conf.set(key, prev)
  }

  test("q108 cohort join is not a mandatory broadcast (firstSeen grows with data)") {
    // firstSeen is one row PER USER — broadcasting it is a driver OOM at
    // scale. With the auto-broadcast threshold forced to -1 the join must
    // degrade to a shuffle join; a broadcast() hint would pin BHJ anyway.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan("q108_retention_cohorts")
      assert(!p.contains("BroadcastHashJoin"),
        s"cohort join still forces a broadcast:\n$p")
    } finally spark.conf.set(key, prev)
  }

  /** Every physical plan `run` executes, AQE-final. */
  private def plansOf(run: => Unit): Seq[SparkPlan] =
    PlanDump.actionsOf(spark)(run).map(_._2.executedPlan)

  private def carriesVector(p: SparkPlan): Boolean =
    p.output.exists(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })

  test("entity linkers attach vectors by id: no shuffle exchange carries a vector (q34, q36, q79, q230)") {
    // the vectors ride the candidate rows from the embeddings scan; a
    // doc- or entity-keyed vector table would reach its join through a
    // hash exchange of array<float> rows before AQE demoted it
    Seq("q34_entity_linking", "q36_el_report", "q79_hybrid_linking",
        "q230_stream_entity_linking").foreach { q =>
      val plans = plansOf(SparkEntry.queries(q)(spark, sf).collect())
      val attached = plans.flatMap(collectWithSubqueries(_) {
        case j: BaseJoinExec if j.output.exists(_.name == "ent_emb") => j
      })
      assert(attached.nonEmpty, s"$q: no vector attach seen in ${plans.size} plans")
      val offenders = plans.flatMap(collectWithSubqueries(_) {
        case x: ShuffleExchangeLike if carriesVector(x) => x
      })
      assert(offenders.isEmpty, s"$q shuffles vectors:\n${offenders.mkString("\n")}")
    }
  }

  /** Every hash-partitioned shuffle exchange across `plans`, as its key
    * column names. */
  private def shuffleKeys(plans: Seq[SparkPlan]): Seq[Seq[String]] =
    plans.flatMap(collectWithSubqueries(_) {
      case x: ShuffleExchangeLike => x.outputPartitioning
    }).collect { case h: HashPartitioning =>
      h.expressions.map {
        case a: Attribute => a.name
        case e => e.sql
      }
    }

  private def queryPlans(q: String): Seq[SparkPlan] =
    plansOf(SparkEntry.queries(q)(spark, sf).collect())

  test("q13/q17 k-hop never shuffles the edge table: no exchange keyed on (src, dst)") {
    // kHop de-duplicates once, after the last hop (q13's one id-keyed
    // exchange); q17 semi-joins the bag before it and shuffles no id
    Seq("q13_two_hop_network" -> 1, "q17_suspicious_aliases" -> 0).foreach { case (q, idKeyed) =>
      val keys = shuffleKeys(queryPlans(q))
      assert(keys.count(_ == Seq("id")) == idKeyed, s"$q: id-keyed exchanges in $keys")
      assert(!keys.exists(_.toSet == Set("src", "dst")), s"$q shuffles the edges: $keys")
    }
  }

  test("seed lists are IN filters: no broadcast of a local table in q13, q17 or q98's closure") {
    val closure = SenzingQueries.flagshipStages.toMap.apply("s2_closure")
    Seq("q13_two_hop_network" -> SparkEntry.queries("q13_two_hop_network"),
        "q17_suspicious_aliases" -> SparkEntry.queries("q17_suspicious_aliases"),
        "q98 s2_closure" -> closure).foreach { case (q, build) =>
      val plans = plansOf(build(spark, sf).collect())
      val local = plans.flatMap(collectWithSubqueries(_) {
        case b: BroadcastExchangeLike
            if b.child.collectLeaves().forall(_.isInstanceOf[LocalTableScanExec]) => b
      })
      assert(local.isEmpty, s"$q broadcasts a local table:\n${local.mkString("\n")}")
    }
  }

  test("q17/q34 alias priors: one shuffle keyed on the alias alone, no window over alias") {
    // the alias column by name: q17 groups its part name as `alias`, so
    // a plan may key on either
    val aliasCols = Seq(
      "q17_suspicious_aliases" -> Set("p_name", "alias"),
      "q34_entity_linking" -> Set("alias"))
    aliasCols.foreach { case (q, alias) =>
      val plans = queryPlans(q)
      val aliasKeyed = shuffleKeys(plans).filter(_.exists(alias))
      assert(aliasKeyed.size == 1 && aliasKeyed.head.size == 1,
        s"$q exchanges keyed on the alias: $aliasKeyed")
      def overAlias(spec: Seq[Expression]) =
        spec.exists(_.references.exists(a => alias(a.name)))
      val aliasWindows = plans.flatMap(collectWithSubqueries(_) {
        case w: WindowExec if overAlias(w.partitionSpec) => w
        case w: WindowGroupLimitExec if overAlias(w.partitionSpec) => w
      })
      assert(aliasWindows.isEmpty, s"$q windows over alias:\n${aliasWindows.mkString("\n")}")
    }
  }

  test("q34's second vector lookup reuses the first embeddings exchange") {
    val df = SparkEntry.queries("q34_entity_linking")(spark, sf)
    df.collect()
    val reused = collectWithSubqueries(df.queryExecution.executedPlan) {
      case r: ReusedExchangeExec if carriesVector(r) => r
    }
    assert(reused.size == 1, df.queryExecution.executedPlan.toString)
  }

  test("the embeddings lookup is not a mandatory broadcast (the vector store grows with data)") {
    // with auto-broadcast off, a broadcast() hint would pin a BHJ whose
    // build side carries the embedding column
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      Seq("q34_entity_linking", "q79_hybrid_linking").foreach { q =>
        val phys = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
        val offenders = phys.collect {
          case j: BroadcastHashJoinExec if carriesVector(j.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
              case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
            }) => j
        }
        assert(offenders.isEmpty, s"$q still forces a vector broadcast:\n$phys")
      }
    } finally spark.conf.set(key, prev)
  }

  /** The rows the subtree `p` hands up, read from the first node below it
    * that counts them: an operator's output rows, a shuffle's written
    * records (stages and reused exchanges are looked through). */
  private def rowsOut(p: SparkPlan): Option[Long] = p match {
    case s: QueryStageExec => rowsOut(s.plan)
    case r: ReusedExchangeExec => rowsOut(r.child)
    case x: ShuffleExchangeExec => x.metrics.get("shuffleRecordsWritten").map(_.value)
    case _ => p.metrics.get("numOutputRows").map(_.value)
      .orElse(p.children.iterator.map(rowsOut).collectFirst { case Some(n) => n })
  }

  /** Whether `p`'s own stage (down to the next exchange or query stage)
    * explodes an array: an exchange above it carries the exploded rows. */
  private def explodesInStage(p: SparkPlan): Boolean = p match {
    case _: GenerateExec => true
    case _: QueryStageExec | _: Exchange | _: ReusedExchangeExec => false
    case _ => p.children.exists(explodesInStage)
  }

  /** Every distinct exchange across `plans` that carries exploded
    * (doc_id, h) shingle rows. */
  private def explodedExchanges(plans: Seq[SparkPlan]): Seq[Exchange] =
    plans.flatMap(collectWithSubqueries(_) {
      case x: Exchange if Set("doc_id", "h").subsetOf(x.output.map(_.name).toSet) &&
          explodesInStage(x.child) => x
    }).groupBy(_.canonicalized).values.map(_.head).toSeq

  test("q22 exact Jaccard: the exploded shingle rows cross one exchange, never a broadcast") {
    val carriers = explodedExchanges(queryPlans("q22_jaccard_pairs"))
    assert(carriers.size == 1, s"exchanges of exploded rows:\n${carriers.mkString("\n")}")
    assert(carriers.forall(_.isInstanceOf[ShuffleExchangeLike]),
      s"exploded rows broadcast:\n${carriers.mkString("\n")}")
  }

  test("q22 exact Jaccard: the candidate self-join sees only shared shingles") {
    val s = spark
    import s.implicits._
    // every doc opens with a shingle no other doc has, and rarity order
    // puts it first in its prefix; the rest is shared, so every doc also
    // has shared prefix elements and pairs exist
    val shared = Seq("a b c d e f", "a b c d e g", "b c d e f g", "x y z w v", "x y z w")
    val texts = shared.zipWithIndex.map { case (t, i) => s"q$i r$i $t" }
    val docs = texts.zipWithIndex.map { case (t, i) => i.toLong -> t }.toDF("doc_id", "text")
    val t = 0.5
    // the prefix rule, on the driver: (freq, hash) order, the first
    // n - ceil(t·n) + 1 elements of each doc
    val sets = docs.select(graft.functions.GraftFunctions.shingleHashes(
        org.apache.spark.sql.functions.col("text"), 3))
      .as[Seq[Long]].collect().toSeq
    val freq = sets.flatten.groupBy(identity).map { case (h, hs) => h -> hs.size }
    val prefixes = sets.map { hs =>
      hs.sortBy(h => (freq(h), h)).take(hs.size - math.ceil(hs.size * t).toInt + 1)
    }
    val sharedPrefixRows = prefixes.map(_.count(freq(_) >= 2)).sum
    assert(prefixes.forall(p => freq(p.head) == 1) && sharedPrefixRows > 0)
    val plans = plansOf(graft.dedup.DedupOps
      .jaccardPairsPrefix(docs, "doc_id", "text", 3, t).collect())
    val selfJoins = plans.flatMap(collectWithSubqueries(_) {
      case j: BaseJoinExec if Seq(j.left, j.right).forall(side =>
          Set("doc_id", "h").subsetOf(side.output.map(_.name).toSet)) &&
          (j.leftKeys ++ j.rightKeys).nonEmpty &&
          (j.leftKeys ++ j.rightKeys).forall {
            case a: Attribute => a.name == "h"
            case _ => false
          } => j
    })
    assert(selfJoins.size == 1, plans.mkString("\n"))
    val j = selfJoins.head
    Seq(j.left, j.right).foreach { side =>
      assert(rowsOut(side).contains(sharedPrefixRows.toLong),
        s"self-join input is not the $sharedPrefixRows shared prefix rows " +
          s"(${prefixes.map(_.size).sum} with singletons):\n$j")
    }
  }

  /** Names of a join's key columns. */
  private def keyNames(j: BaseJoinExec): Set[String] =
    (j.leftKeys ++ j.rightKeys).collect { case a: Attribute => a.name }.toSet

  /** Every candidate join across `plans`: the band join keyed on (band, key). */
  private def candidateJoins(plans: Seq[SparkPlan]): Seq[BaseJoinExec] =
    plans.flatMap(collectWithSubqueries(_) {
      case j: BaseJoinExec if keyNames(j) == Set("band", "key") => j
    })

  /** The exchanges nearest below `p`: the ones its rows arrive through. */
  private def feedingExchanges(p: SparkPlan): Seq[SparkPlan] = p match {
    case s: QueryStageExec => feedingExchanges(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case x: Exchange => Seq(x)
    case _ => p.children.flatMap(feedingExchanges)
  }

  test("blocked joins over array payloads and several bands (q23, q100): the candidate exchanges carry no payload") {
    Seq("q23_minhash_pairs", "q100_lsh_banded_pairs").foreach { q =>
      val joins = candidateJoins(queryPlans(q))
      assert(joins.nonEmpty, s"$q: no (band, key) candidate join")
      val feeding = joins.flatMap(_.children.flatMap(feedingExchanges))
      assert(feeding.nonEmpty, s"$q: no exchange feeds the candidate join")
      // the key prefixes (pa, pb) are arrays of band keys, not payload
      val offenders = feeding.filter(_.output.exists(a =>
        a.dataType.isInstanceOf[ArrayType] && !Set("pa", "pb")(a.name)))
      assert(offenders.isEmpty, s"$q carries an array payload:\n${offenders.mkString("\n")}")
    }
  }

  test("blocked joins whose payload rides (q27, q154, q155, q202): no pair distinct, no join-back") {
    Seq("q27_lsh_pairs", "q154_image_phash_pairs", "q155_audio_fp_pairs",
        "q202_simhash_pairs").foreach { q =>
      val plans = queryPlans(q)
      assert(candidateJoins(plans).nonEmpty, s"$q: no (band, key) candidate join")
      val pairAggs = plans.flatMap(collectWithSubqueries(_) {
        case g: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if Set(Set("da", "db"), Set("a", "b"))(
              g.groupingExpressions.map(_.name).toSet) => g
      })
      assert(pairAggs.isEmpty, s"$q aggregates pairs:\n${pairAggs.mkString("\n")}")
      val joinBacks = plans.flatMap(collectWithSubqueries(_) {
        case j: BaseJoinExec if keyNames(j) != Set("band", "key") => j
      })
      assert(joinBacks.isEmpty, s"$q joins back:\n${joinBacks.mkString("\n")}")
    }
  }

  test("q65 stream dedup: no exchange carries the document text") {
    val plans = queryPlans("q65_stream_neardup")
    val dedupExchanges = plans.flatMap(collectWithSubqueries(_) {
      case x: ShuffleExchangeLike if x.output.exists(_.name == "simhash") => x
    })
    assert(dedupExchanges.nonEmpty, s"no simhash exchange in ${plans.size} plans")
    val offenders = plans.flatMap(collectWithSubqueries(_) {
      case x: Exchange if x.output.exists(_.name == "text") => x
    })
    assert(offenders.isEmpty, s"q65 ships text:\n${offenders.mkString("\n")}")
  }
}
