package graft

import org.apache.spark.sql.functions._

import graft.text.{Hll, TextOps}

/** Semantic invariants for the round-12 operators (q157–q160) plus the
  * algebraic laws of the new [[graft.text.Hll]] sketch. The DuckDB gate
  * pins exact values at sf0.01; these pin the properties that must hold on
  * ANY corpus.
  */
class R12QueriesSpec extends SparkSuite {
  import SparkSpec.sf0001

  // ---- Hll laws ------------------------------------------------------------

  test("Hll.rho matches the JVM leading-zero reference on seeded hashes") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val hs = Seq.fill(2000)(rnd.nextLong().abs % (1L << 60)) ++
      Seq(0L, 255L, 256L, (1L << 60) - 1, 1L << 8, (1L << 8) - 1)
    val got = hs.toDF("h")
      .select(col("h"), Hll.idx(col("h")).as("idx"), Hll.rho(col("h")).as("rho"))
      .collect()
    got.foreach { r =>
      val h = r.getAs[Long]("h")
      val v = h >>> 8
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(v)
      assert(r.getAs[Long]("idx") === (h & 255L))
      assert(r.getAs[Long]("rho") === 53L - bitlen, s"h=$h v=$v")
    }
  }

  test("Hll merge law: registers(A ∪ B) == max-merge(registers(A), registers(B))") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val a = Seq.fill(3000)(rnd.nextLong().abs % (1L << 60)).toDF("h")
    val b = Seq.fill(3000)(rnd.nextLong().abs % (1L << 60)).toDF("h")
    val direct = Hll.registers(a.union(b).withColumn("g", lit("g")), "h", "g")
    val merged = Hll.registers(a.withColumn("g", lit("g")), "h", "g")
      .union(Hll.registers(b.withColumn("g", lit("g")), "h", "g"))
      .groupBy(col("g"), col("idx")).agg(max(col("reg")).as("reg"))
    assert(direct.select("idx", "reg").except(merged.select("idx", "reg")).count() === 0)
    assert(merged.select("idx", "reg").except(direct.select("idx", "reg")).count() === 0)
  }

  test("Hll estimate is within 20% of truth at n >> m (seeded)") {
    val s = spark
    import s.implicits._
    // 5000 distinct strings hashed through the production 60-bit hash
    val df = (0 until 5000).map(i => s"item_$i").toDF("t")
      .select(lit("g").as("g"), TextOps.tokenHash60(col("t")).as("h"))
    val z = Hll.zTable(Hll.registers(df, "h", "g"), "g")
      .select(Hll.estimate(col("z")).as("est")).collect().head.getAs[Double]("est")
    assert(math.abs(z - 5000.0) / 5000.0 < 0.2, s"est=$z")
  }

  // ---- q157 ----------------------------------------------------------------

  test("q157: coverage bounded by doc length, exact-dup docs fully covered") {
    val r = SparkEntry.queries("q157_dup_span_coverage")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val cov = row.getAs[Long]("dup_tokens")
      val n = row.getAs[Long]("n_toks")
      assert(cov >= 0L && cov <= n, s"row $row")
      val f = row.getAs[Double]("dup_frac")
      assert(f >= 0.0 && f <= 1.0)
    }
    // the synthetic corpus repeats phrases heavily — coverage must fire
    assert(r.exists(_.getAs[Long]("dup_tokens") > 0L))
  }

  test("q157 coverage law on a synthetic corpus: dup twins =1, unique doc =0") {
    val s = spark
    import s.implicits._
    val twin = (1 to 12).map(i => s"w$i").mkString(" ")
    val unique = (1 to 12).map(i => s"u$i").mkString(" ")
    val d = Seq((1L, twin), (2L, twin), (3L, unique)).toDF("doc_id", "text")
    val cov = graft.dedup.DedupOps.repeatedSpans(d, "doc_id", "text", 8)
      .groupBy("doc_id").agg(sum(col("span_end") - col("span_start")).as("c"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("c")).toMap
    assert(cov.get(1L).contains(12L) && cov.get(2L).contains(12L))
    assert(!cov.contains(3L))
  }

  // ---- q158 ----------------------------------------------------------------

  test("q158: register count ≤ m, z within bounds, exact ≤ corpus bigrams") {
    val r = SparkEntry.queries("q158_hll_registers")(spark, sf0001).collect()
    assert(r.nonEmpty)
    val all = r.filter(_.getAs[String]("source") == "__all")
    assert(all.length === 1)
    r.foreach { row =>
      val nz = row.getAs[Long]("nonzero")
      assert(nz >= 1L && nz <= Hll.m.toLong)
      val z = row.getAs[Long]("z")
      // z ∈ (0, m·2^53]: every register contributes at most 2^53
      assert(z > 0L && z <= Hll.m.toLong * Hll.zScale)
      assert(row.getAs[Double]("est") > 0.0)
      assert(row.getAs[Long]("exact") >= 1L)
    }
    // the merged sketch covers at least as many registers as any source
    val maxSrc = r.filter(_.getAs[String]("source") != "__all")
      .map(_.getAs[Long]("nonzero")).max
    assert(all.head.getAs[Long]("nonzero") >= maxSrc)
    // union cardinality at least the per-source max
    val maxExact = r.filter(_.getAs[String]("source") != "__all")
      .map(_.getAs[Long]("exact")).max
    assert(all.head.getAs[Long]("exact") >= maxExact)
  }

  // ---- q159 ----------------------------------------------------------------

  test("q159: negatives never share the query's label; ranks contiguous, cosine sorted") {
    val r = SparkEntry.queries("q159_hard_negatives")(spark, sf0001).collect()
    assert(r.nonEmpty)
    val labels = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label")).collect()
      .map(x => x.getAs[Long]("vec_id") -> x.getAs[Int]("label")).toMap
    r.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq === (1 to rows.length))
      // descending cosine within the query group
      val cos = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
      rows.foreach { row =>
        assert(labels(row.getAs[Long]("neg_id")) !== labels(qid),
          s"neg shares label for query $qid")
      }
    }
  }

  // ---- q161 ----------------------------------------------------------------

  test("q161 complements q157 exactly: kept + dup_tokens == n_toks, text length matches") {
    val trim = SparkEntry.queries("q161_dup_span_trim")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("kept"), r.getAs[String]("trimmed_text")))
      .toMap
    val cov = SparkEntry.queries("q157_dup_span_coverage")(spark, sf0001).collect()
    assert(cov.nonEmpty && trim.nonEmpty)
    cov.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      val (n, kept, text) = trim(id)
      assert(n === row.getAs[Long]("n_toks"))
      assert(kept + row.getAs[Long]("dup_tokens") === n, s"doc $id")
      // the reassembled string holds exactly `kept` tokens
      val nTokens = text.split("\\s+").count(_.nonEmpty)
      assert(nTokens.toLong === kept, s"doc $id: '$text'")
    }
  }

  test("q161 law on a synthetic corpus: twins trimmed to empty, unique doc untouched") {
    val s = spark
    import s.implicits._
    val twin = (1 to 10).map(i => s"w$i").mkString(" ")
    val unique = (1 to 10).map(i => s"u$i").mkString(" ")
    val d = Seq((1L, twin), (2L, twin), (3L, unique)).toDF("doc_id", "text")
    val pos = d.select(col("doc_id"),
      posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "token")))
    val covered = graft.dedup.DedupOps.repeatedSpans(d, "doc_id", "text", 8)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end") - 1)).as("pos"))
    val kept = pos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("k")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("k")).toMap
    assert(!kept.contains(1L) && !kept.contains(2L)) // fully trimmed
    assert(kept.get(3L).contains(10L))               // untouched
  }

  // ---- q162 ----------------------------------------------------------------

  test("q162: streaming HLL windows match batch windows; exact = batch countDistinct") {
    val r = SparkEntry.queries("q162_stream_hll")(spark, sf0001).collect()
    assert(r.nonEmpty)
    val batch = Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("exact"))
      .select(col("w.start").as("w_start"), col("exact")).collect()
      .map(x => x.getAs[java.sql.Timestamp]("w_start") -> x.getAs[Long]("exact"))
      .toMap
    assert(r.length === batch.size)
    r.foreach { row =>
      val w = row.getAs[java.sql.Timestamp]("w_start")
      assert(batch(w) === row.getAs[Long]("exact"))
      val nz = row.getAs[Long]("nonzero")
      assert(nz >= 1L && nz <= Hll.m.toLong)
      // ≤ m distinct keys can set at most `exact` registers
      assert(nz <= row.getAs[Long]("exact"))
      assert(row.getAs[Double]("est") > 0.0)
    }
  }

  // ---- q163 ----------------------------------------------------------------

  test("q163: set identities hold and MinHash estimate tracks exact Jaccard") {
    val r = SparkEntry.queries("q163_source_similarity")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (na, nb) = (row.getAs[Long]("n_a"), row.getAs[Long]("n_b"))
      val inter = row.getAs[Long]("n_inter")
      val union = row.getAs[Long]("n_union")
      assert(inter >= 0L && inter <= math.min(na, nb))
      assert(union === na + nb - inter && union >= math.max(na, nb))
      val j = row.getAs[Double]("jaccard")
      val e = row.getAs[Double]("est_jaccard")
      assert(j >= 0.0 && j <= 1.0)
      // k=32 signature ⇒ estimate quantized to 1/32 steps
      assert(e >= 0.0 && e <= 1.0 && math.abs(e * 32 - math.round(e * 32)) < 1e-9)
      // 32-hash MinHash std ≤ 0.09; deterministic data, generous 4σ bound
      assert(math.abs(e - j) <= 0.35, s"pair ${row.getAs[String]("sa")}/${row.getAs[String]("sb")}: est=$e exact=$j")
    }
  }

  // ---- q164 ----------------------------------------------------------------

  test("q164: KL ≥ 0 (up to fixed-point rounding), kl consistent with kl_fp") {
    val r = SparkEntry.queries("q164_source_kl_drift")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val kl = row.getAs[Double]("kl")
      val klFp = row.getAs[Double]("kl_fp")
      val ns = row.getAs[Long]("n_s")
      assert(kl >= -1e-6, s"row $row") // Gibbs' inequality, iln rounding slack
      assert(math.abs(kl - klFp / 1e9 / ns) < 1e-12)
    }
  }

  // ---- plane-family independence (the q150 lattice fix) --------------------

  test("salted plane family has no near-duplicate planes; the LCG family does at 64") {
    def rowCos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def maxPairCos(w: Array[Array[Double]]): Double =
      (for (p <- w.indices; q <- p + 1 until w.length)
        yield math.abs(rowCos(w(p), w(q)))).max
    // salted md5 planes: pairwise weight-row cosines stay far from ±1
    val salted = graft.vector.VectorOps.saltedPlaneWeights(64, 64)
    assert(maxPairCos(salted) < 0.8)
    // the congruential family at 64 planes: lattice offsets (4433·Δp mod
    // 10007) produce near-identical weight rows — the failure q150 hit
    val lcg = Array.tabulate(64, 64) { (p, d) =>
      ((p.toLong * 73856093L + d.toLong * 19349663L) % 10007L).toDouble /
        10007.0 * 2.0 - 1.0
    }
    assert(maxPairCos(lcg) > 0.95)
  }

  test("native lsh_signature_salted equals the HOF salted fold on real vectors") {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf0001)
    val both = e.select(
      Oracles.lshSignatureSalted(col("embedding"), 64, 64)
        .as("hof"),
      call_function("lsh_signature_salted", col("embedding"), lit(64))
        .as("native"))
    assert(both.filter(col("hof") =!= col("native")).count() === 0)
    // and on a null-element vector both emit all zeros
    val s = spark
    import s.implicits._
    val nullVec = Seq(Tuple1(Array[java.lang.Float](1.0f, null, 2.0f)))
      .toDF("embedding")
    val r = nullVec.select(
      call_function("lsh_signature_salted", col("embedding"), lit(8)).as("sig"))
      .collect().head.getString(0)
    assert(r === "0" * 8)
  }

  // ---- q165 ----------------------------------------------------------------

  test("q165: full C(L,2) matrix, cosines bounded, every label on L−1 rows") {
    val r = SparkEntry.queries("q165_label_centroid_sim")(spark, sf0001).collect()
    val labels = (r.map(_.getAs[Int]("la")) ++ r.map(_.getAs[Int]("lb"))).distinct
    val l = labels.length
    assert(r.length === l * (l - 1) / 2)
    labels.foreach { lb =>
      assert(r.count(x => x.getAs[Int]("la") == lb || x.getAs[Int]("lb") == lb) === l - 1)
    }
    r.foreach { row =>
      assert(row.getAs[Int]("la") < row.getAs[Int]("lb"))
      assert(row.getAs[Long]("n_a") > 0L && row.getAs[Long]("n_b") > 0L)
      val c = row.getAs[Double]("cos_centroid")
      assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12)
    }
  }

  // ---- q166 ----------------------------------------------------------------

  test("q166: novelty laws — first source all-new, cum curve hits the global distinct") {
    val r = SparkEntry.queries("q166_source_novelty")(spark, sf0001)
      .orderBy(col("source")).collect()
    assert(r.nonEmpty)
    // the alphabetically-first source contributes only new shingles
    assert(r.head.getAs[Double]("novelty") === 1.0)
    assert(r.head.getAs[Long]("n_new") === r.head.getAs[Long]("n_shingles"))
    r.foreach { row =>
      assert(row.getAs[Long]("n_new") <= row.getAs[Long]("n_shingles"))
      val nv = row.getAs[Double]("novelty")
      assert(nv >= 0.0 && nv <= 1.0)
    }
    // cumulative curve is the running sum and ends at the global distinct count
    var acc = 0L
    r.foreach { row =>
      acc += row.getAs[Long]("n_new")
      assert(row.getAs[Long]("cum_distinct") === acc)
    }
    val globalDistinct = Tables.documents(spark, sf0001)
      .select(explode(TextOps.shingles(col("text"), 3)).as("sh"))
      .distinct().count()
    assert(acc === globalDistinct)
  }

  // ---- q167 ----------------------------------------------------------------

  test("q167: cohesion laws — min ≤ mean ≤ max, populations cover the corpus") {
    val r = SparkEntry.queries("q167_label_cohesion")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (mn, mc, mx) = (row.getAs[Double]("min_cos"),
        row.getAs[Double]("mean_cos"), row.getAs[Double]("max_cos"))
      // mean is floor(cos·1e9)-rounded ⇒ up to 1e-9 downward bias
      assert(mn - 1e-9 <= mc && mc <= mx + 1e-9, s"row $row")
      assert(mx <= 1.0 + 1e-12)
    }
    val total = r.map(_.getAs[Long]("n")).sum
    assert(total === Tables.embeddings(spark, sf0001).count())
  }

  // ---- q160 ----------------------------------------------------------------

  test("q160 sandwich law: est_edge − 16 ≤ exact < est_edge; targets = ceil(q·N)") {
    val r = SparkEntry.queries("q160_histogram_quantiles")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val est = row.getAs[Long]("est_edge")
      val exact = row.getAs[Long]("exact")
      assert(exact >= est - 16 && exact < est, s"row $row")
    }
    // the __all rows exist and their target is the global ceil(q·N)
    val n = Tables.documents(spark, sf0001).count()
    val all = r.filter(_.getAs[String]("source") == "__all")
    assert(all.length === 3)
    all.foreach { row =>
      val q = row.getAs[Double]("q")
      assert(row.getAs[Long]("target") === math.ceil(q * n).toLong)
    }
  }

  // ---- q168 ----------------------------------------------------------------

  test("q168: GD learns the separator — acc beats majority, x1 dominates") {
    val r = SparkEntry.queries("q168_quality_classifier")(spark, sf0001).collect()
    assert(r.length === 4)
    val n = Tables.documents(spark, sf0001).count()
    val acc = r.head.getAs[Double]("train_acc")
    assert(r.forall(_.getAs[Double]("train_acc") == acc))
    assert(r.forall(_.getAs[Long]("n_docs") == n))
    assert(acc > 0.5 && acc <= 1.0, s"acc=$acc")
    val w = r.map(x => x.getAs[String]("feature") -> x.getAs[Double]("weight")).toMap
    // the label is (essentially) a threshold on n_words: the centered
    // n_words feature must carry the largest positive weight
    assert(w("x1_n_words") > 0.0)
    assert(w.values.map(math.abs).max === math.abs(w("x1_n_words")))
  }

  test("q168 majority baseline: learned accuracy beats always-predict-1") {
    val docs = Tables.documents(spark, sf0001)
    val toks = TextOps.tokens(col("text"))
    val pos = docs.filter(size(toks).between(50, 100000)).count().toDouble
    val n = docs.count().toDouble
    val majority = math.max(pos, n - pos) / n
    val acc = SparkEntry.queries("q168_quality_classifier")(spark, sf0001)
      .collect().head.getAs[Double]("train_acc")
    assert(acc >= majority - 0.05, s"acc=$acc majority=$majority")
  }

  // ---- q170 ----------------------------------------------------------------

  test("q170 degeneracy law: nprobe = |cells| makes IVF-PQ equal flat PQ") {
    import graft.vector.VectorOps
    val e = Tables.embeddings(spark, sf0001)
    val cents = VectorOps.centroids(e, "label")
    val nCells = cents.count().toInt
    val q = e.filter(col("vec_id") < 8)
    val full = VectorOps.ivfPqTopK(q, e, cents, 4, 64, 5, nprobe = nCells)
      .select("query_id", "neighbor_id", "adc", "rn")
    val flat = VectorOps.pqTopK(q, e, 4, 64, 5)
      .select("query_id", "neighbor_id", "adc", "rn")
    assert(full.except(flat).count() === 0)
    assert(flat.except(full).count() === 0)
  }

  test("q170: probed cells are each query's nprobe nearest coarse centroids") {
    import graft.vector.VectorOps
    val e = Tables.embeddings(spark, sf0001)
    val cents = VectorOps.centroids(e, "label")
    val r = SparkEntry.queries("q170_ivfpq_knn")(spark, sf0001).collect()
    assert(r.nonEmpty)
    // recompute the 2 nearest cells per query via the same exact fold
    val near = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", VectorOps.l2Dist(col("q_emb"), col("centroid")))
      .withColumn("crn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("cell").asc)))
      .filter(col("crn") <= 2)
      .select(col("query_id"), col("cell")).collect()
      .map(x => (x.getLong(0), x.getInt(1))).toSet
    r.foreach { row =>
      val pair = (row.getAs[Long]("query_id"), row.getAs[Int]("ccell"))
      assert(near.contains(pair), s"unprobed cell in output: $pair")
    }
  }

  // ---- connectedComponentsDF partition self-tuning --------------------------

  test("CC loop restores the session shuffle-partition setting, result unchanged") {
    val s = spark
    import s.implicits._
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "17")
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
      val comp = graft.graph.GraphOps.connectedComponentsDF(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      assert(s.conf.get("spark.sql.shuffle.partitions") === "17")
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // ---- q171 ----------------------------------------------------------------

  test("q171: __all row equals the sum of per-source rows; fertility >= 1") {
    val r = SparkEntry.queries("q171_tokenizer_fertility")(spark, sf0001).collect()
    val all = r.filter(_.getAs[String]("source") == "__all")
    assert(all.length === 1)
    val per = r.filter(_.getAs[String]("source") != "__all")
    Seq("n_docs", "n_words", "n_bpe_tokens", "n_chars").foreach { c =>
      assert(all.head.getAs[Long](c) === per.map(_.getAs[Long](c)).sum, c)
    }
    // BPE-ish pretokenization only ever splits whitespace words further
    r.foreach { row =>
      assert(row.getAs[Double]("fertility") >= 1.0, s"row $row")
      assert(row.getAs[Double]("chars_per_token") > 0.0)
    }
  }

  // ---- q172 ----------------------------------------------------------------

  test("q172: every query present once, overlap in [0,5], frac consistent") {
    val r = SparkEntry.queries("q172_matryoshka_overlap")(spark, sf0001).collect()
    assert(r.length === 8)
    assert(r.map(_.getAs[Long]("query_id")).toSet === (0L until 8L).toSet)
    r.foreach { row =>
      val n = row.getAs[Long]("n_overlap")
      assert(n >= 0L && n <= 5L)
      assert(row.getAs[Double]("overlap_frac") === n.toDouble / 5.0)
    }
  }

  // ---- q173 ----------------------------------------------------------------

  test("q173: matrix counts sum to the q23 pair count; pairs canonical") {
    val pairs = SparkEntry.queries("q23_minhash_pairs")(spark, sf0001).count()
    val r = SparkEntry.queries("q173_cross_source_dup_matrix")(spark, sf0001)
      .collect()
    assert(r.map(_.getAs[Long]("n_pairs")).sum === pairs)
    r.foreach { row =>
      assert(row.getAs[String]("sa") <= row.getAs[String]("sb"), s"row $row")
    }
  }

  // ---- q174 ----------------------------------------------------------------

  test("q174: per-label counts conserve, row fractions sum to 1") {
    val r = SparkEntry.queries("q174_centroid_confusion")(spark, sf0001).collect()
    assert(r.nonEmpty)
    val e = Tables.embeddings(spark, sf0001)
    val totals = e.groupBy(col("label")).count().collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    r.groupBy(_.getAs[Int]("label")).foreach { case (lab, rows) =>
      assert(rows.map(_.getAs[Long]("n")).sum === totals(lab))
      val fsum = rows.map(_.getAs[Double]("frac")).sum
      assert(math.abs(fsum - 1.0) < 1e-9, s"label $lab fsum=$fsum")
    }
  }

  // ---- q175 ----------------------------------------------------------------

  test("q175: counts non-increasing in threshold; floor row equals q23") {
    val r = SparkEntry.queries("q175_dedup_threshold_sweep")(spark, sf0001)
      .collect().sortBy(_.getAs[Double]("threshold"))
    assert(r.nonEmpty)
    val np = r.map(_.getAs[Long]("n_pairs"))
    val nd = r.map(_.getAs[Long]("n_docs"))
    assert(np.zip(np.tail).forall { case (a, b) => a >= b })
    assert(nd.zip(nd.tail).forall { case (a, b) => a >= b })
    val q23 = SparkEntry.queries("q23_minhash_pairs")(spark, sf0001).count()
    assert(r.head.getAs[Double]("threshold") === 0.5)
    assert(np.head === q23)
  }

  // ---- q177 ----------------------------------------------------------------

  test("q177: one row per source, docs conserve, cosine bounded") {
    val r = SparkEntry.queries("q177_source_embed_drift")(spark, sf0001).collect()
    val srcs = Tables.documents(spark, sf0001)
      .select("source").distinct().count()
    assert(r.length === srcs)
    assert(r.map(_.getAs[Long]("n_docs")).sum
      === Tables.documents(spark, sf0001).count())
    r.foreach { row =>
      val c = row.getAs[Double]("cos_to_global")
      assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12, s"row $row")
    }
  }

  // ---- q176 ----------------------------------------------------------------

  test("q176: buckets are powers of 2, docs conserve, waste_frac < 0.5") {
    val r = SparkEntry.queries("q176_padding_waste")(spark, sf0001).collect()
    assert(r.nonEmpty)
    val nDocs = Tables.documents(spark, sf0001)
      .filter(size(graft.text.TextOps.tokens(col("text"))) > 0).count()
    assert(r.map(_.getAs[Long]("n_docs")).sum === nDocs)
    r.foreach { row =>
      val b = row.getAs[Long]("bucket")
      assert((b & (b - 1)) === 0L && b > 0L, s"bucket $b not a power of 2")
      val wf = row.getAs[Double]("waste_frac")
      assert(wf >= 0.0 && wf < 0.5, s"row $row")
      assert(row.getAs[Long]("waste_tok")
        === row.getAs[Long]("padded_tok") - row.getAs[Long]("sum_tok"))
    }
  }

  // ---- q169 ----------------------------------------------------------------

  test("q169: per-source gate keeps >= 25% and is bin-minimal") {
    val r = SparkEntry.queries("q169_source_quality_gate")(spark, sf0001).collect()
    assert(r.nonEmpty)
    val bySrc = r.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (src, rows) =>
      val n = rows.length
      val target = math.ceil(n * 0.25).toLong
      val kept = rows.count(_.getAs[Boolean]("keep"))
      assert(kept >= target, s"$src kept=$kept target=$target")
      // minimality at bin granularity: dropping the threshold bin's docs
      // must fall below the target
      val thr = rows.head.getAs[Long]("thr_bin")
      val keptAbove = rows.count(x => x.getAs[Long]("bin") > thr)
      assert(keptAbove < target, s"$src keptAbove=$keptAbove target=$target")
      // keep flag is exactly bin >= thr_bin
      rows.foreach { x =>
        assert(x.getAs[Boolean]("keep") === (x.getAs[Long]("bin") >= thr))
      }
    }
  }
}
