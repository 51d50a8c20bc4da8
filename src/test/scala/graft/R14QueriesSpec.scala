package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-14 operators. The DuckDB gate pins
  * exact values at sf0.01; these pin the properties that must hold on ANY
  * corpus — the audit-sample estimator's set identities (q214), the
  * Good–Turing identities (q215), Zipf's sign law (q216), and the DSIR
  * ranking contract (q217).
  */
class R14QueriesSpec extends SparkSuite {
  import SparkSpec.sf0001

  // ---- q214 ----------------------------------------------------------------

  test("q214: sampled exact set = full exact set restricted to sampled endpoints; counts consistent") {
    import graft.dedup.DedupOps
    import graft.text.TextOps
    val r = SparkEntry.queries("q214_lsh_recall_sampled")(spark, sf0001)
      .collect().head
    val nBoth = r.getAs[Long]("n_both")
    assert(nBoth <= math.min(r.getAs[Long]("n_exact"), r.getAs[Long]("n_lsh")))
    val docs = Tables.documents(spark, sf0001)
    val nDocs = docs.count()
    val nSampled = r.getAs[Long]("n_sampled")
    assert(nSampled > 0 && nSampled < nDocs)
    // pair-level truth on the sample = corpus truth restricted to sampled
    // endpoints (Jaccard is pairwise — subsetting the corpus cannot change
    // a surviving pair's score)
    val sampledIds = docs
      .filter(pmod(TextOps.tokenHash60(col("doc_id").cast("string")),
        lit(2L)) === 0L)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(sampledIds.size.toLong === nSampled)
    val fullExact = DedupOps
      .jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.5)
      .select(col("da"), col("db")).collect()
      .map(row => (row.getLong(0), row.getLong(1)))
      .filter { case (a, b) => sampledIds(a) && sampledIds(b) }.toSet
    assert(fullExact.size.toLong === r.getAs[Long]("n_exact"))
  }

  // ---- q215 ----------------------------------------------------------------

  test("q215: N_1 matches a direct singleton count; row identities hold") {
    import graft.text.TextOps
    val rows = SparkEntry.queries("q215_good_turing")(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("r") <= 10))
    val byR = rows.map(row => row.getAs[Long]("r") -> row).toMap
    rows.foreach { row =>
      assert(row.getAs[Long]("n_tokens")
        === row.getAs[Long]("r") * row.getAs[Long]("n_types"))
      val p = row.getAs[Double]("p_mass")
      assert(p > 0.0 && p <= 1.0)
      // gt_rstar identity against the r+1 row (0 when that row is absent)
      val expect = byR.get(row.getAs[Long]("r") + 1)
        .map(n => (row.getAs[Long]("r") + 1).toDouble *
          n.getAs[Long]("n_types") / row.getAs[Long]("n_types"))
        .getOrElse(if (row.getAs[Long]("r") == 10) Double.NaN else 0.0)
      if (!expect.isNaN)
        assert(row.getAs[Double]("gt_rstar") === expect, s"r=${row.get(0)}")
    }
    val singletons = Tables.documents(spark, sf0001)
      .select(explode(TextOps.shingles(col("text"), 3)).as("t"))
      .groupBy(col("t")).count().filter(col("count") === 1).count()
    assert(byR.get(1L).map(_.getAs[Long]("n_types")).getOrElse(0L)
      === singletons)
  }

  // ---- q216 ----------------------------------------------------------------

  test("q216: every source's rank-frequency slope is negative and sane; n_terms capped at 100") {
    val rows = SparkEntry.queries("q216_zipf_slope")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      assert(row.getAs[Long]("n_terms") <= 100)
      val slope = row.getAs[Double]("zipf_slope")
      assert(slope < 0.0 && slope > -5.0, s"slope=$slope for $row")
    }
  }

  // ---- q218 ----------------------------------------------------------------

  test("q218: EM separates the populations — m > u per field, λ in (0,1), weights signed accordingly") {
    val rows = SparkEntry.queries("q218_em_linkage")(spark, sf0001).collect()
    assert(rows.map(_.getAs[String]("field")).toSet === Set("name", "seg", "bal"))
    rows.foreach { row =>
      val m = row.getAs[Double]("m");
      val u = row.getAs[Double]("u")
      assert(m > u, s"field ${row.get(0)}: m=$m u=$u")
      assert(row.getAs[Double]("w_agree") > 0.0)
      assert(row.getAs[Double]("w_disagree") < 0.0)
      val lam = row.getAs[Double]("lambda_match")
      assert(lam > 0.0 && lam < 1.0)
    }
  }

  // ---- q219 ----------------------------------------------------------------

  test("q219: every flagged arrival is outside the 4x EWMA band") {
    val rows = SparkEntry.queries("q219_stream_ewma")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      val v = math.round(row.getAs[Double]("value_seen") * 100.0)
      val e = math.round(row.getAs[Double]("ewma_prev") * 100.0)
      assert(v > 4L * e || 4L * v < e, s"row $row inside the band")
    }
    val ids = rows.map(_.getAs[Long]("event_id"))
    assert(ids.sorted.toSeq === ids.toSeq)
  }

  // ---- q220 ----------------------------------------------------------------

  test("q220: no descent round loses recall; audited exact graph is 3-regular") {
    val r = SparkEntry.queries("q220_knn_graph")(spark, sf0001).collect().head
    val audited = r.getAs[Long]("n_audited")
    assert(audited > 0 && audited < r.getAs[Long]("n_vecs"))
    assert(r.getAs[Long]("n_exact") === 3L * audited)
    val ri = r.getAs[Double]("recall_init")
    val rr = r.getAs[Double]("recall_refined")
    val rr2 = r.getAs[Double]("recall_refined2")
    assert(ri >= 0.0 && ri <= 1.0 && rr >= 0.0 && rr <= 1.0 &&
      rr2 >= 0.0 && rr2 <= 1.0)
    assert(rr >= ri, s"round 1 lost recall: $ri -> $rr")
    assert(rr2 >= rr, s"round 2 lost recall: $rr -> $rr2")
  }

  // ---- q221 ----------------------------------------------------------------

  test("q221: S-curve is sane — rates bounded, analytic prediction strictly increasing across buckets") {
    val rows = SparkEntry.queries("q221_lsh_scurve")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      assert(row.getAs[Long]("n_caught") <= row.getAs[Long]("n_pairs"))
      val cr = row.getAs[Double]("catch_rate")
      val pr = row.getAs[Double]("pred_rate")
      assert(cr >= 0.0 && cr <= 1.0 && pr >= 0.0 && pr <= 1.0)
    }
    // buckets partition J ascending and 1-(1-J^4)^8 is monotone in J, so
    // per-bucket mean predictions must strictly increase
    val preds = rows.sortBy(_.getAs[Long]("j_bucket"))
      .map(_.getAs[Double]("pred_rate"))
    assert(preds.zip(preds.tail).forall { case (a, b) => a < b })
  }

  // ---- q222 ----------------------------------------------------------------

  test("q222: 4x15-bit banding is a complete blocking scheme — pair set equals brute-force Hamming<=3") {
    val out = SparkEntry.queries("q222_simhash_wide")(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    val sig = Oracles
      .simhash60(Tables.documents(spark, sf0001), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- sig; (b, sb) <- sig
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(out.nonEmpty)
    assert(out === brute)
  }

  // ---- q223 ----------------------------------------------------------------

  test("q223: stream coarse->fine routing equals the batch two-level assignment") {
    import graft.vector.VectorOps
    val out = SparkEntry.queries("q223_stream_ann_ivf2")(spark, sf0001)
      .collect()
    assert(out.nonEmpty)
    val e = Tables.embeddings(spark, sf0001)
    val n = e.count()
    val k = math.min(n, math.max(8L, math.ceil(n / 64.0).toLong)).toInt
    val c = math.max(2L, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
    val af = VectorOps.ivf2Assign(e, k, c).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(af(r.getAs[Long]("query_id")) === r.getAs[Long]("cell"))
      assert(af(r.getAs[Long]("neighbor_id")) === r.getAs[Long]("cell"))
      assert(r.getAs[Double]("cosine") >= 0.2)
    }
  }

  // ---- q224 ----------------------------------------------------------------

  test("q224: incremental star-edge refresh equals the full recompute (pure-growth theorem)") {
    val inc = SparkEntry.queries("q224_closure_refresh")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val v1 = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val off = graft.queries.TextQueries.AddedDocIdOffset
    val added = v1.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(lit("v2new "), col("text")).as("text"))
    val full = graft.sources.DedupClosure.closure(v1.unionByName(added))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === full)
    // the delta genuinely extends old components (added docs are
    // near-dups of their sources, so some canonical crosses the id gap)
    assert(inc.exists { case (doc, can) => doc >= off && can < off })
    // v2 ids are collision-free (the ScaleBench replica-namespace rule)
    assert(inc.size === inc.map(_._1).size)
  }

  // ---- q217 ----------------------------------------------------------------

  test("q217: shortlist is raw-only, weight-descending, and deterministic") {
    val q = SparkEntry.queries("q217_dsir_weights")
    val rows = q(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { row =>
      assert(row.getAs[String]("source") !== "src0")
      assert(row.getAs[Long]("n_tok") > 0)
    }
    val ws = rows.map(_.getAs[Double]("log_weight"))
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b })
    val again = q(spark, sf0001).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }
}
