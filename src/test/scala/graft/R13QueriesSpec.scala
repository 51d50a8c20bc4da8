package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-13 operators (q181–q184). The DuckDB
  * gate pins exact values at sf0.01; these pin the properties that must
  * hold on ANY corpus — the Fellegi–Sunter fixture arithmetic, the
  * blocking-report identities, the snapshot-diff partition of the corpus,
  * and the curriculum's monotonicity.
  */
class R13QueriesSpec extends SparkSuite {
  import SparkSpec.sf0001

  // ---- q181 ----------------------------------------------------------------

  test("q181: only positive scores out; true-pair agreement vector matches the fixture arithmetic") {
    val r = SparkEntry.queries("q181_fs_linkage")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(row.getAs[Double]("score") > 0.0, s"row $row"))
    // rows that ARE true pairs (ra = 2k even, rb = ra+1): the agreement
    // booleans are predicted by the perturbation residues
    val truePairs = r.filter(row =>
      row.getAs[Long]("ra") % 2 == 0 &&
        row.getAs[Long]("rb") == row.getAs[Long]("ra") + 1)
    assert(truePairs.nonEmpty)
    truePairs.foreach { row =>
      val k = row.getAs[Long]("ra") / 2
      assert(k % 3 == 0)
      assert(row.getAs[Boolean]("name_eq") === (k % 6 != 0), s"k=$k")
      assert(row.getAs[Boolean]("seg_eq") === (k % 12 != 0), s"k=$k")
      assert(row.getAs[Boolean]("bal_close") === (k % 5 <= 2), s"k=$k")
    }
  }

  test("q181: every fully-agreeing blocked true pair is in the output") {
    val out = SparkEntry.queries("q181_fs_linkage")(spark, sf0001).collect()
      .map(row => (row.getAs[Long]("ra"), row.getAs[Long]("rb"))).toSet
    val n = Tables.customer(spark, sf0001).agg(max(col("c_custkey")))
      .collect().head.getLong(0)
    // k%3==0 (B exists), k%15!=0 (nation block holds), and all three
    // fields agree → the FS score is the maximal pattern, necessarily > 0
    val expect = (0L to n).filter(k =>
      k % 3 == 0 && k % 15 != 0 && k % 6 != 0 && k % 12 != 0 && k % 5 <= 2)
    assert(expect.nonEmpty)
    expect.foreach(k => assert(out.contains((2 * k, 2 * k + 1)), s"k=$k"))
  }

  // ---- q182 ----------------------------------------------------------------

  test("q182: name_block captures all true pairs; composite completeness equals nation's; candidate-mass ordering") {
    val r = SparkEntry.queries("q182_blocking_quality")(spark, sf0001)
      .collect().map(row => row.getAs[String]("scheme") -> row).toMap
    assert(r.keySet === Set("nation", "name_block", "composite"))
    r.values.foreach { row =>
      val rr = row.getAs[Double]("reduction_ratio")
      assert(rr >= 0.0 && rr <= 1.0)
      assert(row.getAs[Long]("captured") <= row.getAs[Long]("true_pairs"))
    }
    // the ±5 name-digit flip never crosses a /200 block boundary
    assert(r("name_block").getAs[Double]("pair_completeness") === 1.0)
    // nation is broken exactly on the mod-15 set, name never — so the
    // composite's misses are exactly nation's misses
    assert(r("composite").getAs[Long]("captured") ===
      r("nation").getAs[Long]("captured"))
    assert(r("nation").getAs[Double]("pair_completeness") < 1.0)
    // intersecting keys only shrinks blocks
    assert(r("composite").getAs[Long]("candidate_pairs") <=
      math.min(r("nation").getAs[Long]("candidate_pairs"),
        r("name_block").getAs[Long]("candidate_pairs")))
  }

  // ---- q183 ----------------------------------------------------------------

  test("q183: statuses partition both snapshots; counts match the residue arithmetic") {
    val r = SparkEntry.queries("q183_snapshot_diff")(spark, sf0001).collect()
    val byStatus = r.groupBy(_.getAs[String]("status"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val ids = Tables.documents(spark, sf0001).select(col("doc_id"))
      .collect().map(_.getLong(0))
    val removed = ids.count(_ % 13 == 0).toLong
    val changed = ids.count(i => i % 7 == 0 && i % 13 != 0).toLong
    val added = ids.count(_ % 11 == 0).toLong
    assert(byStatus.getOrElse("removed", 0L) === removed)
    assert(byStatus.getOrElse("changed", 0L) === changed)
    assert(byStatus.getOrElse("added", 0L) === added)
    assert(byStatus.getOrElse("unchanged", 0L) ===
      ids.length - removed - changed)
  }

  // ---- q184 ----------------------------------------------------------------

  test("q184: 4 stages per source covering every doc; rank order is avg-quality order; stages ordered within source") {
    val r = SparkEntry.queries("q184_curriculum_order")(spark, sf0001).collect()
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(r.map(_.getAs[Long]("n_docs")).sum === nDocs)
    val sources = r.map(_.getAs[String]("source")).distinct
    sources.foreach { src =>
      val stages = r.filter(_.getAs[String]("source") == src)
        .sortBy(_.getAs[Int]("stage"))
      assert(stages.map(_.getAs[Int]("stage")).toSeq === Seq(1, 2, 3, 4))
      // ntile orders by quality ascending → stage means non-decreasing
      val avgs = stages.map(_.getAs[Double]("avg_quality")).toSeq
      assert(avgs === avgs.sorted, s"source $src: $avgs")
    }
    // curriculum_rank is the global easiest-first order
    val ranked = r.sortBy(_.getAs[Int]("curriculum_rank"))
      .map(_.getAs[Double]("avg_quality")).toSeq
    assert(ranked === ranked.sorted.reverse)
  }

  // ---- q185 / ml.Pca ------------------------------------------------------

  test("Pca: power iteration finds the dominant axis of a synthetic anisotropic cloud") {
    val s = spark
    import s.implicits._
    // variance concentrated on dim 7: x7 = ±1 alternating, other dims a
    // small deterministic ripple — the top principal axis is e7 up to sign
    val rows = (0 until 200).map { r =>
      (r.toLong, Array.tabulate(16) { i =>
        if (i == 7) (if (r % 2 == 0) 1.0f else -1.0f)
        else ((r * 31 + i * 17) % 7 - 3) / 100.0f
      })
    }
    val df = rows.toDF("vec_id", "embedding")
    val (n, sums, m) = graft.ml.Pca.momentSums(df, "embedding", 16)
    assert(n === 200L)
    val w = graft.ml.Pca.powerIterate(graft.ml.Pca.covMatrix(n, sums, m), 8)
    val dom = math.abs(w(7))
    val rest = w.zipWithIndex.filter(_._2 != 7).map(x => math.abs(x._1)).max
    assert(dom > 50 * rest, s"w = ${w.mkString(",")}")
    // projections recover the ±1 alternation ordering
    val proj = df.select(col("vec_id"),
        graft.ml.Pca.projection(col("embedding"), w).as("p"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("p"))
    val even = proj.filter(_._1 % 2 == 0).map(_._2)
    val odd = proj.filter(_._1 % 2 == 1).map(_._2)
    assert(even.forall(p => odd.forall(q => (p > 0) != (q > 0))),
      "even/odd rows must project to opposite signs")
  }

  test("q186: stream-static linkage emits the fully-agreeing true pairs with positive scores") {
    val r = SparkEntry.queries("q186_stream_linkage")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Double]("score") > 0.0)
      // stream side is B-records only: rb is always a B id, ra an A id
      assert(row.getAs[Long]("rb") % 2 === 1L)
      assert(row.getAs[Long]("ra") % 2 === 0L)
    }
    val out = r.map(row => (row.getAs[Long]("ra"), row.getAs[Long]("rb"))).toSet
    val n = Tables.customer(spark, sf0001).agg(max(col("c_custkey")))
      .collect().head.getLong(0)
    val expect = (0L to n).filter(k =>
      k % 3 == 0 && k % 15 != 0 && k % 6 != 0 && k % 12 != 0 && k % 5 <= 2)
    expect.foreach(k => assert(out.contains((2 * k, 2 * k + 1)), s"k=$k"))
  }

  test("q185: projections are non-degenerate and deterministic across runs") {
    val a = SparkEntry.queries("q185_embedding_pca")(spark, sf0001).collect()
    assert(a.nonEmpty)
    assert(a.map(_.getAs[Double]("pc1")).distinct.length > 1)
    val b = SparkEntry.queries("q185_embedding_pca")(spark, sf0001).collect()
    assert(a.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      b.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  // ---- q187 ----------------------------------------------------------------

  test("q187: exactly the top-quartile most-prototypical of each cell is pruned") {
    val r = SparkEntry.queries("q187_prototype_prune")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[Long]("cluster")).foreach { case (cl, rows) =>
      val pruned = rows.filter(_.getAs[Boolean]("pruned"))
      assert(pruned.length === rows.length / 4, s"cluster $cl")
      // pruned = the HIGHEST prototypicality ranks (1..floor(n/4))
      assert(pruned.map(_.getAs[Int]("rn")).sorted.toSeq ===
        (1 to rows.length / 4).toSeq, s"cluster $cl")
      val minKept = rows.filterNot(_.getAs[Boolean]("pruned"))
        .map(_.getAs[Double]("proto_cos")).maxOption.getOrElse(-2.0)
      pruned.foreach(p => assert(p.getAs[Double]("proto_cos") >= minKept
        || p.getAs[Double]("proto_cos") >= minKept - 1e-12, s"cluster $cl"))
    }
  }

  // ---- q188 ----------------------------------------------------------------

  test("q188: balance report invariants (counts add up, imbalance >= 1)") {
    val r = SparkEntry.queries("q188_ivf_balance")(spark, sf0001).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("cells_used") + row.getAs[Long]("cells_empty") ===
      row.getAs[Long]("cells_seeded"))
    assert(row.getAs[Long]("min_size") <= row.getAs[Long]("max_size"))
    assert(row.getAs[Double]("avg_size") >= row.getAs[Long]("min_size").toDouble)
    assert(row.getAs[Double]("avg_size") <= row.getAs[Long]("max_size").toDouble)
    assert(row.getAs[Double]("imbalance") >= 1.0)
  }

  // ---- q189 ----------------------------------------------------------------

  test("q189: JL ratios concentrate near 1 (per-pair bounds + mean)") {
    val r = SparkEntry.queries("q189_jl_distortion")(spark, sf0001).collect()
    assert(r.nonEmpty)
    val ratios = r.filterNot(_.isNullAt(r.head.fieldIndex("ratio")))
      .map(_.getAs[Double]("ratio"))
    assert(ratios.nonEmpty)
    ratios.foreach(x => assert(x > 0.35 && x < 2.0, s"ratio $x"))
    val mean = ratios.sum / ratios.length
    assert(mean > 0.8 && mean < 1.2, s"mean $mean")
    // the projection is a real contraction of the representation: 16 dims
    r.foreach(row => assert(row.getAs[Double]("d_proj") > 0.0))
  }

  // ---- q190 ----------------------------------------------------------------

  test("q190: corruption counts and status precedence follow the fixture residues") {
    val r = SparkEntry.queries("q190_encoding_qa")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val status = row.getAs[String]("status")
      assert(Set("clean", "suspect", "bad").contains(status))
      val (repl, ctrl, moji) = (row.getAs[Long]("repl_chars"),
        row.getAs[Long]("ctrl_chars"), row.getAs[Long]("moji_chars"))
      status match {
        case "bad"     => assert(repl + ctrl > 0)
        case "suspect" => assert(repl === 0L && ctrl === 0L && moji > 0)
        case "clean"   => assert(repl === 0L && ctrl === 0L && moji === 0L)
      }
    }
    val totalDocs = r.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs === Tables.documents(spark, sf0001).count())
  }

  // ---- q191 ----------------------------------------------------------------

  test("q191: survival curve is monotone and saturates at the lowest threshold") {
    val r = SparkEntry.queries("q191_quality_sweep")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_.getAs[Double]("threshold"))
      val docs = sorted.map(_.getAs[Long]("surviving_docs"))
      assert(docs.zip(docs.tail).forall { case (a, b) => a >= b }, s"src $src")
      assert(math.abs(sorted.head.getAs[Double]("doc_frac") - 1.0) < 1e-12,
        s"src $src: lowest threshold must retain everything")
    }
  }

  // ---- q192 ----------------------------------------------------------------

  test("q192: hapax <= types <= tokens and ratios in (0, 1]") {
    val r = SparkEntry.queries("q192_lexical_diversity")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("n_hapax") <= row.getAs[Long]("n_types"))
      assert(row.getAs[Long]("n_types") <= row.getAs[Long]("n_tokens"))
      val ttr = row.getAs[Double]("ttr")
      assert(ttr > 0.0 && ttr <= 1.0)
    }
  }

  // ---- q193 ----------------------------------------------------------------

  test("q193: targets exhaust the budget and epochs fall with source size") {
    val r = SparkEntry.queries("q193_epoch_plan")(spark, sf0001).collect()
    assert(r.nonEmpty)
    val total = r.map(_.getAs[Long]("n_toks")).sum
    val budget = 4L * total
    val targets = r.map(_.getAs[Long]("target_toks")).sum
    assert(targets <= budget && targets >= budget - r.length,
      s"floor rounding loses at most one token per source: $targets vs $budget")
    // temperature weighting: smaller sources get MORE epochs
    val bySize = r.sortBy(_.getAs[Long]("n_toks"))
    val ep = bySize.map(_.getAs[Long]("epochs_x1e6"))
    assert(ep.zip(ep.tail).forall { case (a, b) => a >= b },
      "epochs must be non-increasing in source size")
    r.foreach { row =>
      val (t, n) = (row.getAs[Long]("target_toks"), row.getAs[Long]("n_toks"))
      assert(row.getAs[Long]("n_repeats") === (t + n - 1) / n)
    }
  }

  // ---- q196 ----------------------------------------------------------------

  test("q196: PII totals match the injection residues exactly") {
    val r = SparkEntry.queries("q196_pii_density")(spark, sf0001).collect()
    assert(r.nonEmpty)
    val ids = Tables.documents(spark, sf0001).select(col("doc_id"))
      .collect().map(_.getLong(0))
    assert(r.map(_.getAs[Long]("n_emails")).sum === ids.count(_ % 7 == 0))
    assert(r.map(_.getAs[Long]("n_numbers")).sum === ids.count(_ % 11 == 0))
    r.foreach { row =>
      assert(row.getAs[Long]("pii_docs") <= row.getAs[Long]("n_docs"))
      val f = row.getAs[Double]("pii_frac")
      assert(f >= 0.0 && f <= 1.0)
    }
  }

  // ---- q197 ----------------------------------------------------------------

  test("q197: estimates are i/32 grid points and concentrate near truth") {
    val r = SparkEntry.queries("q197_minhash_accuracy")(spark, sf0001)
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val est = row.getAs[Double]("est_jaccard")
      assert(math.abs(est * 32 - math.round(est * 32)) < 1e-12,
        s"est $est must be a multiple of 1/32")
      assert(math.abs(row.getAs[Double]("abs_err") -
        math.abs(row.getAs[Double]("jaccard") - est)) < 1e-15)
    }
    val meanErr = r.map(_.getAs[Double]("abs_err")).sum / r.length
    assert(meanErr < 0.15, s"k=32 MinHash mean error $meanErr")
  }

  // ---- q198 ----------------------------------------------------------------

  test("q198: drift flag is exactly the fixed-point rule; windows align to the minute") {
    // sf0.01: enough doc_ids to span multiple 60-second windows
    val r = SparkEntry.queries("q198_stream_quality_drift")(
      spark, "/root/testdata/sf0.01").collect()
    assert(r.length > 20, "must produce multiple windows")
    r.foreach { row =>
      assert(row.getAs[Long]("w_start") % 60 === 0L)
      val dev = math.abs(row.getAs[Long]("mean_qfp") -
        row.getAs[Long]("base_qfp"))
      assert(row.getAs[Boolean]("drift") === (dev > 30000000L))
    }
    assert(r.exists(_.getAs[Boolean]("drift")) &&
      r.exists(!_.getAs[Boolean]("drift")),
      "both flag values must occur on the sf0.01 fixture")
  }

  // ---- q195 ----------------------------------------------------------------

  test("q195: histogram prune takes at least the top quartile, by prototypicality") {
    val r = SparkEntry.queries("q195_prototype_prune_hist")(spark, sf0001)
      .collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[Long]("cluster")).foreach { case (cl, rows) =>
      val pruned = rows.filter(_.getAs[Boolean]("pruned"))
      assert(pruned.length >= math.ceil(rows.length * 0.25).toLong,
        s"cluster $cl: threshold guarantees >= 25% pruned")
      // bin granularity still separates cleanly: every pruned cosine
      // exceeds every kept cosine
      val kept = rows.filterNot(_.getAs[Boolean]("pruned"))
      if (pruned.nonEmpty && kept.nonEmpty)
        assert(pruned.map(_.getAs[Double]("proto_cos")).min >=
          kept.map(_.getAs[Double]("proto_cos")).max, s"cluster $cl")
    }
  }

  // ---- q208 ----------------------------------------------------------------

  test("q208: bucket fractions sum to 1 and totals agree with q52") {
    val d = "/root/testdata/sf0.01"
    val r = SparkEntry.queries("q208_quality_dup_profile")(spark, d)
      .collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[Int]("q_bucket")).foreach { case (b, rows) =>
      val f = rows.map(_.getAs[Double]("frac_of_bucket")).sum
      assert(math.abs(f - 1.0) < 1e-12, s"bucket $b fractions sum to $f")
    }
    assert(r.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, d).count())
    val dupTotal = r.filter(_.getAs[Boolean]("is_dup"))
      .map(_.getAs[Long]("n_docs")).sum
    assert(dupTotal === SparkEntry.queries("q52_dedup_canonical")(spark, d)
      .filter(!col("is_canonical")).count())
  }

  // ---- q207 ----------------------------------------------------------------

  test("q207: calibration bins are consistent and the decision boundary separates") {
    val r = SparkEntry.queries("q207_calibration_bins")(
      spark, "/root/testdata/sf0.01").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("n_pos") <= row.getAs[Long]("n"))
      val mp = row.getAs[Double]("mean_p")
      val bin = row.getAs[Long]("bin")
      // the bin's mean prediction lies inside the bin
      assert(mp >= bin / 10.0 - 1e-9 && mp < (bin + 1) / 10.0 + 1e-9,
        s"bin $bin mean_p $mp")
    }
    // bins under the z >= 0 decision boundary (p < 0.5) are mostly
    // negative, bins above mostly positive — the q168 97% separator
    val below = r.filter(_.getAs[Long]("bin") < 5)
    val above = r.filter(_.getAs[Long]("bin") >= 5)
    assert(below.map(_.getAs[Long]("n_pos")).sum.toDouble <=
      0.2 * below.map(_.getAs[Long]("n")).sum)
    assert(above.map(_.getAs[Long]("n_pos")).sum.toDouble >=
      0.8 * above.map(_.getAs[Long]("n")).sum)
  }

  // ---- q206 ----------------------------------------------------------------

  test("q206: P/R identities hold and both-counts agree with q22/q23") {
    val r = SparkEntry.queries("q206_lsh_recall_report")(
      spark, "/root/testdata/sf0.01").collect()
    assert(r.length === 1)
    val row = r.head
    val (ne, nl, nb) = (row.getAs[Long]("n_exact"), row.getAs[Long]("n_lsh"),
      row.getAs[Long]("n_both"))
    assert(nb <= ne && nb <= nl)
    assert(math.abs(row.getAs[Double]("precision") - nb.toDouble / nl) < 1e-15)
    assert(math.abs(row.getAs[Double]("recall") - nb.toDouble / ne) < 1e-15)
    val d = "/root/testdata/sf0.01"
    assert(ne === SparkEntry.queries("q22_jaccard_pairs")(spark, d).count())
    assert(nl === SparkEntry.queries("q23_minhash_pairs")(spark, d).count())
  }

  // ---- q205 ----------------------------------------------------------------

  test("q205: CMS estimates never undercount and each window ranks exactly 3") {
    val r = SparkEntry.queries("q205_stream_cms_topk")(
      spark, "/root/testdata/sf0.01").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("est") >= row.getAs[Long]("exact"),
        "Count-Min is an always->= overestimate")
      assert(row.getAs[Int]("rn") >= 1 && row.getAs[Int]("rn") <= 3)
    }
    r.groupBy(_.getAs[Long]("w_start")).foreach { case (w, rows) =>
      assert(rows.map(_.getAs[Int]("rn")).sorted.toSeq === Seq(1, 2, 3),
        s"window $w")
    }
  }

  // ---- q204 ----------------------------------------------------------------

  test("q204: effective <= raw tokens per source and the totals agree with q52") {
    val r = SparkEntry.queries("q204_effective_tokens")(spark, sf0001)
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("effective_tokens") <=
        row.getAs[Long]("raw_tokens"))
      val sv = row.getAs[Double]("savings")
      assert(sv >= 0.0 && sv < 1.0)
    }
    // total effective tokens = tokens of q52's canonical keepers
    import graft.text.TextOps
    val keepers = SparkEntry.queries("q52_dedup_canonical")(spark, sf0001)
      .filter(col("is_canonical")).select(col("doc_id"))
    val expect = Tables.documents(spark, sf0001)
      .join(keepers, Seq("doc_id"))
      .agg(sum(size(TextOps.tokens(col("text"))).cast("long")))
      .collect().head.getLong(0)
    assert(r.map(_.getAs[Long]("effective_tokens")).sum === expect)
  }

  // ---- q202 ----------------------------------------------------------------

  test("q202: banded emission is COMPLETE for Hamming <= 3 (pigeonhole law)") {
    val emitted = SparkEntry.queries("q202_simhash_pairs")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth off the same signatures
    val sigs = Oracles
      .simhash(Tables.documents(spark, sf0001), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (da, sa) <- sigs; (db, sb) <- sigs
      if da < db && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (da, db)).toSet
    assert(emitted === truth, "blocking must lose nothing at Hamming <= 3")
  }

  // ---- q203 ----------------------------------------------------------------

  test("q203: coverage is a valid fraction per eval doc") {
    val r = SparkEntry.queries("q203_ngram_coverage")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("n_covered") <= row.getAs[Long]("n_grams"))
      val c = row.getAs[Double]("coverage")
      assert(c >= 0.0 && c <= 1.0)
    }
  }

  // ---- q201 ----------------------------------------------------------------

  test("q201: every probe verdict points at a real src0 doc, counted once") {
    val r = SparkEntry.queries("q201_stream_dedup_probe")(
      spark, "/root/testdata/sf0.01").collect()
    // sf0.01 has cross-source near-dups; sf0.001 may not
    assert(r.nonEmpty)
    val src0 = Tables.documents(spark, "/root/testdata/sf0.01")
      .filter(col("source") === "src0").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    r.foreach { row =>
      assert(src0.contains(row.getAs[Long]("canonical")))
      assert(!src0.contains(row.getAs[Long]("doc_id")),
        "arrivals are non-src0 by construction")
      assert(row.getAs[Long]("n_matches") >= 1L)
    }
  }

  // ---- q200 ----------------------------------------------------------------

  test("q200: suspects are exactly the strict-majority disagreements") {
    val r = SparkEntry.queries("q200_label_noise_knn")(spark, sf0001)
      .collect()
    assert(r.length ===
      Tables.embeddings(spark, sf0001).count(), "one verdict per vector")
    r.foreach { row =>
      val suspect = row.getAs[Boolean]("suspect")
      if (row.isNullAt(row.fieldIndex("maj_label"))) assert(!suspect)
      else {
        val c = row.getAs[Long]("maj_count")
        assert(c >= 1L && c <= 5L)
        assert(suspect === (c >= 3L &&
          row.getAs[Int]("maj_label") != row.getAs[Int]("label")))
      }
    }
  }

  // ---- q199 ----------------------------------------------------------------

  test("q199: tier counts partition the corpus and agree with q52's closure") {
    val r = SparkEntry.queries("q199_dedup_tier_overlap")(spark, sf0001)
      .collect()
    assert(r.nonEmpty)
    val byTier = r.map(x =>
      x.getAs[String]("tier") -> x.getAs[Long]("n_docs")).toMap
    assert(byTier.keySet.subsetOf(
      Set("both", "exact_only", "near_only", "neither")))
    assert(byTier.values.sum === Tables.documents(spark, sf0001).count())
    val nearDups = SparkEntry.queries("q52_dedup_canonical")(spark, sf0001)
      .filter(!col("is_canonical")).count()
    assert(byTier.getOrElse("near_only", 0L) + byTier.getOrElse("both", 0L)
      === nearDups)
  }

  // ---- q194 ----------------------------------------------------------------

  test("q194: stream ANN emits only above-threshold, cross-slice, same-cell pairs") {
    val r = SparkEntry.queries("q194_stream_ann")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("query_id") % 16 === 0L)
      assert(row.getAs[Long]("neighbor_id") % 16 !== 0L)
      assert(row.getAs[Double]("cosine") >= 0.2)
    }
    // stateless replay: a second run emits the identical candidate set
    val again = SparkEntry.queries("q194_stream_ann")(spark, sf0001).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(2))).toSet ===
      again.map(x => (x.getLong(0), x.getLong(2))).toSet)
  }
}
