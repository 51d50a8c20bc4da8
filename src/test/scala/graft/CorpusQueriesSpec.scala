package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-9 corpus-quality queries (q117–q121).
  * The DuckDB gate pins exact values at sf0.01; these pin the properties
  * that must hold on ANY corpus, so a refactor that keeps hash parity on
  * one dataset but breaks the math elsewhere still fails fast.
  */
class CorpusQueriesSpec extends SparkSuite {
  import SparkSpec.sf0001

  test("q117: bigram log-probs are ≤ 0 and every scored doc has a bigram") {
    val r = SparkEntry.queries("q117_bigram_lm_ppl")(spark, sf0001).collect()
    assert(r.nonEmpty)
    // (c2+1)/(c1+V) ≤ 1 since c2 ≤ c1 and V ≥ 1 ⇒ ln ≤ 0 per bigram
    assert(r.forall(_.getAs[Double]("avg_logprob") <= 0.0))
    assert(r.forall(_.getAs[Long]("n_bigrams") >= 1L))
  }

  test("q118: the keep flag is exactly the conjunction of its rule bounds") {
    val r = SparkEntry.queries("q118_gopher_rules")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val expect = row.getAs[Int]("n_words") >= 50 &&
        row.getAs[Int]("n_words") <= 100000 &&
        row.getAs[Double]("mean_word_len") >= 3.0 &&
        row.getAs[Double]("mean_word_len") <= 10.0 &&
        row.getAs[Double]("alpha_word_frac") > 0.8 &&
        row.getAs[Int]("stop_hits") >= 2 &&
        row.getAs[Double]("symbol_word_ratio") <= 0.1
      assert(row.getAs[Boolean]("keep") === expect, s"row $row")
    }
  }

  test("q120: at most 3 outliers per label, ranks contiguous, cosine in [-1,1]") {
    val r = SparkEntry.queries("q120_embedding_outliers")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[Int]("label")).foreach { case (_, rows) =>
      assert(rows.length <= 3)
      assert(rows.map(_.getAs[Int]("rn")).sorted.toSeq === (1 to rows.length))
    }
    assert(r.forall { row =>
      val c = row.getAs[Double]("cos_centroid"); c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12
    })
  }

  test("q121: containments are in (0,1], inter bounded by both set sizes, da < db") {
    val r = SparkEntry.queries("q121_containment_pairs")(spark, sf0001).collect()
    r.foreach { row =>
      val inter = row.getAs[Long]("inter")
      val na = row.getAs[Long]("n_a"); val nb = row.getAs[Long]("n_b")
      assert(row.getAs[Long]("da") < row.getAs[Long]("db"))
      assert(inter >= 1L && inter <= math.min(na, nb))
      val ca = row.getAs[Double]("containment_a")
      val cb = row.getAs[Double]("containment_b")
      assert(ca > 0.0 && ca <= 1.0 && cb > 0.0 && cb <= 1.0)
      assert(math.max(ca, cb) >= 0.6)
    }
  }

  test("q119: link-prediction pairs are non-adjacent with plausible Jaccard") {
    val r = SparkEntry.queries("q119_link_prediction")(spark, sf0001).collect()
    r.foreach { row =>
      assert(row.getAs[Long]("ia") < row.getAs[Long]("ib"))
      assert(row.getAs[Long]("cn") >= 2L)
      val j = row.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("q136: leakage-safety — no near-dup pair straddles a split boundary") {
    val split = SparkEntry.queries("q136_split_assign")(spark, sf0001)
      .select(col("doc_id"), col("split"), col("bucket")).cache()
    val rows = split.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val b = r.getAs[Long]("bucket"); b >= 0L && b < 100L
    })
    // The law the split exists for: both members of every LSH near-dup
    // pair land in the SAME split (checked against the pair list itself,
    // not the canonical ids the assignment was derived from).
    val pairs = graft.dedup.DedupOps.minhashPairs(graft.Tables.documents(spark, sf0001))
    val straddlers = pairs
      .join(split.select(col("doc_id").as("da"), col("split").as("sa")), Seq("da"))
      .join(split.select(col("doc_id").as("db"), col("split").as("sb")), Seq("db"))
      .filter(col("sa") =!= col("sb"))
      .count()
    assert(straddlers === 0L)
    split.unpersist()
  }

  test("q145: learned-BPE token counts sit between word count and character count") {
    val r = SparkEntry.queries("q145_bpe_corpus_tokens")(spark, sf0001).collect()
    assert(r.nonEmpty)
    val chars = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        aggregate(graft.text.TextOps.tokens(col("text")), lit(0L),
          (a, t) => a + length(t)).as("n_word_chars"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    r.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      val w = row.getAs[Long]("n_words")
      val b = row.getAs[Long]("n_bpe_tokens")
      // every word is ≥1 symbol; merges only ever shrink the char split
      assert(w <= b, s"doc $id: $w words > $b bpe tokens")
      assert(b <= chars(id), s"doc $id: $b bpe tokens > ${chars(id)} chars")
    }
  }

  test("q139: the kept docs are exactly the global priority top-k") {
    // sf0.01 (500 docs) so the 200-limit actually selects; priorities are
    // recomputed for ALL docs with the same library expressions and the
    // top-k law checked against the query's own output
    val d01 = "/root/testdata/sf0.01"
    val sel = SparkEntry.queries("q139_weighted_sample")(spark, d01).collect()
    assert(sel.length === 200)
    assert(sel.forall(_.getAs[Double]("priority") <= 0.0))
    val q60 = 1152921504606846976L
    val wfp = (floor(graft.text.TextOps.qualityScore(col("text")) * lit(1e9)))
      .cast("long") + lit(1L)
    val a = graft.functions.IntLn.iln1e9(
        graft.text.TextOps.tokenHash60(col("text")) + lit(1L)) -
      graft.functions.IntLn.iln1e9(lit(q60))
    val all = graft.Tables.documents(spark, d01)
      .select(col("doc_id"),
        (a.cast("double") / wfp.cast("double")).as("priority"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("priority"))
    val selIds = sel.map(_.getAs[Long]("doc_id")).toSet
    val worstKept = sel.map(r =>
      (r.getAs[Double]("priority"), r.getAs[Long]("doc_id"))).min
    // every unselected doc orders strictly below the worst kept one under
    // (priority DESC, doc_id ASC)
    all.filterNot(p => selIds(p._1)).foreach { case (id, pr) =>
      assert(pr < worstKept._1 || (pr == worstKept._1 && id > worstKept._2),
        s"doc $id (priority $pr) should have been selected")
    }
  }

  test("q141: clipped ⇔ the winsorized score moved, and clips stay near the 10% tails") {
    val r = SparkEntry.queries("q141_winsorized_quality")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val moved = row.getAs[Double]("quality_w") != row.getAs[Double]("quality")
      assert(row.getAs[Boolean]("clipped") === moved, s"row $row")
    }
    r.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val frac = rows.count(_.getAs[Boolean]("clipped")).toDouble / rows.length
      // percentile_disc band ⇒ at most ~5% per tail plus discreteness slack
      assert(frac <= 0.15, s"source $src clips $frac")
    }
  }

  test("q137: exactly one keep per cluster, and it attains the cluster max quality") {
    val r = SparkEntry.queries("q137_quality_canonical")(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[Long]("cluster")).foreach { case (_, rows) =>
      val kept = rows.filter(_.getAs[Boolean]("keep"))
      assert(kept.length === 1)
      val maxQ = rows.map(_.getAs[Double]("quality")).max
      assert(kept.head.getAs[Double]("quality") === maxQ)
    }
  }
}
