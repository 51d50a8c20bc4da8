package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.graph.GraphOps
import graft.ops.Relational
import graft.text.TextOps

/** ScalaCheck properties for the algebraic invariants (SURVEY.md §5):
  * probabilities sum to 1, hop-k monotonicity, top-k size/determinism bounds,
  * MinHash estimate range. Each property runs few cases (a Spark job per
  * case) on tiny generated inputs.
  */
class PropertySpec extends SparkSuite {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(8).withWorkers(1)

  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  test("alias probabilities sum to 1 and parallel arrays align, any input") {
    val s = spark
    import s.implicits._
    val gen = Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b", "c"),
      Gen.choose(1L, 5L)))
    check(Prop.forAll(gen) { obs =>
      val df = Relational.aliasProbabilities(
        obs.toDF("alias", "entity"), "alias", "entity")
      df.collect().forall { r =>
        val probs = r.getSeq[Double](2)
        probs.nonEmpty && probs.size == r.getSeq[Long](1).size &&
          math.abs(probs.sum - 1.0) < 1e-9 && probs.forall(_ > 0)
      }
    })
  }

  test("alias priors == their two-level relational forms, any input with nulls") {
    val s = spark
    import s.implicits._
    val gen = Gen.listOf(Gen.zip(Gen.option(Gen.oneOf("a", "b", "c")),
      Gen.option(Gen.choose(1L, 5L)))).map(_.take(20))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    check(Prop.forAll(gen, Gen.choose(1, 3)) { (obs, cap) =>
      val df = obs.toDF("alias", "entity")
      rows(graft.text.EntityLinking.gazetteer(df, "alias", "entity", cap)) ==
        rows(Oracles.gazetteerTwoLevel(df, "alias", "entity", cap)) &&
      rows(Relational.aliasProbabilitiesLong(df, "alias", "entity")) ==
        rows(Oracles.aliasProbabilitiesLongTwoLevel(df, "alias", "entity")) &&
      rows(Relational.aliasProbabilities(df, "alias", "entity")) ==
        rows(Oracles.aliasProbabilitiesTwoLevel(df, "alias", "entity"))
    })
  }

  test("k-hop reached sets grow monotonically with k") {
    val s = spark
    import s.implicits._
    val edgeGen = Gen.listOfN(12, Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))
    check(Prop.forAll(edgeGen, Gen.choose(0L, 7L)) { (es, seed) =>
      val edges = GraphOps.symmetrize(es.toDF("src", "dst"))
      val seeds = Seq(seed).toDF("id")
      val r1 = GraphOps.kHop(edges, seeds, 1).as[Long].collect().toSet
      val r2 = GraphOps.kHop(edges, seeds, 2).as[Long].collect().toSet
      seed != -1 && Set(seed).subsetOf(r1) && r1.subsetOf(r2)
    })
  }

  test("top-k per group returns ≤ k rows per group and is deterministic under ties") {
    val s = spark
    import s.implicits._
    val gen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0, 2), Gen.choose(0, 3), Gen.choose(0L, 100L)))
    check(Prop.forAll(gen) { rows =>
      val df = rows.zipWithIndex.map { case ((g, v, id), _) => (g, v, id) }
        .toDF("g", "v", "id")
      val run1 = Relational.topKPerGroup(df, Seq(col("g")),
        Seq(col("v").desc, col("id").asc), 2).collect().toSet
      val run2 = Relational.topKPerGroup(df, Seq(col("g")),
        Seq(col("v").desc, col("id").asc), 2).collect().toSet
      val perGroup = run1.groupBy(_.getInt(0)).forall(_._2.size <= 2)
      perGroup && run1 == run2
    })
  }

  test("salted aggregation equals plain groupBy for any data and salt width") {
    val s = spark
    import s.implicits._
    val gen = Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("hot", "k1", "k2"),
      Gen.choose(0.0, 50.0).map(v => math.round(v * 100) / 100.0)))
    check(Prop.forAll(gen, Gen.choose(1, 8)) { (rows, salt) =>
      val df = rows.toDF("k", "v")
      val salted = Relational.saltedCountSum(df, "k", "v", salt, col("v"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val plain = df.groupBy("k")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,2)")).cast("double").as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      salted == plain
    })
  }

  test("fuzzy candidates: precision law — every pair is truly within maxDist; deterministic") {
    val s = spark
    import s.implicits._
    val word = Gen.choose(2, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    check(Prop.forAll(Gen.nonEmptyListOf(word), Gen.nonEmptyListOf(word)) {
      (probes, aliases) =>
        def lev(a: String, b: String): Int = {
          val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
            if (i == 0) j else if (j == 0) i else 0)
          for (i <- 1 to a.length; j <- 1 to b.length)
            d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
              d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
          d(a.length)(b.length)
        }
        val out = graft.text.FuzzyMatch.fuzzyCandidates(
            probes.toDF("token"), aliases.toDF("alias"), 2, 2, 5)
          .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
        val out2 = graft.text.FuzzyMatch.fuzzyCandidates(
            probes.toDF("token"), aliases.toDF("alias"), 2, 2, 5)
          .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
        out.forall { case (t, a, d) => d == lev(t, a) && d <= 2 } &&
          out.toSet == out2.toSet &&
          // every exact probe∈aliases match is always recalled (dist 0
          // shares all its bigrams with itself, so blocking cannot miss it)
          probes.toSet.intersect(aliases.toSet)
            .forall(w => out.exists { case (t, a, d) => t == w && a == w && d == 0 })
      })
  }

  test("chunks cover the token stream exactly: de-overlapped concat == original") {
    val s = spark
    import s.implicits._
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    check(Prop.forAll(Gen.listOf(word), Gen.choose(2, 6), Gen.choose(0, 1)) {
      (ws, size, overlap) =>
        val text = ws.mkString(" ")
        val chunks = Seq(text).toDF("text")
          .select(TextOps.chunks(col("text"), size, overlap).as("c"))
          .collect().head.getSeq[String](0)
        val stride = size - overlap
        val rebuilt = chunks.zipWithIndex.flatMap { case (c, i) =>
          val toks = c.split(' ').filter(_.nonEmpty)
          if (i == 0) toks else toks.drop(overlap min toks.length)
        }
        // dropping each chunk's leading overlap re-yields the token stream
        rebuilt.toSeq == ws &&
          chunks.forall(_.split(' ').count(_.nonEmpty) <= size) &&
          (ws.isEmpty || chunks.size == (ws.size + stride - 1) / stride)
      })
  }

  test("shingles are distinct, size-bounded, and empty below n tokens") {
    val s = spark
    import s.implicits._
    val word = Gen.oneOf("x", "y", "z", "w")
    check(Prop.forAll(Gen.listOf(word)) { ws =>
      val text = ws.mkString(" ")
      val sh = Seq(text).toDF("text")
        .select(TextOps.shingles(col("text"), 3).as("s"))
        .collect().head.getSeq[String](0)
      val expectedMax = math.max(0, ws.size - 2)
      sh.size <= expectedMax && sh.distinct.size == sh.size &&
        (ws.size >= 3 || sh.isEmpty)
    })
  }

  test("shingleHashes == sorted distinct tokenHash60 of the string shingles; null → null") {
    import graft.functions.GraftFunctions
    val s = spark
    import s.implicits._
    // tokens with non-ASCII bytes, a pipe and a no-break space (not \s);
    // separators mix spaces, tabs, \u000B, \f, \r and newlines; a tiny
    // vocabulary repeats n-grams within a text
    val token = Gen.oneOf("a", "b", "é", "日本", "x|y", "a\u00a0b", "Ünï")
    val sep = Gen.oneOf(" ", "  ", "\t", " \t ", "\n", "\u000b", "\f\r ")
    val text = for {
      ws <- Gen.choose(0, 9).flatMap(Gen.listOfN(_, token))
      seps <- Gen.listOfN(ws.size, sep)
      lead <- Gen.oneOf("", " ", "\t ")
      trail <- Gen.oneOf(true, false)
    } yield {
      val t = lead + ws.zip(seps).map { case (w, p) => w + p }.mkString
      if (trail) t else t.replaceAll("\\s+$", "")
    }
    check(Prop.forAll(Gen.listOfN(24, text), Gen.oneOf(1, 2, 3, 8)) { (texts, n) =>
      val df = (texts.map(Option(_)) ++ Seq(Some(""), None)).toDF("text")
      val rows = df.select(
          GraftFunctions.shingleHashes(col("text"), n).as("nat"),
          array_sort(array_distinct(transform(TextOps.shingles(col("text"), n),
            g => TextOps.tokenHash60(g)))).as("str"),
          col("text"))
        .collect()
      rows.forall { r =>
        if (r.isNullAt(2)) r.isNullAt(0)
        else r.getSeq[Long](0) == r.getSeq[Long](1)
      }
    })
  }

  test("prefix-filtered Jaccard == the all-pairs oracle, any corpus and threshold") {
    val s = spark
    import s.implicits._
    // a tiny vocabulary shares shingles across docs; the doc-unique token
    // u<i> makes singleton shingles that may fill part or all of a prefix
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = for {
      ws <- Gen.choose(0, 9).flatMap(Gen.listOfN(_, word))
      uniq <- Gen.choose(0, 3)
      at <- Gen.choose(0, ws.size)
      isNull <- Gen.frequency(9 -> false, 1 -> true)
    } yield (ws, uniq, at, isNull)
    check(Prop.forAll(Gen.listOfN(10, doc), Gen.oneOf(0.25, 0.5, 0.8, 0.99)) { (ds, t) =>
      val docs = ds.zipWithIndex.map { case ((ws, uniq, at, isNull), i) =>
        val u = Seq.fill(uniq)(s"u$i")
        i.toLong -> (if (isNull) null else (ws.take(at) ++ u ++ ws.drop(at)).mkString(" "))
      }.toDF("doc_id", "text")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      pairs(graft.dedup.DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", 3, t)) ==
        pairs(Oracles.jaccardPairs(docs, "doc_id", "text", 3, t))
    })
  }

  test("ivf2Assign: clusters are seed ids, and its distance is ≥ the flat argmin's") {
    val s = spark
    import s.implicits._
    // random small 2-d float corpora; k seeds = min ids; the two-level
    // route may only ever land at the flat nearest centroid OR FARTHER —
    // the defining inequality of an nprobe=1 IVF approximation
    val vecGen = Gen.listOfN(2, Gen.choose(-4, 4).map(_.toFloat))
    val gen = Gen.choose(4, 10).flatMap(n => Gen.listOfN(n, vecGen))
    check(Prop.forAll(gen) { vs =>
      val df = vs.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      val k = math.min(4, vs.size)
      val byId = vs.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap
      def d2(a: Seq[Float], b: Seq[Float]) =
        a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
      val seedIds = (0L until k.toLong).toSet
      val flat = graft.vector.VectorOps.kmeansAssign(df, k, 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val two = graft.vector.VectorOps.ivf2Assign(df, k, 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      two.keySet == flat.keySet &&
        two.values.forall(seedIds.contains) &&
        two.forall { case (id, cell) =>
          d2(byId(id), byId(cell)) >= d2(byId(id), byId(flat(id))) - 1e-9
        }
    })
  }
}
