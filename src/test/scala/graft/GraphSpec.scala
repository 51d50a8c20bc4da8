package graft

import org.apache.spark.sql.functions._

import graft.graph.GraphOps
import graft.pipeline.Erkg

/** Graph operator specs: frontier semantics (SURVEY.md §7 "what's hard" (a)),
  * DataFrame-vs-GraphX twins, component labeling.
  */
class GraphSpec extends SparkSuite {
  import SparkSpec.sf0001

  /** Tiny path graph: 1-2-3-4-5, plus isolated pair 10-11. */
  private def pathEdges = {
    import spark.implicits._
    GraphOps.symmetrize(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
        .toDF("src", "dst"))
  }

  test("G3-G6 kHop: hop k expands from the union of hops 0..k-1") {
    import spark.implicits._
    val seeds = Seq(1L).toDF("id")
    val got = GraphOps.kHop(pathEdges, seeds, 2).as[Long].collect().toSet
    // ball of radius 2 around 1 on the path graph
    assert(got === Set(1L, 2L, 3L))
  }

  test("kHop DataFrame == kHop GraphX on the entity graph") {
    import spark.implicits._
    val edges = Erkg.entityEdges(spark, sf0001).cache()
    val seeds = Erkg.seeds(spark, sf0001)
    val df = GraphOps.kHop(edges, seeds, 2).as[Long].collect().toSet
    val gx = Oracles.kHopGraphX(spark, edges, seeds, 2).as[Long].collect().toSet
    assert(df === gx)
    assert(df.nonEmpty)
  }

  test("kHop monotonicity: ball(k) ⊆ ball(k+1)") {
    import spark.implicits._
    val edges = Erkg.entityEdges(spark, sf0001).cache()
    val seeds = Erkg.seeds(spark, sf0001)
    val b1 = GraphOps.kHop(edges, seeds, 1).as[Long].collect().toSet
    val b2 = GraphOps.kHop(edges, seeds, 2).as[Long].collect().toSet
    assert(b1.subsetOf(b2))
  }

  test("G7 connected components: path and pair get separate min-id labels") {
    import spark.implicits._
    val cc = GraphOps.connectedComponents(spark, pathEdges)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L).forall(cc(_) == 10L))
  }

  test("W2 PageRank: symmetric path graph ranks center highest") {
    import spark.implicits._
    val pr = Oracles.pageRank(spark, pathEdges, 20)
      .as[(Long, Double)].collect().toMap
    assert(pr(3L) > pr(1L))   // center of the path beats an endpoint
    assert(pr(2L) > pr(1L))
  }

  test("G2 hasRef flags referenced vertices only") {
    import spark.implicits._
    val verts = Seq(1L, 2L, 99L).toDF("id")
    val out = GraphOps.hasRef(verts, pathEdges, "id")
      .as[(Long, Boolean)].collect().toMap
    assert(out(1L) && out(2L) && !out(99L))
  }

  test("bfsDistances labels first-reach hops; beyond maxHops unlabeled") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5 plus a shortcut 1-3: dist(3) must be 1 (not 2)
    val edges0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L))
    val sym = (edges0 ++ edges0.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val out = GraphOps.bfsDistances(sym, seeds, 2).as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
    // 5 is 3 hops away — outside maxHops=2
    assert(!out.contains(5L))
  }

  test("ssspWeighted: cheap multi-hop path beats expensive direct edge") {
    val s = spark
    import s.implicits._
    // 1→4 direct costs 10; 1→2→3→4 costs 1+1+1=3. BFS would say dist(4)=1;
    // weighted SSSP must report cost(4)=3 once rounds allow the long path.
    val edges0 = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 10L))
    val sym = (edges0 ++ edges0.map { case (a, b, c) => (b, a, c) })
      .toDF("src", "dst", "cost")
    val seeds = Seq(1L).toDF("id")
    val out = GraphOps.ssspWeighted(sym, seeds, 4).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // with a single relaxation round only the direct edges are reachable
    val r1 = GraphOps.ssspWeighted(sym, seeds, 1).as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 1L, 4L -> 10L))
  }

  test("ssspWeighted DataFrame == Pregel twin on the co-shopper projection") {
    val s = spark
    import s.implicits._
    val e = Erkg.entityEdges(s, sf0001).filter(col("src") < Erkg.supplierOffset)
    val proj = e.as("a").join(e.as("b"),
        col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src"), col("b.src").as("dst"))
      .agg(count(lit(1)).as("cost"))
      .filter(col("cost") >= 2)
    val sym = proj.unionByName(
      proj.select(col("dst").as("src"), col("src").as("dst"), col("cost")))
      .cache()
    val seeds = proj.agg(min(col("src")).as("id"))
    val df = GraphOps.ssspWeighted(sym, seeds, 4)
      .as[(Long, Long)].collect().toSet
    val gx = Oracles.ssspWeightedGraphX(s, sym, seeds, 4)
      .as[(Long, Long)].collect().toSet
    sym.unpersist()
    assert(df == gx)
    assert(df.nonEmpty)
  }

  test("triangleCounts: K4 has 4 triangles, every vertex in 3; path has none") {
    val s = spark
    import s.implicits._
    // K4 on {1,2,3,4}, canonical src<dst
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val out = GraphOps.triangleCounts(k4).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a path has no triangles → empty result
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(GraphOps.triangleCounts(path).isEmpty)
  }

  test("kCore: k=2 peels pendant chain; triangle survives with degree 2") {
    val s = spark
    import s.implicits._
    // triangle {1,2,3} with a pendant chain 3-4-5: the chain must peel in
    // TWO rounds (5 first, then 4 — removing 5 is what exposes 4)
    val e0 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val sym = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.kCore(sym, 2, 8).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the max degree empties the graph
    assert(GraphOps.kCore(sym, 4, 8).isEmpty)
  }

  test("kCore: monotone in k — the (k+1)-core is a subgraph of the k-core") {
    val s = spark
    import s.implicits._
    val e = Erkg.entityEdges(s, sf0001).filter(col("src") < Erkg.supplierOffset)
    val proj = e.as("a").join(e.as("b"),
        col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src"), col("b.src").as("dst"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select(col("src"), col("dst"))
    val sym = GraphOps.symmetrize(proj).cache()
    val cores = (2 to 4).map(k =>
      GraphOps.kCore(sym, k, 12).as[(Long, Long)].collect().toMap)
    sym.unpersist()
    for (Seq(lo, hi) <- cores.sliding(2)) {
      assert(hi.keySet.subsetOf(lo.keySet), "higher k must shrink the core")
      // degrees can only DROP when more vertices peel away
      hi.keys.foreach(id => assert(hi(id) <= lo(id)))
    }
  }

  test("kCore: bounded rounds == converged result once the peel stabilizes") {
    val s = spark
    import s.implicits._
    val e = Erkg.entityEdges(s, sf0001).filter(col("src") < Erkg.supplierOffset)
    val proj = e.as("a").join(e.as("b"),
        col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src"), col("b.src").as("dst"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select(col("src"), col("dst"))
    val sym = GraphOps.symmetrize(proj).cache()
    val r8 = GraphOps.kCore(sym, 3, 8).as[(Long, Long)].collect().toSet
    val r20 = GraphOps.kCore(sym, 3, 20).as[(Long, Long)].collect().toSet
    sym.unpersist()
    assert(r8 == r20)
    assert(r8.nonEmpty)
    // every survivor keeps >= k in-core neighbors — the k-core invariant
    assert(r8.forall(_._2 >= 3L))
  }

  test("personalized PageRank: mass anchors to the seed; all-seeds == global PageRank") {
    val s = spark
    import s.implicits._
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val sym = GraphOps.symmetrize(e0.toDF("src", "dst"))
    val ppr = GraphOps.personalizedPageRankDeterministic(
        sym, Seq(1L).toDF("id"), 10)
      .as[(Long, Double)].collect().toMap
    // mass conserved on a symmetric graph (no dangling nodes)
    assert(math.abs(ppr.values.sum - 1.0) < 1e-9)
    // the seed end of the path outranks the far end
    assert(ppr(1L) == ppr.values.max && ppr(1L) > ppr(5L))
    assert(ppr(2L) > ppr(4L))
    // law: seeding EVERY vertex degenerates to the global teleport vector
    val allSeeds = sym.select(col("src").as("id")).distinct()
    val pprAll = GraphOps.personalizedPageRankDeterministic(sym, allSeeds, 10)
      .as[(Long, Double)].collect().toMap
    val global = GraphOps.pageRankDeterministic(sym, 10)
      .as[(Long, Double)].collect().toMap
    assert(pprAll == global)
  }

  test("HITS: the shared supplier is the top authority, the broad buyer the top hub") {
    val s = spark
    import s.implicits._
    // customers 1,2,3 → suppliers 11,12: all three buy from 11, only
    // customer 1 also buys from 12 — 11 must out-score 12 as authority,
    // and 1 (pointing at both) must be the top hub
    val e = Seq((1L, 11L), (2L, 11L), (3L, 11L), (1L, 12L)).toDF("src", "dst")
    val out = GraphOps.hitsDeterministic(e, 5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(11L)._2 > out(12L)._2, "shared supplier must out-score niche one")
    assert(out(1L)._1 > out(2L)._1, "two-supplier buyer must out-score one-supplier")
    assert(out(2L)._1 == out(3L)._1, "symmetric buyers tie exactly")
    // L1 normalization: hubs and authorities each sum to 1
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-9)
    // suppliers have no hub score, customers no authority score
    assert(out(11L)._1 == 0.0 && out(1L)._2 == 0.0)
  }

  test("labelPropagation: two cliques joined by a bridge keep separate labels") {
    val s = spark
    import s.implicits._
    // K3 {1,2,3} — bridge 3-4 — K3 {4,5,6}: each clique converges to its
    // min id; the bridge endpoints stay with their own clique's majority
    val e0 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val sym = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.labelPropagation(sym, 4).as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    // the second clique agrees on ONE label distinct from the first's
    // (which label wins there depends on what crossed the bridge early)
    val c2 = out(4L)
    assert(c2 != 1L && out(5L) == c2 && out(6L) == c2)
  }

  test("labelPropagation: deterministic tie-break picks the smallest label") {
    val s = spark
    import s.implicits._
    // vertex 3's neighbors {1, 2} each carry one vote — ties must go to 1
    val e0 = Seq((1L, 3L), (2L, 3L))
    val sym = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val r1 = GraphOps.labelPropagation(sym, 1).as[(Long, Long)].collect().toMap
    assert(r1(3L) == 1L)
  }

  test("hashGuidedWalks: every step follows an edge, walks are reproducible") {
    val s = spark
    import s.implicits._
    val e0 = Seq((1L, 2L), (2L, 3L), (2L, 4L), (3L, 5L), (4L, 5L))
    val sym = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val w1 = GraphOps.hashGuidedWalks(sym, seeds, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val w2 = GraphOps.hashGuidedWalks(sym, seeds, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(w1 == w2)                       // pure function of the edge list
    assert(w1.count(_._2 == 0) == 1 && w1.exists(_ == ((1L, 0, 1L))))
    val byStep = w1.toSeq.sortBy(_._2).map(_._3)
    val edgeSet = (e0 ++ e0.map(_.swap)).toSet
    byStep.sliding(2).foreach {
      case Seq(a, b) => assert(edgeSet.contains((a, b)), s"$a->$b not an edge")
      case _ =>
    }
  }

  test("connectedComponentsDF == GraphX CC; long chain converges via jumping") {
    val s = spark
    import s.implicits._
    // two components: a 12-node path (exercises pointer jumping past the
    // per-round propagation radius) and a triangle, plus a lone pair
    val path = (1L to 11L).map(i => (i, i + 1))
    val tri = Seq((20L, 21L), (21L, 22L), (22L, 20L))
    val pair = Seq((30L, 31L))
    val e = (path ++ tri ++ pair).toDF("src", "dst")
    val df = GraphOps.connectedComponentsDF(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gx = GraphOps.connectedComponents(s, GraphOps.symmetrize(e))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(df == gx)
    assert(df(12L) == 1L && df(22L) == 20L && df(31L) == 30L)
  }

  test("connectedComponentsDF on an empty edge list returns empty, no crash") {
    val s = spark
    import s.implicits._
    // a clean corpus produces an empty near-dup pair graph; SUM over zero
    // rows is NULL and must read as an immediate fixpoint (round-8 crash)
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = GraphOps.connectedComponentsDF(e)
    assert(out.columns.toSeq == Seq("id", "component"))
    assert(out.count() == 0L)
  }

  test("assortativity: stars are perfectly disassortative (r = -1)") {
    import spark.implicits._
    // K1,3: every edge joins the hub (deg 3) to a leaf (deg 1).
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val r = GraphOps.assortativity(GraphOps.symmetrize(star)).collect()(0)
    assert(r.getAs[Double]("assortativity") === -1.0)
    assert(r.getAs[Long]("m") === 6L) // symmetric directed count
  }

  test("assortativity: degree-homogeneous components are perfectly assortative") {
    import spark.implicits._
    // K3 ∪ K2: every edge joins equal degrees (2-2 or 1-1) but degrees
    // VARY across the graph, so the correlation is defined and equals +1.
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L)).toDF("src", "dst")
    val r = GraphOps.assortativity(GraphOps.symmetrize(g)).collect()(0)
    assert(r.getAs[Double]("assortativity") === 1.0)
  }

  test("assortativity: regular graphs are degenerate (zero variance → null)") {
    import spark.implicits._
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val r = GraphOps.assortativity(GraphOps.symmetrize(square)).collect()(0)
    assert(r.isNullAt(r.fieldIndex("assortativity")))
  }

  test("harmonicCentrality: exact fixed-point sums on a path; isolated vertex gets 0") {
    import spark.implicits._
    val path = GraphOps.symmetrize(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst"))
    val vs = Seq(1L, 2L, 3L, 4L, 9L).toDF("id") // 9 is isolated
    val r = GraphOps.harmonicCentrality(path, vs, 6)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // endpoint: 1/1 + 1/2 + 1/3 in 1e9 fixed point (integer div per term)
    assert(r(1L) === (3L, 1000000000L + 500000000L + 333333333L))
    // interior: 1/1 + 1/1 + 1/2
    assert(r(2L) === (3L, 2500000000L))
    assert(r(2L) === r(3L) && r(1L) === r(4L)) // path symmetry
    assert(r(9L) === (0L, 0L)) // harmonic handles disconnection natively
  }

  test("flagship alias report: probabilities sum to 1, non-empty on sf0.001") {
    val rep = Erkg.suspiciousAliasReport(spark, sf0001).cache()
    assert(rep.count() > 0)
    val sums = rep.select(aggregate(col("probabilities"), lit(0.0), _ + _).as("s"))
      .collect().map(_.getDouble(0))
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-9))
  }
}
