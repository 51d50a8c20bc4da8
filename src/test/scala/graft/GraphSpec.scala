package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

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

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6).withWorkers(1), p)
    assert(r.passed, r.status.toString)
  }

  test("kHop law: == Oracles.kHopGraphX on random directed edges, k in 0..3") {
    val s = spark
    import s.implicits._
    // ids 0..9 carry edges: hub 0 has arcs to and from 1..6, arcs repeat
    // and self-loops occur; 98 and 99 are seeds with no edge at all (99
    // always), and seeds repeat. Every k runs at shuffle partitions 1, 3, 7.
    val hub = (1L to 6L).flatMap(v => Seq((0L, v), (v, 0L)))
    val edgeGen = Gen.listOf(Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L))).map(_.take(12))
    val seedGen = Gen.nonEmptyListOf(Gen.oneOf(Gen.choose(0L, 9L), Gen.const(98L)))
      .map(ss => 99L +: (ss.take(3) ++ ss.take(2)))
    val key = "spark.sql.shuffle.partitions"
    val prior = s.conf.get(key)
    try check(Prop.forAll(edgeGen, seedGen) { (es, ss) =>
      val loops = es.take(2).map { case (v, _) => (v, v) }
      val edges = (hub ++ es ++ es.take(3) ++ loops ++ hub.take(2)).toDF("src", "dst")
      val seeds = ss.toDF("id")
      (0 to 3).forall { k =>
        val want = Oracles.kHopGraphX(spark, edges, seeds, k).as[Long].collect().toSet
        ss.toSet.subsetOf(want) && Seq(1, 3, 7).forall { parts =>
          s.conf.set(key, parts.toString)
          val got = GraphOps.kHop(edges, seeds, k).as[Long].collect()
          got.length == got.toSet.size && got.toSet == want
        }
      }
    }) finally s.conf.set(key, prior)
  }

  test("kHopBag: semi-joining the bag before its distinct == semi-joining kHop, and the bag keeps its bound") {
    val s = spark
    import s.implicits._
    val edgeGen = Gen.listOf(Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L))).map(_.take(14))
    val seedGen = Gen.nonEmptyListOf(Gen.choose(0L, 9L)).map(ss => ss ++ ss.take(2))
    check(Prop.forAll(edgeGen, seedGen) { (es, ss) =>
      val arcs = es ++ es.take(3)
      val edges = arcs.toDF("src", "dst")
      val seeds = ss.toDF("id")
      // probe rows repeat, and some name no vertex
      val probe = (0L to 11L).flatMap(v => Seq.fill((v % 3 + 1).toInt)(v -> s"r$v"))
        .toDF("id", "payload")
      (0 to 3).forall { k =>
        def semi(reached: DataFrame) =
          probe.join(reached, Seq("id"), "left_semi").as[(Long, String)].collect().sorted.toSeq
        val set = GraphOps.kHop(edges, seeds, k)
        val bag = GraphOps.kHopBag(edges, seeds, k).as[Long].collect()
        // one row per seed plus one per arc leaving the previous hop's set:
        // the bound kHop's scaladoc states, met exactly
        val bound = ss.size + (if (k == 0) 0 else {
          val prev = GraphOps.kHop(edges, seeds, k - 1).as[Long].collect().toSet
          arcs.count { case (src, _) => prev(src) }
        })
        semi(GraphOps.kHopBag(edges, seeds, k)) == semi(set) &&
          bag.toSet == set.as[Long].collect().toSet && bag.length == bound
      }
    })
  }

  test("symmetrize law: == the self-union form, with self-loops and duplicate edges") {
    val s = spark
    import s.implicits._
    val fixed = Seq((1L, 1L), (2L, 3L), (2L, 3L), (3L, 2L), (4L, 4L), (4L, 4L))
    val edgeGen = Gen.listOf(Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 5L))).map(_.take(12))
    check(Prop.forAll(edgeGen) { es =>
      val e = (fixed ++ es).toDF("src", "dst")
      val got = GraphOps.symmetrize(e).as[(Long, Long)].collect().sorted.toSeq
      got == Oracles.symmetrizeUnion(e).as[(Long, Long)].collect().sorted.toSeq &&
        got.toSet.size == got.size
    })
    // mixed column types widen as the union did
    val mixed = Seq((1, 2L), (3, 3L)).toDF("src", "dst")
    assert(GraphOps.symmetrize(mixed).dtypes.toSeq == Oracles.symmetrizeUnion(mixed).dtypes.toSeq)
    assert(GraphOps.symmetrize(mixed).as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (2L, 1L), (3L, 3L)))
  }

  test("kHop law: over arcs with duplicate edges and self-loops == over distinct edges, directed and symmetric") {
    val s = spark
    import s.implicits._
    val fixed = Seq((1L, 1L), (2L, 3L), (2L, 3L), (3L, 2L), (4L, 4L), (4L, 4L), (4L, 5L))
    val edgeGen = Gen.listOf(Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 6L))).map(_.take(12))
    val seedGen = Gen.nonEmptyListOf(Gen.choose(0L, 7L)).map(_.take(3))
    check(Prop.forAll(edgeGen, seedGen) { (es, ss) =>
      val raw = (fixed ++ es ++ es.take(3)).toDF("src", "dst")
      val seeds = ss.toDF("id")
      def reached(edges: DataFrame, k: Int) =
        GraphOps.kHop(edges, seeds, k).as[Long].collect().sorted.toSeq
      (1 to 3).forall { k =>
        reached(raw, k) == reached(raw.distinct(), k) &&
          reached(GraphOps.arcs(raw), k) == reached(GraphOps.symmetrize(raw), k)
      }
    })
  }

  test("kHop's optimized plan grows linearly in k: edges k times, seeds k + 1 times") {
    val edges = Erkg.entityEdges(spark, sf0001)
    val seeds = Erkg.seeds(spark, sf0001)
    // optimized from the analyzed plan: cached data (other tests cache the
    // entity graph) would otherwise stand in for the scans
    def leaves(df: DataFrame) =
      spark.sessionState.optimizer.execute(df.queryExecution.analyzed).collectLeaves()
    val sizes = (0 to 4).map(k => leaves(GraphOps.kHop(edges, seeds, k)).size)
    val step = sizes(1) - sizes(0)
    assert((1 to 4).forall(k => sizes(k) - sizes(k - 1) == step), s"leaf scans by k: $sizes")
    // the edge list (orders ⋈ lineitem) is read once per hop, and so in q17
    def ordersScans(df: DataFrame) =
      leaves(df).count(_.output.exists(_.name == "o_orderkey"))
    assert((0 to 3).map(k => ordersScans(GraphOps.kHop(edges, seeds, k))) == (0 to 3))
    assert(ordersScans(SparkEntry.queries("q17_suspicious_aliases")(spark, sf0001)) == 2)
  }

  test("G7 connected components: path and pair get separate min-id labels") {
    import spark.implicits._
    val cc = GraphOps.connectedComponentsDF(pathEdges)
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
    // ten stars: each hub hears one vote from each of its 12 leaves, a
    // 12-way tie that the smallest leaf id must win. The leaves are listed
    // largest first and spread over partitions, so a window without the
    // label order would have to guess the minimum ten times over.
    val hubs = (0 until 10).map(h => 1000L + h)
    val leaves = hubs.map(hub => hub -> (12 to 1 by -1).map(i => (hub - 1000L) * 20 + i))
    val e1 = leaves.flatMap { case (hub, ls) => ls.map(l => (l, hub)) }
    val star = (e1 ++ e1.map(_.swap)).toDF("src", "dst").repartition(4)
    val r2 = GraphOps.labelPropagation(star, 1).as[(Long, Long)].collect().toMap
    leaves.foreach { case (hub, ls) => assert(r2(hub) == ls.min, s"hub $hub") }
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
    val gx = Oracles.connectedComponentsGraphX(s, GraphOps.symmetrize(e))
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

  test("connectedComponentsDF's convergence probe runs no action of its own") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit,
      LocalLimit, LogicalPlan, Project}
    // the probe rides each round's materializing job (observed metrics), so
    // a call runs checkpoints only, never a one-row global aggregate
    def globalAgg(p: LogicalPlan): Boolean = p match {
      case a: Aggregate => a.groupingExpressions.isEmpty
      case l @ (_: GlobalLimit | _: LocalLimit | _: Project) => l.children.exists(globalAgg)
      case _ => false
    }
    val e = ((1L to 11L).map(i => (i, i + 1)) :+ (20L -> 21L)).toDF("src", "dst")
    val actions = PlanDump.actionsOf(spark)(GraphOps.connectedComponentsDF(e))
    assert(actions.nonEmpty)
    val probes = actions.filter { case (_, qe) => globalAgg(qe.analyzed) }
    assert(probes.map(_._1).isEmpty, "standalone aggregate actions")
  }

  test("connectedComponentsDF on a deep path == GraphX CC, through the stats reset") {
    val s = spark
    import s.implicits._
    // a 24-vertex path whose id order defeats pointer jumping: the loop
    // runs 18 rounds, so from the ninth materialization on the state is
    // re-wrapped — the result's leaf then carries default size stats
    // instead of ones rewritten from the checkpointed plan
    val order = Seq(17L, 16L, 5L, 10L, 6L, 2L, 3L, 15L, 20L, 24L, 8L, 4L,
      9L, 19L, 12L, 14L, 7L, 13L, 21L, 18L, 22L, 23L, 1L, 11L)
    val e = order.zip(order.tail).toDF("src", "dst")
    val cc = GraphOps.connectedComponentsDF(e)
    assert(cc.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(s.sessionState.conf.defaultSizeInBytes))
    val df = cc.as[(Long, Long)].collect().toMap
    val gx = Oracles.connectedComponentsGraphX(s, GraphOps.symmetrize(e))
      .as[(Long, Long)].collect().toMap
    assert(df == gx)
    assert(df.size == 24 && df.values.toSet == Set(1L))
  }

  test("connectedComponentsDF fails loudly when labels still change at the round cap") {
    val s = spark
    import s.implicits._
    // the loop's update rule, simulated: nbr-min, then one pointer jump;
    // returns the number of rounds that changed a label
    def changingRounds(path: Seq[Long]): Int = {
      val nbrs = (path.zip(path.tail) ++ path.tail.zip(path))
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      var comp = path.map(v => v -> v).toMap
      var rounds = 0
      var changed = true
      while (changed) {
        val stepped = comp.map { case (v, c) => v -> math.min(c, nbrs(v).map(comp).min) }
        val next = stepped.map { case (v, c) => v -> stepped.getOrElse(c, c) }
        changed = next != comp
        if (changed) rounds += 1
        comp = next
      }
      rounds
    }
    // the first shuffled 200-vertex path that needs at least 60 rounds
    val path = Iterator.from(1)
      .map(seed => new scala.util.Random(seed).shuffle((1L to 200L).toList))
      .find(changingRounds(_) >= 60).get
    val e = path.zip(path.tail).toDF("src", "dst")
    val err = intercept[IllegalStateException](GraphOps.connectedComponentsDF(e))
    assert(err.getMessage.contains("round 50") &&
      err.getMessage.contains("CcMaxRounds"), err.getMessage)
  }

  test("CC, PageRank, PPR, BFS and LPA are identical at shuffle partitions {1, 7} x AQE {on, off}") {
    val s = spark
    import s.implicits._
    // the loops run under the caller's conf, so its partitioning and
    // adaptive planning must not reach the values
    val e0 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (4L, 6L), (10L, 11L), (11L, 12L))
    val sym = GraphOps.symmetrize(e0.toDF("src", "dst"))
    val seeds = Seq(1L, 11L).toDF("id")
    def results(): Seq[Seq[String]] = Seq(
        GraphOps.connectedComponentsDF(sym),
        GraphOps.pageRankDeterministic(sym, 10),
        GraphOps.personalizedPageRankDeterministic(sym, seeds, 10),
        GraphOps.bfsDistances(sym, seeds, 3),
        GraphOps.labelPropagation(sym, 4))
      .map(_.collect().map(_.toString).sorted.toSeq)
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val prior = keys.map(k => k -> s.conf.get(k))
    try {
      val runs = for (parts <- Seq(1, 7); aqe <- Seq("true", "false")) yield {
        s.conf.set(keys.head, parts.toString)
        s.conf.set(keys(1), aqe)
        (parts, aqe) -> results()
      }
      runs.tail.foreach { case (at, r) => assert(r == runs.head._2, s"at $at") }
      assert(runs.head._2.forall(_.nonEmpty))
    } finally prior.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("pageRankDeterministic on an empty edge list returns no rows") {
    val s = spark
    import s.implicits._
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.pageRankDeterministic(e, 10).count() == 0L)
  }

  test("withCanonical law: == GraphX min-id labels, self when unpaired; rows and carried columns pass through") {
    val s = spark
    import s.implicits._
    // edge ids 0..9; rows name ids 0..12, so 10..12 never have an edge and
    // 0..9 may lack one; pairs repeat and reverse; a row id may repeat
    val edgeGen = Gen.listOf(Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
      .map(es => (es ++ es.take(2) ++ es.take(2).map(_.swap)).take(16))
    val rowGen = Gen.nonEmptyListOf(Gen.choose(0L, 12L))
      .map(ids => (ids ++ ids.take(1)).take(10))
    def law(es: Seq[(Long, Long)], ids: Seq[Long]): Boolean = {
      val rows = ids.zipWithIndex.map { case (id, i) => (s"t$i", id, i * 0.5) }
        .toDF("tag", "id", "w")
      val edges = es.toDF("src", "dst")
      val labels = Oracles.connectedComponentsGraphX(s, edges)
        .as[(Long, Long)].collect().toMap
      val out = GraphOps.withCanonical(rows, "id", edges)
      out.columns.toSeq == Seq("tag", "id", "w", "canonical") &&
        out.as[(String, Long, Double, Long)].collect().sortBy(_._1).toSeq ==
          rows.as[(String, Long, Double)].collect().sortBy(_._1).toSeq
            .map { case (t, id, w) => (t, id, w, labels.getOrElse(id, id)) }
    }
    check(Prop.forAll(edgeGen, rowGen)((es, ids) => law(es, ids)))
    // the empty edge set: every row is its own canonical
    assert(law(Seq.empty, Seq(3L, 1L, 3L)))
  }

  test("q14 == the GraphX connected-components oracle on the sf0.001 entity graph") {
    val s = spark
    import s.implicits._
    val got = SparkEntry.queries("q14_connected_components")(s, sf0001)
      .as[(Long, Long)].collect()
    val want = Oracles.connectedComponentsGraphX(s, Erkg.entityEdges(s, sf0001))
      .as[(Long, Long)].collect().toMap
    assert(got.length == got.map(_._1).toSet.size)
    assert(got.toMap == want)
    assert(want.nonEmpty)
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
