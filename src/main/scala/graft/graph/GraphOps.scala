package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph operators (SURVEY.md §2 G1-G7, plus PageRank for V4).
  *
  * The reference keeps the graph as one in-memory dict per entity
  * (/root/reference/src/senzing_pipeline.py:315-370). Spark-first shape:
  * an `edges(src, dst)` DataFrame for join-based traversal (k is small and
  * fixed → k shuffle joins beat Pregel's per-superstep overhead), and
  * DataFrame fixed-point loops for the iterative algorithms, each run in a
  * child session sized to its working set ([[inLoopSession]]). Main code
  * has no GraphX: the GraphX BFS, SSSP, PageRank and connected-components
  * twins are test-scope oracles.
  *
  * No GraphFrames on the classpath (BASELINE.md) — motif-style queries are
  * DataFrame self-joins.
  */
object GraphOps {

  /** Make an edge list undirected: both directions of every edge, distinct.
    * Senzing's RELATED_ENTITIES adjacency is stored symmetrically; for
    * derived edge sets we enforce symmetry once up front so every traversal
    * is a plain src-equi-join. One pass over the input: each row explodes
    * into its `(src, dst)` and `(dst, src)` structs, so the input's plan is
    * read once, not once per direction as a self-union would.
    */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .distinct()

  /** G3-G6 — k-hop closure with the reference's frontier semantics: each hop
    * expands from the UNION of all previously reached ids, not just the last
    * frontier (/root/reference/src/senzing_pipeline.py:392-397 expands hop 2
    * from hops 0 ∪ 1). For symmetric edges this is the BFS ball of radius k;
    * for directed edges, the ids reachable from a seed along ≤ k out-edges.
    *
    * Each hop is one join over the previous state, never a re-derivation of
    * it: `reached_k = distinct(seeds ∪ dst(edges ⋈ reached_{k-1}))`. This
    * equals `reached_{k-1} ∪ N(reached_{k-1})` because, by induction,
    * `reached_{k-1} ⊆ seeds ∪ N(reached_{k-2}) ⊆ seeds ∪ N(reached_{k-1})`.
    * The plan therefore holds `edges` k times and `seeds` k + 1 times —
    * linear in k — where a `reached ∪ N(reached)` step would copy the whole
    * previous plan into both sides of every hop and double it.
    *
    * Scale shape: the reached set stays small (seed neighborhoods), so it is
    * broadcast to the big edge table each round — k broadcast hash joins, no
    * shuffle of `edges`. At 100 TB the edge scan is the only big input and it
    * is touched k times; caching `edges` between rounds amortizes the IO.
    *
    * @param seeds single-column DataFrame `id`; seeds are hop 0 whether or
    *              not they have edges
    * @param edges two-column DataFrame `src, dst` (traversed src → dst)
    */
  def kHop(edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    val seedIds = seeds.select(col("id"))
    (1 to k).foldLeft(seedIds.distinct()) { (reached, _) =>
      // broadcast: the investigation contract is tens of seeds and a
      // ~tens-of-ids closure
      val neighbors = edges.join(broadcast(reached), col("src") === col("id"))
        .select(col("dst").as("id"))
      seedIds.union(neighbors).distinct()
    }
  }

  /** G7 — CONNECTED COMPONENTS as a pure DataFrame fixed-point: min-label
    * propagation PLUS per-round pointer jumping (comp ← comp(comp)), the
    * accelerated-convergence trick behind the large-star/small-star
    * MapReduce CC family (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"). Labels only ever decrease and jumping
    * collapses label chains, so long paths converge in far fewer than
    * diameter rounds.
    *
    * Scale shape per round: one edges-sized shuffle (neighbor-min
    * aggregation) + two label-table equi-joins (vertex-sized); the
    * convergence probe is a single 1-row SUM action — labels decrease
    * monotonically, so an unchanged sum IS a fixpoint proof, no except()
    * diff needed. `localCheckpoint` flattens lineage each round (the kCore
    * discipline).
    *
    * At the fixpoint every edge has equal labels on both ends, and the
    * component minimum keeps its own id, so the label equals the lowest
    * vertex id in the component — the same contract as GraphX's
    * `connectedComponents` (law-pinned against `Oracles` in GraphSpec).
    *
    * The loop's shuffles run at a partition count sized to ITS working set
    * (the edge table), not the session's corpus-scaled
    * `spark.sql.shuffle.partitions`: the label/edge tables are usually
    * orders of magnitude smaller than the corpus that produced them, and
    * an iterative operator multiplies any per-task overhead by
    * stages × rounds. Measured on the ×100 ScaleBench corpus (q125,
    * 475k docs, conf at 800 partitions): steady wall is MONOTONIC in the
    * inherited partition count — 46.2 s at 400 / 72.4 s at 800 / 100.8 s
    * at 1600 — pure scheduling overhead, not spill (more partitions made
    * it worse) and not the algorithm (output identical). The override
    * lives in a CHILD session ([[inLoopSession]] — `newSession`: shared
    * SparkContext, private SQLConf), so concurrent queries and streaming
    * micro-batches on the caller's session never see the shrunken
    * setting — every shuffle
    * inside the loop is forced by the per-round localCheckpoint, so
    * nothing lazy escapes the child session either.
    *
    * @param edges any edge list (symmetrized internally); isolated
    *              vertices don't appear (no edges ⇒ no rows), matching the
    *              GraphX oracle on an edge-derived graph
    * @return (id, component) */
  def connectedComponentsDF(edges: DataFrame): DataFrame =
    inLoopSession(Seq(symmetrize(edges)))(s => connectedComponentsLoop(s.head))

  /** ENTITY-RESOLUTION CANONICAL LABEL — the "pairs → clusters → one id
    * per cluster" step every dedup and resolution query shares: `rows`
    * with a `canonical` column appended, the lowest id of the row's
    * connected component in `edges`, or the row's own id when that id has
    * no edge. One left join of `rows` against [[connectedComponentsDF]]'s
    * labels; every row and carried column of `rows` passes through
    * unchanged (duplicates included), in `rows`' column order.
    *
    * @param rows  any frame with an id column; must not already carry
    *              `component` or `canonical`
    * @param idCol the id column, same id space as `edges`' `src`/`dst`
    * @param edges pair list `src, dst` (direction and duplicates ignored) */
  def withCanonical(rows: DataFrame, idCol: String, edges: DataFrame): DataFrame =
    rows.join(connectedComponentsDF(edges).withColumnRenamed("id", idCol),
        Seq(idCol), "left")
      .select(rows.columns.map(col) :+
        coalesce(col("component"), col(idCol)).as("canonical"): _*)

  /** Round cap of [[connectedComponentsDF]]: pointer jumping converges in
    * O(log n) rounds, so the cap is a guard, never the stopping rule. */
  private val CcMaxRounds = 50

  /** The label-propagation fixpoint loop of [[connectedComponentsDF]] —
    * every round ends in an eager localCheckpoint, so all its shuffles
    * execute under the caller's (working-set-sized) partition setting. */
  private def connectedComponentsLoop(sym: DataFrame): DataFrame = {
    var lab = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    var last = Option.empty[Long]
    var round = 0
    var done = false
    while (!done && round < CcMaxRounds) {
      val nbrMin = sym
        .join(lab.select(col("id").as("dst"), col("comp").as("dcomp")),
          Seq("dst"))
        .groupBy(col("src")).agg(min(col("dcomp")).as("nmin"))
        .select(col("src").as("id"), col("nmin"))
      val stepped = lab.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
      val jumped = stepped
        .join(stepped.select(col("id").as("pid"), col("comp").as("pcomp")),
          col("comp") === col("pid"), "left")
        .select(col("id"), coalesce(col("pcomp"), col("comp")).as("comp"))
      // localCheckpoint REWRITES the new LogicalRDD's stats from the plan
      // it checkpoints (Spark 4.x rewriteStatsAndConstraints) — so round
      // n's carried estimate feeds round n+1's self-join PRODUCT and the
      // size stat compounds ~quadratically per round. A graph that needs
      // many pointer-jump rounds (measured: q228's ×100 semantic graph,
      // ~25+) overflows BigInteger inside the stats visitor before the
      // loop converges. Re-wrapping the already-materialized RDD resets
      // the leaf to default stats — identical data, but the wrap pays an
      // InternalRow→Row→InternalRow conversion of the full label table,
      // so it is GATED on round count (r16 advice): shallow graphs (the
      // common case — pointer jumping converges in O(log n) rounds) never
      // pay the conversion tax, and deep graphs reset the leaf every
      // round from round 8 on, far below the ~25-round overflow horizon
      // (rounds ≤ 8 were measured safe for years of shallower corpora).
      val ck = jumped.localCheckpoint()
      lab =
        if (round < 8) ck
        else ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
      // SUM over zero rows is NULL — an empty label table (no edges after
      // upstream filtering) is already a fixpoint, not an error.
      val s = Option(lab.agg(sum(col("comp"))).first().getAs[java.lang.Long](0))
        .map(_.longValue())
      done = s.isEmpty || (last == s)
      last = s
      round += 1
    }
    lab.select(col("id"), col("comp").as("component"))
  }


  /** Run an iterative operator's loop in a throwaway child session whose
    * shuffle partitions are sized to the LOOP's working set — r17:
    * [[connectedComponentsDF]]'s measured discipline (its ×100 ScaleBench
    * row: steady wall MONOTONIC in the inherited partition count — pure
    * per-task scheduling overhead × stages × rounds) extended to every
    * iterative operator. `inputs` are the loop-invariant tables, already
    * projected to the columns the loop reads: each is materialized ONCE
    * into the child session (one Row conversion, which doubles as the
    * eager materialization the loops previously did with a lazy cache);
    * partitions = rows/100k of the largest input, capped by the
    * caller's conf (at corpus scale rows/100k ≫ cores and nothing
    * changes). The result is re-wrapped into the caller's session so
    * downstream plans never reference child-session frames. Partitioning
    * never changes values: every loop in this file is fixed-point or
    * integer arithmetic with order-free aggregation. */
  private def inLoopSession(inputs: Seq[DataFrame])(
      body: Seq[DataFrame] => DataFrame): DataFrame = {
    val spark = inputs.head.sparkSession
    val ls = spark.newSession()
    // newSession() starts from BUILD-time defaults: forward the caller's
    // runtime SQLConf entries (AQE toggles, broadcast threshold, ANSI mode,
    // time zone …) so only the partition override below differs; static
    // entries throw on a live session and are skipped
    spark.conf.getAll.foreach { case (k, v) =>
      if (!ls.conf.getOption(k).contains(v))
        try ls.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    val wrapped = inputs.map(f =>
      ls.createDataFrame(f.rdd, f.schema).localCheckpoint())
    val rows = wrapped.map(_.count()).max
    // no core-count floor: AQE cannot coalesce a loop that executes through
    // the RDD path, and a floor ran small label tables as near-empty tasks
    val parts = math.min(spark.sessionState.conf.numShufflePartitions,
      (rows / 100000L).toInt + 1)
    ls.conf.set("spark.sql.shuffle.partitions", parts.toString)
    val res = body(wrapped)
    spark.createDataFrame(res.rdd, res.schema)
  }

  /** BFS DISTANCE labeling (unweighted SSSP) within `maxHops`: the
    * first-reach hop of every vertex — [[kHop]]'s reachability SET enriched
    * to distances. Same scale shape: the labeled set stays seed-neighborhood
    * sized and is broadcast against the big edge table each round (the
    * anti-join keeps only first reaches, so every vertex is labeled at its
    * minimum distance and each round's frontier shrinks to the BFS ring).
    * Output: (id, dist) for vertices within maxHops of a seed.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    inLoopSession(Seq(edges.select(col("src"), col("dst")),
        seeds.select(col("id")).distinct())) { case Seq(e, sd) =>
      var labeled = sd.withColumn("dist", lit(0))
      var frontier = labeled.select(col("id"))
      for (h <- 1 to maxHops) {
        // no broadcast hint: on hub-heavy graphs a frontier ring can reach
        // graph scale and a hint is a driver OOM hazard — AQE broadcasts
        // small rings at runtime and shuffles big ones
        val ring = e.join(frontier, col("src") === col("id"))
          .select(col("dst").as("id")).distinct()
          .join(labeled.select(col("id")), Seq("id"), "left_anti")
          .localCheckpoint() // consumed twice (union + next frontier) and
          // feeds the next round's anti-join — keep the lineage flat
        labeled = labeled.unionByName(ring.withColumn("dist", lit(h)))
        frontier = ring
      }
      labeled.localCheckpoint()
    }


  /** WEIGHTED SSSP via bounded relaxation (Bellman–Ford rounds): after
    * `maxRounds` rounds each vertex holds the minimum total edge cost over
    * all walks of ≤ maxRounds edges from a seed — integer costs, so every
    * arithmetic step is exact and the result has a bounded-depth recursive
    * min-cost-walk oracle (same pattern as [[bfsDistances]]'s q77 oracle).
    * Dijkstra's priority queue is inherently sequential; synchronous
    * relaxation is the distributed form (GraphX ShortestPaths does the
    * same), and each round is one join + one min-aggregation keyed by
    * vertex. The tentative-distance table stays seed-neighborhood sized;
    * AQE broadcasts it at runtime when small (hint opt-in, as above).
    *
    * @param edges (src, dst, cost long) — symmetric for undirected graphs
    * @param seeds single-column DataFrame `id`
    * @return (id, cost) for vertices reachable within maxRounds edges
    */
  def ssspWeighted(edges: DataFrame, seeds: DataFrame, maxRounds: Int): DataFrame =
    inLoopSession(Seq(edges.select(col("src"), col("dst"), col("cost").as("w")),
        seeds.select(col("id")).distinct())) { case Seq(e, sd) =>
      var dist = sd.withColumn("cost", lit(0L))
      for (_ <- 1 to maxRounds) {
        val relaxed = e.join(dist, col("src") === col("id"))
          .select(col("dst").as("id"), (col("cost") + col("w")).as("cost"))
        dist = dist.unionByName(relaxed)
          .groupBy(col("id")).agg(min(col("cost")).as("cost"))
          .localCheckpoint() // keep the per-round lineage flat (plan depth
          // otherwise grows a join+agg layer per round)
      }
      dist
    }


  /** Per-vertex TRIANGLE counts over a canonically-oriented (src < dst)
    * undirected edge list: `e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c)` enumerates each
    * triangle exactly once (a < b < c), then each corner credits its three
    * vertices. The relational form of GraphX's triangleCount — kept as
    * DataFrame joins so Catalyst handles the two equi-joins (and AQE's
    * skew split covers hub vertices, whose degree concentrates the first
    * join's key). Work is O(Σ deg(v)²) like every triangle enumeration —
    * run it on a pruned/projected graph, not raw fact edges.
    * Output: (id, n_triangles) for vertices in ≥1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.dst") === col("e2.src"))
      .join(e.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** V4 support / W2 — deterministic DataFrame PageRank over one symmetric
    * graph (the GraphX `staticPageRank` twin is a test-scope oracle):
    * normalized ranks
    * (r = 0.15/n + 0.85·Σ inflow), fixed-point (1e-15 BIGINT) contribution
    * sums so the result is partition-order-independent and exactly
    * reproducible in DuckDB (same discipline as [[graft.text.TextRank]]).
    * GraphX `staticPageRank` keeps double sums whose order varies run to run
    * — fine for analytics, unusable for a hash-compared gate. */
  def pageRankDeterministic(edges: DataFrame, iterations: Int): DataFrame =
    // r17: the loop runs in a working-set-sized child session
    // (inLoopSession) — the caller usually passes a derived edge list
    // (join+distinct+symmetrize), which the wrap materializes once.
    inLoopSession(Seq(edges.select(col("src"), col("dst")))) { case Seq(e) =>
      val nodes = e.select(col("src").as("id")).distinct().localCheckpoint()
      // Pre-join the out-degree ONTO the edge list once: `edges ⋈ outdeg` is
      // loop-invariant, so attaching odeg here turns every iteration's
      // 3-table join into a single ranks⋈eo equi-join — one join per round
      // instead of two. Same division, same fixed-point floor:
      // value-identical, oracle untouched.
      val eo = e.join(
          e.groupBy(col("src")).agg(count(lit(1)).as("odeg")), Seq("src"))
        .localCheckpoint()
      val nAgg = broadcast(nodes.agg(count(lit(1)).as("n")))
      var ranks = nodes.crossJoin(nAgg)
        .select(col("id"), (lit(1.0) / col("n")).as("rank"))
      for (i <- 1 to iterations) {
        val contribs = ranks.as("r")
          .join(eo.as("e"), col("r.id") === col("e.src"))
          .select(col("e.dst").as("id"),
            floor((col("r.rank") / col("e.odeg")) * lit(1e15)).as("contrib"))
          .groupBy(col("id"))
          .agg((sum(col("contrib")).cast("double") / lit(1e15)).as("inflow"))
        ranks = nodes.crossJoin(nAgg)
          .join(contribs, Seq("id"), "left")
          .select(col("id"),
            (lit(0.15) / col("n") +
              lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("rank"))
        // Truncate lineage every few rounds: the rank table is small (one row
        // per vertex) but its plan grows one join-agg layer per iteration —
        // analysis/optimization cost alone goes superlinear without this.
        if (i % 3 == 0) ranks = ranks.localCheckpoint()
      }
      ranks.localCheckpoint()
    }


  /** PERSONALIZED PageRank, deterministic fixed-point form: teleport mass
    * returns to the SEED set (uniformly) instead of all vertices, so ranks
    * measure relevance TO the seeds — the standard seed-anchored expansion
    * ranking for an ER investigation (score the 2-hop network by proximity
    * to the suspicion seeds, rather than by global centrality like q15).
    * Same determinism discipline as [[pageRankDeterministic]]: fixed
    * iteration count, 1e-15 fixed-point contribution sums, pinned IEEE op
    * order — exactly reproducible in the unrolled SQL oracle.
    *
    * @param seeds single-column `id`; seeds absent from the graph carry no
    *              mass (the flag is built over the graph's vertex set). At
    *              least one seed must intersect the vertex set — otherwise
    *              every rank would be 0/0 = NaN silently on both engines,
    *              so the empty intersection fails loudly instead.
    */
  def personalizedPageRankDeterministic(edges: DataFrame, seeds: DataFrame,
                                        iterations: Int): DataFrame =
    inLoopSession(Seq(edges.select(col("src"), col("dst")),
        seeds.select(col("id")).distinct())) { case Seq(e, sd) =>
      val seedFlag = e.select(col("src").as("id")).distinct()
        .join(sd.withColumn("sfl", lit(1)), Seq("id"), "left")
        .select(col("id"), coalesce(col("sfl"), lit(0)).as("s"))
        .localCheckpoint()
      // One 1-row aggregate action up front: the seed count is the teleport
      // denominator everywhere, and evaluating it eagerly both guards the
      // 0/0-NaN hole and replaces the broadcast crossJoin with a literal.
      // sum() over ZERO rows is NULL, not 0 — read through java.lang.Long
      // so an empty graph hits the require below instead of a null-deref
      val ns = Option(seedFlag.agg(sum(col("s")).as("ns"))
          .first().getAs[java.lang.Long](0))
        .map(_.longValue).getOrElse(0L)
      require(ns > 0,
        "personalizedPageRank: no seed id intersects the graph's vertex set")
      // loop-invariant edges⋈outdeg pre-join, same as pageRankDeterministic
      val eo = e.join(
          e.groupBy(col("src")).agg(count(lit(1)).as("odeg")), Seq("src"))
        .localCheckpoint()
      var ranks = seedFlag
        .select(col("id"),
          (col("s").cast("double") / lit(ns.toDouble)).as("rank"))
      for (i <- 1 to iterations) {
        val contribs = ranks.as("r")
          .join(eo.as("e"), col("r.id") === col("e.src"))
          .select(col("e.dst").as("id"),
            floor((col("r.rank") / col("e.odeg")) * lit(1e15)).as("contrib"))
          .groupBy(col("id"))
          .agg((sum(col("contrib")).cast("double") / lit(1e15)).as("inflow"))
        ranks = seedFlag
          .join(contribs, Seq("id"), "left")
          .select(col("id"),
            (lit(0.15) * col("s").cast("double") / lit(ns.toDouble) +
              lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("rank"))
        if (i % 3 == 0) ranks = ranks.localCheckpoint()
      }
      ranks.localCheckpoint()
    }


  /** HITS hubs & authorities, deterministic fixed-point form over a
    * DIRECTED edge list: hubs score by the authorities they point at,
    * authorities by the hubs pointing at them — on a bipartite
    * customer→supplier graph this separates "broad buyers" from
    * "widely-used suppliers", which PageRank's single score conflates.
    * Determinism discipline: every aggregation (score sums AND the
    * normalization totals) goes through 1e-15 fixed-point longs, and each
    * round L1-normalizes (divide by the fixed-point total — all-rational,
    * no sqrt), so `iterations` rounds are exactly reproducible in an
    * unrolled SQL twin. Init is uniform over authorities; L1 scaling makes
    * the fixpoint independent of the init constant.
    *
    * @return (id, hub, auth) for every vertex, 0.0 on the absent side
    */
  def hitsDeterministic(edges: DataFrame, iterations: Int): DataFrame = {
    def fpSum(c: org.apache.spark.sql.Column) =
      sum(floor(c * lit(1e15)).cast("long")).cast("double") / lit(1e15)
    inLoopSession(Seq(edges.select(col("src"), col("dst")))) { case Seq(e) =>
      // init = 1/n (NOT 1.0): L1 scaling makes the fixpoint init-invariant,
      // but the FIRST round's fixed-point totals are not — an unnormalized
      // init sums |E|·1e15 and overflows Long once |E| > ~9000. With Σa = 1
      // every later total is bounded by max_indeg·1e15 (the scale dial: drop
      // the 1e15 to 1e12 for graphs with ~10⁶-degree hubs).
      val authNodes = e.select(col("dst").as("id")).distinct()
      val nAuth = broadcast(authNodes.agg(count(lit(1)).as("n")))
      var auth = authNodes.crossJoin(nAuth)
        .select(col("id"), (lit(1.0) / col("n")).as("a"))
      var hubs = e.select(col("src").as("id")).distinct()
        .withColumn("h", lit(0.0))
      for (_ <- 1 to iterations) {
        // raw score tables are vertex-sized and referenced TWICE each (values
        // + normalization total) — materialize them or every reference pair
        // doubles the recomputed plan, 4× per iteration (21 s → 3 s at sf0.1)
        val hRaw = e.as("e").join(auth.as("av"), col("e.dst") === col("av.id"))
          .groupBy(col("e.src").as("id")).agg(fpSum(col("av.a")).as("raw"))
          .localCheckpoint()
        val hTot = broadcast(hRaw.agg(fpSum(col("raw")).as("s")))
        hubs = hRaw.crossJoin(hTot)
          .select(col("id"), (col("raw") / col("s")).as("h"))
        val aRaw = e.as("e").join(hubs.as("hv"), col("e.src") === col("hv.id"))
          .groupBy(col("e.dst").as("id")).agg(fpSum(col("hv.h")).as("raw"))
          .localCheckpoint()
        val aTot = broadcast(aRaw.agg(fpSum(col("raw")).as("s")))
        auth = aRaw.crossJoin(aTot)
          .select(col("id"), (col("raw") / col("s")).as("a"))
      }
      hubs.withColumnRenamed("h", "hub")
        .join(auth.withColumnRenamed("a", "auth"), Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("hub"), lit(0.0)).as("hub"),
          coalesce(col("auth"), lit(0.0)).as("auth"))
        .localCheckpoint()
    }
  }


  /** G2 — reverse-reachability flag: does any edge point at this vertex?
    * (`has_ref`, /root/reference/src/senzing_pipeline.py:363-368.)
    */
  def hasRef(vertices: DataFrame, edges: DataFrame, idCol: String): DataFrame = {
    val referenced = edges.select(col("dst").as(idCol)).distinct()
    vertices.join(referenced.withColumn("has_ref", lit(true)), Seq(idCol), "left")
      .withColumn("has_ref", coalesce(col("has_ref"), lit(false)))
  }

  /** K-CORE decomposition (fixed k) by synchronous peeling: each round drops
    * every vertex whose degree in the SURVIVING subgraph is < k, until the
    * edge set is stable or `maxRounds` rounds have run. Bounding the rounds
    * (instead of iterating blind to convergence) is what makes the result
    * hash-comparable across engines: R synchronous rounds are a pure
    * function of the input on ANY engine, and once peeling converges every
    * further round is a no-op — so early exit here and a fully-unrolled
    * R-round SQL oracle agree whether or not round R reached the fixpoint.
    *
    * Scale shape: each round is one degree aggregation plus two semi-joins
    * of the (shrinking) edge list against a vertex-sized survivor set —
    * AQE broadcasts the survivor side once it is small. Work only ever
    * decreases round over round; there is no frontier growth to hub-guard.
    *
    * @param edges symmetric edge list (src, dst)
    * @return (id, core_degree) for vertices surviving the peel
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    // every round is materialized and counted: the earliest possible
    // convergence exit (shallow peels, where most rounds ARE the last
    // round), and the count is free — the checkpoint already ran the job
    var live = edges.select(col("src"), col("dst")).localCheckpoint()
    var n = live.count()
    var converged = false
    for (_ <- 1 to maxRounds if !converged) {
      val keep = live.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("id"))
      val next = live
        .join(keep, live("src") === keep("id"), "left_semi")
        .join(keep, live("dst") === keep("id"), "left_semi")
      val mat = next.localCheckpoint() // flatten the per-round lineage
      val m = mat.count()
      converged = m == n
      live = mat; n = m
    }
    live.groupBy(col("src").as("id")).agg(count(lit(1)).as("core_degree"))
  }

  /** Synchronous LABEL PROPAGATION community detection, `rounds` fixed
    * rounds: every vertex starts labeled with its own id; each round every
    * vertex simultaneously adopts the most frequent label among its
    * neighbors, ties broken toward the SMALLEST label. The deterministic
    * tie-break is the whole trick — GraphX's LabelPropagation breaks ties
    * by hash-order and is not reproducible across runs, let alone engines;
    * (count DESC, label ASC) makes R rounds a pure function of the edge
    * list, so the same unrolled computation runs in SQL for the gate.
    *
    * Scale shape per round: one join of edges against the vertex-sized
    * label table (AQE-broadcast when small), one (vertex, label) count
    * aggregation — partial map-side combine applies — and one windowed
    * argmax partitioned by vertex. State is one label per vertex.
    *
    * @param edges symmetric edge list (src, dst)
    * @return (id, label) — community = min vertex id that won the vote
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    inLoopSession(Seq(edges.select(col("src"), col("dst")))) { case Seq(e) =>
      val nodes = e.select(col("src").as("id")).distinct().localCheckpoint()
      var labels = nodes.select(col("id"), col("id").as("label"))
      for (i <- 1 to rounds) {
        val votes = e.join(labels, e("src") === labels("id"))
          .select(col("dst").as("id"), col("label"))
          .groupBy(col("id"), col("label")).agg(count(lit(1)).as("c"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("c").desc, col("label").asc)
        val won = votes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select(col("id"), col("label"))
        labels = nodes.join(won, Seq("id"), "left")
          .select(nodes("id"), coalesce(col("label"), nodes("id")).as("label"))
        // one join+window layer per round — keep the plan flat
        if (i % 2 == 0) labels = labels.localCheckpoint()
      }
      labels.localCheckpoint()
    }


  /** HASH-GUIDED GRAPH WALKS — node2vec-style corpus walks with a
    * DERANDOMIZED step rule: from each seed, take `steps` steps; at step k
    * standing on vertex v, the next vertex is the neighbor u minimizing
    * md5("k|v|u") with (hash, u) tie-break. The hash spreads choices
    * uniformly-ish over neighbors while keeping every walk a pure function
    * of the edge list — reproducible across runs, engines, and task
    * retries, which is the property a resumable embedding/sampling
    * pipeline needs and true rand() walks lack (and which makes the walk
    * oracle-checkable at all). Dead-end vertices simply end their walk.
    *
    * Scale shape per step: ONE equi-join of the seed-sized frontier
    * against the edge list (AQE broadcasts the frontier side) and one
    * windowed argmin partitioned by seed — no per-vertex state beyond the
    * frontier row itself, so millions of concurrent walks cost a
    * frontier-sized shuffle per step, never an edges-sized one.
    *
    * @param edges symmetric (src, dst) edge list
    * @param seeds single-column `id` walk starts
    * @return (seed, step, node) — step 0 is the seed itself
    */
  def hashGuidedWalks(edges: DataFrame, seeds: DataFrame, steps: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    var frontier = seeds.select(col("id").as("seed"), col("id").as("node"))
    var out = frontier.select(col("seed"), lit(0).as("step"), col("node"))
    for (k <- 1 to steps) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("seed")).orderBy(col("h"), col("dst"))
      frontier = frontier.join(e, col("node") === col("src"))
        .withColumn("h",
          md5(concat_ws("|", lit(k), col("node"), col("dst"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("seed"), col("dst").as("node"))
      out = out.unionByName(
        frontier.select(col("seed"), lit(k).as("step"), col("node")))
    }
    out
  }

  /** HARMONIC CENTRALITY within an induced subgraph: for every vertex of
    * `vertices`, Σ 1/d(s, n) over the other subgraph vertices s that reach
    * it within `maxHops` (0 for isolated vertices — harmonic centrality's
    * defining advantage over closeness on disconnected graphs). Distances
    * come from a MULTI-SOURCE BFS carrying (source, node) pairs with the
    * same first-reach anti-join discipline as [[bfsDistances]]; the
    * centrality sum is FIXED-POINT (Σ 1e9 div d — d ≤ maxHops, so each
    * term is an exact integer and the sum is order-independent), which is
    * what makes a float-sum statistic hash-match across engines.
    *
    * Scale shape: this is an INVESTIGATION-scale operator by contract —
    * state is |V_sub|² pairs at worst (the subgraph is a seed
    * neighborhood, q13's 2-hop ball); the full-graph all-pairs form is
    * deliberately not offered. Each round is one join + distinct + one
    * anti-join on (s, n); per-round localCheckpoint keeps lineage flat.
    *
    * @param edges    full symmetric edge list (src, dst)
    * @param vertices single-column `id` — the subgraph to analyze
    * @return (id, n_reached, harmonic_fp) for every subgraph vertex */
  def harmonicCentrality(edges: DataFrame, vertices: DataFrame,
                         maxHops: Int): DataFrame = {
    val vs = vertices.select(col("id")).distinct().localCheckpoint()
    val e = edges
      .join(vs.select(col("id").as("src")), Seq("src"))
      .join(vs.select(col("id").as("dst")), Seq("dst"))
      .select(col("src"), col("dst")).localCheckpoint()
    var labeled = vs.select(col("id").as("s"), col("id").as("n"))
      .withColumn("d", lit(0))
    var frontier = labeled.select(col("s"), col("n"))
    for (h <- 1 to maxHops) {
      val ring = frontier.join(e, col("n") === col("src"))
        .select(col("s"), col("dst").as("n")).distinct()
        .join(labeled.select(col("s"), col("n")), Seq("s", "n"), "left_anti")
        .localCheckpoint()
      labeled = labeled.unionByName(ring.withColumn("d", lit(h)))
      frontier = ring
    }
    val agg = labeled.filter(col("d") > 0)
      .groupBy(col("n").as("id"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000000 div d")).as("harmonic_fp"))
    vs.join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("harmonic_fp"), lit(0L)).as("harmonic_fp"))
  }

  /** Degree assortativity (Newman's r): Pearson correlation of endpoint
    * degrees over a SYMMETRIC edge list, returned as one row
    * `(m, sum_jk, sum_j, sum_j2, assortativity)`. Every moment is an exact
    * int64 sum (degrees are counts; for the symmetric list Σj = Σk and
    * Σj² = Σk², so four moments suffice), and only the final scalar ratio
    * is floating — one deterministic IEEE expression over identical int64
    * inputs, so the value is bit-identical across engines. Degenerate on
    * regular graphs (zero degree variance → null), as the statistic is.
    *
    * Scale shape: one degree aggregate + two shuffle joins on vertex id
    * (AQE-planned — the degree table is vertex-sized, never hinted
    * broadcast) + a global aggregate with map-side partials.
    */
  def assortativity(symEdges: DataFrame): DataFrame = {
    val sym = symEdges.select(col("src"), col("dst"))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    sym
      .join(deg.select(col("id").as("src"), col("deg").as("dj")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("dk")), Seq("dst"))
      .agg(
        count(lit(1)).as("m"),
        sum(col("dj") * col("dk")).as("sum_jk"),
        sum(col("dj")).as("sum_j"),
        sum(col("dj") * col("dj")).as("sum_j2"))
      .select(col("m"), col("sum_jk"), col("sum_j"), col("sum_j2"),
        try_divide(
          col("m").cast("double") * col("sum_jk").cast("double") -
            col("sum_j").cast("double") * col("sum_j").cast("double"),
          col("m").cast("double") * col("sum_j2").cast("double") -
            col("sum_j").cast("double") * col("sum_j").cast("double"))
          .as("assortativity"))
  }
}
