package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph operators (SURVEY.md §2 G1-G7, plus PageRank for V4).
  *
  * The reference keeps the graph as one in-memory dict per entity
  * (/root/reference/src/senzing_pipeline.py:315-370). Spark-first shape:
  * an `edges(src, dst)` DataFrame for join-based traversal (k is small and
  * fixed → k shuffle joins beat Pregel's per-superstep overhead), and
  * DataFrame fixed-point loops for the iterative algorithms. Every loop
  * runs in the caller's session, under its conf, through the one round
  * loop they share, [[superstep]]: each round is one join-plus-aggregate
  * plan over the previous round's materialized state, the superstep shape
  * of Pregelix.
  * Main code has no GraphX: the GraphX BFS, SSSP, PageRank and
  * connected-components twins are test-scope oracles.
  *
  * No GraphFrames on the classpath (BASELINE.md) — motif-style queries are
  * DataFrame self-joins.
  */
object GraphOps {

  /** Both directions of every edge, duplicates and self-loops kept: each
    * row explodes into its `(src, dst)` and `(dst, src)` structs, so the
    * input's plan is read once, not once per direction as a self-union
    * would, and nothing is shuffled. Enough for a traversal whose result
    * is a set ([[kHop]]); a consumer that counts edges needs
    * [[symmetrize]].
    */
  def arcs(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))

  /** Make an edge list undirected: [[arcs]], distinct.
    * Senzing's RELATED_ENTITIES adjacency is stored symmetrically; for
    * derived edge sets we enforce symmetry once up front so every traversal
    * is a plain src-equi-join.
    */
  def symmetrize(edges: DataFrame): DataFrame = arcs(edges).distinct()

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
    * Duplicate edges and self-loops are allowed: the reached set is
    * de-duplicated every hop, so `edges` need not be (GraphSpec pins
    * `kHop` over raw arcs to `kHop` over distinct edges).
    *
    * Scale shape: the reached set stays small (seed neighborhoods), so it is
    * broadcast to the big edge table each round — k broadcast hash joins.
    * The edge relation is never shuffled: pass it as stored, without a
    * `distinct()` of its own, whose exchange would re-partition the whole
    * edge table once per hop. At 100 TB the edge scan is the only big input
    * and it is touched k times; caching `edges` between rounds amortizes
    * the IO.
    *
    * @param seeds single-column DataFrame `id`; seeds are hop 0 whether or
    *              not they have edges
    * @param edges two-column DataFrame `src, dst` (traversed src → dst),
    *              duplicates allowed
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
    * convergence probe is a SUM of the labels, observed by the round's
    * materialization itself (no job of its own) — labels decrease
    * monotonically, so an unchanged sum IS a fixpoint proof, no except()
    * diff needed ([[superstep]]'s probe).
    *
    * At the fixpoint every edge has equal labels on both ends, and the
    * component minimum keeps its own id, so the label equals the lowest
    * vertex id in the component — the same contract as GraphX's
    * `connectedComponents` (law-pinned against `Oracles` in GraphSpec).
    *
    * The loop runs in the caller's session at its shuffle-partition
    * setting, and AQE coalesces each round's small shuffles. A child
    * session sized to the loop's working set was tried and removed: its
    * conf copy and the Row round trip of every input and result cost more
    * per call than the smaller partition count saved.
    *
    * @param edges any edge list (symmetrized internally); isolated
    *              vertices don't appear (no edges ⇒ no rows), matching the
    *              GraphX oracle on an edge-derived graph
    * @return (id, component)
    * @throws IllegalStateException when labels still change in round
    *         [[CcMaxRounds]] (50) */
  def connectedComponentsDF(edges: DataFrame): DataFrame = {
    val sym = symmetrize(edges).localCheckpoint()
    val init = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    val atCap = s"connectedComponentsDF: labels still changed in round " +
      s"$CcMaxRounds, the round cap (GraphOps.CcMaxRounds): the input has a " +
      "component whose id order defeats pointer jumping"
    superstep(init, CcMaxRounds, probe = Some(sum(col("comp"))),
        unconverged = Some(atCap)) { (lab, _) =>
      val nbrMin = sym
        .join(lab.select(col("id").as("dst"), col("comp").as("dcomp")),
          Seq("dst"))
        .groupBy(col("src")).agg(min(col("dcomp")).as("nmin"))
        .select(col("src").as("id"), col("nmin"))
      val stepped = lab.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
      stepped
        .join(stepped.select(col("id").as("pid"), col("comp").as("pcomp")),
          col("comp") === col("pid"), "left")
        .select(col("id"), coalesce(col("pcomp"), col("comp")).as("comp"))
    }.select(col("id"), col("comp").as("component"))
  }

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

  /** Round cap of [[connectedComponentsDF]]. Pointer jumping converges in
    * O(log n) rounds when ids grow along chains, but an adversarial id
    * order is slower (GraphSpec's 24-vertex deep path takes 18 rounds; a
    * shuffled 200-vertex path needs ~70), and a loop whose labels still
    * change at the cap throws rather than return several labels for one
    * component. */
  private val CcMaxRounds = 50

  /** The round loop of every iterative operator here: up to `rounds`
    * applications of `step` (given the state and the 1-based round),
    * starting from `init`. The state is materialized with
    * `localCheckpoint` every `every` rounds and after the last, so each
    * round plans one layer over a materialized table instead of the whole
    * history. With a `probe`, every materialized state is reduced to one
    * value by an aggregate that the materializing job computes on the side
    * (`Dataset.observe`, so the probe runs no job of its own), and the loop
    * ends early when that value repeats (the round changed nothing, so
    * every later round is a no-op) or is null (an aggregate over zero rows:
    * the state is empty). With `unconverged`,
    * a probe that still changed in the last round throws that message:
    * the caller's contract needs the fixpoint, not a bounded round count.
    *
    * Stats reset: `localCheckpoint` REWRITES the new leaf's stats from the
    * plan it checkpoints (Spark 4.x rewriteStatsAndConstraints), so a
    * state self-join's size estimate compounds ~quadratically per
    * materialization. A graph that needs many rounds (measured: q228's
    * ×100 semantic graph under [[connectedComponentsDF]], ~25+) overflows
    * BigInteger inside the stats visitor before the loop converges. From
    * the ninth materialization on, the state is re-wrapped through
    * `createDataFrame`, whose leaf carries default stats: identical data,
    * at the price of one Row round trip of the state table, which shallow
    * loops never pay. */
  private def superstep(init: DataFrame, rounds: Int, every: Int = 1,
                        probe: Option[Column] = None,
                        unconverged: Option[String] = None)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var state = init
    var materialized = 0
    var last = Option.empty[Any]
    var round = 0
    var done = false
    while (!done && round < rounds) {
      round += 1
      state = step(state, round)
      if (round % every == 0 || round == rounds) {
        val obs = Observation()
        val ck = probe.fold(state)(p => state.observe(obs, p.as("probe")))
          .localCheckpoint()
        materialized += 1
        state =
          if (materialized <= 8) ck
          else ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
        if (probe.isDefined) {
          val v = Option(obs.get("probe"))
          done = v.isEmpty || v == last
          last = v
        }
      }
    }
    if (!done) unconverged.foreach(m => throw new IllegalStateException(m))
    state
  }

  /** FIRST-REACH BFS, shared by [[bfsDistances]] and [[harmonicCentrality]]:
    * from `starts (keys…, n)`, every (keys…, node) reachable along
    * `e (src, dst)` within `maxHops`, with `d` = the hop of its first
    * reach. Each round expands the previous ring (`d` = round − 1) and
    * anti-joins away every pair already labeled, so each pair is labeled
    * once, at its minimum distance, and the ring is the BFS frontier.
    * `keys` name the search a row belongs to: none for one multi-seed
    * search, `s` for one search per source. No broadcast hint: on
    * hub-heavy graphs a ring can reach graph scale, too big to collect
    * for a broadcast — AQE broadcasts small rings at runtime and shuffles
    * big ones. */
  private def firstReach(e: DataFrame, starts: DataFrame, keys: Seq[String],
                         maxHops: Int): DataFrame = {
    val pair = keys :+ "n"
    superstep(starts.withColumn("d", lit(0)), maxHops) { (labeled, h) =>
      val ring = labeled.filter(col("d") === h - 1)
        .join(e, col("n") === col("src"))
        .select(keys.map(col) :+ col("dst").as("n"): _*).distinct()
        .join(labeled.select(pair.map(col): _*), pair, "left_anti")
      labeled.unionByName(ring.withColumn("d", lit(h)))
    }
  }

  /** BFS DISTANCE labeling (unweighted SSSP) within `maxHops`: the
    * first-reach hop of every vertex — [[kHop]]'s reachability SET enriched
    * to distances, by one [[firstReach]] search from all seeds at once.
    * Output: (id, dist) for vertices within maxHops of a seed.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    firstReach(edges.select(col("src"), col("dst")).localCheckpoint(),
        seeds.select(col("id").as("n")).distinct(), Nil, maxHops)
      .select(col("n").as("id"), col("d").as("dist"))

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
  def ssspWeighted(edges: DataFrame, seeds: DataFrame, maxRounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("cost").as("w"))
      .localCheckpoint()
    superstep(seeds.select(col("id")).distinct().withColumn("cost", lit(0L)),
        maxRounds) { (dist, _) =>
      dist.unionByName(e.join(dist, col("src") === col("id"))
          .select(col("dst").as("id"), (col("cost") + col("w")).as("cost")))
        .groupBy(col("id")).agg(min(col("cost")).as("cost"))
    }
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
    rankLoop(edges, None, iterations)

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
    rankLoop(edges, Some(seeds), iterations)

  /** The one rank loop of both PageRanks: teleport mass returns uniformly
    * to the seed vertices, or to every vertex when `seeds` is None — which
    * makes [[pageRankDeterministic]] exactly the all-seeds personalized
    * form (r = 0.15·s/ns + 0.85·Σ inflow with s = 1 and ns = n). An empty
    * graph ranks nothing; only the personalized form requires a seed in
    * the vertex set. */
  private def rankLoop(edges: DataFrame, seeds: Option[DataFrame],
                       iterations: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("id")).distinct()
    val seedFlag = seeds.fold(nodes.withColumn("s", lit(1))) { sd =>
      nodes.join(sd.select(col("id")).distinct().withColumn("sfl", lit(1)),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("sfl"), lit(0)).as("s"))
    }.localCheckpoint()
    // One 1-row aggregate action up front: the seed count is the teleport
    // denominator everywhere, and evaluating it eagerly both guards the
    // 0/0-NaN hole and turns the denominator into a literal.
    // sum() over ZERO rows is NULL, not 0 — read through java.lang.Long
    // so an empty graph hits the require below instead of a null-deref
    val ns = Option(seedFlag.agg(sum(col("s"))).first().getAs[java.lang.Long](0))
      .map(_.longValue).getOrElse(0L)
    require(ns > 0 || seeds.isEmpty,
      "personalizedPageRank: no seed id intersects the graph's vertex set")
    // Pre-join the out-degree ONTO the edge list once: `edges ⋈ outdeg` is
    // loop-invariant, so every round is a single ranks⋈eo equi-join.
    val eo = e.join(
        e.groupBy(col("src")).agg(count(lit(1)).as("odeg")), Seq("src"))
      .localCheckpoint()
    val init = seedFlag.select(col("id"),
      (col("s").cast("double") / lit(ns.toDouble)).as("rank"))
    // the rank table is one row per vertex, but its plan grows one
    // join-agg layer per round — materialize every third
    superstep(init, iterations, every = 3) { (ranks, _) =>
      val contribs = ranks.as("r")
        .join(eo.as("e"), col("r.id") === col("e.src"))
        .select(col("e.dst").as("id"),
          floor((col("r.rank") / col("e.odeg")) * lit(1e15)).as("contrib"))
        .groupBy(col("id"))
        .agg((sum(col("contrib")).cast("double") / lit(1e15)).as("inflow"))
      seedFlag.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(0.15) * col("s").cast("double") / lit(ns.toDouble) +
            lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("rank"))
    }
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
    def fpSum(c: Column) =
      sum(floor(c * lit(1e15)).cast("long")).cast("double") / lit(1e15)
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    // one half-round: each `to` vertex sums the scores (id, v) of its
    // `from` neighbors, then the sums are L1-normalized. The raw table is
    // vertex-sized and read TWICE (values + total) — materialize it or
    // every reference pair doubles the recomputed plan, 4× per round
    // (21 s → 3 s at sf0.1)
    def half(scores: DataFrame, from: String, to: String): DataFrame = {
      val raw = e.join(scores, col(from) === col("id"))
        .groupBy(col(to).as("id")).agg(fpSum(col("v")).as("raw"))
        .localCheckpoint()
      raw.crossJoin(broadcast(raw.agg(fpSum(col("raw")).as("s"))))
        .select(col("id"), (col("raw") / col("s")).as("v"))
    }
    // init = 1/n (NOT 1.0): L1 scaling makes the fixpoint init-invariant,
    // but the FIRST round's fixed-point totals are not — an unnormalized
    // init sums |E|·1e15 and overflows Long once |E| > ~9000. With Σa = 1
    // every later total is bounded by max_indeg·1e15 (the scale dial: drop
    // the 1e15 to 1e12 for graphs with ~10⁶-degree hubs).
    val authNodes = e.select(col("dst").as("id")).distinct()
    val auth0 = authNodes
      .crossJoin(broadcast(authNodes.agg(count(lit(1)).as("n"))))
      .select(col("id"), (lit(1.0) / col("n")).as("v"))
    // the state is the hub table; round i's authorities come from round
    // i - 1's hubs (the init on round 1), and the last round's from the
    // result. The half-rounds materialize their own raw tables, so the
    // state itself is materialized only at the end.
    val hubs = superstep(e.select(col("src").as("id")).distinct()
        .withColumn("v", lit(0.0)), iterations, every = iterations) { (h, i) =>
      half(if (i == 1) auth0 else half(h, "src", "dst"), "dst", "src")
    }
    val auth = if (iterations == 0) auth0 else half(hubs, "src", "dst")
    hubs.select(col("id"), col("v").as("hub"))
      .join(auth.select(col("id"), col("v").as("auth")), Seq("id"), "full_outer")
      .select(col("id"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))
      .localCheckpoint()
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
  def kCore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame =
    // every round is materialized and counted: the earliest possible
    // convergence exit (shallow peels, where most rounds ARE the last round)
    superstep(edges.select(col("src"), col("dst")).localCheckpoint(), maxRounds,
        probe = Some(count(lit(1)))) { (live, _) =>
      val keep = live.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("id"))
      live
        .join(keep, live("src") === keep("id"), "left_semi")
        .join(keep, live("dst") === keep("id"), "left_semi")
    }.groupBy(col("src").as("id")).agg(count(lit(1)).as("core_degree"))

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
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("id")).distinct().localCheckpoint()
    val w = Window.partitionBy(col("id")).orderBy(col("c").desc, col("label").asc)
    // one join+window layer per round — materialize every second
    superstep(nodes.select(col("id"), col("id").as("label")), rounds,
        every = 2) { (labels, _) =>
      val won = e.join(labels, e("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
        .groupBy(col("id"), col("label")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("id"), col("label"))
      nodes.join(won, Seq("id"), "left")
        .select(nodes("id"), coalesce(col("label"), nodes("id")).as("label"))
    }
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
      val w = Window.partitionBy(col("seed")).orderBy(col("h"), col("dst"))
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
    * come from [[firstReach]] with one search per source `s`, carrying
    * (source, node) pairs; the
    * centrality sum is FIXED-POINT (Σ 1e9 div d — d ≤ maxHops, so each
    * term is an exact integer and the sum is order-independent), which is
    * what makes a float-sum statistic hash-match across engines.
    *
    * Scale shape: this is an INVESTIGATION-scale operator by contract —
    * state is |V_sub|² pairs at worst (the subgraph is a seed
    * neighborhood, q13's 2-hop ball); the full-graph all-pairs form is
    * deliberately not offered. Each round is one join + distinct + one
    * anti-join on (s, n).
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
    val labeled = firstReach(e, vs.select(col("id").as("s"), col("id").as("n")),
      Seq("s"), maxHops)
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
