package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphOps
import graft.pipeline.Erkg

/** Graph queries (SURVEY.md §2 G1-G7 + W2) over the customer↔supplier entity
  * graph derived from the test tables (see [[graft.pipeline.Erkg]]).
  *
  * q13/q17 have exact DuckDB oracles (fixed k → explicit join unrolling;
  * recursive CTE for components). q15 PageRank is hash-gated too: the
  * [[graft.graph.GraphOps.pageRankDeterministic]] twin makes every
  * per-vertex sum partition-order-independent (sorted sequential fold), so
  * its unrolled-CTE oracle matches bit-for-bit — and it is additionally
  * cross-checked against a hand-rolled power iteration in ScalaTest.
  */
object GraphQueries {

  private val seedsSqlList = Erkg.suspiciousNames.map(n => s"'$n'").mkString(", ")

  /** Shared SQL prelude: the symmetric edge list + 2-hop closure, mirroring
    * Erkg.entityEdges/kHop exactly (hop i+1 expands from all reached ids). */
  private val networkCte =
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  WHERE l_quantity >= 48),
       |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |hop0 AS (SELECT c_custkey AS id FROM customer
       |         WHERE c_name IN ($seedsSqlList)),
       |r1 AS (SELECT id FROM hop0
       |       UNION SELECT e.dst FROM edges e JOIN hop0 ON e.src = hop0.id),
       |r2 AS (SELECT id FROM r1
       |       UNION SELECT e.dst FROM edges e JOIN r1 ON e.src = r1.id)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // G3-G6 — 2-hop closure from the suspicion seeds.
    "q13_two_hop_network" -> ((s, d) =>
      Erkg.suspiciousNetwork(s, d).orderBy(col("id"))),

    // G7 — connected components of the entity graph (GraphX; label = min
    // vertex id in component, matching the oracle's MIN over reachability).
    "q14_connected_components" -> ((s, d) =>
      GraphOps.connectedComponents(s, Erkg.entityEdges(s, d))
        .orderBy(col("id"))),

    // W2/V4 — PageRank over the entity graph, 10 fixed iterations,
    // fixed-point deterministic (exact DuckDB oracle; the GraphX
    // staticPageRank twin is a test-scope oracle in GraphSpec).
    "q15_pagerank" -> ((s, d) =>
      GraphOps.pageRankDeterministic(Erkg.entityEdges(s, d), 10)
        .orderBy(col("rank").desc, col("id")).limit(20)),

    // G2 — reverse-reachability flag over supplier vertices.
    "q16_has_ref" -> ((s, d) => {
      val verts = graft.Tables.supplier(s, d)
        .select((col("s_suppkey") + lit(Erkg.supplierOffset)).as("id"))
      val e = Erkg.entityEdges(s, d)
      GraphOps.hasRef(verts, e, "id").orderBy(col("id"))
    }),

    // Flagship — suspicious-network alias report (J2+G3-G6+F4+A1), long form
    // (scalar columns for the hash gate; array form = suspiciousAliasReport).
    "q17_suspicious_aliases" -> ((s, d) =>
      Erkg.suspiciousAliasReportLong(s, d)),

    // Motif query — (a)-[]->(s)<-[]-(b): customer pairs sharing ≥2 suppliers.
    // GraphFrames is not on the classpath (BASELINE.md); motif finding is a
    // DataFrame self-join on the shared vertex — which is exactly what
    // GraphFrames compiles motifs to anyway.
    "q44_motif_coshoppers" -> ((s, d) => {
      val e = Erkg.entityEdges(s, d)
        .filter(col("src") < Erkg.supplierOffset) // customer→supplier direction
      e.as("a").join(e.as("b"),
          col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
        .groupBy(col("a.src").as("cust_a"), col("b.src").as("cust_b"))
        .agg(count(lit(1)).as("shared_suppliers"))
        .filter(col("shared_suppliers") >= 2)
        .orderBy(col("cust_a"), col("cust_b"))
    }),

    // TRIANGLE counts on the q44 co-shopper projection (the bipartite
    // entity graph itself has none): project the unipartite customer graph
    // (≥2 shared suppliers), then enumerate each a<b<c triangle once and
    // credit all three corners. Classic projection→triangles pipeline;
    // edge-proportional joins, never a vertex-cubed sweep.
    "q76_triangle_counts" -> ((s, d) => {
      val e = Erkg.entityEdges(s, d)
        .filter(col("src") < Erkg.supplierOffset)
      val proj = e.as("a").join(e.as("b"),
          col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
        .groupBy(col("a.src").as("src"), col("b.src").as("dst"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("src"), col("dst"))
      graft.graph.GraphOps.triangleCounts(proj)
        .orderBy(col("id"))
    }),

    // LINK PREDICTION over the co-shopper projection: for every 2-hop pair
    // (a, b) NOT already adjacent, the common-neighbor count and the
    // neighborhood-Jaccard score cn / (deg a + deg b − cn) — the classic
    // missing-edge ranking (ER: entities that SHOULD be linked). The
    // wedge join fans out Σ_n deg(n)² like triangle counting (q76) — edge-
    // proportional on a sparse projection, never vertex²; candidates with
    // cn < 2 are dropped before the degree joins to bound the output.
    "q119_link_prediction" -> ((s, d) => {
      val e = Erkg.entityEdges(s, d)
        .filter(col("src") < Erkg.supplierOffset)
      val proj = e.as("a").join(e.as("b"),
          col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
        .groupBy(col("a.src").as("src"), col("b.src").as("dst"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("src"), col("dst"))
      val sym = proj.unionByName(
        proj.select(col("dst").as("src"), col("src").as("dst")))
      val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val cn = sym.as("x").join(sym.as("y"),
          col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
        .groupBy(col("x.src").as("ia"), col("y.src").as("ib"))
        .agg(count(lit(1)).as("cn"))
        .filter(col("cn") >= 2)
      cn.join(proj.select(col("src").as("ia"), col("dst").as("ib")),
          Seq("ia", "ib"), "left_anti")
        .join(deg.select(col("id").as("ia"), col("deg").as("deg_a")), Seq("ia"))
        .join(deg.select(col("id").as("ib"), col("deg").as("deg_b")), Seq("ib"))
        .select(col("ia"), col("ib"), col("cn"), col("deg_a"), col("deg_b"),
          (col("cn").cast("double") / (col("deg_a") + col("deg_b") - col("cn")))
            .as("jaccard"))
        .orderBy(col("ia"), col("ib"))
    }),

    // BFS distance labeling (unweighted SSSP, ≤4 hops) from the smallest
    // customer in the co-shopper projection: kHop's reachability upgraded
    // to first-reach distances; the seed is a 1-row aggregate (no collect).
    "q77_bfs_distance" -> ((s, d) => {
      val e = Erkg.entityEdges(s, d)
        .filter(col("src") < Erkg.supplierOffset)
      val proj = e.as("a").join(e.as("b"),
          col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
        .groupBy(col("a.src").as("src"), col("b.src").as("dst"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("src"), col("dst"))
      val sym = proj.unionByName(
        proj.select(col("dst").as("src"), col("src").as("dst")))
      val seed = proj.agg(min(col("src")).as("id"))
      graft.graph.GraphOps.bfsDistances(sym, seed, 4)
        .orderBy(col("dist"), col("id"))
    }),

    // WEIGHTED SSSP (bounded Bellman–Ford relaxation, ≤4 rounds) on the
    // co-shopper projection with the shared-supplier count as the integer
    // edge cost: q77's distance labeling upgraded from hop counts to
    // min-total-cost — the path through many weak ties can now beat the
    // direct strong tie. Exact arithmetic throughout (long costs), so the
    // oracle is the same bounded-depth recursive walk with a cost
    // accumulator instead of a hop counter.
    "q80_weighted_sssp" -> ((s, d) => {
      val e = Erkg.entityEdges(s, d)
        .filter(col("src") < Erkg.supplierOffset)
      val proj = e.as("a").join(e.as("b"),
          col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
        .groupBy(col("a.src").as("src"), col("b.src").as("dst"))
        .agg(count(lit(1)).as("cost"))
        .filter(col("cost") >= 2)
      val sym = proj.unionByName(
        proj.select(col("dst").as("src"), col("src").as("dst"), col("cost")))
      val seed = proj.agg(min(col("src")).as("id"))
      graft.graph.GraphOps.ssspWeighted(sym, seed, 4)
        .orderBy(col("id"))
    }),

    // K-CORE (k=3, ≤8 peel rounds) on the co-shopper projection: the
    // maximal subgraph where every member keeps ≥3 surviving co-shopper
    // ties — the standard dense-nucleus extraction (peeling converges in
    // ≤5 rounds on this graph at every SF; the bound only pins oracle
    // parity). Output is each survivor with its in-core degree.
    "q81_kcore" -> ((s, d) => {
      val e = Erkg.entityEdges(s, d)
        .filter(col("src") < Erkg.supplierOffset)
      val proj = e.as("a").join(e.as("b"),
          col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
        .groupBy(col("a.src").as("src"), col("b.src").as("dst"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("src"), col("dst"))
      val sym = proj.unionByName(
        proj.select(col("dst").as("src"), col("src").as("dst")))
      graft.graph.GraphOps.kCore(sym, 3, 8)
        .orderBy(col("id"))
    }),

    // PERSONALIZED PageRank from the suspicion seeds (10 fixed iterations,
    // fixed-point): q15's global centrality re-anchored so teleport mass
    // returns to the seed customers — ranks measure proximity to the
    // investigation's starting names, the ER expansion-scoring shape.
    "q86_ppr_seeds" -> ((s, d) =>
      GraphOps.personalizedPageRankDeterministic(
          Erkg.entityEdges(s, d), Erkg.seeds(s, d), 10)
        .orderBy(col("rank").desc, col("id")).limit(20)),

    // HITS hubs/authorities (5 fixed L1-normalized iterations) on the
    // DIRECTED customer→supplier graph: hub = broad buyer, authority =
    // widely-used supplier — the two-sided link-analysis score PageRank's
    // single number conflates on a bipartite graph.
    "q90_hits" -> ((s, d) => {
      val e = Erkg.entityEdges(s, d)
        .filter(col("src") < Erkg.supplierOffset)
      GraphOps.hitsDeterministic(e, 5).orderBy(col("id"))
    }),

    // LOCAL CLUSTERING COEFFICIENT on the co-shopper projection: per-vertex
    // triangles (q76's enumeration) over possible neighbor pairs — the
    // standard cohesion metric; pure integer-derived division, exact.
    "q92_clustering_coef" -> ((s, d) => {
      val e = Erkg.entityEdges(s, d)
        .filter(col("src") < Erkg.supplierOffset)
      val proj = e.as("a").join(e.as("b"),
          col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
        .groupBy(col("a.src").as("src"), col("b.src").as("dst"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("src"), col("dst"))
      val deg = GraphOps.symmetrize(proj)
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
      val tri = GraphOps.triangleCounts(proj)
      deg.join(tri, Seq("id"), "left")
        .select(col("id"), col("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          when(col("degree") >= 2,
            (lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double")) /
              (col("degree") * (col("degree") - 1)).cast("double"))
            .otherwise(lit(0.0)).as("coef"))
        .orderBy(col("id"))
    }),

    // LABEL PROPAGATION communities (4 synchronous rounds, deterministic
    // count-DESC/label-ASC tie-break) on the co-shopper projection —
    // GraphX's LabelPropagation semantics made reproducible enough to
    // hash-compare across engines.
    "q85_label_prop" -> ((s, d) => {
      val e = Erkg.entityEdges(s, d)
        .filter(col("src") < Erkg.supplierOffset)
      val proj = e.as("a").join(e.as("b"),
          col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
        .groupBy(col("a.src").as("src"), col("b.src").as("dst"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("src"), col("dst"))
      val sym = proj.unionByName(
        proj.select(col("dst").as("src"), col("src").as("dst")))
      graft.graph.GraphOps.labelPropagation(sym, 4)
        .orderBy(col("id"))
    }),

    // DETERMINISTIC hash-guided walks (node2vec-style, derandomized): 4
    // steps from each suspicion seed over the entity graph; step rule =
    // argmin md5("step|cur|next") over the current vertex's neighbors.
    // The DuckDB twin unrolls the 4 frontier joins and reproduces the
    // walk VERTEX BY VERTEX — an exact gate on a "random"-walk operator,
    // possible only because the randomness is content-derived.
    "q110_seeded_walks" -> ((s, d) =>
      GraphOps.hashGuidedWalks(Erkg.entityEdges(s, d), Erkg.seeds(s, d), 4)
        .orderBy(col("seed"), col("step"))),

    // DEGREE ASSORTATIVITY of the entity graph (Newman r): Pearson
    // correlation of endpoint degrees over the symmetric edge list. All
    // moments are EXACT int64 sums (degrees are counts), so the one-row
    // double formula at the end is bit-identical cross-engine — no
    // float-aggregation-order hazard. Scale shape: two vertex-sized joins
    // (degree onto each endpoint — shuffle joins on id, AQE-planned; never
    // a broadcast of a vertex table) + one global aggregate with map-side
    // partials. At 100 TB the full formula stays a 4-scalar reduce.
    // entityEdges is already symmetrized (union+distinct inside), so feed
    // it straight in — a second symmetrize would only repeat that shuffle.
    "q135_assortativity" -> ((s, d) =>
      GraphOps.assortativity(Erkg.entityEdges(s, d))),

    // HARMONIC CENTRALITY of the 2-hop suspicious network (q13's ball):
    // which vertices sit closest to the whole investigation neighborhood.
    // Fixed-point Σ 1e9/d sums — see [[GraphOps.harmonicCentrality]].
    "q143_harmonic_centrality" -> ((s, d) =>
      GraphOps.harmonicCentrality(
          Erkg.entityEdges(s, d), Erkg.suspiciousNetwork(s, d), 6)
        .orderBy(col("id"))))

  /** Unrolled 4-step hash-guided-walk oracle: each step is one frontier
    * join + per-seed argmin on the SAME md5("k|cur|next") rule the Spark
    * operator uses, so the walk is reproduced vertex by vertex. */
  private val walksSql: String = {
    val head =
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE l_quantity >= 48),
         |edges AS MATERIALIZED (
         |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |f0 AS (SELECT c_custkey AS seed, c_custkey AS node FROM customer
         |       WHERE c_name IN ($seedsSqlList))""".stripMargin
    val steps = (1 to 4).map { k =>
      s"""f$k AS (
         |  SELECT seed, node FROM (
         |    SELECT f.seed, e.dst AS node,
         |      ROW_NUMBER() OVER (PARTITION BY f.seed
         |        ORDER BY md5(concat_ws('|', $k, f.node, e.dst)), e.dst) AS rn
         |    FROM f${k - 1} f JOIN edges e ON f.node = e.src) t
         |  WHERE rn = 1)""".stripMargin
    }
    val union = (0 to 4).map { k =>
      s"SELECT seed, CAST($k AS INTEGER) AS step, node FROM f$k"
    }.mkString("\n  UNION ALL\n  ")
    (head +: steps).mkString(",\n") +
      s"\nSELECT seed, step, node FROM (\n  $union\n) u ORDER BY seed, step"
  }

  /** Unrolled 10-iteration fixed-point PageRank oracle over the entity
    * graph (mirrors GraphOps.pageRankDeterministic bit for bit). */
  private val pagerankSql: String = {
    val head =
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity >= 48),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |odeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src),
        |pr0 AS (
        |  SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS "rank"
        |  FROM nodes CROSS JOIN nn)""".stripMargin
    val iters = (1 to 10).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS id,
         |    CAST(SUM(CAST(floor((p."rank" / o.odeg) * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS inflow
         |  FROM pr${k - 1} p
         |  JOIN edges e ON e.src = p.id
         |  JOIN odeg o ON o.src = e.src
         |  GROUP BY e.dst),
         |pr$k AS (
         |  SELECT nodes.id,
         |    CAST(0.15 AS DOUBLE) / nn.n
         |      + CAST(0.85 AS DOUBLE) * COALESCE(c$k.inflow, CAST(0 AS DOUBLE)) AS "rank"
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN c$k ON c$k.id = nodes.id)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"""
         |SELECT id, "rank" FROM pr10 ORDER BY "rank" DESC, id LIMIT 20""".stripMargin
  }

  /** Shared oracle prelude: the symmetric co-shopper projection (q76/q77/
    * q80/q81/q85 all run on this graph). MATERIALIZED is load-bearing for
    * the unrolled iterative oracles: the peel round s_i references d_i
    * twice, so DuckDB's default CTE inlining would re-evaluate the whole
    * chain 3^rounds times. */
  private val projSymCte =
    """WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE l_quantity >= 48),
      |proj AS MATERIALIZED (
      |  SELECT a.src AS src, b.src AS dst
      |  FROM e0 a JOIN e0 b ON a.dst = b.dst AND a.src < b.src
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |sym AS MATERIALIZED (
      |  SELECT src, dst FROM proj UNION SELECT dst, src FROM proj)""".stripMargin

  /** Unrolled 8-round k=3 peel — mirrors GraphOps.kCore round for round
    * (extra rounds past the fixpoint are no-ops, so Spark's early exit and
    * the full unroll agree by construction). */
  private val kcoreSql: String = {
    val rounds = (1 to 8).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT src FROM s${i - 1} GROUP BY src HAVING COUNT(*) >= 3),
         |s$i AS MATERIALIZED (
         |  SELECT s.src, s.dst FROM s${i - 1} s
         |  JOIN d$i a ON s.src = a.src
         |  JOIN d$i b ON s.dst = b.src)""".stripMargin
    }
    (Seq(projSymCte, "s0 AS MATERIALIZED (SELECT src, dst FROM sym)") ++ rounds)
      .mkString(",\n") +
      """
        |SELECT src AS id, COUNT(*) AS core_degree
        |FROM s8 GROUP BY src ORDER BY id""".stripMargin
  }

  /** Unrolled 4-round synchronous label propagation — same deterministic
    * (count DESC, label ASC) argmax as GraphOps.labelPropagation. */
  private val labelPropSql: String = {
    val head = Seq(projSymCte,
      "nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)",
      "l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)")
    val rounds = (1 to 4).map { i =>
      s"""v$i AS MATERIALIZED (
         |  SELECT e.dst AS id, l.label, COUNT(*) AS c
         |  FROM sym e JOIN l${i - 1} l ON l.id = e.src GROUP BY 1, 2),
         |w$i AS MATERIALIZED (
         |  SELECT id, label FROM (
         |    SELECT id, label,
         |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label ASC) AS rn
         |    FROM v$i) t WHERE rn = 1),
         |l$i AS MATERIALIZED (
         |  SELECT n.id, COALESCE(w.label, n.id) AS label
         |  FROM nodes n LEFT JOIN w$i w ON w.id = n.id)""".stripMargin
    }
    (head ++ rounds).mkString(",\n") +
      """
        |SELECT id, label FROM l4 ORDER BY id""".stripMargin
  }

  /** Unrolled 10-iteration PERSONALIZED PageRank oracle: pagerankSql with
    * the teleport vector concentrated on the seed customers (s/ns instead
    * of 1/n), mirroring personalizedPageRankDeterministic bit for bit. */
  private val pprSql: String = {
    val head =
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE l_quantity >= 48),
         |edges AS MATERIALIZED (
         |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |hop0 AS (SELECT c_custkey AS id FROM customer
         |         WHERE c_name IN ($seedsSqlList)),
         |sf AS MATERIALIZED (
         |  SELECT n.id, CASE WHEN h.id IS NULL THEN 0 ELSE 1 END AS s
         |  FROM (SELECT DISTINCT src AS id FROM edges) n
         |  LEFT JOIN hop0 h ON h.id = n.id),
         |ns AS (SELECT SUM(s) AS ns FROM sf),
         |odeg AS MATERIALIZED (
         |  SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src),
         |pr0 AS (
         |  SELECT id, CAST(s AS DOUBLE) / CAST(ns.ns AS DOUBLE) AS "rank"
         |  FROM sf CROSS JOIN ns)""".stripMargin
    val iters = (1 to 10).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT e.dst AS id,
         |    CAST(SUM(CAST(floor((p."rank" / o.odeg) * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS inflow
         |  FROM pr${k - 1} p
         |  JOIN edges e ON e.src = p.id
         |  JOIN odeg o ON o.src = e.src
         |  GROUP BY e.dst),
         |pr$k AS MATERIALIZED (
         |  SELECT sf.id,
         |    CAST(0.15 AS DOUBLE) * CAST(sf.s AS DOUBLE) / CAST(ns.ns AS DOUBLE)
         |      + CAST(0.85 AS DOUBLE) * COALESCE(c$k.inflow, CAST(0 AS DOUBLE)) AS "rank"
         |  FROM sf CROSS JOIN ns
         |  LEFT JOIN c$k ON c$k.id = sf.id)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"""
         |SELECT id, "rank" FROM pr10 ORDER BY "rank" DESC, id LIMIT 20""".stripMargin
  }

  /** Unrolled 5-iteration HITS oracle (directed cust→supplier edges),
    * mirroring hitsDeterministic: fixed-point sums for scores AND the L1
    * normalization totals, division in pinned order. */
  private val hitsSql: String = {
    val head =
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity >= 48),
        |an AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT dst FROM e0) t),
        |a0 AS MATERIALIZED (
        |  SELECT t.id, CAST(1.0 AS DOUBLE) / an.n AS a
        |  FROM (SELECT DISTINCT dst AS id FROM e0) t CROSS JOIN an)""".stripMargin
    val iters = (1 to 5).map { k =>
      s"""hr$k AS MATERIALIZED (
         |  SELECT e.src AS id,
         |    CAST(SUM(CAST(floor(av.a * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS raw
         |  FROM e0 e JOIN a${k - 1} av ON av.id = e.dst GROUP BY e.src),
         |hs$k AS MATERIALIZED (
         |  SELECT CAST(SUM(CAST(floor(raw * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS s
         |  FROM hr$k),
         |h$k AS MATERIALIZED (
         |  SELECT id, raw / s AS h FROM hr$k CROSS JOIN hs$k),
         |ar$k AS MATERIALIZED (
         |  SELECT e.dst AS id,
         |    CAST(SUM(CAST(floor(hv.h * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS raw
         |  FROM e0 e JOIN h$k hv ON hv.id = e.src GROUP BY e.dst),
         |ats$k AS MATERIALIZED (
         |  SELECT CAST(SUM(CAST(floor(raw * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS s
         |  FROM ar$k),
         |a$k AS MATERIALIZED (
         |  SELECT id, raw / s AS a FROM ar$k CROSS JOIN ats$k)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      """
        |SELECT COALESCE(h.id, a.id) AS id,
        |  COALESCE(h.h, CAST(0.0 AS DOUBLE)) AS hub,
        |  COALESCE(a.a, CAST(0.0 AS DOUBLE)) AS auth
        |FROM h5 h FULL OUTER JOIN a5 a ON a.id = h.id ORDER BY id""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q110_seeded_walks" -> walksSql,
    // Link prediction: same wedge-count + anti-join + degree-join chain;
    // cn / (deg_a + deg_b − cn) is BIGINT arithmetic under one double
    // division, so it matches bit-for-bit.
    "q119_link_prediction" ->
      s"""$projSymCte,
         |deg AS (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src),
         |cn AS (
         |  SELECT x.src AS ia, y.src AS ib, COUNT(*) AS cn
         |  FROM sym x JOIN sym y ON x.dst = y.dst AND x.src < y.src
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |ne AS (
         |  SELECT cn.ia, cn.ib, cn.cn FROM cn
         |  LEFT JOIN proj p ON p.src = cn.ia AND p.dst = cn.ib
         |  WHERE p.src IS NULL)
         |SELECT ia, ib, cn, da.deg AS deg_a, db.deg AS deg_b,
         |  CAST(cn AS DOUBLE) / CAST(da.deg + db.deg - cn AS DOUBLE) AS jaccard
         |FROM ne JOIN deg da ON da.id = ia JOIN deg db ON db.id = ib
         |ORDER BY ia, ib""".stripMargin,
    "q92_clustering_coef" ->
      s"""$projSymCte,
         |deg AS (SELECT src AS id, COUNT(*) AS degree FROM sym GROUP BY src),
         |tri AS (
         |  SELECT id, COUNT(*) AS n_triangles FROM (
         |    SELECT unnest([e1.src, e1.dst, e2.dst]) AS id
         |    FROM proj e1
         |    JOIN proj e2 ON e1.dst = e2.src
         |    JOIN proj e3 ON e3.src = e1.src AND e3.dst = e2.dst) t
         |  GROUP BY id)
         |SELECT d.id, d.degree, COALESCE(t.n_triangles, 0) AS n_triangles,
         |  CASE WHEN d.degree >= 2
         |    THEN CAST(2.0 AS DOUBLE) * CAST(COALESCE(t.n_triangles, 0) AS DOUBLE)
         |         / CAST(d.degree * (d.degree - 1) AS DOUBLE)
         |    ELSE CAST(0.0 AS DOUBLE) END AS coef
         |FROM deg d LEFT JOIN tri t ON t.id = d.id ORDER BY d.id""".stripMargin,
    "q81_kcore" -> kcoreSql,
    "q85_label_prop" -> labelPropSql,
    "q86_ppr_seeds" -> pprSql,
    "q90_hits" -> hitsSql,
    "q44_motif_coshoppers" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity >= 48)
        |SELECT a.src AS cust_a, b.src AS cust_b,
        |  COUNT(*) AS shared_suppliers
        |FROM e0 a JOIN e0 b ON a.dst = b.dst AND a.src < b.src
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY cust_a, cust_b""".stripMargin,
    "q76_triangle_counts" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity >= 48),
        |proj AS (
        |  SELECT a.src AS src, b.src AS dst
        |  FROM e0 a JOIN e0 b ON a.dst = b.dst AND a.src < b.src
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |tri AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM proj e1
        |  JOIN proj e2 ON e1.dst = e2.src
        |  JOIN proj e3 ON e3.src = e1.src AND e3.dst = e2.dst)
        |SELECT id, COUNT(*) AS n_triangles
        |FROM (SELECT unnest([a, b, c]) AS id FROM tri) t
        |GROUP BY id ORDER BY id""".stripMargin,
    // Bounded-depth recursive walk; MIN(dist) over all ≤4-hop walks = BFS
    // first-reach distance (walk count is bounded by avg-degree^4 on the
    // sparse projection).
    "q77_bfs_distance" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity >= 48),
        |proj AS (
        |  SELECT a.src AS src, b.src AS dst
        |  FROM e0 a JOIN e0 b ON a.dst = b.dst AND a.src < b.src
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (SELECT src, dst FROM proj UNION SELECT dst, src FROM proj),
        |seed AS (SELECT MIN(src) AS id FROM proj),
        |walk(id, dist) AS (
        |  SELECT id, 0 FROM seed
        |  UNION ALL
        |  SELECT e.dst, w.dist + 1
        |  FROM walk w JOIN sym e ON e.src = w.id WHERE w.dist < 4)
        |SELECT id, CAST(MIN(dist) AS INTEGER) AS dist
        |FROM walk GROUP BY id ORDER BY dist, id""".stripMargin,
    // Bounded-depth min-COST walk (q77's oracle with a cost accumulator):
    // MIN(total cost) over all ≤4-edge walks = 4-round relaxation result.
    "q80_weighted_sssp" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity >= 48),
        |proj AS (
        |  SELECT a.src AS src, b.src AS dst, COUNT(*) AS cost
        |  FROM e0 a JOIN e0 b ON a.dst = b.dst AND a.src < b.src
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (SELECT src, dst, cost FROM proj
        |        UNION SELECT dst, src, cost FROM proj),
        |seed AS (SELECT MIN(src) AS id FROM proj),
        |walk(id, cost, depth) AS (
        |  SELECT id, CAST(0 AS BIGINT), 0 FROM seed
        |  UNION ALL
        |  SELECT e.dst, w.cost + e.cost, w.depth + 1
        |  FROM walk w JOIN sym e ON e.src = w.id WHERE w.depth < 4)
        |SELECT id, MIN(cost) AS cost FROM walk GROUP BY id ORDER BY id""".stripMargin,
    "q15_pagerank" -> pagerankSql,
    "q13_two_hop_network" ->
      s"""$networkCte
         |SELECT id FROM r2 ORDER BY id""".stripMargin,
    "q14_connected_components" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity >= 48),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |reach(root, node) AS (
        |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
        |  UNION
        |  SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.node)
        |SELECT root AS id, MIN(node) AS component
        |FROM reach GROUP BY root ORDER BY id""".stripMargin,
    "q16_has_ref" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity >= 48),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)
        |SELECT s_suppkey + 100000 AS id,
        |  EXISTS (SELECT 1 FROM edges WHERE dst = s_suppkey + 100000) AS has_ref
        |FROM supplier ORDER BY id""".stripMargin,
    "q17_suspicious_aliases" ->
      s"""$networkCte,
         |supp AS (SELECT id - 100000 AS l_suppkey FROM r2 WHERE id >= 100000),
         |obs AS (
         |  SELECT p_name AS alias, p_brand AS entity, COUNT(*) AS cnt
         |  FROM lineitem
         |  JOIN supp USING (l_suppkey)
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2)
         |SELECT alias, entity, CAST(cnt AS BIGINT) AS cnt,
         |  CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY alias) AS BIGINT) AS probability,
         |  CAST(SUM(cnt) OVER (PARTITION BY alias) AS BIGINT) AS n_obs
         |FROM obs ORDER BY alias, entity""".stripMargin,

    // Harmonic centrality: the networkCte closure as the vertex set, the
    // induced edge list, and MIN(d) over ≤6-hop walks (UNION-deduped
    // (s,n,d) triples keep the recursion |V|²·7-bounded); the centrality
    // is the same exact Σ 1e9 div d fixed-point sum.
    "q143_harmonic_centrality" ->
      s"""WITH RECURSIVE e0 AS (
         |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE l_quantity >= 48),
         |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |hop0 AS (SELECT c_custkey AS id FROM customer
         |         WHERE c_name IN ($seedsSqlList)),
         |r1 AS (SELECT id FROM hop0
         |       UNION SELECT e.dst FROM edges e JOIN hop0 ON e.src = hop0.id),
         |r2 AS (SELECT id FROM r1
         |       UNION SELECT e.dst FROM edges e JOIN r1 ON e.src = r1.id),
         |net AS (SELECT DISTINCT id FROM r2),
         |ie AS (
         |  SELECT e.src, e.dst FROM edges e
         |  JOIN net a ON a.id = e.src
         |  JOIN net b ON b.id = e.dst),
         |walk(s, n, d) AS (
         |  SELECT id, id, 0 FROM net
         |  UNION
         |  SELECT w.s, ie.dst, w.d + 1
         |  FROM walk w JOIN ie ON ie.src = w.n WHERE w.d < 6),
         |dist AS (SELECT s, n, MIN(d) AS d FROM walk GROUP BY s, n),
         |h AS (
         |  SELECT n AS id, COUNT(*) AS n_reached,
         |    CAST(SUM(1000000000 // d) AS BIGINT) AS harmonic_fp
         |  FROM dist WHERE d > 0 GROUP BY n)
         |SELECT net.id, COALESCE(h.n_reached, 0) AS n_reached,
         |  COALESCE(h.harmonic_fp, 0) AS harmonic_fp
         |FROM net LEFT JOIN h ON h.id = net.id
         |ORDER BY net.id""".stripMargin,

    // Assortativity: COUNT/SUM moments are exact BIGINT on both engines
    // (SUM over BIGINT is HUGEINT in DuckDB → cast back); the final Pearson
    // ratio is one deterministic double expression over those scalars.
    "q135_assortativity" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity >= 48),
        |sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |deg AS (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src),
        |j AS (
        |  SELECT dj.deg AS dj, dk.deg AS dk
        |  FROM sym
        |  JOIN deg dj ON dj.id = sym.src
        |  JOIN deg dk ON dk.id = sym.dst),
        |mom AS (
        |  SELECT COUNT(*) AS m,
        |    CAST(SUM(dj * dk) AS BIGINT) AS sum_jk,
        |    CAST(SUM(dj) AS BIGINT) AS sum_j,
        |    CAST(SUM(dj * dj) AS BIGINT) AS sum_j2
        |  FROM j)
        |SELECT m, sum_jk, sum_j, sum_j2,
        |  (CAST(m AS DOUBLE) * CAST(sum_jk AS DOUBLE)
        |     - CAST(sum_j AS DOUBLE) * CAST(sum_j AS DOUBLE))
        |  / (CAST(m AS DOUBLE) * CAST(sum_j2 AS DOUBLE)
        |     - CAST(sum_j AS DOUBLE) * CAST(sum_j AS DOUBLE)) AS assortativity
        |FROM mom""".stripMargin
  )
}
