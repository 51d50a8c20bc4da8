package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.graph.GraphOps
import graft.ops.Relational

/** The reference's flagship flow — "given seed names, what is the 2-hop
  * suspicious network and what aliases does it use, with P(entity|alias)?"
  * (/root/reference/src/senzing_pipeline.py:373-397 + :289-305) —
  * instantiated on the driver test tables per SURVEY.md §7:
  * seeds = customer names, edges = customer↔supplier relationships implied by
  * high-quantity lineitems, aliases = part names supplied by the network.
  *
  * Everything below is one lazy Catalyst plan: seed match (J2, an `IN`
  * filter), 2-hop closure (G3-G6, broadcast frontier semi-joins), supplier
  * projection, alias aggregation (A1, one per-alias counter). No collect()
  * in the path.
  */
object Erkg {

  /** J2's seed list: the testdata analog of
    * /root/reference/data/icij-example/suspicious.txt (17 literal names). */
  val suspiciousNames: Seq[String] = Seq(
    "Customer#000000001", "Customer#000000007", "Customer#000000023",
    "Customer#000000042", "Customer#000000099")

  /** Supplier vertex ids are offset into their own range so customers and
    * suppliers share one vertex id space. */
  val supplierOffset = 100000L

  /** Edge strength threshold: only high-quantity lineitems imply a
    * relationship (keeps the graph sparse — avg degree ≈ 2.4). */
  val qtyThreshold = 48.0

  /** G1 — the undirected entity graph as raw arcs: customer ↔ supplier,
    * both directions, one arc pair per qualifying lineitem (duplicates
    * kept, nothing shuffled). What [[GraphOps.kHop]] and
    * [[GraphOps.connectedComponentsDF]] take: their results are sets. */
  def entityArcs(s: SparkSession, d: String): DataFrame =
    GraphOps.arcs(Tables.orders(s, d)
      .join(Tables.lineitem(s, d).filter(col("l_quantity") >= qtyThreshold),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (lit(supplierOffset) + col("l_suppkey")).as("dst")))

  /** G1 — the undirected entity graph, one row per edge direction
    * ([[entityArcs]], distinct): what degree, PageRank and assortativity
    * need, since a duplicate edge would change their values. */
  def entityEdges(s: SparkSession, d: String): DataFrame =
    entityArcs(s, d).distinct()

  /** J2/G3 — seed match: the suspicion list as an `IN` filter on customer
    * names (the reference's O(S×E) nested loop), which the parquet scan
    * takes as a pushed filter; no join, no broadcast job. */
  def seeds(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_name").isin(suspiciousNames: _*))
      .select(col("c_custkey").as("id"))

  /** G3-G6 — the 2-hop suspicious-network closure, over the raw arcs: the
    * edge table is never shuffled. */
  def suspiciousNetwork(s: SparkSession, d: String): DataFrame =
    GraphOps.kHop(entityArcs(s, d), seeds(s, d), 2)

  /** Alias observations over the network's suppliers: every lineitem shipped
    * by a 2-hop-network supplier, joined to its part (alias = p_name,
    * entity = p_brand). The lineitems only semi-join the network, so it is
    * taken before its final `distinct()` ([[GraphOps.kHopBag]]): the id bag
    * is tiny → broadcast semi-side, and the flow shuffles no id. */
  def suspiciousAliasObs(s: SparkSession, d: String): DataFrame = {
    val supp = GraphOps.kHopBag(entityArcs(s, d), seeds(s, d), 2)
      .filter(col("id") >= supplierOffset)
      .select((col("id") - supplierOffset).as("l_suppkey"))
    Tables.lineitem(s, d)
      .join(broadcast(supp), Seq("l_suppkey"), "left_semi")
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
  }

  /** Flagship: alias report over the network's suppliers — per part name
    * ("alias"), which brands ("entities") supply it and with what
    * probability, plus the observation count (array form, the reference's
    * (entities[], probabilities[]) shape). */
  def suspiciousAliasReport(s: SparkSession, d: String): DataFrame =
    Relational.aliasProbabilities(suspiciousAliasObs(s, d), "p_name", "p_brand")
      .orderBy(col("alias"))

  /** Flagship in LONG form — all-scalar columns for the hash-compared
    * correctness gate (array columns are unsortable by the driver's pandas
    * harness). One row per (alias, entity). */
  def suspiciousAliasReportLong(s: SparkSession, d: String): DataFrame =
    Relational.aliasProbabilitiesLong(suspiciousAliasObs(s, d), "p_name", "p_brand")
      .orderBy(col("alias"), col("entity"))
}
