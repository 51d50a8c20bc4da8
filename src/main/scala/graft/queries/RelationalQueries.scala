package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.ops.Relational

/** Relational-core queries (SURVEY.md §2: S, F, J, A, W, SET, STR rows) over
  * the driver test tables, each with a DuckDB oracle twin.
  *
  * Float discipline: every SUM over a double column goes through
  * DECIMAL(18,2) so the aggregate is exact and associative — a raw double sum
  * is order-dependent, and Spark's partition order differs from DuckDB's
  * sequential scan, which would make oracle hash-parity flaky. The final cast
  * back to DOUBLE is then deterministic on both engines.
  */
object RelationalQueries {

  private val dec = DecimalType(18, 2)

  /** Shorthand: `sum(cast(c as decimal(18,2)))` cast back to double. */
  private def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(dec)).cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A-ops + F filters + STR: TPC-H Q1-style pricing summary.
    // SURVEY §2 A1/A4, F2; decimal-exact sums.
    "q01_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec)))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // J1-style broadcast dimension lookups: orders → customer → nation →
    // region, revenue per region. nation/region are tiny dims — Catalyst
    // broadcasts them (verified in .explain: BroadcastHashJoin).
    "q02_region_revenue" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      val r = broadcast(Tables.region(s, d))
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"))
    }),

    // F4/SET2 — semi-join filter: customers having at least one open order.
    "q03_semi_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("c_custkey"))
      Relational.semiJoinFilter(c, o, "c_custkey")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // F4 complement — anti-join: customers with no pending ('P') order.
    "q04_anti_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("c_custkey"))
      Relational.antiJoinFilter(c, o, "c_custkey")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // F1/STR1/STR2 — regex blacklist filter (bearer-filter semantics on
    // p_name: one alternation regex over lowercased+trimmed input).
    "q05_blacklist_filter" -> ((s, d) => {
      Tables.part(s, d)
        .filter(Relational.keepNotMatching(col("p_name"),
          Seq("^cold ", "rods?$", "^\\?+$")))
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
    }),

    // F6 — multi-branch CASE type inference (PER/ORG/MISC shape of
    // /root/reference/src/senzing_pipeline.py:122-135).
    "q06_case_type" -> ((s, d) => {
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          when(col("p_type") === "PROMO", "PER")
            .when(col("p_type") === "ECONOMY", "ORG")
            .when(col("p_size") >= 25, "PER")
            .when(col("p_retailprice") > 950.0, "ORG")
            .otherwise("MISC").as("type"))
        .orderBy(col("p_partkey"))
    }),

    // A1 — alias-probability aggregation: per part name (the "alias"), each
    // brand (the "entity") with P(brand | name) by count, in LONG form (one
    // scalar row per pair — the gate's pandas sort cannot handle array
    // columns; the array form is Relational.aliasProbabilities).
    "q07_alias_probabilities" -> ((s, d) => {
      Relational.aliasProbabilitiesLong(Tables.part(s, d), "p_name", "p_brand")
        .orderBy(col("alias"), col("entity"))
    }),

    // A1 kept under its own name with the same oracle string as q07: both
    // run the one per-alias counter_map aggregation
    // (Relational.aliasCounts).
    "q68_counter_probabilities" -> ((s, d) => {
      Relational.aliasProbabilitiesLong(Tables.part(s, d), "p_name", "p_brand")
        .orderBy(col("alias"), col("entity"))
    }),

    // W1 — per-group top-k: top 3 orders by totalprice per customer.
    "q08_topk_window" -> ((s, d) => {
      Relational.topKPerGroup(Tables.orders(s, d),
          Seq(col("o_custkey")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // ARR1/A3 — explode + count: word frequencies over documents.text.
    "q09_explode_tokens" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("word"))
    }),

    // SET1 — union + distinct: nation keys seen on either side.
    "q10_union_distinct" -> ((s, d) => {
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey")))
        .distinct()
        .orderBy(col("nationkey"))
    }),

    // F7/STR3/STR5/J1 — order-sensitive description synthesis with a
    // broadcast country-style lookup (nation name), null-safe optional parts.
    "q11_description_synthesis" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      c.join(n, col("c_nationkey") === col("n_nationkey"), "left")
        .select(
          col("c_custkey"),
          concat(
            col("c_name"),
            lit(", segment "), lower(col("c_mktsegment")),
            when(col("n_name").isNotNull, concat(lit(", in "), col("n_name")))
              .otherwise(lit("")),
            when(col("c_acctbal") < 0, lit(", in debt")).otherwise(lit(""))
          ).as("description"))
        .orderBy(col("c_custkey"))
    }),

    // STR4/STR5 — casts + empty-string default (MATCH_KEY → "INITIAL"
    // semantics of /root/reference/src/senzing_pipeline.py:345-353).
    "q12_coalesce_defaults" -> ((s, d) => {
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          Relational.emptyToDefault(
            when(col("o_orderstatus") === "P", lit("")).otherwise(col("o_orderstatus")),
            lit("INITIAL")).as("status"),
          col("o_custkey").cast("string").as("custkey_str"))
        .orderBy(col("o_orderkey"))
    }),

    // ROLLUP hierarchy totals: revenue per (region, nation), per region, and
    // grand total in one aggregation pass.
    "q39_rollup_revenue" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      val r = broadcast(Tables.region(s, d))
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),

    // CUBE: revenue across every (region, order-status) combination
    // including both one-sided subtotals and the grand total — the full
    // grouping-sets lattice in one aggregation pass (rollup q39 covers the
    // hierarchical prefix subset).
    "q59_cube_revenue" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      val r = broadcast(Tables.region(s, d))
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .cube(col("r_name"), col("o_orderstatus"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("r_name").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
    }),

    // INTERSECT / EXCEPT: nation keys by customer-vs-supplier presence.
    "q40_set_ops" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
      c.intersect(sup).withColumn("side", lit("both"))
        .unionByName(c.except(sup).withColumn("side", lit("customer_only")))
        .unionByName(sup.except(c).withColumn("side", lit("supplier_only")))
        .orderBy(col("side"), col("nationkey"))
    }),

    // CMS JOIN-SIZE ESTIMATION ([[graft.text.CountMin.joinSizeEstimate]]):
    // |orders ⋈ lineitem on orderkey| estimated from two INDEPENDENTLY
    // built count-min sketches via the row-wise inner product, min across
    // the d hash rows — the planner-grade cardinality estimate a 100 TB
    // join wants BEFORE running it (each side's sketch is a map-side-
    // combinable d·w-bounded aggregation; the estimate is a ≤ d·w-row
    // equi-join — neither table is scanned twice, the join itself never
    // runs). The exact join count rides along in the gated output, so the
    // one-sided contract (est ≥ exact, error ≤ e/w·|A|·|B| whp) is
    // hash-proven, not asserted — the q151/q153 sketch-gating discipline.
    "q156_join_size_sketch" -> ((s, d) => {
      import graft.text.CountMin
      val keysA = Tables.orders(s, d)
        .select(col("o_orderkey").cast("string").as("token"))
      val keysB = Tables.lineitem(s, d)
        .select(col("l_orderkey").cast("string").as("token"))
      val est = CountMin.joinSizeEstimate(
        CountMin.sketch(keysA, 4, 131072), CountMin.sketch(keysB, 4, 131072))
      val exact = Tables.orders(s, d).select(col("o_orderkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("exact"))
      est.crossJoin(exact) // 1-row × 1-row scalar join
    }))

  def oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order,
        |  COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_region_revenue" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,
    "q03_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q04_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "q05_blacklist_filter" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT regexp_matches(lower(trim(p_name)), '(^cold )|(rods?$)|(^\?+$)')
        |ORDER BY p_partkey""".stripMargin,
    "q06_case_type" ->
      """SELECT p_partkey,
        |  CASE WHEN p_type = 'PROMO' THEN 'PER'
        |       WHEN p_type = 'ECONOMY' THEN 'ORG'
        |       WHEN p_size >= 25 THEN 'PER'
        |       WHEN p_retailprice > 950.0 THEN 'ORG'
        |       ELSE 'MISC' END AS type
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q07_alias_probabilities" ->
      """WITH bc AS (
        |  SELECT p_name AS alias, p_brand AS entity, COUNT(*) AS cnt
        |  FROM part GROUP BY 1, 2)
        |SELECT alias, entity, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY alias) AS BIGINT) AS probability,
        |  CAST(SUM(cnt) OVER (PARTITION BY alias) AS BIGINT) AS n_obs
        |FROM bc ORDER BY alias, entity""".stripMargin,
    // Same oracle as q07 — the native aggregate must reproduce the
    // relational two-level aggregation bit for bit.
    "q68_counter_probabilities" ->
      """WITH bc AS (
        |  SELECT p_name AS alias, p_brand AS entity, COUNT(*) AS cnt
        |  FROM part GROUP BY 1, 2)
        |SELECT alias, entity, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY alias) AS BIGINT) AS probability,
        |  CAST(SUM(cnt) OVER (PARTITION BY alias) AS BIGINT) AS n_obs
        |FROM bc ORDER BY alias, entity""".stripMargin,
    "q08_topk_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q09_explode_tokens" ->
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY word""".stripMargin,
    "q10_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier) t
        |ORDER BY nationkey""".stripMargin,
    "q11_description_synthesis" ->
      """SELECT c_custkey,
        |  c_name || ', segment ' || lower(c_mktsegment)
        |  || CASE WHEN n_name IS NOT NULL THEN ', in ' || n_name ELSE '' END
        |  || CASE WHEN c_acctbal < 0 THEN ', in debt' ELSE '' END AS description
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,
    "q12_coalesce_defaults" ->
      """SELECT o_orderkey,
        |  COALESCE(NULLIF(TRIM(CASE WHEN o_orderstatus = 'P' THEN '' ELSE o_orderstatus END), ''), 'INITIAL') AS status,
        |  CAST(o_custkey AS VARCHAR) AS custkey_str
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q39_rollup_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q59_cube_revenue" ->
      """SELECT r_name, o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, o_orderstatus)
        |ORDER BY r_name NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "q40_set_ops" ->
      """SELECT nationkey, 'both' AS side FROM
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   INTERSECT SELECT s_nationkey FROM supplier) t1
        |UNION ALL
        |SELECT nationkey, 'customer_only' FROM
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   EXCEPT SELECT s_nationkey FROM supplier) t2
        |UNION ALL
        |SELECT nationkey, 'supplier_only' FROM
        |  (SELECT s_nationkey AS nationkey FROM supplier
        |   EXCEPT SELECT c_nationkey FROM customer) t3
        |ORDER BY side, nationkey""".stripMargin,
    // CMS join-size mirror: same salted 60-bit md5 row hashes as q151's
    // sketch, inner product per row, MIN across rows, exact count alongside.
    "q156_join_size_sketch" ->
      """WITH ska AS (
        |  SELECT r,
        |    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 131072 AS idx,
        |    COUNT(*) AS c
        |  FROM orders CROSS JOIN range(0, 4) t(r)
        |  GROUP BY 1, 2),
        |skb AS (
        |  SELECT r,
        |    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || CAST(l_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 131072 AS idx,
        |    COUNT(*) AS c
        |  FROM lineitem CROSS JOIN range(0, 4) t(r)
        |  GROUP BY 1, 2),
        |dots AS (
        |  SELECT a.r, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
        |  FROM ska a JOIN skb b ON a.r = b.r AND a.idx = b.idx
        |  GROUP BY a.r),
        |e AS (SELECT MIN(dot) AS est FROM dots),
        |x AS (
        |  SELECT COUNT(*) AS exact
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |SELECT e.est, x.exact FROM e CROSS JOIN x""".stripMargin
  )
}
