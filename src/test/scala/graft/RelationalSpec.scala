package graft

import org.apache.spark.sql.functions._

import graft.ops.Relational

/** Relational-core operator specs. Reference-behavior fixtures come from
  * FIXTURES.md A3/A6 (recorded accept/reject strings and the alias-probability
  * golden from /root/reference/dev.ipynb cell 102).
  */
class RelationalSpec extends SparkSuite {
  import SparkSpec.sf0001

  test("F1 bearer blacklist: recorded accept/reject strings") {
    import spark.implicits._
    val names = Seq(
      "THE BEARER", "bearer shares", "El Portador", "the bearer (1,000)",
      "bearer no. 5", "nan", "???",                    // must reject
      "Heydar Aliyev", "Bearer Brothers Ltd")          // must keep
    val kept = names.toDF("name")
      .filter(Relational.keepNotMatching(col("name"), Relational.bearerPatterns))
      .as[String].collect().toSet
    assert(kept === Set("Heydar Aliyev", "Bearer Brothers Ltd"))
  }

  test("A1 alias probabilities: golden 2-entity 50/50 split") {
    import spark.implicits._
    // dev.ipynb cell 102: alias seen once for each of two entities → [0.5, 0.5]
    val raw = Seq(
      ("atli institute", "227026"), ("atli institute", "1038409"),
      ("solo alias", "42"), ("solo alias", "42"))
      .toDF("alias", "entity")
    val out = Relational.aliasProbabilities(raw, "alias", "entity")
      .orderBy("alias").collect()
    val atli = out(0)
    assert(atli.getAs[Seq[String]]("entities") === Seq("1038409", "227026"))
    assert(atli.getAs[Seq[Double]]("probabilities") === Seq(0.5, 0.5))
    val solo = out(1)
    assert(solo.getAs[Seq[String]]("entities") === Seq("42"))
    assert(solo.getAs[Seq[Double]]("probabilities") === Seq(1.0))
  }

  test("counter_map aggregate equals the two-level A1 aggregation") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val raw = Seq(
      ("a", "e2"), ("a", "e1"), ("a", "e1"), ("b", "e9"), ("b", "e9"))
      .toDF("alias", "entity")
    val tot = aggregate(map_values(col("cm")), lit(0L), _ + _)
    val viaCounter = raw.groupBy(col("alias"))
      .agg(call_function("counter_map", col("entity")).as("cm"))
      .select(col("alias"),
        map_keys(col("cm")).as("entities"),
        transform(map_values(col("cm")), v => v.cast("double") / tot)
          .as("probabilities"),
        tot.as("n_obs"))
      .orderBy("alias").collect()
      .map(r => (r.getString(0), r.getSeq[String](1), r.getSeq[Double](2), r.getLong(3)))
    val viaTwoLevel = Relational.aliasProbabilities(raw, "alias", "entity")
      .orderBy("alias").collect()
      .map(r => (r.getString(0), r.getSeq[String](1), r.getSeq[Double](2), r.getLong(3)))
    assert(viaCounter.toSeq == viaTwoLevel.toSeq)
  }

  test("A1 probabilities sum to 1 per alias on real data") {
    val out = Relational.aliasProbabilities(
      Tables.part(spark, sf0001), "p_name", "p_brand")
    val sums = out.select(aggregate(col("probabilities"), lit(0.0), _ + _).as("s"))
      .collect().map(_.getDouble(0))
    assert(sums.nonEmpty && sums.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("W1 top-k per group: k rows max, ordered, deterministic ties") {
    val top = Relational.topKPerGroup(Tables.orders(spark, sf0001),
      Seq(col("o_custkey")), Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
    val perGroup = top.groupBy("o_custkey").count().collect()
    assert(perGroup.forall(_.getLong(1) <= 3))
  }

  test("F4 semi + anti join partition the keyed rows") {
    val c = Tables.customer(spark, sf0001)
    val o = Tables.orders(spark, sf0001).select(col("o_custkey").as("c_custkey"))
    val semi = Relational.semiJoinFilter(c, o, "c_custkey").count()
    val anti = Relational.antiJoinFilter(c, o, "c_custkey").count()
    assert(semi + anti === c.count())
  }

  test("STR5 emptyToDefault") {
    import spark.implicits._
    val out = Seq("", "  ", "x").toDF("v")
      .select(Relational.emptyToDefault(col("v"), lit("INITIAL")).as("r"))
      .as[String].collect().toSeq
    assert(out === Seq("INITIAL", "INITIAL", "x"))
  }

  test("driver contract: every query has distinct column names and runs on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf0001)
      val cols = df.columns.toSeq
      assert(cols.distinct.size === cols.size, s"$name duplicate columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
