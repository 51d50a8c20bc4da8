package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Relational
import graft.text.EntityLinking

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
    val viaTwoLevel = Oracles.aliasProbabilitiesTwoLevel(raw, "alias", "entity")
      .orderBy("alias").collect()
      .map(r => (r.getString(0), r.getSeq[String](1), r.getSeq[Double](2), r.getLong(3)))
    assert(viaCounter.toSeq == viaTwoLevel.toSeq)
  }

  /** Edge inputs for the alias-prior laws, as (name, observations). */
  private def aliasEdgeInputs: Seq[(String, DataFrame)] = {
    val s = spark
    import s.implicits._
    Seq(
      "empty" -> Seq.empty[(String, Long)].toDF("alias", "entity"),
      "single row" -> Seq(("a", 7L)).toDF("alias", "entity"),
      "all rows duplicate" -> Seq.fill(5)(("a", 7L)).toDF("alias", "entity"),
      "null alias and null entity" -> Seq[(Option[String], Option[Long])](
          (Some("a"), None), (Some("a"), Some(1L)), (Some("a"), None), (None, Some(2L)),
          (None, None), (None, Some(2L)), (Some("b"), None))
        .toDF("alias", "entity"),
      // fullwidth A (U+FF21) sorts before the emoji U+1F600 in Spark's
      // byte order, after it in UTF-16 order
      "string entities" -> Seq(("a", "e2"), ("a", "e10"), ("a", "e2"), ("b", "\uD83D\uDE00"),
          ("b", "\uFF21"), ("b", "z"), ("b", "\uFF21"))
        .toDF("alias", "entity"),
      "bigint entities" -> Seq(("a", 10L), ("a", 9L), ("a", 10L), ("a", -3L), ("b", 1L << 40))
        .toDF("alias", "entity"),
      // at a cap of 2 the tied entities 1, 2, 3 of "t" are cut after 2
      "count ties at the cap" -> Seq(("t", 3L), ("t", 1L), ("t", 2L), ("t", 3L), ("t", 1L),
          ("t", 2L), ("t", 4L), ("u", 9L), ("u", 8L))
        .toDF("alias", "entity"))
  }

  /** Sorted row strings plus the column names and types (nullability aside). */
  private def contents(df: DataFrame): (Seq[String], Seq[String]) =
    (df.collect().map(_.toString).sorted.toSeq,
      df.schema.map(f => s"${f.name}:${f.dataType.simpleString}"))

  test("alias priors law: gazetteer, aliasProbabilitiesLong and aliasProbabilities == their two-level forms on edge inputs") {
    aliasEdgeInputs.foreach { case (name, obs) =>
      Seq(1, 2, 8).foreach { cap =>
        assert(contents(EntityLinking.gazetteer(obs, "alias", "entity", cap)) ==
          contents(Oracles.gazetteerTwoLevel(obs, "alias", "entity", cap)),
          s"gazetteer, cap $cap, on $name")
      }
      assert(contents(Relational.aliasProbabilitiesLong(obs, "alias", "entity")) ==
        contents(Oracles.aliasProbabilitiesLongTwoLevel(obs, "alias", "entity")),
        s"aliasProbabilitiesLong on $name")
      assert(contents(Relational.aliasProbabilities(obs, "alias", "entity")) ==
        contents(Oracles.aliasProbabilitiesTwoLevel(obs, "alias", "entity")),
        s"aliasProbabilities on $name")
    }
  }

  test("alias priors law: an int entity column gives the two-level forms' rows with the entity as bigint") {
    val s = spark
    import s.implicits._
    val obs = Seq[(String, Option[Int])](("a", Some(10)), ("a", Some(9)), ("a", Some(10)),
        ("a", None), ("b", Some(-3)))
      .toDF("alias", "entity")
    val widened = obs.withColumn("entity", col("entity").cast("bigint"))
    assert(contents(EntityLinking.gazetteer(obs, "alias", "entity", 2)) ==
      contents(Oracles.gazetteerTwoLevel(widened, "alias", "entity", 2)))
    assert(contents(Relational.aliasProbabilitiesLong(obs, "alias", "entity")) ==
      contents(Oracles.aliasProbabilitiesLongTwoLevel(widened, "alias", "entity")))
    assert(contents(Relational.aliasProbabilities(obs, "alias", "entity")) ==
      contents(Oracles.aliasProbabilitiesTwoLevel(widened, "alias", "entity")))
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
