package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.plans.RewriteApproxCosineJoin

/** The native-function surface: typed builders need no session state, and
  * a session built by [[Harness.session]] resolves every SQL name.
  */
class GraftFunctionsSpec extends SparkSuite {

  private val names = GraftFunctions.descriptors.map(_._1.funcName)

  /** Runs `f` on a sibling session over the same SparkContext, built
    * without the extension, then restores the shared session. */
  private def withBareSession(f: SparkSession => Unit): Unit = {
    val s = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val bare = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    try {
      assert(bare ne s)
      f(bare)
    } finally {
      SparkSession.setDefaultSession(s)
      SparkSession.setActiveSession(s)
    }
  }

  private def rewriteRules(s: SparkSession) =
    s.experimental.extraOptimizations.count(_.isInstanceOf[RewriteApproxCosineJoin])

  test("queries leave no functions behind on a session built without the extension") {
    withBareSession { bare =>
      assert(names.forall(n => !bare.catalog.functionExists(n)))
      Seq("q26_cosine_pairs", "q34_entity_linking", "q65_stream_neardup",
          "q116_corpus_flagship", "q68_counter_probabilities").foreach { q =>
        SparkEntry.queries(q)(bare, SparkSpec.sf0001)
          .write.format("noop").mode("overwrite").save()
      }
      names.foreach(n =>
        assert(!bare.catalog.functionExists(n), s"$n was left registered"))
    }
  }

  test("register installs every function and the rewrite once on a session built without the extension") {
    withBareSession { bare =>
      GraftFunctions.register(bare)
      GraftFunctions.register(bare)
      assert(names.forall(n => bare.catalog.functionExists(n)))
      assert(rewriteRules(bare) == 1)
      val q74 = SparkEntry.queries("q74_approx_join_rule")(bare, SparkSpec.sf0001)
      val plan = q74.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"marker join was not rewritten:\n$plan")
      assert(q74.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
      q74.write.format("noop").mode("overwrite").save()
    }
  }

  test("register adds no second rewrite rule on a Harness session") {
    GraftFunctions.register(spark)
    assert(rewriteRules(spark) == 0)
  }

  test("a Harness session resolves every graft function in SQL") {
    val sqls = Map(
      "cosine_sim" -> "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 1.0D))",
      "minhash_signature" -> "SELECT minhash_signature('a b c d', 2, 4)",
      "simhash32" -> "SELECT simhash32('a b c')",
      "lsh_signature" -> "SELECT lsh_signature(array(1.0D, -1.0D), 8)",
      "lsh_signature_salted" -> "SELECT lsh_signature_salted(array(1.0D, -1.0D), 8)",
      "ac_spans" -> "SELECT ac_spans(array('a', 'b'), array('a b'), array(7))",
      "counter_map" -> "SELECT counter_map(k) FROM VALUES ('a'), ('a'), ('b') AS t(k)",
      "approx_cosine_join" -> ("SELECT * FROM VALUES (array(1.0D, 0.5D)) AS a(x) " +
        "JOIN VALUES (array(1.0D, 0.5D)) AS b(y) ON approx_cosine_join(a.x, b.y, 0.5D, 8)"))
    assert(sqls.keySet == names.toSet)
    sqls.foreach { case (n, q) =>
      assert(spark.sql(q).collect().length == 1, n)
    }
  }

  test("typed builders analyze to the same expressions as the SQL names") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1.0, 0.5), Seq(0.5, 1.0), "a b c d"))
      .toDF("u", "v", "t")
    def analyzed(d: DataFrame) = d.queryExecution.analyzed.toString
      .replaceAll("#\\d+L?", "#")
    def same(typed: Column, byName: Column) =
      assert(analyzed(df.select(typed.as("x"))) == analyzed(df.select(byName.as("x"))))
    same(GraftFunctions.cosineSim(col("u"), col("v")),
      call_function("cosine_sim", col("u"), col("v")))
    same(GraftFunctions.minhashSignature(col("t"), 2, 4),
      call_function("minhash_signature", col("t"), lit(2), lit(4)))
    same(GraftFunctions.simhash32(col("t")), call_function("simhash32", col("t")))
    same(GraftFunctions.lshSignature(col("u"), 8),
      call_function("lsh_signature", col("u"), lit(8)))
    same(GraftFunctions.lshSignatureSalted(col("u"), 8),
      call_function("lsh_signature_salted", col("u"), lit(8)))
    same(GraftFunctions.acSpans(split(col("t"), " "), Seq("a b"), Seq(7)),
      call_function("ac_spans", split(col("t"), " "), lit(Array("a b")), lit(Array(7))))
    same(GraftFunctions.counterMap(col("t")), call_function("counter_map", col("t")))
    same(GraftFunctions.approxCosineJoin(col("u"), col("v"), 0.5, 8),
      call_function("approx_cosine_join", col("u"), col("v"), lit(0.5), lit(8)))
  }
}
