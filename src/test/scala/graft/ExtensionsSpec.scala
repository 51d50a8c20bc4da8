package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.plans.RewriteApproxCosineJoin
import graft.vector.VectorOps

/** The declarative approximate similarity join (SURVEY §4's "custom
  * similarity-join strategy"): marker predicate + optimizer rule, installed
  * either via SparkSessionExtensions or experimental.extraOptimizations.
  */
class ExtensionsSpec extends SparkSuite {

  private def vecs(n: Int) = {
    val s = spark
    import s.implicits._
    // deterministic unit-ish vectors in 8 dims: two tight clusters + noise
    (0 until n).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
        else Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 1.0f)
      val v = base.clone()
      v(i % 8) = v(i % 8) + 0.05f * (i % 3)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("marker join rewrites to the LSH bucket plan and matches lshNeighborPairs") {
    val s = spark
    GraftFunctions.register(s)
    val e = vecs(40)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val joined = a.join(b,
      call_function("approx_cosine_join", col("ea"), col("eb"), lit(0.3), lit(8))
        && col("ia") < col("ib"))
      .select(col("ia"), col("ib"))
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = VectorOps.lshNeighborPairs(e, 8, 0.3)
      .select(col("ia"), col("ib")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
    // the physical plan must be an equi-join on the signature, never a
    // cross/nested-loop over all pairs
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"marker join was not rewritten:\n$plan")
    assert(joined.queryExecution.optimizedPlan.toString.contains("__graft_lsh"),
      "expected the injected signature columns in the optimized plan")
  }

  test("marker under OR is NOT rewritten (would silently drop other branches)") {
    val s = spark
    GraftFunctions.register(s)
    val e = vecs(8)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    // marker nested under OR: conjoining a top-level bucket equality would
    // drop (ia === ib) matches whose signatures differ — the rule must
    // leave the plan alone and the marker must fail loudly at execution
    val joined = a.join(b,
      call_function("approx_cosine_join", col("ea"), col("eb"), lit(0.3), lit(8))
        || col("ia") === col("ib"))
    assert(!joined.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
    val ex = intercept[Exception](joined.collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("conjunct")))
  }

  test("unrewritten marker fails with a pointer to the extension, never cross-joins") {
    val s = spark
    GraftFunctions.register(s)
    // a marker OUTSIDE a join condition is not rewritten — evaluating it
    // must fail loudly rather than silently doing anything
    val e = vecs(4)
    val ex = intercept[Exception] {
      e.select(call_function("approx_cosine_join",
        col("embedding"), col("embedding"), lit(0.5), lit(8))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("GraftExtensions")))
  }

  test("SparkSessionExtensions path installs the same rule at session build") {
    val s = spark
    val snapshot = vecs(20).collect().toSeq
    val schema = vecs(20).schema
    // a sibling session over the same SparkContext, with extensions applied
    // the production way (builder-time injection)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    try {
      assert(s2 ne s)
      import scala.jdk.CollectionConverters._
      val e2 = s2.createDataFrame(snapshot.asJava, schema)
      val a = e2.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      val b = e2.select(col("vec_id").as("ib"), col("embedding").as("eb"))
      val joined = a.join(b,
        call_function("approx_cosine_join", col("ea"), col("eb"), lit(0.3), lit(8))
          && col("ia") < col("ib"))
      assert(joined.count() > 0)
      assert(joined.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
    } finally {
      SparkSession.setDefaultSession(s)
      SparkSession.setActiveSession(s)
    }
  }
}
