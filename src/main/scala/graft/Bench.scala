package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Harness.jsonString

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * The full record goes to a file (`BENCH.json`, or `SPARK_GRAFT_BENCH_OUT`);
  * stdout ends with one compact JSON line ([[summary]]) that stays under
  * 2,000 characters at any suite size, so a reader keeping only the tail
  * of stdout can still parse it.
  *
  * Measures STEADY-STATE: one warm-up pass first (JIT + whole-stage-codegen
  * compilation dominate cold numbers — cold-vs-warm varies 2× run to run),
  * then `SPARK_GRAFT_REPEATS` (default 3) timed passes with a forced GC
  * before every query so collector debt from query N doesn't bill query N+1.
  * Per-query "queries" is the MEDIAN across passes; "queries_min" /
  * "queries_max" expose the spread so run-to-run variance is visible in the
  * artifact itself. The headline total is the sum of medians. Set
  * SPARK_GRAFT_WARMUP=0 to skip warm-up, SPARK_GRAFT_REPEATS=1 for a quick
  * single-pass run.
  *
  * The timed action is a `noop`-format WRITE, not count(): under a count
  * Catalyst eliminates final sorts and prunes the project (EliminateSorts
  * below an aggregate), flattering ordered queries — the noop sink executes
  * the full result plan while discarding rows. A query that throws is
  * reported as time -1 in that pass, and as its median when a timed pass
  * failed; "errors" maps exactly those queries to their first timed-pass
  * failure, `ExceptionClass: first message line`, and "stage_errors" does
  * the same for the stage prefixes. A failure in the warm-up pass only
  * shows as -1 in "warmup_queries".
  */
object Bench {
  private type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt.max(1)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    // optional comma-separated query-name filter for focused A/B runs
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = (only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None => SparkEntry.queries
    }).toSeq.sortBy(_._1)
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    type Failures = mutable.LinkedHashMap[String, String]
    val errors, stageErrors: Failures = mutable.LinkedHashMap.empty
    // seconds, or -1 when the query throws (its first failure goes to `failed`)
    def timed(name: String, fn: Query, failed: Failures): Double = {
      // settle GC debt from the previous query before the clock starts
      System.gc()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        failed.getOrElseUpdate(name, Harness.describe(e)); -1.0
      }
    }
    def timedPass(failed: Failures): Seq[(String, Double)] =
      selected.map { case (name, fn) => name -> timed(name, fn, failed) }
    // caches populated inside queries alias by logical plan — clear between
    // passes so every pass measures the real plans, not a cache read
    def clearState(): Unit = spark.sharedState.cacheManager.clearCache()
    val warmupTimes: Seq[(String, Double)] = if (warmup) {
      val w = timedPass(mutable.LinkedHashMap.empty); clearState(); w
    } else Seq.empty
    val passes: Seq[Map[String, Double]] = (1 to repeats).map { _ =>
      val p = timedPass(errors); clearState(); p.toMap
    }
    val names = selected.map(_._1)
    def stats(name: String): (Double, Double, Double) = {
      val ts = passes.map(_(name)).sorted
      if (ts.head < 0) (-1.0, -1.0, -1.0)
      else (ts.head, ts(ts.length / 2), ts.last)
    }
    val med = names.map(n => n -> stats(n)._2)
    val mn = names.map(n => n -> stats(n)._1)
    val mx = names.map(n => n -> stats(n)._3)
    def js(m: Seq[(String, Double)]) =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = med.collect { case (_, v) if v >= 0 => v }.sum
    // Flagship stage-level timings: the two composites (q98/q116) hide
    // stage regressions inside their whole-query medians, so time each
    // CUMULATIVE stage prefix once in the warm JVM — a wrong-plan stage
    // shows as a jump between consecutive entries, no bisect needed.
    // Skipped under SPARK_GRAFT_ONLY (focused A/B runs) or
    // SPARK_GRAFT_STAGES=0.
    val stageFams: Seq[(String, Seq[(String, Query)])] = Seq(
      "q98_erkg_flagship" -> graft.queries.SenzingQueries.flagshipStages,
      "q116_corpus_flagship" -> graft.queries.TextQueries.flagshipStages,
      "q79_hybrid_linking" -> graft.queries.NlpQueries.hybridStages,
      "q226_corpus_release" -> graft.queries.TextQueries.releaseStages)
    val doStages = only.isEmpty && sys.env.getOrElse("SPARK_GRAFT_STAGES", "1") != "0"
    val stageJson =
      if (!doStages) "{}"
      else stageFams.map { case (q, sts) =>
        s"\"" + q + "\":" + js(sts.map { case (sn, fn) => sn -> timed(s"$q/$sn", fn, stageErrors) })
      }.mkString("{", ",", "}")
    def errorJson(m: Failures) =
      m.map { case (k, v) => jsonString(k) + ":" + jsonString(v) }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","repeats":$repeats,"queries":${js(med)},"queries_min":${js(mn)},"queries_max":${js(mx)},"warmup_queries":${js(warmupTimes)},"stages":$stageJson,"errors":${errorJson(errors)},"stage_errors":${errorJson(stageErrors)},"sf":"$sfDir"}"""
    Files.write(Paths.get(outPath), json.getBytes(StandardCharsets.UTF_8))
    println(summary(med, repeats, errors.keys.toSeq, outPath))
    spark.stop()
  }

  /** The stdout contract, one JSON line: sum and geometric mean of the
    * successful medians, query count, repeats, error count, the first five
    * failed names and the path of the full record. Its length does not grow
    * with the suite. */
  def summary(med: Seq[(String, Double)], repeats: Int, failed: Seq[String],
              outPath: String): String = {
    val ok = med.collect { case (_, v) if v >= 0 => v }
    val geomean = if (ok.isEmpty) 0.0 else math.exp(ok.map(math.log).sum / ok.size)
    s"""{"metric":"total","value":${ok.sum},"unit":"sec","n":${med.size},"repeats":$repeats,""" +
      s""""geomean":$geomean,"errors":${failed.size},""" +
      s""""first_errors":${failed.take(5).map(jsonString).mkString("[", ",", "]")},""" +
      s""""out":${jsonString(outPath)}}"""
  }
}
