package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-evidence dump for the optimization rounds: runs each named query
  * and writes the final plan (`explain("formatted")`) of every action it
  * executed to `<outDir>/<name>.txt`, in order — the local checkpoints and
  * counts that building the DataFrame runs, then the returned DataFrame
  * itself, executed into the `noop` sink. Broadcast-side jobs show inside
  * the plan of the action that ran them.
  *
  * Each action's plan is followed by its duplicated scans
  * ([[duplicatedScans]]): a table read twice in one action is a subtree
  * that runs twice, the first thing to look at when a query does more work
  * than its result needs.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <q1,q2,...>
  *
  * STREAMING-executed queries (runToTable) and artifact-maintenance queries
  * execute side effects when built — dump those knowingly.
  */
object PlanDump extends AdaptiveSparkPlanHelper {

  /** The file relations `plan` scans, one entry per scan, as each
    * relation's root paths; AQE stages and subqueries included. A scan
    * under a `ReusedExchange` ran once for both consumers and is not
    * listed (the reusing side is a leaf). */
  def scans(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) {
      case f: FileSourceScanExec => f.relation.location.rootPaths.mkString(",")
    }

  /** Every relation `plan` scans more than once, with its scan count. */
  def duplicatedScans(plan: SparkPlan): Seq[(String, Int)] =
    scans(plan).groupBy(identity).collect {
      case (rel, xs) if xs.size > 1 => rel -> xs.size
    }.toSeq.sorted

  /** Every action `run` executes in `spark`, as (action name, query
    * execution), in order: a query that materializes its inputs
    * (localCheckpoint, count) or runs a stream executes several, and the
    * returned DataFrame shows only the last. A marker query closes the
    * capture, since listener events arrive in order. */
  def actionsOf(spark: SparkSession)(run: => Unit): Seq[(String, QueryExecution)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val marker = "plan_capture_end"
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) done.countDown()
        else seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      spark.range(1).select(lit(1).as(marker)).collect()
      if (!done.await(60, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException("plan capture did not close")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesCsv) = args
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    names.foreach { name =>
      try {
        val actions = actionsOf(spark) {
          SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        val dups = actions.map { case (_, qe) => duplicatedScans(qe.executedPlan) }
        val txt = actions.zip(dups).zipWithIndex.map { case (((action, qe), dup), i) =>
          s"== action ${i + 1} of ${actions.size}: $action ==\n" +
            qe.explainString(ExplainMode.fromString("formatted")) +
            "== duplicated scans: " + (if (dup.isEmpty) "none\n"
              else dup.map { case (rel, n) => s"\n  $rel x$n" }.mkString + "\n")
        }.mkString("\n")
        Files.write(Paths.get(s"$outDir/$name.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] wrote $outDir/$name.txt (${actions.size} actions, " +
          s"${dups.count(_.nonEmpty)} with duplicated scans)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
