package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-evidence dump for the optimization rounds: runs each named query
  * and writes the final plan (`explain("formatted")`) of every action it
  * executed to `<outDir>/<name>.txt`, in order — the local checkpoints and
  * counts that building the DataFrame runs, then the returned DataFrame
  * itself, executed into the `noop` sink. Broadcast-side jobs show inside
  * the plan of the action that ran them.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <q1,q2,...>
  *
  * STREAMING-executed queries (runToTable) and artifact-maintenance queries
  * execute side effects when built — dump those knowingly.
  */
object PlanDump {

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
        val txt = actions.zipWithIndex.map { case ((action, qe), i) =>
          s"== action ${i + 1} of ${actions.size}: $action ==\n" +
            qe.explainString(ExplainMode.fromString("formatted"))
        }.mkString("\n")
        Files.write(Paths.get(s"$outDir/$name.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] wrote $outDir/$name.txt (${actions.size} actions)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
