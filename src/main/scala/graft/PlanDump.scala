package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Plan-evidence dump for the optimization rounds: writes
  * `.explain("formatted")` for each named query to `<outDir>/<name>.txt`.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <q1,q2,...>
  *
  * Notes:
  *  - Building a BATCH query's DataFrame is lazy, so the dump costs planning
  *    only. STREAMING-executed queries (runToTable) and artifact-maintenance
  *    queries execute side effects when built — dump those knowingly.
  *  - The dumped plan is the INITIAL AQE plan (isFinalPlan=false); join
  *    strategy / exchange counts are still visible, which is what the
  *    before/after evidence needs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesCsv) = args
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(Paths.get(s"$outDir/$name.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] wrote $outDir/$name.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
