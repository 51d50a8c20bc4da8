package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
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
    // Library-level evidence frames: operator plans that final query plans
    // hide behind eager localCheckpoints. The `_before` twin of
    // minhash_signature still exists in code (minhashSignatureArray is the
    // filtered-input form), so both plans dump from the current build.
    val libFrames: Map[String, SparkSession => org.apache.spark.sql.DataFrame] = Map(
      "minhash_signature_before" -> (s => {
        val docs = Tables.documents(s, sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          "/root/testdata/sf0.1"))
        graft.dedup.DedupOps.minhashSignatureArray(
          graft.dedup.DedupOps.shingleTable(docs, "doc_id", "text", 3), 32)
      }),
      "minhash_signature_after" -> (s => {
        val docs = Tables.documents(s, sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          "/root/testdata/sf0.1"))
        graft.dedup.DedupOps.minhashSignatureRows(docs, "doc_id", "text", 3, 32)
      }))

    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    names.foreach { name =>
      try {
        val df = libFrames.get(name).map(_(spark))
          .getOrElse(SparkEntry.queries(name)(spark, sfDir))
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
