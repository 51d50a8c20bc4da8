package graft.tools

/** Builder-side plan auditor (test scope, never shipped): prints the
  * join/exchange/scan/codegen skeleton of each named query's physical plan
  * so shuffle count and broadcast placement can be eyeballed per round.
  *
  * Usage: sbt 'Test/runMain graft.tools.PlanDump q111_kmeans q113_pq_adc_knn'
  * (optional first arg `full` prints the whole plan).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (full, names) =
      if (args.headOption.contains("full")) (true, args.drop(1))
      else (false, args)
    val spark = graft.Harness.session(4, "spark.sql.shuffle.partitions" -> "8",
      "spark.app.name" -> "plandump")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    try names.foreach { q =>
      println(s"===== $q =====")
      val plan = graft.SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      if (full) println(plan)
      else println(plan.linesIterator.filter(l =>
          l.contains("Join") || l.contains("Exchange") ||
          l.contains("Scan parquet") || l.contains("WholeStageCodegen"))
        .mkString("\n"))
    } finally spark.stop()
  }
}
