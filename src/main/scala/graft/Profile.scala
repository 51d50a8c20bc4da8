package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job/stage time attribution for one query — the guide-§1 "empirical"
  * loop without a UI: runs the named queries once warm + once timed, with a
  * listener recording every job's wall time and every stage's task-time /
  * shuffle bytes, printed largest-first. Evidence source for
  * OPTIMIZATION_r17.md's "what was measured" column.
  *
  * Usage: runMain graft.Profile <sfDir> <q1,q2,...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, namesCsv) = args
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    case class JobRec(id: Int, desc: String, start: Long, var end: Long = -1L)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.LinkedHashMap.empty[Int, (String, Long, Long, Long, Int)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, d, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val si = e.stageInfo
          val m = si.taskMetrics
          stages(si.stageId) = (si.name,
            m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            si.numTasks)
        }
    }

    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(): Double = {
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val warm = run() // JIT + codegen warm-up; artifacts build here
      jobs.clear(); stages.clear()
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobDescription(name)
      val timed = run()
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      spark.sparkContext.setJobDescription(null)
      println(f"== $name warm=$warm%.2fs timed=$timed%.2fs jobs=${jobs.size}")
      val js = jobs.values.toSeq.filter(_.end > 0)
        .map(j => (j.end - j.start) / 1e3).sorted.reverse
      println(f"   job wall: sum=${js.sum}%.2fs top=" +
        js.take(12).map(x => f"$x%.2f").mkString(","))
      val topStages = stages.toSeq.sortBy(-_._2._2).take(12)
      topStages.foreach { case (id, (nm, rt, sr, sw, nt)) =>
        println(f"   stage $id%4d taskTime=${rt / 1e3}%8.2fs tasks=$nt%3d " +
          f"shufR=${sr / 1e6}%8.1fMB shufW=${sw / 1e6}%8.1fMB  $nm")
      }
    }
    spark.stop()
  }
}
