package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.sources.Layout

/** Sorted-partitioned layout writer: partition dirs for planning-time
  * pruning, per-file sorted runs for scan-time row-group skipping.
  */
class LayoutSpec extends SparkSuite {

  /** SQL executions this thread registers while `body` runs, told apart by
    * a job description (an execution takes its description from it); a
    * marker execution afterwards proves every earlier event has reached
    * the listener. */
  private def sqlExecutionsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.description == tag => n.incrementAndGet()
        case x: SparkListenerSQLExecutionStart if x.description == s"$tag-end" => markerSeen.countDown()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(tag)
      body
      sc.setJobDescription(s"$tag-end")
      spark.range(1).collect()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  test("fanOutScan decides from split metadata: no SQL execution, df.rdd's partition count") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("fanout").toFile.getAbsolutePath
    s.range(0, 6000, 1, 6).write.parquet(s"$dir/multi")
    val docs = Tables.documents(s, SparkSpec.sf0001)
    val checkpoint = s.range(0, 100, 1, 3).toDF().localCheckpoint()
    val cases = Seq(
      "single-file table" -> docs.filter(col("doc_id") > 3),
      "multi-file directory" -> s.read.parquet(s"$dir/multi"),
      "checkpoint" -> checkpoint.select((col("id") * 2).as("id")),
      "local data, fewer rows than cores" -> Seq(1L, 2L).toDF("id"),
      "local data, more rows than cores" -> (1L to 50L).toDF("id"),
      "empty local data" -> Seq.empty[Long].toDF("id"),
      "union" -> s.read.parquet(s"$dir/multi").union(checkpoint))
    cases.foreach { case (name, df) =>
      var width = -1
      val executions = sqlExecutionsDuring {
        width = Layout.scanPartitions(df)
        Layout.fanOutScan(df, col(df.columns.head))
      }
      assert(executions == 0, s"$name: deciding registered $executions SQL executions")
      assert(width == df.rdd.getNumPartitions, name)
    }
  }

  test("writePartitionedSorted: hive dirs per day, every file internally sorted") {
    val s = spark
    val dir = Files.createTempDirectory("layout").toFile.getAbsolutePath
    val ev = Tables.events(s, SparkSpec.sf0001)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Layout.writePartitionedSorted(ev, dir, "day", Seq("ts", "event_id"))

    // hive-style layout: one directory per day
    val dayDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
    val nDays = ev.select("day").distinct().count()
    assert(dayDirs.length.toLong == nDays, s"expected $nDays day= dirs")

    // every written FILE is a sorted run on (ts, event_id) — the property
    // that makes parquet row-group min/max stats selective
    val withFile = s.read.parquet(dir)
      .select(input_file_name().as("f"), col("ts"), col("event_id"))
    val unsortedFiles = withFile
      .withColumn("prev_ts", lag(col("ts"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("f"))
          .orderBy(monotonically_increasing_id())))
      .filter(col("prev_ts") > col("ts"))
    assert(unsortedFiles.isEmpty,
      "found a file whose rows are not ts-sorted")

    // read back equals input (layout changes bytes, not data)
    assert(s.read.parquet(dir).count() == ev.count())
  }

  test("zOrderKey: bit-interleave is monotone in each key and tiles blocks") {
    val s = spark
    import s.implicits._
    val grid = (for (a <- 0L until 8L; b <- 0L until 8L) yield (a, b))
      .toDF("a", "b")
    val z = grid.select(col("a"), col("b"),
        Layout.zOrderKey(col("a"), col("b"), bits = 3).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // exact Morton values for the first cells
    assert(z((0L, 0L)) == 0L && z((1L, 0L)) == 1L && z((0L, 1L)) == 2L && z((1L, 1L)) == 3L)
    // z-values are unique over the grid (it's a space-filling curve)
    assert(z.values.toSet.size == 64)
    // fixing one key, z is strictly increasing in the other
    for (b <- 0L until 8L) {
      val row = (0L until 8L).map(a => z((a, b)))
      assert(row == row.sorted, s"z not monotone in a at b=$b")
    }
    // each aligned 2x2 block occupies one contiguous z-range of size 4 —
    // the tiling property that localizes 2-D neighborhoods into files
    for (a0 <- 0L until 8L by 2; b0 <- 0L until 8L by 2) {
      val block = for (a <- a0 to a0 + 1; b <- b0 to b0 + 1) yield z((a, b))
      assert(block.max - block.min == 3, s"block ($a0,$b0) not contiguous")
    }
  }

  test("writeZOrdered: per-file ranges are narrow on BOTH columns") {
    val s = spark
    val dir = Files.createTempDirectory("zorder").toFile.getAbsolutePath
    // two independent uniform keys — a single-column sort would leave the
    // other column's per-file range at full width
    val df = s.range(4096).select(
      (col("id") * 2654435761L % 4096).as("x"),
      (col("id") * 40503L % 4096).as("y"))
    Layout.writeZOrdered(df, dir, "x", "y", files = 16)
    val spans = s.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max(col("x")) - min(col("x"))).as("sx"),
        (max(col("y")) - min(col("y"))).as("sy"),
        count(lit(1)).as("n"))
      .collect()
    assert(spans.length >= 8, "expected multiple files")
    assert(spans.map(_.getAs[Long]("n")).sum == 4096L)
    // both dimensions tile: average per-file span well under the full
    // 0..4095 range on EACH column (a plain x-sort leaves avg sy ≈ 4095)
    val avgSx = spans.map(_.getAs[Long]("sx")).sum.toDouble / spans.length
    val avgSy = spans.map(_.getAs[Long]("sy")).sum.toDouble / spans.length
    assert(avgSx < 2500, s"avg x-span $avgSx not tiled")
    assert(avgSy < 2500, s"avg y-span $avgSy not tiled")
  }
}
