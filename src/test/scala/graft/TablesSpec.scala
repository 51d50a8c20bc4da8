package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables.load`'s schema memo: a repeated load reads no footer, a rewritten
  * file or a changed parquet conf infers again. `Tables.rowCount` reads the
  * footers' row counts with no Spark job. Each test runs in its own
  * child session (shared SparkContext, private conf and memo entry). */
class TablesSpec extends SparkSuite {
  import SparkSpec.sf0001

  private val tagKey = "graft.tablesSpec.tag"

  /** Spark jobs started by this thread while `body` runs, counted through a
    * listener and a thread-local tag; a tagged marker job afterwards proves
    * every earlier event has reached the listener. */
  private def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val n = new AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tagKey)).foreach {
          case `tag` => n.incrementAndGet()
          case t if t == s"$tag-end" => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tagKey, tag)
      body
      sc.setLocalProperty(tagKey, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  private def rm(x: File): Unit = { Option(x.listFiles).foreach(_.foreach(rm)); x.delete() }

  private def withTempDir(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_tables_spec").toFile
    try f(dir.toString) finally rm(dir)
  }

  /** Write `df` as ONE parquet file (not a directory) at `path`. */
  private def writeFile(df: DataFrame, path: String): Unit = {
    val stage = s"$path.stage"
    df.coalesce(1).write.parquet(stage)
    val part = new File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(path).toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    rm(new File(stage))
  }

  test("a second Tables.lineitem on the same session starts no Spark job") {
    val s = spark.newSession()
    val first = jobsDuring(s)(Tables.lineitem(s, sf0001).schema)
    val second = jobsDuring(s)(Tables.lineitem(s, sf0001).schema)
    assert(first >= 1, "the first load infers the schema with a job")
    assert(second == 0)
    assert(Tables.lineitem(s, sf0001).schema == s.read.parquet(s"$sf0001/lineitem.parquet").schema)
    assert(Tables.lineitem(s, sf0001).count() == s.read.parquet(s"$sf0001/lineitem.parquet").count())
  }

  test("a table rewritten at the same path with another schema is inferred again") {
    val s = spark.newSession()
    import s.implicits._
    withTempDir { dir =>
      // one file, as the test tables ship
      writeFile(Seq((1L, "a")).toDF("k", "v"), s"$dir/t.parquet")
      assert(Tables.load(s, dir, "t").columns.toSeq == Seq("k", "v"))
      writeFile(Seq((2.5, 3, true)).toDF("x", "y", "z"), s"$dir/t.parquet")
      assert(Tables.load(s, dir, "t").collect().toSeq == Seq(Row(2.5, 3, true)))
      // a directory of part files, as Spark writes them
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/u.parquet")
      assert(Tables.load(s, dir, "u").columns.toSeq == Seq("k", "v"))
      Seq(("b", 7)).toDF("w", "n").write.mode("overwrite").parquet(s"$dir/u.parquet")
      assert(Tables.load(s, dir, "u").collect().toSeq == Seq(Row("b", 7)))
    }
  }

  test("Tables.rowCount == count() for every test table, a part-file directory and a table rewritten in place, with no job") {
    val s = spark.newSession()
    import s.implicits._
    Tables.names.foreach { n =>
      val counted = Tables.load(s, sf0001, n).count()
      assert(jobsDuring(s)(assert(Tables.rowCount(s, sf0001, n) == counted, n)) == 0, n)
    }
    withTempDir { dir =>
      // four part files beside Spark's _SUCCESS and .crc files
      s.range(0, 1000, 1, 4).toDF("k").write.parquet(s"$dir/m.parquet")
      assert(new File(s"$dir/m.parquet").listFiles.count(_.getName.endsWith(".parquet")) == 4)
      assert(Tables.rowCount(s, dir, "m") == 1000L)
      s.range(0, 7, 1, 2).toDF("k").write.mode("overwrite").parquet(s"$dir/m.parquet")
      assert(Tables.rowCount(s, dir, "m") == 7L)
      // one file, rewritten at the same path: the memo reads the new footer
      writeFile(Seq(1L, 2L, 3L).toDF("k"), s"$dir/t.parquet")
      assert(Tables.rowCount(s, dir, "t") == 3L)
      writeFile((1L to 5L).toDF("k"), s"$dir/t.parquet")
      assert(Tables.rowCount(s, dir, "t") == 5L)
      assert(Tables.rowCount(s, dir, "t") == Tables.load(s, dir, "t").count())
    }
  }

  test("building q34 runs no Spark job, and building q79 runs no count, once the schemas are known") {
    val s = spark.newSession()
    def build(q: String) = SparkEntry.queries(q)(s, sf0001)
    build("q34_entity_linking") // infers the table schemas
    assert(jobsDuring(s)(build("q34_entity_linking")) == 0)
    // q79 materializes its mention set and result while it is built; the
    // embedding count is not among its actions
    val actions = PlanDump.actionsOf(s)(build("q79_hybrid_linking")).map(_._1)
    assert(actions.nonEmpty && !actions.contains("count"), actions.mkString(", "))
  }

  test("Tables.events loads both ts layouts, also after a plain load of the file") {
    // TIMESTAMP(MICROS) without UTC adjustment: the test tables' layout
    val micros = spark.newSession()
    assert(Tables.load(micros, sf0001, "events").schema("ts").dataType != LongType)
    val ev = Tables.events(micros, sf0001)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.count() == micros.read.parquet(s"$sf0001/events.parquet").count())

    // TIMESTAMP(NANOS): the older generation
    withTempDir { dir =>
      val nanos = 1700000000123456789L
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
      val conf = new Configuration()
      val w = ExampleParquetWriter.builder(
          HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
        .withType(schema).withConf(conf).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", nanos))
      finally w.close()

      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      val plain = Try(Tables.load(s, dir, "events").schema)
      val loaded = Tables.events(s, dir)
      assert(loaded.schema("ts").dataType == TimestampType)
      assert(loaded.selectExpr("unix_micros(ts)").head().getLong(0) == nanos / 1000)
      // the conf change back re-infers: the memo never answers with the
      // nanosAsLong schema under the other setting
      assert(Tables.load(s, dir, "events").schema("ts").dataType == LongType)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      assert(Try(Tables.load(s, dir, "events").schema).toOption == plain.toOption)
    }
  }
}
