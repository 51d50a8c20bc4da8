package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver test tables (`TESTDATA.md`): one parquet file per
  * table under a scale-factor directory. Columnar parquet scans give Catalyst
  * filter pushdown + column pruning for free — the idiomatic replacement for
  * the reference's three full JSONL passes
  * (/root/reference/src/senzing_pipeline.py:63,227,333).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A table's data files as a memo key: (path, length, modification
    * time), by path. A table is one parquet file or a flat directory of
    * them; `.` or `_` prefixed names (checksums, `_SUCCESS`) are skipped, as
    * Spark's file index skips them. */
  private def files(fs: FileSystem, path: Path): Seq[(Path, Long, Long)] =
    fs.listStatus(path).toSeq
      .map(f => (f.getPath, f.getLen, f.getModificationTime))
      .filterNot { case (p, _, _) => p.getName.startsWith(".") || p.getName.startsWith("_") }
      .sortBy(_._1.toString)

  /** What a schema inference depends on: the table's [[files]] and the
    * session's explicitly set parquet confs (`spark.sql.parquet.*`,
    * `spark.sql.legacy.parquet.*` — e.g. the `nanosAsLong` switch [[events]]
    * sets — and case sensitivity). */
  private final case class SchemaKey(path: String, files: Seq[(Path, Long, Long)],
                                     confs: Map[String, String])

  /** Inferred schemas per session. Weak keys: an entry never keeps a
    * stopped or dropped session alive, and the values hold no session. */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, TrieMap[SchemaKey, StructType]]()

  /** Row counts by [[files]]: a count depends on the files alone. */
  private val rowCounts = TrieMap.empty[Seq[(Path, Long, Long)], Long]

  private def tablePath(dir: String, name: String) = s"$dir/$name.parquet"

  /** The table `name` under `dir`. The parquet footers are read once per
    * session, file set and parquet conf: the first load infers the schema
    * (one Spark job), every later one reads with that schema
    * (`spark.read.schema(s).parquet`) and runs no job. A file rewritten in
    * place (new length or modification time) or a changed parquet conf
    * infers again. A missing path fails as `spark.read.parquet` does. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = tablePath(dir, name)
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) spark.read.parquet(path)
    else {
      val confs = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
          k == "spark.sql.caseSensitive"
      }
      val perSession = schemas.synchronized {
        Option(schemas.get(spark)).getOrElse {
          val m = TrieMap.empty[SchemaKey, StructType]
          schemas.put(spark, m)
          m
        }
      }
      val schema = perSession.getOrElseUpdate(SchemaKey(path, files(fs, hPath), confs),
        spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }
  }

  /** The row count of table `name` under `dir`, for a plan literal: the sum
    * of its parquet footers' row counts, read on the driver with no Spark
    * job, and memoized on the same file key as [[load]]'s schema (a file
    * rewritten in place is read again). Equals `load(...).count()`. A
    * missing path fails with `FileNotFoundException`. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    val path = tablePath(dir, name)
    val hPath = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = hPath.getFileSystem(conf)
    val fileKey = files(fs, hPath)
    rowCounts.getOrElseUpdate(fileKey, fileKey.map { case (f, _, _) =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.parquet` has shipped `ts` in two physical forms across driver
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    * read nanos as long and truncate to µs, identical to DuckDB's
    * TIMESTAMP_NS → TIMESTAMP cast) and plain TIMESTAMP(MICROS) without UTC
    * adjustment (inferred as TIMESTAMP_NTZ; cast to session-TZ timestamp —
    * an exact micros identity because every entry point pins
    * `spark.sql.session.timeZone=UTC`). Branch on the footer schema so both
    * generations load to the same µs TimestampType column. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    if (eventsTsIsLong(raw))
      raw.withColumn("ts",
        org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else
      raw.withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast("timestamp"))
  }

  /** True when the events `ts` column decodes as raw nanos (legacy layout). */
  def eventsTsIsLong(raw: DataFrame): Boolean =
    raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
