package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
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

  /** What a schema inference depends on: the files under the path (name,
    * length, modification time) and the session's explicitly set parquet
    * confs (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*` — e.g. the
    * `nanosAsLong` switch [[events]] sets — and case sensitivity). */
  private final case class SchemaKey(path: String, files: Seq[(String, Long, Long)],
                                     confs: Map[String, String])

  /** Inferred schemas per session. Weak keys: an entry never keeps a
    * stopped or dropped session alive, and the values hold no session. */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, TrieMap[SchemaKey, StructType]]()

  /** The table `name` under `dir`. The parquet footers are read once per
    * session, file set and parquet conf: the first load infers the schema
    * (one Spark job), every later one reads with that schema
    * (`spark.read.schema(s).parquet`) and runs no job. A file rewritten in
    * place (new length or modification time) or a changed parquet conf
    * infers again. A missing path fails as `spark.read.parquet` does. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) spark.read.parquet(path)
    else {
      val files = fs.listStatus(hPath).toSeq
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)
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
      val schema = perSession.getOrElseUpdate(SchemaKey(path, files, confs),
        spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }
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
