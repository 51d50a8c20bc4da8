package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one session builder of the program's entry points (Bench, Verify,
  * Profile, PlanDump, ScaleBench) and of the test suite, plus the small
  * reporting helpers they share.
  */
object Harness {

  /** `local[cores]` with shuffle partitions = cores, UTC session time zone
    * (Tables.events relies on NTZ→timestamp being an exact micros identity
    * under bare java/spark-submit launches too), no UI, WARN logging and
    * [[GraftExtensions]]: every graft SQL function and the
    * approximate-join rewrite. `conf` pairs are applied last, so they
    * override the defaults. */
  def session(cores: Int, conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** What failed, in one line: `ExceptionClass: first message line`. */
  def describe(e: Throwable): String =
    e.getClass.getName + ": " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR in a message or in builder-authored SQL would
    * otherwise make a reader's `json.load` fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
