package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of one benchmark run (see perfbench/README.md): one workload,
  * one session, one client in a closed loop.
  *
  *  1. Build the session the way `graft.Bench` does (local[cores], shuffle
  *     partitions = cores, UTC), with warehouse, checkpoint, local and temp
  *     directories inside the run's own work directory.
  *  2. Warm-up pass: every step once, its result written to parquet for the
  *     oracle check. `setup_s` ends here.
  *  3. Timed passes until `--seconds` have elapsed: every step's result goes
  *     to the `noop` sink, as in `graft.Bench`, with a GC before each step
  *     and the cache cleared before each pass. An order-independent hash of
  *     each result is observed on the way and must equal the warm-up's.
  *  4. Traced runs only: every second timed pass runs with the [[Tracer]]
  *     attached and spans recorded; then the layer [[Probes]] run.
  *
  * Raw per-pass and per-span records go to `--out` as JSON;
  * perfbench/run.py turns them into metrics.
  *
  * Usage: Harness --data DIR --work DIR --steps a,b --seconds S --trace 0|1
  *                --cores N --out FILE
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // exit explicitly on every path: a non-daemon thread left behind by a
    // failed or stopped session must not keep the JVM alive until the
    // caller's timeout
    val code =
      try {
        val run = new Harness(opts("data"), opts("work"), opts("steps").split(",").toSeq,
          opts("seconds").toDouble, opts("trace") == "1", opts("cores").toInt)
        val result = try run.execute() finally run.stop()
        val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
        Files.writeString(Paths.get(opts("out")), mapper.writeValueAsString(result))
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.exit(code)
  }

  /** "ExceptionClass: first line of its message". */
  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")}"
}

final class Harness(data: String, work: String, steps: Seq[String], seconds: Double,
                    traceRun: Boolean, cores: Int) {
  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.local.dir", s"$work/local")
    .getOrCreate()
  private val sc = spark.sparkContext
  sc.setLogLevel("WARN")
  sc.setCheckpointDir(s"$work/checkpoint")

  val counters = new Counters
  sc.addSparkListener(counters)
  val tracer = new Tracer

  // ---- spans --------------------------------------------------------------
  private var tracing = false
  private var nextSpan = 1L
  private val spans = mutable.ArrayBuffer(Span(0L, -1L, "run", startMs))
  private var current = 0L

  /** Run `body` in a child span of the current one when tracing; returns
    * the body's value and the span id (-1 when not tracing). */
  def span[T](name: String)(body: => T): (T, Long) =
    if (!tracing) (body, -1L)
    else {
      val s = Span(nextSpan, current, name, System.currentTimeMillis())
      nextSpan += 1
      spans += s
      val parent = current
      current = s.id
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try (body, s.id)
      finally {
        s.endMs = System.currentTimeMillis()
        current = parent
        sc.setLocalProperty(Tracer.Key, parent.toString)
      }
    }

  def drain(): Unit = PerfbenchBus.drain(sc)

  def startTracing(): Unit = { drain(); sc.addSparkListener(tracer); tracing = true }
  def stopTracing(): Unit = { drain(); sc.removeSparkListener(tracer); tracing = false }

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  // ---- steps and passes ---------------------------------------------------

  /** Order-independent content hash of `df`, observed while the sink runs:
    * row count plus the sums of the low and high halves of each row's
    * xxhash64. */
  private def hashed(df: DataFrame, obs: Observation): DataFrame = {
    val h = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
    df.observe(obs, count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"), sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  private def runStep(step: String, resultDir: Option[String]): Map[String, Any] = {
    System.gc() // settle the previous step's GC debt before the clock starts
    val obs = Observation()
    val cpu0 = cpuSeconds
    val t0 = System.nanoTime()
    val error = try {
      val w = hashed(graft.SparkEntry.queries(step)(spark, data), obs).write.mode("overwrite")
      resultDir match {
        case Some(dir) => w.parquet(dir)
        case None => w.format("noop").save()
      }
      None
    } catch { case e: Throwable => Some(Harness.describe(e)) }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = cpuSeconds - cpu0
    val (hash, err) = error match {
      case Some(e) => (null, e)
      case None =>
        try {
          val r = Await.result(obs.future, 2.minutes)
          (s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}", null)
        } catch { case e: Throwable => (null, Harness.describe(e)) }
    }
    Map("step" -> step, "s" -> secs, "cpu_s" -> cpu, "hash" -> hash, "error" -> err)
  }

  private def pass(index: Int, traced: Boolean, resultRoot: Option[String]): Map[String, Any] = {
    // caches a query leaves behind alias by logical plan: clear them so every
    // pass runs the real plans (graft.Bench does the same)
    spark.sharedState.cacheManager.clearCache()
    if (traced) startTracing() else drain()
    val shuffle0 = counters.shuffleBytes
    counters.resetPeak()
    val wall0 = System.currentTimeMillis()
    val (recs, spanId) = span(s"pass$index") {
      steps.map { step =>
        val (rec, stepSpan) = span(step)(runStep(step, resultRoot.map(r => s"$r/$step")))
        rec + ("span" -> stepSpan)
      }
    }
    if (traced) stopTracing() else drain()
    Map("index" -> index, "traced" -> traced, "span" -> spanId,
      "start_ms" -> wall0,
      "wall_s" -> recs.map(_("s").asInstanceOf[Double]).sum,
      "cpu_s" -> recs.map(_("cpu_s").asInstanceOf[Double]).sum,
      "shuffle_mb" -> (counters.shuffleBytes - shuffle0) / 1e6,
      "storage_peak_mb" -> counters.peakBytes / 1e6,
      "steps" -> recs)
  }

  def execute(): Map[String, Any] = {
    val warm = pass(0, traced = traceRun, Some(s"$work/results"))
    val setupS = (System.currentTimeMillis() - startMs) / 1e3
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // traced runs alternate untraced and traced passes for trace.overhead,
    // at least untraced, traced, untraced, so the traced pass is bracketed
    val minPasses = if (traceRun) 3 else 1
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds)
      passes += pass(passes.size + 1, traced = traceRun && passes.size % 2 == 1, None)
    val probes =
      if (!traceRun) Map.empty[String, Any]
      else {
        startTracing()
        val m = new Probes(this, data, work).run()
        stopTracing()
        m
      }
    spans.head.endMs = System.currentTimeMillis()
    Map(
      "provenance" -> Map(
        "cores" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "SPARK_GRAFT_STREAM_PARTS" -> sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "unset")),
      "steps" -> steps,
      "oracles" -> steps.map(s => s -> graft.SparkEntry.oracleSql.get(s).orNull).toMap,
      "setup_s" -> setupS,
      "warmup" -> warm,
      "passes" -> passes.toSeq,
      "probes" -> probes,
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "span_stats" -> tracer.snapshot.map { case (k, v) => k.toString -> v })
  }

  def stop(): Unit = spark.stop()
}
