package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one local JVM [[Harness.session]] (UTC,
  * every graft function and rule) with 8 shuffle partitions (tiny fixture
  * data — fewer tasks, faster suite).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Harness.session(4, "spark.sql.shuffle.partitions" -> "8",
      "spark.app.name" -> "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** Every action `run` executes, as (action name, query execution), in
    * order: a query that materializes its inputs (localCheckpoint) or runs
    * a stream executes several, and the returned DataFrame shows only the
    * last. A marker query closes the capture, since listener events arrive
    * in order. */
  def actionsOf(run: => Unit): Seq[(String, QueryExecution)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val marker = "plan_capture_end"
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) done.countDown()
        else seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      spark.range(1).select(org.apache.spark.sql.functions.lit(1).as(marker)).collect()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "capture did not close")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
