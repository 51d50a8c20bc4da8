package graft

import org.apache.spark.sql.SparkSession
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
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
