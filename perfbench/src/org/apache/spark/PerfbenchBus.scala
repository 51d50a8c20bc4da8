package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until every
  * event posted so far has reached the listeners, so that counters read
  * after a pass include all of that pass's stages and block updates. The
  * wait is long because the default of 10 s is not enough on a loaded
  * host, and a timeout would fail the whole run. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
