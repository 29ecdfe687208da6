package org.apache.spark

/** Lets the benchmark wait until every listener has seen every event posted
  * so far. Span boundaries call it, so counters are complete before a span's
  * numbers are read. `listenerBus` is package-private, hence the package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
