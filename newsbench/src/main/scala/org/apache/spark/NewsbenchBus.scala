package org.apache.spark

/** The listener bus's drain is package-private; the benchmark needs it to
  * read complete per-span totals once a run ends. */
object NewsbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
