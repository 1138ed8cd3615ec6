package org.apache.spark

/** The listener bus's drain is package-private; job-counting specs need
  * it so that every job a block started has been seen before counting. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
