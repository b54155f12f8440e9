package org.apache.spark

/** Flushes the listener bus so the benchmark's recorder has seen every
  * event of the jobs that already returned. `listenerBus` is
  * `private[spark]`, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
