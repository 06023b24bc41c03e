package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains
  * it after every operation so each event is attributed to the operation
  * that caused it. `listenerBus` is package-private, hence this file. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
