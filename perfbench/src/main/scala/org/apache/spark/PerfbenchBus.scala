package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run must
  * see every job and task event of a call before it reads the spans.
  * `waitUntilEmpty` is package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
