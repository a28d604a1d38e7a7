package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the benchmark reads
  * what its listeners recorded only after the bus has drained. The
  * drain call is Spark-private, hence this one-line bridge in Spark's
  * package namespace.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
