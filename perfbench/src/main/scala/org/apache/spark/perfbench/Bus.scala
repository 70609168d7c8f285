package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access that Spark keeps package-private: the benchmark
  * drains the bus before it reads its listeners' counters, so no job,
  * task or block event of a finished operation is still in flight. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
