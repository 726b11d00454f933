package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` call the harness needs: block until every
  * posted listener event (jobs, stages, tasks and streaming progress)
  * has been delivered, so the tracer's counters are complete before a
  * pass is summarized.
  */
object SparkBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
