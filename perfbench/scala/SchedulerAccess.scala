package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** The two scheduler internals the benchmark's tracer reads. Job ids are
  * handed out synchronously by `submitJob` on the submitting thread, so
  * the id counter read at a span's open and close brackets exactly the
  * jobs submitted inside it, including jobs submitted from pool threads
  * (`graft.Par`) that do not inherit local properties. */
object SchedulerAccess {
  def nextJobId(sc: SparkContext): Int = sc.dagScheduler.nextJobId.get()

  /** Block until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
