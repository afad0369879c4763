package org.apache.spark

/** The two Spark internals the benchmark's tracer reads. Both are
  * `private[spark]`, so this accessor lives in Spark's package; it is part
  * of the benchmark, not of the engine.
  */
object PerfbenchAccess {

  /** Block until every listener event posted so far has been delivered,
    * so counters read after an op include all of that op's jobs.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (classes compiled so far, estimated total compile ms) from Spark's
    * codegen histogram. The histogram keeps no sum, so the total is the
    * count times the mean of its sampled values.
    */
  def codegen(): (Long, Double) = {
    val h = metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
