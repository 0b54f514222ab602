package org.apache.spark

/** Shim: [[SparkContext.listenerBus]] is private[spark], but anything
  * that reads listener-fed state right after a query must drain it
  * first — a fixed sleep undercounts queries with slow metric delivery
  * (ADVICE r15). Used by the measuring tools (`graft.Profile`,
  * `graft.ScaleProbe`, the perfbench runner) and by specs that read
  * listener or status-store state (PlanHygieneSpec, PipelineSpec,
  * CutoverSpec, CsvStreamSinkSpec); never by a query path. Returns
  * quietly on timeout. */
object GraftListenerDrain {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
