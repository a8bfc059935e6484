package org.apache.spark

/** Bridge into `private[spark]` internals: the listener bus flush the
  * bench harness needs, so per-query metric snapshots (shuffle
  * bytes/records from stage-completion events) are read only after every
  * event for the just-finished query has been delivered; and the name
  * filter Spark's file listing applies. */
object GraftSparkBridge {
  /** Does Spark's file index skip an entry of this name (`_SUCCESS`,
    * `.crc`, ...)? */
  def hiddenFromListing(name: String): Boolean =
    util.HadoopFSUtils.shouldFilterOutPathName(name)

  def waitListenerBusEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () } // a slow bus must not fail the bench
}
