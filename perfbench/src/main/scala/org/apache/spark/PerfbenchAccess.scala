package org.apache.spark

/** The one engine-internal call the benchmark needs: waiting until the
  * listener bus has delivered every event posted so far, so counters read
  * at a phase boundary include that phase's last tasks. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
