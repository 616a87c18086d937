// Read-only hooks the benchmark needs from inside other packages.

package org.apache.spark {
  /** Wait until the listener bus has delivered every posted event, so the
    * work counted per span is complete before it is read.
    */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {
  object PerfbenchAccess {
    /** The number of memoized lineages the engine holds for a session. */
    def memoEntries(spark: org.apache.spark.sql.SparkSession): Int =
      core.Memo.keysFor(spark).size

    /** The events → taxi-ride projection the PopularPlaces twin reads. */
    def rides(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      operators.StreamProjections.ridesProjection(events)
  }
}
