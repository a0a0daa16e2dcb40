// Two engine internals the traced run needs, exposed from the packages
// that may see them. Nothing here changes behaviour.

package org.apache.spark {
  object PerfbenchBus {
    /** Block until the listener bus has delivered every posted event. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {
  object PerfbenchAccess {
    /** The writer fan-out `Graft.buildSegmentIndex` picks for `microShards = 0`. */
    def autoMicroShards(df: org.apache.spark.sql.DataFrame, shards: Int): Int =
      graft.index.SegmentShardSink.autoMicroShards(df, shards)
  }
}
