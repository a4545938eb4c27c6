// The Spark-private calls the harness needs, each from inside the
// package whose members it reaches.
package org.apache.spark {

  object PerfbenchBridge {
    /** Listener events are delivered asynchronously, so per-layer totals
      * are read only after the bus has drained.
      */
    def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

    /** Closes every loaded state store provider. A stopped stream's
      * providers otherwise stay loaded until the maintenance task next
      * runs, so the state of a throwaway stream would count in the next
      * stream's heap. Called only while no stream runs.
      */
    def unloadStateStores(): Unit =
      sql.execution.streaming.state.PerfbenchStateBridge.unloadAll()
  }
}

package org.apache.spark.sql.execution.streaming.state {

  object PerfbenchStateBridge {
    def unloadAll(): Unit = StateStore.unloadAll()
  }
}
