package graft

/** The four memo owners `graft.Bench` clears between rounds. `SegOrders`
  * is package-private, so the benchmark reaches it from this package.
  */
object PerfbenchMemos {
  def clear(): Unit = {
    ops.Dedup.clearPairsMemo()
    ops.Similarity.clearSignedMemo()
    ops.Graph.clearGraphMemo()
    ops.SegOrders.clear()
  }
}
