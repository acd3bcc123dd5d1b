package graft

/** The library's scale knobs, stated once so the adaptive gates can't drift
  * apart.
  *
  * `dimensionRows` is the row count below which a relation is treated as
  * dimension-sized — safe to collect for a gated driver-local algorithm
  * (with a distributed fallback above it). 64k rows of ids/arrays is a few
  * tens of MB: far below any executor/driver budget, far above every
  * dimension table and graph the reference serves (~17k entities).
  *
  * `edgesPerVertex` scales a driver-local graph's edge bound from its
  * vertex cutoff (3,997,696 edges at the default): every gate in
  * `graft.graph` reads both bounds through `graph/LocalGraph`.
  *
  * Four joins also gate an explicit broadcast on `dimensionRows` where
  * Spark's own estimate is known to mis-size the relation
  * (`Similarity.bucketedNearDups`, `TextAnalysis.domainShift`,
  * `TextAnalysis.keywords`, `Pipeline.incrementalRelease`); every other
  * join strategy is the planner's.
  */
object Limits {
  val dimensionRows: Long = 65536
  val edgesPerVertex: Long = 61
}
