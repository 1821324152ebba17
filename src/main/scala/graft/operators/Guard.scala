package graft.operators

/** Data-dependent physical-plan decisions ("guards").
  *
  * Operators whose physical shape is chosen at runtime from measured
  * statistics (containment broadcast-vs-shuffle verify arrays, LPA
  * broadcast-vs-shuffle votes and packed-long-vs-struct argmax, both
  * on one `lpa` line from one probe, embed broadcast-vs-shuffle
  * vector fetch, prefix-vs-plain Jaccard index) record the decision
  * here. Each `record` emits a `graft.guard ...` stderr line for ad-hoc
  * runs, then writes the decision into every `graft.Layers` record open
  * on the calling thread: `graft.Bench` ships the headline sample's in
  * its `guards` map and `graft.Verify` in `guards.json`, so which regime
  * a run actually exercised is part of the artifact rather than a
  * transient log line. With no record open the decision is only printed.
  */
object Guard {
  def record(key: String, decision: String): Unit = {
    System.err.println(s"graft.guard $key $decision")
    graft.Layers.guard(key, decision)
  }
}
