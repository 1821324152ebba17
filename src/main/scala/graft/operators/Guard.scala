package graft.operators

/** Registry for data-dependent physical-plan decisions ("guards").
  *
  * Operators whose physical shape is chosen at runtime from measured
  * statistics (containment broadcast-vs-shuffle verify arrays, LPA
  * broadcast-vs-shuffle votes and packed-long-vs-struct argmax, both
  * on one `lpa` line from one probe, embed broadcast-vs-shuffle
  * vector fetch, prefix-vs-plain Jaccard index) record the decision
  * here. Each `record` still emits the historical `graft.guard ...`
  * stderr line for ad-hoc runs, but the registry is what makes the
  * decisions auditable at scale: `graft.Bench` snapshots it per query
  * and ships a `guards` map inside the committed BENCH JSON, so which
  * regime a benchmark actually exercised is part of the artifact
  * rather than a transient log line.
  *
  * Latest-wins per guard key within one query is correct: a guard key
  * is decided at most once per operator invocation and the map is
  * drained (snapshot + clear) per bench entry.
  */
object Guard {
  private val decisions =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Record decision for guard `key` and emit the stderr audit line. */
  def record(key: String, decision: String): Unit = {
    decisions.put(key, decision)
    System.err.println(s"graft.guard $key $decision")
  }

  /** Decisions recorded since the last [[clear]], keyed by guard name. */
  def snapshot(): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    decisions.asScala.toMap
  }

  def clear(): Unit = decisions.clear()
}
