package graft

import org.scalatest.funsuite.AnyFunSuite

/** Repo-wide cache accounting (round 13): the library-grade contract
  * is that a caller who runs ANY declared query — repeatedly — and
  * then calls spark.catalog.clearCache() is left with ZERO residual
  * cache entries. Two release paths exist and both are audited:
  *
  *  - CacheManager entries (df.persist inside operators/queries):
  *    released synchronously by clearCache — the Blocking-style
  *    documented contract ("the entry must live until the caller's
  *    clearCache");
  *  - localCheckpoint entries (the iterative graph family: the
  *    per-round states of Ckpt.iterate's loops etc.): not
  *    CacheManager-backed. Superseded rounds are released by the
  *    operators themselves; the FINAL
  *    returned checkpoints are released deterministically by the
  *    caller-facing Ckpt.releaseAll() (clearCache's analog for
  *    checkpoint blocks), with the ContextCleaner GC path as backstop.
  *
  * Cache-touching queries are run TWICE before the release check, so
  * unbounded per-invocation growth (a persist whose canonical form
  * changes per call, or an entry pinned by a leaked global) fails the
  * audit even when a single run looks clean. The per-operator DEAD
  * entry bounds (nothing resident the returned plan cannot read)
  * stay in operators.CacheScopeTest; this sweep pins the release
  * contract over every public operator surface at once.
  */
class CacheAccountingAuditTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val SF = "/root/testdata/sf0.001"

  private def ids: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** GC-nudge until every RDD id outside `base` is dropped (the
    * ContextCleaner path) or the deadline passes; returns leftovers.
    */
  private def awaitRelease(base: Set[Int], timeoutMs: Long = 20000): Set[Int] = {
    val deadline = System.currentTimeMillis + timeoutMs
    var extra = ids -- base
    while (extra.nonEmpty && System.currentTimeMillis < deadline) {
      System.gc()
      Thread.sleep(250)
      extra = ids -- base
    }
    extra
  }

  test("every declared query releases all cache on clearCache (+ GC for localCheckpoints)") {
    spark.catalog.clearCache()
    awaitRelease(Set.empty)
    // per-query pass: short drain window (the iterative operators now
    // release superseded checkpoints deterministically, so only the
    // final returned checkpoint rides the ContextCleaner); anything
    // still resident is rechecked once more at sweep end — GC latency
    // under load must not fake a leak
    val suspects = scala.collection.mutable.ArrayBuffer.empty[(String, Set[Int])]
    for ((name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val base = ids
      def runOnce(): Unit = q(spark, SF).count()
      runOnce()
      if ((ids -- base).nonEmpty) runOnce() // cache-touching: growth probe
      spark.catalog.clearCache() // CacheManager persists
      graft.operators.Ckpt.releaseAll() // graph-operator checkpoints
      val leftover = awaitRelease(base, timeoutMs = 5000)
      if (leftover.nonEmpty) suspects += ((name, leftover))
    }
    // final recheck: every suspect id must have drained by now. The
    // window is generous (240 s) because weak-ref processing + the
    // ContextCleaner fall behind when the host is saturated (probes
    // drain in ~1 s on an idle machine) — a real strong-reference leak
    // stays forever and still fails.
    val suspectIds = suspects.flatMap(_._2).toSet
    val deadline = System.currentTimeMillis + 240000
    while ((ids & suspectIds).nonEmpty &&
        System.currentTimeMillis < deadline) {
      System.gc()
      Thread.sleep(500)
    }
    val live = ids
    val failures = suspects.toSeq.collect {
      case (name, left) if (left & live).nonEmpty =>
        val desc = (left & live).toSeq.sorted.map { id =>
          spark.sparkContext.getPersistentRDDs.get(id)
            .map(r => s"$id:${r.name}@${r.getStorageLevel.description}")
            .getOrElse(s"$id:<gone>")
        }
        s"$name -> ${desc.mkString(", ")}"
    }
    assert(failures.isEmpty,
      s"queries leaving unreleasable cache entries:\n  ${failures.mkString("\n  ")}")
  }
}
