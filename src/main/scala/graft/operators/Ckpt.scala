package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one checkpoint path of the iterative graph operators (CC, LPA,
  * BFS, h-index coreness, PageRank, shortest path), the one loop that
  * four of them run on ([[iterate]]: CC, BFS, PageRank, shortest path),
  * and the lifecycle of what it creates.
  *
  * Policy: [[save]] checkpoints RELIABLY exactly when the context has a
  * checkpoint dir (`spark.checkpoint.dir`, or `setCheckpointDir`), and
  * locally otherwise. No operator takes a dir or writes one: the
  * SparkContext-global dir is the deployment's choice, and a run that
  * switched it mid-flight would redirect a concurrent operator's
  * checkpoints. Reliable checkpoints are files, not blocks: [[release]]
  * and [[releaseAll]] free nothing there, and
  * `spark.cleaner.referenceTracking.cleanCheckpoints` governs removal.
  *
  * Each round's eager local checkpoint materializes into its
  * own cached blocks and truncates lineage, so once a LATER eager
  * checkpoint (or the operator's return value) no longer reads those
  * blocks they are dead weight on the executors. Spark reclaims them
  * only when the driver's ContextCleaner notices the RDD object is
  * unreachable — at some future GC. At scale that laziness is real
  * memory: a 20-round CC would hold every superseded label table
  * until the driver happens to GC. Two deterministic paths replace
  * that:
  *
  *  - [[iterate]], and each operator for its own one-off saves,
  *    [[release]] each SUPERSEDED checkpoint the moment its eager
  *    successor is materialized;
  *  - the FINAL checkpoint backing an operator's return value belongs
  *    to the caller — `spark.catalog.clearCache()` cannot see it (it
  *    is not a CacheManager entry), so [[releaseAll]] is the
  *    clearCache analog: call it once you have consumed every graft
  *    graph-operator result to drop their checkpoint blocks
  *    immediately instead of waiting for a GC. Results must not be
  *    re-read afterwards (a local checkpoint cannot recompute).
  *
  * Safety of [[release]]: an eager localCheckpoint's blocks are
  * self-contained (lineage truncated), so releasing a predecessor
  * cannot invalidate a successor; releasing a frame a live plan still
  * reads would lose data. CacheAccountingAuditTest pins both paths
  * over every declared query.
  *
  * CONCURRENCY (round 15): every graph operator runs its body inside
  * [[scoped]], which registers its checkpoints under a thread-local
  * operator scope. Entries owned by a still-open scope are INVISIBLE
  * to [[releaseAll]] — so a concurrent embedder thread calling
  * releaseAll() mid-flight of another operator can no longer free
  * that operator's live intermediates (the old process-global
  * contract). When a scope closes, its surviving entries transfer to
  * the enclosing scope if one is open on the same thread (an operator
  * composed inside another operator stays protected for the outer
  * run), else become releasable — exactly the "result now belongs to
  * the caller" hand-off the contract describes. CkptConcurrencyTest
  * pins the mid-flight-protection path.
  */
object Ckpt {

  /** One operator invocation's ownership token. Open from [[scoped]]
    * entry to exit; `releaseAll` skips entries owned by an open scope.
    */
  private final class Scope { @volatile var open = true }

  private final class Entry(
      val ref: java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]],
      @volatile var owner: Scope)

  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[Entry]()
  private val sincePrune = new java.util.concurrent.atomic.AtomicInteger(0)
  private val scopes = new ThreadLocal[List[Scope]] {
    override def initialValue: List[Scope] = Nil
  }

  /** Run `body` under a fresh operator scope: checkpoints [[track]]ed
    * inside are exempt from [[releaseAll]] until the scope exits. On
    * exit the entries re-home to the enclosing scope (if any) or become
    * releasable. Re-entrant; scope state is per-thread.
    *
    * PUBLIC for embedders: every graft graph operator already runs its
    * own body scoped (mid-flight intermediates are always safe), but an
    * operator's RESULT becomes releasable the moment the operator
    * returns — so an embedder that composes an operator and consumes
    * its result later, concurrent with other threads calling
    * [[releaseAll]], wraps the compose-and-consume span in its own
    * `Ckpt.scoped { ... }`: the result re-homes to that scope on the
    * operator's exit and stays protected until the span ends.
    */
  def scoped[A](body: => A): A = {
    val s = new Scope
    scopes.set(s :: scopes.get())
    try body
    finally {
      scopes.set(scopes.get().tail)
      val parent = scopes.get() match {
        case p :: _ => p
        case Nil    => null
      }
      tracked.forEach(e => if (e.owner eq s) e.owner = parent)
      s.open = false
    }
  }

  /** Eager checkpoint of `df` under the policy above, [[track]]ed.
    *
    * Spark labels a job with the first stack frame outside Spark, which
    * here would be this method for every operator. For the action's
    * duration the call site is set to the caller's frame instead, so
    * `graft.Layers` and the UI show `localCheckpoint at Dedup.scala:N`.
    */
  private[graft] def save(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    val self = getClass.getName
    val caller = Thread.currentThread.getStackTrace.find { f =>
      val c = f.getClassName
      !c.startsWith("java.") && !c.startsWith(self)
    }
    val prev = sc.getLocalProperty(CallSiteShort)
    caller.foreach { f =>
      val action = if (reliable) "checkpoint" else "localCheckpoint"
      sc.setLocalProperty(CallSiteShort,
        s"$action at ${f.getFileName}:${f.getLineNumber}")
    }
    try track(if (reliable) df.checkpoint(eager = true)
              else df.localCheckpoint(eager = true))
    finally sc.setLocalProperty(CallSiteShort, prev)
  }

  /** The loop of the iterative graph operators: for rounds r = 1, 2, …
    * from `init`, `state_r = step(state_{r-1}, r)`, with a [[save]]
    * every `every` rounds that [[release]]s the previous save (`init`
    * too, if it is one) once it is materialized.
    *
    * With a `done` test, each saved round's state is tested and
    * returned once the test holds; a run that reaches `maxRounds`
    * without it throws, naming the operator `name`, since a partial
    * fixed point would be wrong. Without one, the run stops quietly
    * after `maxRounds` rounds and leaves the last round lazy, so it
    * composes with the caller's plan.
    *
    * The saves run here, so [[save]] labels them with the line that
    * called `iterate`.
    */
  private[graft] def iterate(init: DataFrame, maxRounds: Int, every: Int = 1,
      name: String = "iterate",
      done: Option[(DataFrame, Int) => Boolean] = None)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var state = init
    var saved = init
    var round = 0
    var settled = false
    while (!settled && round < maxRounds) {
      round += 1
      state = step(state, round)
      if (round % every == 0 && (done.isDefined || round < maxRounds)) {
        state = save(state)
        release(saved)
        saved = state
        settled = done.exists(_(state, round))
      }
    }
    if (done.isDefined && !settled)
      throw new IllegalStateException(s"$name did not converge after " +
        s"$maxRounds rounds; a partial result would be wrong — raise the cap")
    state
  }

  /** SparkContext's local-property key for a job's short call site. */
  private val CallSiteShort = "callSite.short"

  /** Register `df`'s checkpoint RDD (weakly — the ContextCleaner GC
    * path stays usable) so [[releaseAll]] can drop it deterministically.
    * No-op unless the analyzed plan IS a bare LogicalRDD. Returns `df`.
    *
    * The registry self-prunes: every 64 adds, entries whose referent
    * the GC already cleared are dropped, so a long-lived driver that
    * relies solely on the ContextCleaner path (never calls
    * [[releaseAll]]) holds a bounded queue, not one node per
    * checkpoint ever created.
    */
  private[graft] def track(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val owner = scopes.get() match {
          case s :: _ => s
          case Nil    => null
        }
        tracked.add(new Entry(new java.lang.ref.WeakReference(lr.rdd), owner))
        if (sincePrune.incrementAndGet() >= 64) {
          sincePrune.set(0)
          tracked.removeIf(_.ref.get == null)
        }
      case _ => ()
    }
    df
  }

  /** No-op unless `df`'s analyzed plan IS a bare LogicalRDD — i.e. the
    * frame returned by checkpoint/localCheckpoint itself. Matching the
    * ROOT (not searching leaves) is the safety interlock: a derived
    * lazy frame's plan CONTAINS its inputs' LogicalRDD leaves, and
    * releasing those would free blocks a live plan still reads.
    */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Unpersist every graft-created local checkpoint whose operator has
    * RETURNED — the `clearCache()` analog for checkpoint blocks. Call
    * once you have consumed the graph-operator results you hold;
    * results must not be re-read afterwards. Checkpoints belonging to
    * an operator still mid-flight on any thread are left alone (their
    * scope is open), so concurrent embedders are safe.
    */
  def releaseAll(): Unit = {
    val it = tracked.iterator()
    while (it.hasNext) {
      val e = it.next()
      val owner = e.owner
      if (owner == null || !owner.open) {
        val rdd = e.ref.get()
        if (rdd != null) rdd.unpersist(blocking = false)
        it.remove()
      }
    }
  }
}
