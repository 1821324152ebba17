package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition (coreness) of an undirected graph by iterative
  * peeling — the density profiler of the dup-graph family (components =
  * who is connected, triangles = local clustering, coreness = how deep
  * each node sits in the dense part). On a duplicate graph, coreness
  * separates incidental near-dup pairs (core 1) from replica cliques
  * (core = clique size - 1) — the standard signal for "this cluster is a
  * template/mirror, collapse it aggressively".
  *
  * Algorithm: for k = 1, 2, …, repeatedly delete nodes of degree < k
  * (cascading) until the k-core stabilizes; a node removed while peeling
  * level k has coreness k-1 (it survived the (k-1)-core but not the
  * k-core); when the graph empties, every remaining assignment is final.
  *
  * Scale shape: every round is one degree aggregate (map-side combinable
  * count keyed by node) plus two anti-joins keyed by the removed-node
  * set — no all-pairs structure anywhere, and the edge table only ever
  * SHRINKS. Each new edge table is eagerly checkpointed, reliable or
  * local per [[Ckpt]]'s policy, so the plan never accretes rounds of
  * lineage and the loop's convergence checks don't re-execute upstream
  * candidate generation (LSH, blocking…). Rounds are bounded by the
  * degeneracy of the graph — small for dup graphs (max clique size),
  * and `maxRounds` backstops pathological chains the way
  * componentsFromPairs' maxIters does.
  */
object KCore {

  /** Coreness per node from an (a, b) pair list (a < b convention, one
    * row per undirected edge). Output: (node, coreness) for every node
    * appearing in at least one pair; coreness >= 1 by construction.
    */
  def coreness(pairs: DataFrame, maxK: Int = 64,
               maxRounds: Int = 400): DataFrame = Ckpt.scoped {
    val spark = pairs.sparkSession
    val p0 = Ckpt.save(pairs.select(col("a"), col("b")))
    // Symmetric directed edge list: degree(u) = count of rows keyed u.
    var edges = Ckpt.save(
      p0.select(col("a").as("u"), col("b").as("v"))
        .unionByName(p0.select(col("b").as("u"), col("a").as("v"))))
    Ckpt.release(p0) // superseded: all later plans read `edges`
    // Surviving nodes are tracked SEPARATELY from the edge list: a
    // node whose neighbors all peel in one batch loses every edge row
    // in that same round, and a degree aggregate over edges alone
    // would simply never see it again — it must instead surface next
    // round with degree 0 (< k) and peel. The left join + coalesce(0)
    // below is that isolated-node path (pinned by the random-graph
    // reference test).
    var nodes = Ckpt.save(edges.select(col("u").as("node")).distinct())
    // Finalized (node, coreness) rows, appended as nodes peel off.
    var assigned = spark.range(0)
      .select(col("id").as("node"), col("id").as("coreness"))
    var k = 1
    var rounds = 0
    var empty = false
    while (k <= maxK && !empty && rounds < maxRounds) {
      var stable = false
      while (!stable && !empty && rounds < maxRounds) {
        rounds += 1
        val degs = nodes.join(
          edges.groupBy(col("u")).agg(count(lit(1)).as("deg")),
          nodes("node") === col("u"), "left")
          .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
        val below = Ckpt.save(degs.filter(col("deg") < k)
          .select(col("node").as("peeled")))
        if (below.isEmpty) {
          Ckpt.release(below) // empty peel set: nothing reads it
          stable = true
        } else {
          // Peeled at level k -> survived the (k-1)-core only. Each
          // replacement checkpoint is eager, so its predecessor's
          // blocks are dead the moment save returns — released
          // explicitly (a 400-round peel would otherwise hold every
          // superseded frontier until a driver GC).
          val (prevAssigned, prevNodes, prevEdges) =
            (assigned, nodes, edges)
          assigned = Ckpt.save(assigned.unionByName(
            below.select(col("peeled").as("node"),
              lit(k - 1).cast("long").as("coreness"))))
          nodes = Ckpt.save(nodes.join(below,
            nodes("node") === below("peeled"), "left_anti"))
          edges = Ckpt.save(edges
            .join(below, edges("u") === below("peeled"), "left_anti")
            .join(below, edges("v") === below("peeled"), "left_anti"))
          Ckpt.release(prevAssigned) // no-op on the initial lazy frame
          Ckpt.release(prevNodes)
          Ckpt.release(prevEdges)
          Ckpt.release(below)
          empty = nodes.isEmpty
        }
      }
      k += 1
    }
    // Whatever survives the last completed level k-1 has coreness k-1
    // (loop exits only when that core is stable or bounds hit). If a
    // bound (maxK / maxRounds) fired with nodes still standing, the
    // survivors' labels are a TRUNCATED lower bound, not exact
    // coreness — warn so callers can distinguish the backstop path
    // from convergence (per round-8 advisory).
    if (!empty && (k > maxK || rounds >= maxRounds)) {
      val bound = if (k > maxK) s"maxK=$maxK" else s"maxRounds=$maxRounds"
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"KCore.coreness hit $bound with nodes remaining: " +
          s"surviving nodes are labeled coreness ${k - 1} (lower bound, " +
          "not converged)")
    }
    Ckpt.release(edges) // returned plan reads only assigned + nodes
    val survivors = nodes
      .withColumn("coreness", lit(k - 1).cast("long"))
    assigned.unionByName(survivors)
  }

  /** Fixed-round h-index coreness — the oracle-expressible twin of
    * [[coreness]]. Iterates h_0(v) = deg(v); h_{t+1}(v) = H-index of
    * {h_t(u) : u ~ v} (the largest r such that at least r neighbors have
    * h_t >= r). The sequence is pointwise non-increasing and converges
    * to exact coreness (Lü, Chen, Zhang, Zhou, "The H-index of a network
    * and its relation to degree and coreness", Nat. Commun. 2016); once
    * converged, further rounds are identity, so a fixed `rounds` past
    * the corpus's convergence depth IS coreness — and, being a fixed
    * synchronous schedule, it unrolls to a plain CTE chain for a DuckDB
    * oracle exactly like LabelProp's 3-round LPA.
    *
    * Scale shape: the symmetric edge list is frozen once, pre-hashed on
    * the join key `v`, and checkpointed; each round shuffles ONLY
    * the (node, h) table (corpus-of-nodes sized, not corpus-of-edges)
    * into the frozen edge partitioning, then computes the per-node
    * H-index with a bounded window (partition = one node's neighbor
    * list, bounded by max degree). No all-pairs structure; rounds are a
    * constant chosen at call site.
    */
  def corenessHIndex(pairs: DataFrame, rounds: Int = 6): DataFrame = Ckpt.scoped {
    import org.apache.spark.sql.expressions.Window
    // Checkpoint the caller's pair pipeline ONCE before the symmetric
    // union references it twice (else the upstream candidate generation
    // — LSH, blocking — executes once per branch), then freeze the edge
    // table pre-partitioned on the per-round join key. Unlike the
    // fixpoint peel there are NO per-round driver actions here — the
    // fixed `rounds` unroll into one declarative plan and a single
    // action executes it, so rounds cost plan depth, not jobs.
    val p0 = Ckpt.save(pairs.select(col("a"), col("b")))
    val edges = Ckpt.save(p0.select(col("a").as("u"), col("b").as("v"))
      .unionByName(p0.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("v")))
    Ckpt.release(p0) // superseded: every round reads only `edges`
    var h = edges.groupBy(col("u")).agg(count(lit(1)).as("val"))
      .select(col("u").as("node"), col("val").cast("long").as("val"))
    for (_ <- 1 to rounds) {
      // H-index via the value histogram, NOT a rank sort of the full
      // joined edge table: count neighbors per (u, val) first (map-side
      // combinable — the shuffle carries distinct (u, val) rows, not
      // edges), suffix-count G(val) = #neighbors with h >= val with a
      // bounded cumulative window over the per-node distinct values,
      // then H = max over values of min(val, G(val)) — the standard
      // equivalent of "max r with val_r >= r".
      val cnts = edges.join(h, edges("v") === h("node"))
        .groupBy(edges("u"), col("val"))
        .agg(count(lit(1)).as("c"))
      val g = cnts.withColumn("ge", sum(col("c")).over(
        Window.partitionBy(col("u")).orderBy(col("val").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      h = g.groupBy(col("u"))
        .agg(max(least(col("val"), col("ge"))).cast("long").as("val"))
        .select(col("u").as("node"), col("val"))
    }
    h.select(col("node"), col("val").as("coreness"))
  }
}
