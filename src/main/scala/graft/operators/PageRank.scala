package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration damped PageRank in exact integer arithmetic
  * (SURVEY §2.9 [EXT] — iterative graph centrality, the link-analysis
  * sibling of the connected-components operator in [[Dedup]]; the
  * reference has no graph surface, this is north-star scope).
  *
  * Determinism / oracle portability: ranks are scaled integers and the
  * update is
  *
  *   rank'(v) = (15·scale + 85·Σ_{u→v} (rank(u) div deg(u))) div 100
  *
  * — floor division everywhere, so a fixed iteration count hash-matches
  * a DuckDB chain of CTEs bit-for-bit (no doubles, no convergence
  * epsilon). The floor-divided contributions leak a little probability
  * mass vs real-valued PageRank; both engines leak identically, and the
  * ranking it induces is the standard one.
  *
  * Scale shape, per iteration: one shuffle join of the rank table with
  * the degree-annotated edge list on src, one hash aggregate keyed by
  * dst with map-side partial sums. The edge list is the big side and is
  * scanned once per iteration; ranks are |V| rows. Nothing collects to
  * the driver, and the rank lineage is CUT every [[CHECKPOINT_EVERY]]
  * iterations (eager saves by [[Ckpt.iterate]], the loop
  * [[Dedup.componentsFromPairs]] runs on) — without the cut the plan
  * tree nests one join + aggregate per iteration and
  * analysis/optimization cost explodes at tens of iterations even
  * though each executed stage is cheap.
  *
  * Contract: every node must appear as a `src` (for undirected/bipartite
  * graphs pass both edge directions) — sinks would otherwise swallow
  * their rank silently. Nodes with no IN-edges are kept: each iteration
  * rebuilds the rank table from the node set with a left join, so a
  * source-only node holds its teleport share (15·scale div 100) instead
  * of silently vanishing after the first iteration.
  */
object PageRank {

  /** `edges`: (src: long, dst: long), pre-deduplicated. Returns
    * (node: long, rank: long) after `iters` damped updates from a
    * uniform start of `scale` per node: [[personalizedRanks]] with every
    * node a seed. Checkpoints are reliable or local per [[Ckpt]]'s
    * policy, and change no values, only the plan depth.
    */
  def ranks(edges: DataFrame, iters: Int,
            scale: Long = 1000000L): DataFrame =
    walk(edges, None, iters, scale, CHECKPOINT_EVERY)

  /** Personalized PageRank: the damped walk teleports to the SEED SET
    * instead of everywhere, so rank measures proximity to the seeds —
    * the graph-similarity primitive behind "related items" and
    * seed-expansion retrieval. Update (floor division everywhere, same
    * oracle-portable integer discipline as [[ranks]]):
    *
    *   rank'(v) = (15·scale·[v ∈ S] + 85·Σ_{u→v} (rank(u) div deg(u))) div 100
    *
    * with rank0(v) = scale·[v ∈ S]: mass enters only at seeds and
    * diffuses outward, decaying 0.85 per hop — after i iterations only
    * nodes within i hops of a seed hold rank, which is the locality
    * that makes PPR cheap relative to global PageRank.
    *
    * `seeds`: (node: long), assumed catalog-sized — it broadcasts for
    * the per-node membership flag, so the per-iteration dataflow is
    * identical to [[ranks]] (one shuffle join on src + one hash
    * aggregate on dst; the flagged node table is persisted once and
    * reused every round). Same src-coverage contract as [[ranks]].
    */
  def personalizedRanks(edges: DataFrame, seeds: DataFrame, iters: Int,
                        scale: Long = 1000000L): DataFrame =
    walk(edges, Some(seeds), iters, scale, CHECKPOINT_EVERY)

  /** Iterations between lineage cuts. */
  private[operators] val CHECKPOINT_EVERY = 8

  /** The walk over (node, is_seed), `seeds = None` flagging every node,
    * with the checkpoint cadence as a parameter (the test seam: any
    * cadence yields identical ranks).
    */
  private[operators] def walk(edges: DataFrame, seeds: Option[DataFrame],
      iters: Int, scale: Long, checkpointEvery: Int): DataFrame = Ckpt.scoped {
    require(iters >= 1, "PageRank needs at least one iteration")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // Persist the degree-annotated edge list: iteration i's lineage
    // nests iterations 1..i-1, so the final plan otherwise embeds (and
    // recomputes) this subtree once per iteration — ReuseExchange does
    // not dedupe it because per-consumer pruning makes the copies
    // structurally different. Many consumers, narrow columns: the
    // persist profile. At sf0.1 the effect is small (~5%, the edge
    // build is one distinct over the fact table) but it grows linearly
    // with iteration count and scan cost.
    val ed = edges.join(deg, Seq("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The node table with its seed flag is consumed by EVERY
    // iteration's rank rebuild (and the initial ranks) — unpersisted,
    // each round re-runs the degree aggregate (and the seed join) over
    // the raw edge lineage (ScanAudit: lineitem x8 for 6 iterations in
    // pagerank_bipartite).
    val node = deg.select(col("src").as("node"))
    val nodes = (seeds match {
      case None => node.withColumn("is_seed", lit(1L))
      case Some(s) => node
        .join(broadcast(s.select(col("node")).distinct()
          .withColumn("is_seed", lit(1L))), Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The LAST iteration stays lazy so the caller's downstream plan
    // composes with it as usual.
    Ckpt.iterate(nodes.select(col("node"), (col("is_seed") * scale).as("rank")),
        iters, every = checkpointEvery) { (ranks, _) =>
      val contrib = ed.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
      nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          expr(s"(15 * cast($scale as bigint) * is_seed " +
            "+ 85 * coalesce(s, 0)) div 100").as("rank"))
    }
  }
}
