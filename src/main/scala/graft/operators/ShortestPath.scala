package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop cheapest path by distributed Bellman–Ford relaxation —
  * the weighted companion of the BFS-layers operator (hops = uniform
  * cost there, arbitrary non-negative integer edge costs here).
  *
  * The bound is part of the QUERY SEMANTICS, not an implementation
  * shortcut: "cheapest route with at most H hops" is the
  * itinerary-style formulation (max stops), it terminates on cyclic
  * graphs without a fixpoint detector, and it makes the operator
  * oracle-expressible as a depth-capped recursive CTE.
  *
  * Scale shape: each of the H rounds is one equi-join of the current
  * distance table against the edge list (keyed by source node) plus a
  * min-aggregate — both map-side combinable, no driver-side graph. The
  * edge table is materialized once up front and every round's distance
  * table but the last is eagerly checkpointed ([[Ckpt.iterate]]), so
  * lineage stays flat and the (potentially expensive) edge-building
  * pipeline upstream runs exactly once; the last round composes with
  * the caller's plan. H is small by construction; the frontier table is
  * bounded by |V|, never by |paths|.
  */
object ShortestPath {

  /** Min path cost from `source` to every node reachable within
    * `maxHops` edges. `edges` columns: src, dst, cost (non-negative
    * long). Output: (node, min_cost), including the source at cost 0.
    */
  def boundedCheapestPaths(edges: DataFrame, source: Long,
                           maxHops: Int): DataFrame = Ckpt.scoped {
    val e = Ckpt.save(edges.select(col("src"), col("dst"),
      col("cost").cast("long").as("cost")))
    // Every hop but the last is checkpointed, and that last one reads
    // `e`, so `e` stays saved for the caller.
    Ckpt.iterate(e.sparkSession.range(1).select(
        lit(source).cast("long").as("node"), lit(0L).as("min_cost")),
        maxHops) { (dist, _) =>
      val relaxed = dist
        .join(e, dist("node") === e("src"))
        .select(e("dst").as("node"),
          (dist("min_cost") + e("cost")).as("min_cost"))
      dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("min_cost")).as("min_cost"))
    }
  }
}
