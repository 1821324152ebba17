package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition (coreness) of an undirected graph — the density
  * profiler of the dup-graph family (components = who is connected,
  * triangles = local clustering, coreness = how deep each node sits in
  * the dense part). On a duplicate graph, coreness separates incidental
  * near-dup pairs (core 1) from replica cliques (core = clique size -
  * 1) — the standard signal for "this cluster is a template/mirror,
  * collapse it aggressively".
  */
object KCore {

  /** Coreness per node from an (a, b) pair list (a < b convention, one
    * row per undirected edge), by fixed-round h-index iteration. Output:
    * (node, coreness) for every node appearing in at least one pair.
    *
    * Iterates h_0(v) = deg(v); h_{t+1}(v) = H-index of {h_t(u) : u ~ v}
    * (the largest r such that at least r neighbors have h_t >= r). The sequence is pointwise non-increasing and converges
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
    // table pre-partitioned on the per-round join key. Unlike a
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
