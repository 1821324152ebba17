package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (LPA) over an
  * undirected edge list — the frequency-argmax sibling of
  * [[Dedup.componentsFromPairs]]'s min-propagation: where connected
  * components answer "what is reachable", LPA answers "what is densely
  * attached", splitting a bridge-joined graph into its dense cores
  * after a fixed number of rounds.
  *
  * Semantics (deterministic by construction, so a SQL oracle can unroll
  * it round for round): labels start as node ids; each round EVERY node
  * simultaneously adopts the most frequent label among its neighbors
  * and itself (self-loops are folded into the edge table, so "and
  * itself" costs nothing extra), ties broken toward the smallest label.
  * Exactly `iters` rounds run — no convergence races, no RNG, no
  * asynchronous update order, the three places classic LPA loses
  * determinism.
  *
  * Scale shape (the PageRank argument): per round one shuffle join of
  * the label table against the pre-partitioned frozen edge table plus
  * two hash aggregates — (node, lbl) counts, then per-node argmax as
  * min(struct(-n, lbl)) (the mode_event_cents trick: map-side
  * combinable, no ranking window, no skewable single partition).
  * Checkpoints are reliable or local per [[Ckpt]]'s policy.
  */
object LabelProp {

  /** (node, lbl) after exactly `iters` synchronous LPA rounds over the
    * undirected pair list (columns a, b). Votes are counted over the
    * pair MULTISET exactly as shipped (each (a,b) row contributes one
    * vote in each direction every round).
    */
  def communities(pairs: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    Ckpt.scoped {
      // Materialize the caller's pair pipeline once, then the symmetric
      // + self-loop edge table pre-partitioned on the per-round join
      // key, so every round shuffles only the (small, changing) label
      // table — the componentsFromPairs layout, for the same reason.
      val p0 = Ckpt.save(pairs.select(col("a"), col("b")))
      val sym = p0.select(col("a").as("u"), col("b").as("v"))
        .unionByName(p0.select(col("b").as("u"), col("a").as("v")))
      // Self-votes do NOT ride the edge table: a self-loop row would
      // join labels on v = u and produce exactly (u, lbl_u) — one row
      // of the labels table — every round. Unioning labels in directly
      // keeps the distinct-self-loop rows out of the checkpointed edge
      // table and out of every per-round join probe.
      val edges = Ckpt.save(sym.repartition(col("v")))
      // Labels start as node ids, so round 1's self-votes are the node
      // set itself — the only place the nodes-distinct is still needed.
      val nodes = Ckpt.save(sym.select(col("u")).distinct())
      Ckpt.release(p0) // superseded: later plans read edges/nodes only
      propagate(edges, nodes, iters)
    }
  }

  /** (node, lbl) after exactly `iters` synchronous LPA rounds over the
    * DISTINCT symmetric edge set of the raw (a, b) pair list — i.e. the
    * result of `communities(rawPairs.distinct(), iters)` whenever the
    * raw list never carries both (a, b) AND (b, a), and no (a, a)
    * self-pairs (any bipartite or otherwise canonically-oriented
    * encoding satisfies both; with reversed duplicates or self-pairs
    * present the two differ, because `communities` counts the
    * symmetrized bag — such edges would vote twice per round).
    *
    * The point of the second entry (round 16, guide §2.4): fusing the
    * caller's dedup INTO the edge build collapses three full passes —
    * distinct-exchange over the raw pairs + checkpoint round-trip +
    * repartition-exchange of the symmetric rows — into ONE exchange:
    * symmetrize at the scan, hash-partition ONCE, and dedup (u, v)
    * inside that partitioning (a single-column HashPartitioning
    * clusters every copy of (u, v), so the dedup aggregate plans with
    * zero additional Exchange). The node set then falls out of the
    * checkpointed edge table exchange-free (u-set = v-set under
    * symmetry), instead of an |E|-row shuffle.
    *
    * Vote regime (round 16, guide §3.1): when the node set fits a
    * byte budget ([[BCAST_BUDGET_MB]], ~16 B/label row),
    * edges are partitioned by u and each round joins the BROADCAST
    * label table — the per-round |E|-row vote exchange disappears
    * entirely: the vote count and argmax are partition-local on the
    * frozen edge partitioning, so a round is two broadcast-hash probes
    * and two in-partition aggregates, zero Exchanges. Past the budget
    * (labels too big to broadcast) edges are partitioned by v and the
    * rounds take the shuffle path [[propagate]] — one wide exchange
    * per round, the round-15 shape. Both regimes are exact and the
    * decision is recorded in the Guard registry.
    */
  def communitiesDistinct(rawPairs: DataFrame, iters: Int): DataFrame =
    communitiesDistinctBudget(rawPairs, iters, BCAST_BUDGET_MB)

  private[operators] val BCAST_BUDGET_MB = 256L

  /** [[communitiesDistinct]] with the label-table broadcast budget as a
    * parameter (the test seam: budgetMB = 0 plans the shuffle rounds on
    * any graph). Results never depend on it.
    */
  private[operators] def communitiesDistinctBudget(rawPairs: DataFrame,
      iters: Int, budgetMB: Long): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    Ckpt.scoped {
      val sym = rawPairs.select(col("a").as("u"), col("b").as("v"))
        .unionByName(rawPairs.select(col("b").as("u"), col("a").as("v")))
      // PERSISTED, not checkpointed: a checkpoint's LogicalRDD drops
      // the physical outputPartitioning (measured: EnsureRequirements
      // re-exchanged every round's aggregates over the checkpointed
      // table), while an InMemoryRelation exposes its child plan's
      // HashPartitioning(u) — which is what makes the broadcast
      // regime's per-round aggregates partition-local. Cache contract
      // as for the per-round labels: lives until the caller's
      // clearCache.
      val edges = sym.repartition(col("u")).dropDuplicates(Seq("u", "v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = edges.select(col("u")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nV = nodes.count()
      if (nV * 16L <= (budgetMB << 20)) {
        Guard.record("lpa_votes", f"votes=broadcast nV=$nV " +
          f"bcastMB=${nV * 16L / (1 << 20)}")
        propagateBroadcast(edges, nodes, iters)
      } else {
        // Fallback pays ONE extra |E| exchange to re-key the edge
        // table onto the per-round join key v (checkpointed — the
        // shuffle path repartitions votes explicitly each round, so
        // it never relies on the frozen partitioning) — bounded build
        // cost, and only in the giant-|V| regime where the per-round
        // shuffles dominate it anyway.
        Guard.record("lpa_votes", s"votes=shuffle nV=$nV budgetMB=$budgetMB")
        val edgesByV = Ckpt.save(edges.repartition(col("v")))
        val nodesCk = Ckpt.save(nodes)
        edges.unpersist()
        nodes.unpersist()
        propagate(edgesByV, nodesCk, iters)
      }
    }
  }

  /** Broadcast-vote rounds: edges frozen on HashPartitioning(u), the
    * label table broadcast each round. The self-vote that [[propagate]]
    * ships through the vote union is folded in ARITHMETICALLY: the
    * true per-round count is C(u,l) = ec(u,l) + [l = s(u)] with ec the
    * edge-vote count and s(u) the node's current label, plus the
    * candidate (u, s(u)) with C = 1 when it got no edge vote. The
    * argmax therefore runs over ec rows with the +1 adjustment and is
    * then floored by the standalone self candidate (count 1): when
    * (u, s) has an edge vote its adjusted count is >= 2, so the floor
    * never overrides a real winner, and when it has none the floor IS
    * the self candidate. Ties still break toward the smallest label
    * inside the same packed-long / struct orderings as [[propagate]].
    */
  private def propagateBroadcast(edges: DataFrame, nodes: DataFrame,
                                 iters: Int): DataFrame = {
    val packable = packableIds(nodes)
    var labels: DataFrame = nodes
      .select(col("u").as("node"), col("u").as("lbl"))
    for (round <- 1 to iters) {
      // Edge-vote counts, clustered on the frozen edge partitioning.
      // Round 1: a neighbor's label IS its id and edges are distinct,
      // so every (u, v) row is exactly one vote — no aggregate needed.
      // Later rounds: one broadcast build serves both the vote join
      // (on v) and the self-label attach (on ec's u) — ReuseExchange
      // collapses the two identical broadcast subtrees.
      val ec = if (round == 1)
        edges.select(col("u"), col("v").as("lbl"),
          lit(1L).as("n"), col("u").as("slbl"))
      else {
        val bcL = broadcast(
          labels.select(col("node").as("bn"), col("lbl").as("bl")))
        edges.join(bcL, col("v") === col("bn"))
          .select(col("u"), col("bl").as("lbl"))
          .groupBy(col("u"), col("lbl"))
          .agg(count(lit(1)).as("n"))
          .join(bcL, col("u") === col("bn"))
          .select(col("u"), col("lbl"), col("n"), col("bl").as("slbl"))
      }
      val adjN = col("n") +
        when(col("lbl") === col("slbl"), 1L).otherwise(0L)
      val next =
        if (packable) {
          val selfPk = (lit(1L << 31) +
            (lit((1L << 31) - 1) - col("slbl")))
          ec.select(col("u").as("node"), col("slbl"),
              (shiftleft(adjN, 31) +
                (lit((1L << 31) - 1) - col("lbl"))).as("pk"))
            .groupBy(col("node"), col("slbl"))
            .agg(max(col("pk")).as("pk"))
            .select(col("node"),
              (lit((1L << 31) - 1) -
                (greatest(col("pk"), selfPk) % lit(1L << 31))).as("lbl"))
        } else {
          val selfS = struct(lit(-1L).as("nn"), col("slbl").as("l"))
          ec.select(col("u").as("node"), col("slbl"),
              struct((-adjN).as("nn"), col("lbl").as("l")).as("s"))
            .groupBy(col("node"), col("slbl"))
            .agg(min(col("s")).as("m"))
            .select(col("node"),
              least(col("m"), selfS).getField("l").as("lbl"))
        }
      // No per-round persist: unlike the shuffle path, each round's
      // labels have exactly ONE consumer (the next round's broadcast,
      // or the caller), and a BroadcastExchange materializes its child
      // once per query execution — nothing re-executes exponentially.
      labels = next
    }
    labels
  }

  /** Packed argmax guard, recorded as the `lpa` Guard line: when every
    * node id fits in [0, 2^31) the per-(u,lbl) count n (<= |V|+1 <=
    * 2^31) and the label pack into ONE non-negative long,
    * (n << 31) + (2^31 - 1 - lbl), whose max IS "most votes, then
    * smallest label" — a primitive max the hash aggregate runs entirely
    * in codegen, vs the two-field struct ordering of
    * min(struct(-n, lbl)). Ids outside the range (or negative) keep the
    * struct path; both are exact.
    */
  private def packableIds(nodes: DataFrame): Boolean = {
    val idBounds = nodes.agg(min(col("u")), max(col("u"))).first()
    val packable = !idBounds.isNullAt(0) && idBounds.getLong(0) >= 0L &&
      idBounds.getLong(1) < (1L << 31)
    Guard.record("lpa", s"argmax=" +
      s"${if (packable) "packed-long" else "struct"} " +
      s"minId=${if (idBounds.isNullAt(0)) "-" else idBounds.getLong(0)} " +
      s"maxId=${if (idBounds.isNullAt(1)) "-" else idBounds.getLong(1)}")
    packable
  }

  /** The `iters` synchronous rounds over a frozen edge table
    * (pre-partitioned by v) and the node set.
    */
  private def propagate(edges: DataFrame, nodes: DataFrame,
                        iters: Int): DataFrame = {
    val packable = packableIds(nodes)
    var labels: DataFrame = nodes
      .select(col("u").as("node"), col("u").as("lbl"))
    for (round <- 1 to iters) {
      // Round 1 reads neighbor votes straight off the edge table:
      // the label of neighbor v IS v, so "edges ⋈ labels" would be
      // the identity join. Valid for any multiplicity the caller
      // ships (the vote count is over the same rows either way).
      val votes = (if (round == 1)
        edges.select(col("u"), col("v").as("lbl"))
      else
        edges
          .join(labels.withColumnRenamed("node", "v2"),
            col("v") === col("v2"))
          .select(col("u"), col("lbl")))
        .unionByName(labels.select(col("node").as("u"), col("lbl")))
      // One exchange per round, not two: hash-partitioning the votes
      // by u satisfies ClusteredDistribution for BOTH downstream
      // aggregates (u ⊆ (u,lbl)), so the (u,lbl) count and the
      // per-node argmax pipeline in a single post-shuffle stage.
      // The (u,lbl) exchange it replaces shipped nearly the same
      // rows (vote multiplicity per (u,lbl) is ~1 on a distinct
      // edge list — map-side combine bought almost nothing) and the
      // second exchange (|u,lbl| rows by u) disappears entirely.
      val counted = votes.repartition(col("u"))
        .groupBy(col("u"), col("lbl"))
        .agg(count(lit(1)).as("n"))
      val next =
        if (packable)
          counted
            .select(col("u").as("node"),
              (shiftleft(col("n"), 31) +
                (lit((1L << 31) - 1) - col("lbl"))).as("pk"))
            .groupBy(col("node"))
            .agg(max(col("pk")).as("pk"))
            .select(col("node"),
              (lit((1L << 31) - 1) -
                (col("pk") % lit(1L << 31))).as("lbl"))
        else
          counted
            .select(col("u").as("node"),
              struct((-col("n")).as("nn"), col("lbl").as("l")).as("s"))
            .groupBy(col("node"))
            .agg(min(col("s")).as("m"))
            .select(col("node"), col("m").getField("l").as("lbl"))
      // Unlike componentsFromPairs there is NO per-round convergence
      // aggregate forcing a driver sync here — the round count is
      // fixed by the semantics — so rounds are NOT eagerly
      // checkpointed: the scheduler pipelines the whole unrolled
      // chain as ONE job's stage DAG instead of `iters`
      // driver-synchronized job waves (measured A/B in round 11:
      // never loses, ~10-25% faster at sf0.1). Each round's labels
      // now feed TWO consumers (the next round's join AND its
      // self-vote union), so they are persisted — lazily, no driver
      // sync — or the chain would re-execute exponentially. Cache
      // contract: the per-round label caches (|V| rows each) live
      // until the caller's clearCache, like every Blocking cache.
      labels = if (round < iters)
        next.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else next
    }
    labels
  }
}
