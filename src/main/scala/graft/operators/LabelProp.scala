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
  * simultaneously adopts the most frequent label among its distinct
  * neighbors and itself, ties broken toward the smallest label. Exactly
  * `iters` rounds run — no convergence races, no RNG, no asynchronous
  * update order, the three places classic LPA loses determinism.
  *
  * Scale shape (the PageRank argument): the distinct symmetric edge
  * table is built once and frozen; per round the edge votes are counted
  * per (node, lbl) and the node's own vote is folded in arithmetically
  * (see [[propagate]]), so no self-loop rows ride the edge table. The
  * per-node argmax is one hash aggregate, max of a packed long when
  * every id fits 31 bits and min(struct(-n, lbl)) otherwise (the
  * mode_event_cents trick: map-side combinable, no ranking window, no
  * skewable single partition). Checkpoints are reliable or local per
  * [[Ckpt]]'s policy.
  */
object LabelProp {

  /** (node, lbl) after exactly `iters` synchronous LPA rounds over the
    * DISTINCT symmetric edge set of the raw (a, b) pair list: duplicates
    * and reversed duplicates of a pair are one edge, and a self-pair
    * (a, a) makes a a neighbor of itself, so it votes for its own label
    * twice (once as neighbor, once as itself).
    *
    * The caller's dedup is fused INTO the edge build (round 16, guide
    * §2.4): symmetrize at the scan, hash-partition ONCE, and dedup
    * (u, v) inside that partitioning (a single-column HashPartitioning
    * clusters every copy of (u, v), so the dedup aggregate plans with
    * zero additional Exchange). The node set then falls out of the
    * persisted edge table exchange-free (u-set = v-set under symmetry),
    * instead of an |E|-row shuffle.
    *
    * Vote regime (round 16, guide §3.1): when the node set fits a
    * byte budget ([[BCAST_BUDGET_MB]], ~16 B/label row),
    * edges are partitioned by u and each round joins the BROADCAST
    * label table — the per-round |E|-row vote exchange disappears
    * entirely: the vote count and argmax are partition-local on the
    * frozen edge partitioning, so a round is two broadcast-hash probes
    * and two in-partition aggregates, zero Exchanges. Past the budget
    * (labels too big to broadcast) edges are checkpointed by v and each
    * round's votes are shuffled by u — one wide exchange per round, the
    * round-15 shape. Both regimes run the same round, are exact, and
    * the decision is recorded through Guard.
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
      // The one eager probe: a single aggregate over the node set sizes
      // the label table (vote regime) and bounds the ids (argmax
      // packing). When every id fits [0, 2^31) the per-(u,lbl) count
      // n (<= |V|+1 <= 2^31) and the label pack into ONE non-negative
      // long, (n << 31) + (2^31 - 1 - lbl), whose max IS "most votes,
      // then smallest label" — a primitive max the hash aggregate runs
      // entirely in codegen, vs the two-field struct ordering of
      // min(struct(-n, lbl)). Both are exact.
      val probe = nodes.agg(count(lit(1)), min(col("u")), max(col("u")))
        .first()
      val nV = probe.getLong(0)
      val bcast = nV * 16L <= (budgetMB << 20)
      val packable = nV > 0 && probe.getLong(1) >= 0L &&
        probe.getLong(2) < (1L << 31)
      Guard.record("lpa",
        s"votes=${if (bcast) "broadcast" else "shuffle"} " +
          s"argmax=${if (packable) "packed-long" else "struct"} nV=$nV " +
          s"budgetMB=$budgetMB minId=${if (nV > 0) probe.getLong(1) else "-"} " +
          s"maxId=${if (nV > 0) probe.getLong(2) else "-"}")
      if (bcast) propagate(edges, nodes, iters, bcast, packable)
      else {
        // The shuffle regime pays ONE extra |E| exchange to re-key the
        // edge table onto the per-round vote join key v (checkpointed —
        // the round repartitions votes explicitly, so it never relies
        // on the frozen partitioning) — bounded build cost, and only in
        // the giant-|V| regime where the per-round shuffles dominate it
        // anyway.
        val edgesByV = Ckpt.save(edges.repartition(col("v")))
        val nodesCk = Ckpt.save(nodes)
        edges.unpersist()
        nodes.unpersist()
        propagate(edgesByV, nodesCk, iters, bcast, packable)
      }
    }
  }

  /** The `iters` synchronous rounds over a frozen edge table and the
    * node set. The node's own vote is folded in ARITHMETICALLY: the true
    * per-round count is C(u,l) = ec(u,l) + [l = s(u)] with ec the
    * edge-vote count and s(u) the node's current label, plus the
    * candidate (u, s(u)) with C = 1 when it got no edge vote. The argmax
    * therefore runs over ec rows with the +1 adjustment and is then
    * floored by the standalone self candidate (count 1): when (u, s)
    * has an edge vote its adjusted count is >= 2, so the floor never
    * overrides a real winner, and when it has none the floor IS the
    * self candidate. The fold is exact because every node comes from
    * the edge table's u column, so every node has an ec row.
    *
    * The regime changes only physical choices. Broadcast: edges frozen
    * on HashPartitioning(u), the label table broadcast each round.
    * Shuffle: edges keyed by v, the votes repartitioned by u, and each
    * round's labels persisted.
    */
  private def propagate(edges: DataFrame, nodes: DataFrame, iters: Int,
                        bcast: Boolean, packable: Boolean): DataFrame = {
    var labels: DataFrame = nodes
      .select(col("u").as("node"), col("u").as("lbl"))
    for (round <- 1 to iters) {
      // Edge-vote counts per (u, lbl) with the node's own label slbl.
      // Round 1: a neighbor's label IS its id and edges are distinct,
      // so every (u, v) row is exactly one vote — no aggregate needed.
      // Later rounds: in the broadcast regime one broadcast build
      // serves both the vote join (on v) and the self-label attach (on
      // ec's u) — ReuseExchange collapses the two identical broadcast
      // subtrees. In the shuffle regime one exchange of the votes by u
      // satisfies both the (u, lbl) count and the argmax.
      val ec = if (round == 1)
        edges.select(col("u"), col("v").as("lbl"),
          lit(1L).as("n"), col("u").as("slbl"))
      else {
        val l = labels.select(col("node").as("bn"), col("lbl").as("bl"))
        val lt = if (bcast) broadcast(l) else l
        val votes = edges.join(lt, col("v") === col("bn"))
          .select(col("u"), col("bl").as("lbl"))
        (if (bcast) votes else votes.repartition(col("u")))
          .groupBy(col("u"), col("lbl"))
          .agg(count(lit(1)).as("n"))
          .join(lt, col("u") === col("bn"))
          .select(col("u"), col("lbl"), col("n"), col("bl").as("slbl"))
      }
      val next = argmax(ec, packable)
      // The rounds are NOT eagerly checkpointed: the round count is
      // fixed, so the scheduler pipelines the whole unrolled chain as
      // ONE job's stage DAG instead of `iters` driver-synchronized job
      // waves (measured A/B in round 11: never loses, ~10-25% faster at
      // sf0.1). In the broadcast regime each round's labels have ONE
      // consumer (the next round's broadcast, which materializes once
      // per query execution), so nothing is persisted. In the shuffle
      // regime they feed TWO joins, so they are persisted — lazily, no
      // driver sync — or the chain would re-execute exponentially.
      // Cache contract: the per-round label caches (|V| rows each) live
      // until the caller's clearCache, like every Blocking cache.
      labels = if (!bcast && round < iters)
        next.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else next
    }
    labels
  }

  /** (node, lbl) from the edge-vote counts (u, lbl, n, slbl): the label
    * with the most votes, self-vote included, then the smallest.
    */
  private def argmax(ec: DataFrame, packable: Boolean): DataFrame = {
    val adjN = col("n") +
      when(col("lbl") === col("slbl"), 1L).otherwise(0L)
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
  }
}
