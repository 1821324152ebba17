package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.{TextFns, TopKAgg}
import graft.operators.Layout
import TextDedup.hexValSql
import Util._

/** Extended analytics surface: pivot, grouping sets, exact percentiles,
  * edit-distance dedup, rolling-hash fingerprints, BPE-style token
  * classes (SURVEY §2.4 A5, §2.9 [EXT]).
  */
object Extended {

  /** 31^(k) for k in 0..7 — shared literal table for the rolling hash
    * (kept in exact long arithmetic on both engines).
    */
  private val POW31: Seq[Long] = Seq.iterate(1L, 8)(_ * 31L)

  /** BPE-ish token classes: letter runs, digit runs, single punctuation. */
  private val BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** DuckDB twin of [[erLabels]] — the shared CTE chain (ends in a
    * `labels` CTE) both the er_clusters and golden_record_merge oracles
    * build on. Mirrors the implementation's replica-clique contraction:
    * the candidate generators (blocking + SNM) run over DISTINCT names
    * (one min-key representative each), members inherit their rep's
    * component root through the name group. On unique-name corpora
    * (sf0.001..0.1) this is bit-identical to the uncontracted closure;
    * on replicated corpora it is BOTH the declared semantics (SNM
    * windows over names, not over replica padding) AND what keeps the
    * reach closure tractable — Σ|component|² shrinks by the
    * replication factor squared.
    *
    * Closure pruning (round 14, lossless — the lemma): the label each
    * node needs is `MIN(root)` over everything that reaches it, which
    * for a connected component is simply the component's minimum key
    * m*. Two restrictions preserve that value exactly while cutting
    * the enumerated (node, root) space from Σ|component|² to roughly
    * Σ|component|·(local minima per component):
    *   (1) seed the recursion only at LOCAL MINIMA (nodes smaller than
    *       every neighbor) — m* is smaller than all members, hence
    *       smaller than its neighbors, so it is always seeded;
    *   (2) propagate a root r across edge (u, v) only when r < v —
    *       every node other than m* is > m*, so EVERY path out of m*
    *       satisfies the predicate and every member still receives m*;
    *       pairs the predicate drops carry roots > some member key,
    *       which can never be the component minimum.
    * Every member receives m* (and keeps its own seed row if it is a
    * local minimum), all received roots are component members ≥ m*, so
    * `MIN(root)` per node is unchanged: bit-identical labels, verified
    * against the unpruned closure at sf0.1 and the 10x replica and
    * against union-find ground truth at the 10x organic corpus
    * (oracle wall there: ~1,650 s → ~6 s).
    */
  private val erCompSql: String =
    """cc AS (SELECT c_custkey, c_name FROM customer),
      |grp AS MATERIALIZED (SELECT c_name, CAST(MIN(c_custkey) AS BIGINT) AS rep,
      |          COUNT(*) AS gn
      |        FROM cc GROUP BY c_name),
      |c AS MATERIALIZED (SELECT rep AS c_custkey, c_name FROM grp),
      |bp AS (
      |  SELECT x.c_custkey AS a, x.c_name AS na,
      |         y.c_custkey AS b, y.c_name AS nb
      |  FROM c x JOIN c y
      |    ON substr(x.c_name, 15, 4) = substr(y.c_name, 15, 4)
      |   AND x.c_custkey < y.c_custkey),
      |s AS (SELECT c_custkey, c_name,
      |        row_number() OVER (ORDER BY c_name, c_custkey) AS idx
      |      FROM c),
      |snm0 AS (
      |  SELECT x.c_custkey AS ka, x.c_name AS kna,
      |         y.c_custkey AS kb, y.c_name AS knb
      |  FROM s x JOIN s y ON y.idx = x.idx + 1
      |  UNION ALL
      |  SELECT x.c_custkey, x.c_name, y.c_custkey, y.c_name
      |  FROM s x JOIN s y ON y.idx = x.idx + 2),
      |snm AS (
      |  SELECT CASE WHEN ka < kb THEN ka ELSE kb END AS a,
      |         CASE WHEN ka < kb THEN kna ELSE knb END AS na,
      |         CASE WHEN ka < kb THEN kb ELSE ka END AS b,
      |         CASE WHEN ka < kb THEN knb ELSE kna END AS nb
      |  FROM snm0),
      |cand AS (SELECT DISTINCT a, na, b, nb FROM
      |  (SELECT * FROM bp UNION ALL SELECT * FROM snm)),
      |pairsq AS MATERIALIZED (
      |  SELECT a, b FROM (SELECT * FROM cand
      |                    WHERE abs(length(na) - length(nb)) <= 2)
      |  WHERE levenshtein(na, nb) <= 2),
      |edges AS MATERIALIZED (SELECT a AS u, b AS v FROM pairsq
      |          UNION ALL SELECT b AS u, a AS v FROM pairsq),
      |nodes AS (SELECT DISTINCT u AS node FROM edges),
      |locmin AS MATERIALIZED (
      |  SELECT n.node FROM nodes n
      |  WHERE NOT EXISTS (SELECT 1 FROM edges e
      |                    WHERE e.u = n.node AND e.v < n.node)),
      |reach(node, root) AS (
      |  SELECT node, node FROM locmin
      |  UNION
      |  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node
      |  WHERE r.root < e.v),
      |comp AS MATERIALIZED (
      |  SELECT node, CAST(MIN(root) AS BIGINT) AS root
      |  FROM reach GROUP BY node),
      |labels AS MATERIALIZED (
      |  SELECT m.c_custkey,
      |    CAST(COALESCE(comp.root, g.rep) AS BIGINT) AS rep_custkey
      |  FROM cc m JOIN grp g USING (c_name)
      |  LEFT JOIN comp ON g.rep = comp.node
      |  WHERE comp.root IS NOT NULL OR g.gn > 1)""".stripMargin

  /** The ER cluster labeling (c_custkey, rep_custkey) — the replica-
    * clique-contracted blocking + SNM + lev<=2 + connected-components
    * chain, factored out so `er_clusters` (the labeling itself) and
    * `golden_record_merge` (the field-level merge over it) share ONE
    * definition. Clustered customers only (singleton names with no
    * fuzzy match are not emitted).
    */
  private def erLabels(s: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame = {
    val (pairs, grp) = erPairs(s, dir)
    val labels = graft.operators.Dedup.componentsFromPairs(pairs)
      .select(col("doc_id").as("c_custkey"),
        col("rep_doc_id").as("rep_custkey"))
    // componentsFromPairs checkpoints the pair pipeline EAGERLY, so by
    // the time it returns, the grp cache has no remaining reader — the
    // returned labels are checkpoint-backed. Release it here rather
    // than leaving it resident until the caller's clearCache.
    grp.unpersist()
    labels
  }

  /** The pre-CC survivor pair stream (and the persisted name-group frame
    * backing it, for the caller to release) — factored out of
    * [[erLabels]] so the plan-evidence tool can dump THIS subtree: the
    * round-15 distinct-drop lives upstream of componentsFromPairs'
    * localCheckpoint, so the final query plan cannot show it.
    */
  private[graft] def erPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val c = customer(s, dir).select(col("c_custkey"), col("c_name"))
    // persisted: feeds the chain edges AND the representative corpus.
    // (A single name-window pass replacing groupBy+join-back was tried
    // in round 12 and measured SLOWER — the window's per-partition name
    // sort costs more than the hash aggregate + join it saves.)
    val grp = c.groupBy(col("c_name"))
      .agg(min(col("c_custkey")).as("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chain = c.join(grp, Seq("c_name"))
      .filter(col("c_custkey") =!= col("rep"))
      .select(col("rep").as("a"), col("c_custkey").as("b"))
    val reps = grp.select(col("rep").as("c_custkey"), col("c_name"))
    val blk = reps.withColumn("blk", substring(col("c_name"), 15, 4))
    val bp = blk
      .select(col("blk"), col("c_custkey").as("a"), col("c_name").as("na"))
      .join(blk.select(col("blk"), col("c_custkey").as("b"),
        col("c_name").as("nb")), Seq("blk"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("na"), col("b"), col("nb"))
    val snmRaw = graft.operators.Blocking.sortedNeighborhood(
      reps, Seq(col("c_name"), col("c_custkey")), w = 3)
    // canonicalize to a < b (SNM emits in name order, not key order)
    val snm = snmRaw.select(
      least(col("c_custkey_a"), col("c_custkey_b")).as("a"),
      when(col("c_custkey_a") < col("c_custkey_b"), col("c_name_a"))
        .otherwise(col("c_name_b")).as("na"),
      greatest(col("c_custkey_a"), col("c_custkey_b")).as("b"),
      when(col("c_custkey_a") < col("c_custkey_b"), col("c_name_b"))
        .otherwise(col("c_name_a")).as("nb"))
    // NO distinct on the survivors (round 15): components of a
    // multigraph equal components of its support, and the consumer's
    // star-contraction prelude (componentsFromPairs pass 1) absorbs
    // duplicate edges inside its per-partition union-find for free —
    // while a distinct here is a full shuffle of the survivor set,
    // which on a dup-dense corpus grows QUADRATICALLY in copy density
    // (every copy-pair of the same base entity passes lev ≤ 2: 100x
    // organic carries ~75M survivor edges vs 30x's ~6.6M). Dropping it
    // also leaves the survivor stream on the bp join's block
    // partitioning, so whole dup cliques are partition-local for pass 1
    // and the quadratic edge set is contracted to ~node-count stars
    // map-side, never shuffled or checkpointed. (The oracle's DISTINCT
    // candidate CTE is unaffected — the emitted LABELS are identical.)
    val pairs = bp.unionByName(snm)
      .filter(levenshtein(col("na"), col("nb"), 2) =!= -1)
      .select(col("a"), col("b"))
      .unionByName(chain)
    (pairs, grp)
  }

  def queries: Map[String, Q] = Map(

    // A5 pivot: orders count by year x status, statuses as columns.
    "pivot_orders" -> ((s, dir) => {
      orders(s, dir)
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_year"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
        .orderBy(col("o_year"))
    }),

    // A5 grouping sets: two independent one-dimensional rollups plus the
    // grand total in one pass (the general form behind cube/rollup).
    "grouping_sets_orders" -> ((s, dir) => {
      orders(s, dir).createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderpriority, o_orderstatus, count(1) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
          |ORDER BY o_orderpriority ASC NULLS FIRST,
          |  o_orderstatus ASC NULLS FIRST""".stripMargin)
    }),

    // A5 exact percentiles (linear interpolation) per priority class.
    // One ARRAY percentile aggregate, not three scalar ones: the
    // Percentile buffer (a value-counts map over the group) is built and
    // merged ONCE and evaluated at each cut point — three separate
    // aggregates each carry their own copy of that map through the
    // shuffle merge.
    "percentile_orders" -> ((s, dir) => {
      orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(percentile(col("o_totalprice"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("ps"))
        .select(col("o_orderpriority"), col("ps").getItem(0).as("p25"),
          col("ps").getItem(1).as("p50"), col("ps").getItem(2).as("p75"))
        .orderBy(col("o_orderpriority"))
    }),

    // A5: the sketch twin of percentile_orders — exact percentile is a
    // sort-per-group at 100 TB; approx_percentile (GK sketch, mergeable,
    // one pass) is the scale path. Oracle-checkable by construction like
    // approx_distinct_parts: the sketch's p50 must land between the exact
    // 0.45 and 0.55 quantiles (accuracy 10000 bounds rank error at
    // n/10000, orders of magnitude tighter than that window), and the
    // oracle pins approx_ok = true per group next to the exact p50.
    "approx_percentile_orders" -> ((s, dir) => {
      orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(percentile(col("o_totalprice"),
            array(lit(0.45), lit(0.5), lit(0.55))).as("ps"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("ap50"))
        .select(col("o_orderpriority"), col("ps").getItem(1).as("p50"),
          (col("ap50") >= col("ps").getItem(0) &&
            col("ap50") <= col("ps").getItem(2)).as("approx_ok"))
        .orderBy(col("o_orderpriority"))
    }),

    // Edit-distance dedup: candidate pairs blocked on the name's last 4
    // digits (the blocking key bounds the pair space), verified with
    // exact levenshtein <= 2 — catches prefix-digit typos of the same
    // entity id.
    //
    // Factored through DISTINCT names (the jw_best_match treatment, not
    // a length band — every c_name is fixed-width so a band has zero
    // discrimination here): the edit distance depends only on the name
    // pair, so the block self-join and the DP verification run over one
    // row per name and members expand afterwards through two equi-joins
    // on the name. On a duplicate-heavy corpus an exact-name group of k
    // rows otherwise multiplies the in-block candidate space by k² AND
    // re-verifies the same string pair k² times; after factoring the
    // candidate/verify stage is replication-invariant and only the
    // (inherently k²-sized) output expansion scales with density. The
    // emitted set is identical on any corpus: each unordered member
    // pair {x, y} with lev(name_x, name_y) ≤ 2 appears exactly once —
    // cross-name pairs via the canonical na < nb orientation, same-name
    // pairs via ka < kb — re-oriented to (min, max) like the raw a < b
    // self-join.
    "dedup_levenshtein" -> ((s, dir) => {
      val c = customer(s, dir).select(col("c_custkey"), col("c_name"))
      // persisted: the block self-join reads the distinct-name table on
      // BOTH sides — without the cache each side re-scans customer and
      // re-runs the distinct shuffle (measured 5.5 s → ~2 s at 10x)
      val names = c.select(col("c_name").as("na")).distinct()
        .withColumn("blk", substring(col("na"), 15, 4))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val np = names
        .join(names.select(col("na").as("nb"),
          substring(col("nb"), 15, 4).as("blk")), Seq("blk"))
        .filter(col("na") <= col("nb"))
        // threshold-bounded levenshtein: banded DP, O(t·n) per pair
        // instead of O(n·m); -1 marks "beyond the bound" (never ≤ t, so
        // the filter must test -1, not the bound)
        .withColumn("lev", levenshtein(col("na"), col("nb"), 2))
        .filter(col("lev") =!= -1)
        .select(col("na"), col("nb"), col("lev"))
      np
        .join(c.select(col("c_name").as("na"), col("c_custkey").as("ka")), "na")
        .join(c.select(col("c_name").as("nb"), col("c_custkey").as("kb")), "nb")
        .filter(col("na") < col("nb") || col("ka") < col("kb"))
        .select(least(col("ka"), col("kb")).as("a"),
          greatest(col("ka"), col("kb")).as("b"),
          col("lev").cast("long").as("lev"))
        .orderBy(col("a"), col("b"))
    }),

    // Sorted-neighborhood blocking (merge/purge): fuzzy-match candidates
    // from a w=3 sliding window over the (p_name, p_partkey) sort order —
    // catches near-misses that straddle dedup_levenshtein's equality
    // blocks. The global sort index comes from Blocking.globalIndex
    // (range partitions + per-partition ranks + broadcast offsets), so
    // no corpus-wide single-partition window exists anywhere in the plan.
    "sorted_neighborhood_pairs" -> ((s, dir) => {
      val pairs = graft.operators.Blocking.sortedNeighborhood(
        part(s, dir).select(col("p_partkey"), col("p_name")),
        Seq(col("p_name"), col("p_partkey")), w = 3)
      pairs
        .withColumn("lev", levenshtein(col("p_name_a"), col("p_name_b"), 10))
        .filter(col("lev") =!= -1)
        .select(col("p_partkey_a").as("a"), col("p_partkey_b").as("b"),
          col("lev").cast("long").as("lev"))
        .orderBy(col("a"), col("b"))
    }),

    // End-to-end entity resolution: candidates from TWO generators —
    // equality blocking (dedup_levenshtein's block) ∪ sorted-neighborhood
    // (cross-block near-misses) — verified with an exact edit-distance
    // gate, then clustered with the same O(log d) connected components
    // the dedup family uses. One canonical merge/purge pipeline, each
    // stage already proven separately; the oracle recomputes the whole
    // chain including the recursive closure.
    //
    // Replica-clique contraction: identical names are trivial matches
    // (edit distance 0), and on a duplicate-heavy corpus an exact-name
    // group of k rows would otherwise flood both candidate generators
    // with k² intra-group pairs. Contract each exact-name group to its
    // min-key representative FIRST: the group reaches the match graph
    // through k-1 chain edges (rep → member), and the candidate
    // generators run over DISTINCT names only. Components are
    // preserved — every old intra-group pair connected rows the chain
    // edges still connect, and a cross-name edge only needs one
    // endpoint per name to pull in the whole group. On a deduplicated
    // corpus (sf0.01/sf0.1: c_name embeds c_custkey, so names are
    // unique) the contraction is a no-op and the output is identical
    // to the uncontracted plan the oracle recomputes.
    "er_clusters" -> ((s, dir) =>
      erLabels(s, dir).orderBy(col("c_custkey"))),

    // MDM golden-record construction — the field-level merge step AFTER
    // entity resolution that row-level survivorship can't do: per dup
    // cluster, each field resolves by its OWN rule (name: longest, ties
    // lexicographically largest, via the sortable lpad(len)||name key —
    // deterministic on both engines where arg_max tie-breaking is not;
    // balance: max exact cents; segment: most frequent, ties to the
    // smallest). One labels join, two bounded aggregates — at 100 TB
    // the per-cluster state is one row per (cluster) + one per
    // (cluster, segment), both map-side combinable.
    "golden_record_merge" -> ((s, dir) => {
      val j = erLabels(s, dir)
        .join(customer(s, dir), Seq("c_custkey"))
        .select(col("rep_custkey"), col("c_name"),
          (d2(col("c_acctbal")) * 100).cast("long").as("cents"),
          col("c_mktsegment"))
      // TWO stacked aggregates, one pass over the members (round 12;
      // was: two independent aggregates over a persisted frame + a
      // ranking window + a join-back). The (cluster, segment) grain
      // carries partial maxes of the member-level fields, so the
      // cluster grain is segment-grain-sized; the mode-with-tie rule
      // "cnt desc, then segment asc" is exactly lexicographic
      // min(struct(-cnt, segment)) — no window, no second shuffle of
      // the member rows, nothing persisted.
      j.groupBy(col("rep_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
          max(concat(lpad(length(col("c_name")).cast("string"), 4, "0"),
            col("c_name"))).as("nk_s"),
          max(col("cents")).as("bal_s"))
        .groupBy(col("rep_custkey"))
        .agg(sum(col("cnt")).as("n_members"),
          max(col("nk_s")).as("nk"),
          max(col("bal_s")).as("golden_bal_cents"),
          min(struct((-col("cnt")).as("nc"),
            col("c_mktsegment").as("seg"))).as("best"))
        .select(col("rep_custkey"), col("n_members"),
          expr("substring(nk, 5)").as("golden_name"),
          col("golden_bal_cents"),
          col("best").getField("seg").as("golden_segment"))
        .orderBy(col("rep_custkey"))
    }),

    // Rolling-hash document fingerprint: position-weighted polynomial
    // hash over token hashes (weight 31^(pos mod 8)), exact long
    // arithmetic — an order-sensitive complement to the md5 fingerprint.
    "rolling_hash_docs" -> ((s, dir) => {
      val tok = documents(s, dir)
        .select(col("doc_id"),
          posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("pos"), md5(col("tok")).as("m"))
      val tv = (TextFns.hexVal(substring(col("m"), 1, 1)) * 4096 +
        TextFns.hexVal(substring(col("m"), 2, 1)) * 256 +
        TextFns.hexVal(substring(col("m"), 3, 1)) * 16 +
        TextFns.hexVal(substring(col("m"), 4, 1))).cast("long")
      val w = POW31.zipWithIndex.tail
        .foldLeft(when(col("pos") % 8 === 0, lit(POW31.head))) {
          case (acc, (p, k)) => acc.when(col("pos") % 8 === k, lit(p))
        }
      tok
        .select(col("doc_id"), (tv * w).as("term"))
        .groupBy(col("doc_id"))
        .agg(sum(col("term")).as("rolling_hash"))
        .orderBy(col("doc_id"))
    }),

    // F6/date bucketing: monthly revenue rollup via date_trunc.
    "monthly_revenue" -> ((s, dir) => {
      orders(s, dir)
        .groupBy(tsUs(date_trunc("month", col("o_orderdate"))).as("month_us"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("month_us"))
    }),

    // Ordered string aggregation: nations per region as one sorted
    // comma-joined string (deterministic: sort before join).
    "string_agg_nations" -> ((s, dir) => {
      nation(s, dir)
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy(col("r_name"))
    }),

    // TPC-H Q4 shape: orders with at least one lineitem shipped > 60
    // days after the order date, counted per priority — a correlated
    // EXISTS as a left-semi join with a cross-side condition.
    "q4_order_priority" -> ((s, dir) => {
      val li = lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
      orders(s, dir)
        .join(li,
          col("o_orderkey") === col("l_orderkey") &&
            tsUs(col("l_shipdate")) > tsUs(col("o_orderdate")) + 60L * 86400000000L,
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // Typed bounded top-k Aggregator (functions.udaf) under the oracle
    // gate: per priority class, top-3 orders by price — the shuffle
    // carries at most k entries per partition per group.
    "topk_agg_priority" -> ((s, dir) => {
      val topk = udaf(TopKAgg.TopK(3), TopKAgg.entryEncoder)
      orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rnk"),
          col("col._2").as("o_orderkey"), col("col._1").as("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rnk"))
    }),

    // Statistical aggregates with deterministic arithmetic: the decimal
    // sum converts to double exactly (scaled value < 2^53), so the mean
    // is one correctly-rounded division in both engines; min/max are
    // exact. (Σx² variants are NOT portable: their decimal→double
    // conversion exceeds double precision and the engines round the
    // 20-digit value differently.)
    "stats_orders" -> ((s, dir) => {
      orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_x"),
          min(col("o_totalprice")).as("min_x"),
          max(col("o_totalprice")).as("max_x"))
        .select(col("o_orderpriority"), col("n"),
          (col("sum_x") / col("n")).as("mean"), col("min_x"), col("max_x"))
        .orderBy(col("o_orderpriority"))
    }),

    // Calendar heatmap: events by day-of-week x hour (dow normalized to
    // DuckDB's Sunday=0 convention).
    "events_heatmap" -> ((s, dir) => {
      events(s, dir)
        .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hh"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy(col("dow"), col("hh"))
    }),

    // Ordered conversion funnel signup -> view -> purchase: per user the
    // earliest ts of each stage, a stage counting only when it happens
    // AFTER the previous one. One user-keyed aggregate + one global
    // aggregate — the standard two-phase funnel shape (no self-joins,
    // scales with |users|).
    "events_funnel" -> ((s, dir) => {
      def stageMin(t: String) = min(when(col("event_type") === t, col("ts")))
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(stageMin("signup").as("t_signup"),
          stageMin("view").as("t_view"),
          stageMin("purchase").as("t_purchase"))
        .agg(
          sum(when(col("t_signup").isNotNull, 1L).otherwise(0L)).as("n_signup"),
          sum(when(col("t_signup").isNotNull && col("t_view") > col("t_signup"),
            1L).otherwise(0L)).as("n_signup_view"),
          sum(when(col("t_signup").isNotNull && col("t_view") > col("t_signup")
            && col("t_purchase") > col("t_view"), 1L).otherwise(0L))
            .as("n_signup_view_purchase"))
    }),

    // Funnel latency: the time-to-convert distribution events_funnel's
    // counts don't show — per converting user the delay from first
    // signup to the first purchase AT OR AFTER it, summarized as exact
    // interpolated quartiles over microsecond longs (unix_micros ↔
    // DuckDB epoch_us are both exact integers, and quantile_cont ↔
    // percentile hash-match per the percentile_orders precedent). The
    // signup side pre-aggregates to one row per user before meeting the
    // purchase fact co-keyed on user_id; the quartile aggregate sees one
    // delay per converted user.
    "funnel_latency" -> ((s, dir) => {
      val su = events(s, dir).filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("su_ts"))
      events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
        .join(su, Seq("user_id"))
        .filter(col("p_ts") >= col("su_ts"))
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("p_ts")) - unix_micros(col("su_ts")))
          .as("delay_us"))
        .agg(count(lit(1)).as("n_converted"),
          percentile(col("delay_us"),
            array(lit(0.25), lit(0.5), lit(0.75))).as("ps"))
        .select(col("n_converted"), col("ps").getItem(0).as("p25_us"),
          col("ps").getItem(1).as("p50_us"), col("ps").getItem(2).as("p75_us"))
    }),

    // Cohort retention: users grouped by first-seen week, counted per
    // later activity week. Two user-keyed aggregates + one (cohort,
    // week)-keyed count — the matrix every retention dashboard draws.
    "cohort_retention" -> ((s, dir) => {
      val week = (d: org.apache.spark.sql.Column) =>
        floor(datediff(d.cast("date"), lit("2024-01-01").cast("date")) / 7)
      val firstSeen = events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
        .select(col("user_id"), week(col("first_ts")).as("cohort_week"))
      events(s, dir)
        .select(col("user_id"), week(col("ts")).as("act_week"))
        .distinct()
        .join(firstSeen, Seq("user_id"))
        .groupBy(col("cohort_week"), col("act_week"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_week"), col("act_week"))
    }),

    // Markov transition matrix over each user's ordered event stream:
    // lead() pairs every event with its successor, one hash aggregate
    // counts the (from, to) bigrams, and the share of each outgoing edge
    // is emitted in exact integer permille (floor-division — portable,
    // unlike a double ratio). One shuffle keyed by user_id for the
    // sequence window; the |types|^2 matrix afterwards is tiny at any SF.
    "event_transitions" -> ((s, dir) => {
      val seq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val out = Window.partitionBy(col("from_type"))
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(seq))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("tot", sum(col("n")).over(out))
        .withColumn("permille", expr("(1000 * n) div tot"))
        .drop("tot")
        .orderBy(col("from_type"), col("to_type"))
    }),

    // Sigma-clipping outlier gate (the numeric twin of the text quality
    // filter): flag events whose value deviates from its type's mean by
    // more than 3 standard deviations. Two passes — a 5-row per-type
    // moment aggregate broadcast back over the stream — and the test
    // |x-mu| > 3*sigma is evaluated in EXACT integer arithmetic by
    // cross-multiplying out both divisions:
    //   (n*x - s)^2 > 9 * (n*s2 - s^2)
    // (decimal(38,0) products; no doubles, so the flag is bit-portable
    // and immune to partial-aggregation order at any scale).
    // Grouped OLS regression (price-on-quantity per return flag) from
    // the five exact moment sums: slope = (nΣxy - ΣxΣy)/(nΣx² - (Σx)²),
    // everything up to the final division in decimal(38,0) (mirroring
    // DuckDB's HUGEINT), then exactly TWO correctly-rounded double
    // divisions (slope, intercept) at the edge — the regression analogue
    // of the zscore/weighted-mean determinism pattern. One hash
    // aggregate, map-side combinable; the moment sums are the classic
    // distributed-OLS sufficient statistics (merge = add), which is why
    // this shape scales to any row count. Headroom: nΣxy ~ n²·x_max·y_max
    // stays inside 38 digits up to n ~ 10^12 rows per group.
    "ols_price_on_qty" -> ((s, dir) => {
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("x"),
          (d2(col("l_extendedprice")) * 100).cast("long").as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
          sum(dec(col("x")) * dec(col("y"))).as("sxy"),
          sum(dec(col("x")) * dec(col("x"))).as("sx2"))
        .withColumn("slope",
          (dec(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
            (dec(col("n")) * col("sx2") - col("sx") * col("sx")).cast("double"))
        .withColumn("intercept",
          (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
            col("n").cast("double"))
        .select(col("l_returnflag"), col("n"), col("slope"), col("intercept"))
        .orderBy(col("l_returnflag"))
    }),

    "zscore_outliers" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        (d2(col("value")) * 100).cast("long").as("v"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      // Both sums go through decimal(38,0) so they mirror the oracle's
      // HUGEINT exactly — a plain int64 sum of `v` would wrap silently
      // past 2^63 while DuckDB keeps going. Headroom bound: the widest
      // intermediate is n*s2 - s^2 ~ n^2 * v_max^2; with v_max < 10^7
      // (centized DECIMAL(18,2) values) that stays inside 38 digits up
      // to n ~ 10^12 rows per group, far past 100 TB group sizes.
      val stats = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("s"),
          sum(dec(col("v")) * dec(col("v"))).as("s2"))
      val dev = dec(col("n")) * dec(col("v")) - dec(col("s"))
      val varNum = dec(col("n")) * col("s2") - dec(col("s")) * dec(col("s"))
      ev.join(broadcast(stats), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_events"),
          sum(when(dev * dev > lit(9) * varNum, 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("event_type"))
    }),

    // Z-order layout evidence: Morton-interleave (customer, price
    // bucket) and summarize each coarse z-range's bounding box. Each
    // bucket covers a NARROW range of both dimensions — the property
    // that makes parquet min/max stats prune on either filter column
    // when a 100 TB fact table is range-partitioned by z (a 1-D sort
    // would leave one dimension spanning every file; see Layout.zValue).
    // Price is bucketed by exact integer floor-division of cents so the
    // z-keys are engine-portable.
    "zorder_stats" -> ((s, dir) => {
      val x = col("o_custkey") % 1024
      val y = expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) div 60000")
      orders(s, dir)
        .select(Layout.zValue(x, y, 10).as("z"), x.as("ck"), y.as("pb"))
        .groupBy(shiftright(col("z"), 12).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("ck")).as("min_ck"), max(col("ck")).as("max_ck"),
          min(col("pb")).as("min_pb"), max(col("pb")).as("max_pb"))
        .orderBy(col("zbucket"))
    }),

    // Token classes a BPE-ish pre-tokenizer would emit: letter runs,
    // digit runs, punctuation singletons.
    "bpe_token_stats" -> ((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"),
          regexp_extract_all(lower(col("text")), lit(BPE_RE), lit(0)).as("bt"))
        .select(col("doc_id"),
          size(col("bt")).cast("long").as("n_bpe"),
          size(array_distinct(col("bt"))).cast("long").as("n_distinct_bpe"))
        .orderBy(col("doc_id"))
    })
  )

  def oracles: Map[String, String] = {

    val powCaseSql = POW31.zipWithIndex
      .map { case (p, k) => s"WHEN $k THEN CAST($p AS BIGINT)" }
      .mkString("CASE pos % 8 ", " ", " END")

    Map(
      "pivot_orders" ->
        """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
          |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
          |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
          |FROM orders GROUP BY o_year ORDER BY o_year""".stripMargin,

      "grouping_sets_orders" ->
        """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
          |ORDER BY o_orderpriority ASC NULLS FIRST,
          |  o_orderstatus ASC NULLS FIRST""".stripMargin,

      "percentile_orders" ->
        """SELECT o_orderpriority,
          |  quantile_cont(o_totalprice, 0.25) AS p25,
          |  quantile_cont(o_totalprice, 0.5) AS p50,
          |  quantile_cont(o_totalprice, 0.75) AS p75
          |FROM orders GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin,

      "approx_percentile_orders" ->
        """SELECT o_orderpriority,
          |  quantile_cont(o_totalprice, 0.5) AS p50,
          |  true AS approx_ok
          |FROM orders GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin,

      "dedup_levenshtein" ->
        """SELECT x.c_custkey AS a, y.c_custkey AS b,
          |  CAST(levenshtein(x.c_name, y.c_name) AS BIGINT) AS lev
          |FROM customer x JOIN customer y
          |  ON substr(x.c_name, 15, 4) = substr(y.c_name, 15, 4)
          | AND x.c_custkey < y.c_custkey
          |WHERE levenshtein(x.c_name, y.c_name) <= 2
          |ORDER BY a, b""".stripMargin,

      // Mirrors the implementation's replica-clique contraction: the
      // candidate generators (blocking + SNM) run over DISTINCT names
      // (one min-key representative each), members inherit their rep's
      // component root through the name group. On unique-name corpora
      // (sf0.001..0.1) this is bit-identical to the uncontracted
      // closure; on replicated corpora it is BOTH the declared
      // semantics (SNM windows over names, not over replica padding)
      // AND what keeps the reach closure tractable — Σ|component|²
      // shrinks by the replication factor squared.
      "er_clusters" ->
        s"""WITH RECURSIVE $erCompSql
           |SELECT c_custkey, rep_custkey FROM labels
           |ORDER BY c_custkey""".stripMargin,

      // Mirrors golden_record_merge over the SAME shared labels chain:
      // sortable lpad(len)||name key for the longest-name rule, max
      // exact cents, mode segment with explicit (cnt desc, seg)
      // tie-break.
      "golden_record_merge" ->
        s"""WITH RECURSIVE $erCompSql,
           |j AS (
           |  SELECT l.rep_custkey, cu.c_name,
           |    CAST(CAST(cu.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
           |      AS cents,
           |    cu.c_mktsegment
           |  FROM labels l JOIN customer cu USING (c_custkey)),
           |fields AS (
           |  SELECT rep_custkey, CAST(count(*) AS BIGINT) AS n_members,
           |    max(lpad(CAST(length(c_name) AS VARCHAR), 4, '0') || c_name)
           |      AS nk,
           |    CAST(max(cents) AS BIGINT) AS golden_bal_cents
           |  FROM j GROUP BY 1),
           |segc AS (SELECT rep_custkey, c_mktsegment, count(*) AS cnt
           |         FROM j GROUP BY 1, 2),
           |seg AS (
           |  SELECT rep_custkey, c_mktsegment AS golden_segment
           |  FROM (SELECT rep_custkey, c_mktsegment, row_number() OVER (
           |          PARTITION BY rep_custkey
           |          ORDER BY cnt DESC, c_mktsegment) AS rn
           |        FROM segc)
           |  WHERE rn = 1)
           |SELECT f.rep_custkey, f.n_members, substr(f.nk, 5) AS golden_name,
           |  f.golden_bal_cents, seg.golden_segment
           |FROM fields f JOIN seg USING (rep_custkey)
           |ORDER BY f.rep_custkey""".stripMargin,

      "sorted_neighborhood_pairs" ->
        """WITH s AS MATERIALIZED (
          |  SELECT p_partkey, p_name,
          |    row_number() OVER (ORDER BY p_name, p_partkey) AS idx
          |  FROM part)
          |SELECT a, b, lev FROM (
          |  SELECT a.p_partkey AS a, b.p_partkey AS b,
          |    CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
          |  FROM s a JOIN s b ON b.idx = a.idx + 1
          |  UNION ALL
          |  SELECT a.p_partkey, b.p_partkey,
          |    CAST(levenshtein(a.p_name, b.p_name) AS BIGINT)
          |  FROM s a JOIN s b ON b.idx = a.idx + 2)
          |WHERE lev <= 10
          |ORDER BY a, b""".stripMargin,

      "rolling_hash_docs" ->
        s"""WITH tok AS (
           |  SELECT doc_id,
           |    generate_subscripts(toks, 1) - 1 AS pos,
           |    md5(unnest(toks)) AS m
           |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
           |        FROM documents)),
           |terms AS (
           |  SELECT doc_id,
           |    CAST(${hexValSql("m", 1)} * 4096 + ${hexValSql("m", 2)} * 256 +
           |         ${hexValSql("m", 3)} * 16 + ${hexValSql("m", 4)} AS BIGINT)
           |      * ($powCaseSql) AS term
           |  FROM tok)
           |SELECT doc_id, CAST(SUM(term) AS BIGINT) AS rolling_hash
           |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "monthly_revenue" ->
        """SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
          |  COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders GROUP BY month_us ORDER BY month_us""".stripMargin,

      "string_agg_nations" ->
        """SELECT r_name,
          |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
          |  COUNT(*) AS n
          |FROM nation JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name ORDER BY r_name""".stripMargin,

      "q4_order_priority" ->
        """SELECT o_orderpriority, COUNT(*) AS order_count
          |FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |  WHERE l_orderkey = o_orderkey
          |    AND epoch_us(l_shipdate) > epoch_us(o_orderdate) + 60 * 86400000000)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

      "topk_agg_priority" ->
        """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice
          |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
          |        CAST(row_number() OVER (PARTITION BY o_orderpriority
          |          ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
          |      FROM orders)
          |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,

      "stats_orders" ->
        """WITH s AS (
          |  SELECT o_orderpriority, COUNT(*) AS n,
          |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
          |    MIN(o_totalprice) AS min_x, MAX(o_totalprice) AS max_x
          |  FROM orders GROUP BY o_orderpriority)
          |SELECT o_orderpriority, n, sum_x / n AS mean, min_x, max_x
          |FROM s ORDER BY o_orderpriority""".stripMargin,

      "events_heatmap" ->
        """SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
          |  CAST(hour(ts) AS BIGINT) AS hh, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM events GROUP BY dow, hh ORDER BY dow, hh""".stripMargin,

      "events_funnel" ->
        """WITH stages AS (
          |  SELECT user_id,
          |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
          |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
          |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
          |  FROM events GROUP BY user_id)
          |SELECT
          |  CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
          |  CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
          |      THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_view,
          |  CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
          |      AND t_purchase > t_view THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_signup_view_purchase
          |FROM stages""".stripMargin,

      "funnel_latency" ->
        """WITH su AS (
          |  SELECT user_id, MIN(ts) AS su_ts FROM events
          |  WHERE event_type = 'signup' GROUP BY user_id),
          |d AS (
          |  SELECT e.user_id,
          |    MIN(epoch_us(e.ts) - epoch_us(su_ts)) AS delay_us
          |  FROM events e JOIN su ON e.user_id = su.user_id
          |  WHERE e.event_type = 'purchase' AND e.ts >= su_ts
          |  GROUP BY e.user_id)
          |SELECT COUNT(*) AS n_converted,
          |  quantile_cont(delay_us, 0.25) AS p25_us,
          |  quantile_cont(delay_us, 0.5) AS p50_us,
          |  quantile_cont(delay_us, 0.75) AS p75_us
          |FROM d""".stripMargin,

      "cohort_retention" ->
        """WITH first_seen AS (
          |  SELECT user_id,
          |    datediff('day', DATE '2024-01-01', CAST(min(ts) AS DATE)) // 7 AS cohort_week
          |  FROM events GROUP BY user_id),
          |activity AS (
          |  SELECT DISTINCT user_id,
          |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS act_week
          |  FROM events)
          |SELECT cohort_week, act_week, count(*) AS n_users
          |FROM activity JOIN first_seen USING (user_id)
          |GROUP BY cohort_week, act_week ORDER BY cohort_week, act_week""".stripMargin,

      // lead() over the same (ts, event_id) total order; the windowed
      // SUM(n) is HUGEINT in DuckDB so the permille floor-division is
      // cast back to BIGINT to match Spark's `div`.
      "event_transitions" ->
        """WITH seq AS (
          |  SELECT event_type AS from_type,
          |    lead(event_type) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id) AS to_type
          |  FROM events),
          |cnt AS (
          |  SELECT from_type, to_type, count(*) AS n
          |  FROM seq WHERE to_type IS NOT NULL
          |  GROUP BY from_type, to_type)
          |SELECT from_type, to_type, n,
          |  CAST((1000 * n) // sum(n) OVER (PARTITION BY from_type)
          |    AS BIGINT) AS permille
          |FROM cnt ORDER BY from_type, to_type""".stripMargin,

      // Exact integer sigma-clip: HUGEINT (int128) mirrors Spark's
      // decimal(38,0) products bit-for-bit — no doubles anywhere, so the
      // cross-multiplied test (n*x-s)^2 > 9*(n*s2-s^2) is engine-portable.
      "ols_price_on_qty" ->
        """WITH li AS (
          |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
          |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
          |  FROM lineitem),
          |st AS (
          |  SELECT l_returnflag, count(*) AS n,
          |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
          |    sum(CAST(x AS HUGEINT) * y) AS sxy,
          |    sum(CAST(x AS HUGEINT) * x) AS sx2
          |  FROM li GROUP BY l_returnflag),
          |sl AS (
          |  SELECT l_returnflag, n, sx, sy,
          |    CAST(n * sxy - sx * sy AS DOUBLE) /
          |      CAST(n * sx2 - sx * sx AS DOUBLE) AS slope
          |  FROM st)
          |SELECT l_returnflag, CAST(n AS BIGINT) AS n, slope,
          |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
          |    AS intercept
          |FROM sl ORDER BY l_returnflag""".stripMargin,

      "zscore_outliers" ->
        """WITH ev AS (
          |  SELECT event_type,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          |  FROM events),
          |st AS (
          |  SELECT event_type, count(*) AS n,
          |    sum(CAST(v AS HUGEINT)) AS s,
          |    sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS s2
          |  FROM ev GROUP BY event_type)
          |SELECT ev.event_type,
          |  max(st.n) AS n_events,
          |  CAST(sum(CASE WHEN (st.n * ev.v - st.s) * (st.n * ev.v - st.s)
          |      > 9 * (st.n * st.s2 - st.s * st.s) THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_outliers
          |FROM ev JOIN st USING (event_type)
          |GROUP BY ev.event_type ORDER BY ev.event_type""".stripMargin,

      // Morton interleave spelled as disjoint-bit adds (Layout.zValueSql),
      // price bucketed by exact integer cents division.
      "zorder_stats" ->
        s"""WITH b AS (
           |  SELECT o_custkey % 1024 AS x,
           |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           |      // 60000 AS y
           |  FROM orders),
           |z AS (SELECT ${Layout.zValueSql("x", "y", 10)} AS z, x, y FROM b)
           |SELECT z >> 12 AS zbucket, count(*) AS n,
           |  min(x) AS min_ck, max(x) AS max_ck,
           |  min(y) AS min_pb, max(y) AS max_pb
           |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin,

      "bpe_token_stats" ->
        s"""SELECT doc_id,
           |  CAST(len(bt) AS BIGINT) AS n_bpe,
           |  CAST(len(list_distinct(bt)) AS BIGINT) AS n_distinct_bpe
           |FROM (SELECT doc_id,
           |        regexp_extract_all(lower(text), '$BPE_RE') AS bt
           |      FROM documents)
           |ORDER BY doc_id""".stripMargin
    )
  }
}
