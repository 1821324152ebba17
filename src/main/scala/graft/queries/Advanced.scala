package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.{CountMin, CountMinAgg, MisraGriesAgg}
import graft.operators.{LabelProp, PageRank}
import Util._

/** Round-6 surface: SCD2 interval building, sketch-based heavy hitters,
  * robust (MAD) outlier detection, and integer PageRank (SURVEY §2.4 A5,
  * §2.5 windows, §2.9 [EXT]).
  */
object Advanced {

  /** MG counter budget: any token with frequency > n/(K_MG+1) of the
    * corpus is a guaranteed sketch survivor.
    */
  private val K_MG = 32

  /** PageRank iterations — fixed so both engines run the same unrolled
    * update chain.
    */
  private val PR_ITERS = 3

  /** LPA rounds — fixed for the same oracle-unrolling reason. */
  private val LPA_ITERS = 3

  /** Open-interval sentinel for the current SCD2 row on both engines. */
  private val SCD2_OPEN_END = "9999-12-31 00:00:00"

  /** CMS width: 150 distinct users into 64 buckets per row forces real
    * collisions, so the sketch is demonstrably approximate while every
    * estimate still reconstructs exactly.
    */
  private val CM_WIDTH = 64

  /** Probe set bound for count_min_users (user_id < this). */
  private val CM_PROBE = 15

  def queries: Map[String, Q] = Map(

    // SCD2 interval building (gaps-and-islands): collapse each user's
    // event stream into validity intervals [valid_from, valid_to) per
    // consecutive run of the same event_type — the slowly-changing-
    // dimension-type-2 snapshot the reference's daily mirror sync
    // approximates with truncate-and-load (ref: src/jenzabar.py:35-36
    // keeps only the latest state; SCD2 keeps the history). One window
    // pass to mark run starts, a running sum to number the runs, one
    // hash aggregate, one lead() for the closing edge. Each shuffle is
    // keyed by user_id, so at 100 TB this is a single repartition by the
    // natural entity key with no driver-side state.
    "scd2_intervals" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val marked = events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("grp", sum(col("chg")).over(w))
      val iv = marked
        .groupBy(col("user_id"), col("event_type"), col("grp"))
        .agg(min(col("ts")).as("vf"), count(lit(1)).as("n_events"))
      // lead() tie-break on grp: two runs of one user can share a start
      // timestamp (vf), and grp is the chronological run number — without
      // it the closing edge is tie-order dependent and the two engines
      // could break the tie differently.
      val w2 = Window.partitionBy(col("user_id")).orderBy(col("vf"), col("grp"))
      iv.withColumn("vt",
          coalesce(lead(col("vf"), 1).over(w2),
            to_timestamp(lit(SCD2_OPEN_END))))
        .select(col("user_id"), col("event_type"),
          tsUs(col("vf")).as("valid_from_us"),
          tsUs(col("vt")).as("valid_to_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("valid_from_us"), col("valid_to_us"),
          col("event_type"))
    }),

    // Heavy hitters via a mergeable Misra-Gries sketch (bounded state:
    // the shuffle carries <= K_MG counters per partition, not the full
    // vocabulary). The emitted set is the GUARANTEED survivors — tokens
    // whose exact count clears the n/(k+1) bound — because that set is
    // order-independent; approx_ok pins the sketch's two-sided MG
    // guarantee (est <= true, true - est <= n/(k+1)) into the hash gate,
    // so a broken sketch flips it false and the row mismatches. The
    // exact twin groupBy exists only to verify; the sketch is the
    // operator under test.
    "heavy_hitters_mg" -> ((s, dir) => {
      import s.implicits._
      // persisted: the sketch aggregate AND the exact twin both consume
      // the token stream (ScanAudit: documents x3 — two tokenize passes)
      val toks = documents(s, dir)
        .select(explode(graft.functions.TextFns.tokens(col("text")))
          .as("token"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // .toColumn stays a TypedColumn (an .as(...) alias would demote it
      // to an untyped Column and the typed select would reject it).
      val sketch = toks.as[String]
        .select(new MisraGriesAgg(K_MG).toColumn)
        .toDF("sketch")
        .select(explode(col("sketch")).as(Seq("token", "est")))
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("n_true"))
      // n_total from the exact aggregate, not a third corpus scan —
      // ReuseExchange would not dedupe another tokenize pass.
      val total = exact.agg(sum(col("n_true")).as("n_total"))
      exact.crossJoin(total)
        .filter(col("n_true") * (K_MG + 1) > col("n_total"))
        .join(broadcast(sketch), Seq("token"), "left")
        .select(col("token"), col("n_true"),
          (col("est").isNotNull && col("est") <= col("n_true") &&
            (col("n_true") - col("est")) * (K_MG + 1) <= col("n_total"))
            .as("approx_ok"))
        .orderBy(col("token"))
    }),

    // Count-min sketch per-user frequency estimates — the overestimating
    // twin of heavy_hitters_mg (CMS never undercounts, MG never
    // overcounts). Counters are plain sums over a fixed 4x64 array, so
    // unlike MG the finished sketch is partition/merge-order INDEPENDENT
    // and the oracle rebuilds the exact counter array relationally
    // (same fixed hash family) — the est values themselves hash-match,
    // not just a bound check. One pass + a broadcast of the 256-long
    // sketch to the probe rows; the shuffle carries 4x64 longs per
    // partition regardless of input size.
    "count_min_users" -> ((s, dir) => {
      import s.implicits._
      val uid = events(s, dir).select(col("user_id"))
        .filter(col("user_id").isNotNull)
      val sketch = uid.as[Long]
        .select(new CountMinAgg(CM_WIDTH).toColumn)
        .toDF("sk")
      val truth = uid.groupBy(col("user_id")).agg(count(lit(1)).as("n_true"))
      truth.filter(col("user_id") < CM_PROBE)
        .crossJoin(broadcast(sketch))
        .select(col("user_id"), col("n_true"),
          CountMin.estimateCol(col("sk"), col("user_id"), CM_WIDTH).as("est"))
        .withColumn("no_undercount", col("est") >= col("n_true"))
        .orderBy(col("user_id"))
    }),

    // Robust outliers: median/MAD sigma-clip (the heavy-tail-safe twin
    // of zscore_outliers — one extreme value cannot move the fences).
    // Exact integer throughout: values are cents (long), medians are
    // carried doubled (2x, then 4x for the MAD) so the .5 interpolation
    // halves stay integral, and the clip test |v - med| > 3*1.4826*MAD
    // cross-multiplies to 10000*dev2 > 22239*mad4 in int64. Two grouped
    // percentile passes + one broadcast stats join — no sort of the raw
    // rows.
    "mad_outliers" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), (d2(col("value")) * 100).cast("long").as("v"))
      val med = ev.groupBy(col("event_type"))
        .agg((percentile(col("v"), lit(0.5)) * 2).cast("long").as("med2"))
      // persisted: dev feeds the MAD aggregate AND the outlier count —
      // unpersisted, each consumer re-scans events and re-runs the
      // median join (ScanAudit: events x6)
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("dev2", abs(lit(2L) * col("v") - col("med2")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val st = dev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), max(col("med2")).as("m2"),
          (percentile(col("dev2"), lit(0.5)) * 2).cast("long").as("mad4"))
      dev.join(broadcast(st.select(col("event_type"), col("mad4"))),
          Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(sum(when(lit(10000L) * col("dev2") > lit(22239L) * col("mad4"),
          1L).otherwise(0L)).as("n_outliers"))
        .join(st, Seq("event_type"))
        .select(col("event_type"), col("n_events"), col("m2").as("med2"),
          col("mad4"), col("n_outliers"))
        .orderBy(col("event_type"))
    }),

    // BM25 search (Robertson k1=1.2, b=0.75, Lucene +0.5 idf smoothing):
    // rank documents for a fixed query-term set. The whole scorer is
    // cleared of doubles by cross-multiplying into one integer fraction
    //
    //   score(d,t) = (2N-2df+1) * 22 * tf * SUMDL
    //              / ((2df+1) * (10*tf*SUMDL + 3*SUMDL + 9*dl*N))
    //
    // floored to permille per term and summed per doc — exact on both
    // engines (numerator stays < 2^63 up to ~50k docs * 2M tokens;
    // beyond that, lift to decimal(38,0)). Dataflow: the token stream is
    // filtered to the query terms at the scan (a 3-term semi filter —
    // map-side, no shuffle), so tf/df are aggregates over a sliver of
    // the corpus; dl/N/SUMDL come from one unfiltered count pass.
    "bm25_search" -> ((s, dir) => {
      val qTerms = Seq("spark", "window", "table")
      // persisted: the token stream feeds dl AND tf (two tokenization
      // passes otherwise — ScanAudit: documents x4), and dl feeds the
      // corpus aggregate AND the score join
      val toks = documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sumdl"))
      val tf = toks.filter(col("term").isin(qTerms: _*))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(df), Seq("term"))
        .join(broadcast(dl), Seq("doc_id"))
        .crossJoin(broadcast(corpus))
        .select(col("doc_id"),
          expr("""(1000 * (2*n_docs - 2*df + 1) * 22 * tf * sumdl) div
                 ((2*df + 1) * (10*tf*sumdl + 3*sumdl + 9*dl*n_docs))""")
            .as("pts"))
        .groupBy(col("doc_id"))
        .agg(sum(col("pts")).as("bm25_permille"))
        .orderBy(col("bm25_permille").desc, col("doc_id"))
        .limit(20)
    }),

    // NTILE + value window functions (§2.5 completeness): quartile
    // assignment by price within each priority class plus the
    // partition's 2nd-lowest order key via nth_value over an explicit
    // full frame (the default frame stops at CURRENT ROW and would be
    // order-dependent until row 2). Total deterministic order inside
    // each partition: (price, key).
    "window_ntile_nth" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          nth_value(col("o_orderkey"), 2).over(wf).as("second_cheapest_key"))
        .orderBy(col("o_orderkey"))
    }),

    // Time-series gap fill: hourly per-type activity with explicit zero
    // rows for silent hours — the resample step every monitoring/
    // feature pipeline needs (missing buckets otherwise vanish from
    // grouped aggregates). The hour spine is generated from the global
    // [min, max] range (sequence + explode, no driver loop) and
    // cross-joined with the tiny type dimension; the fact side
    // aggregates BEFORE the join, so the spine join touches one row per
    // (type, hour), never raw events.
    "events_gapfill" -> ((s, dir) => {
      // persisted: the hourly aggregate, the spine bounds, and the type
      // list all consume this projection (ScanAudit: events x3)
      val ev = events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          (d2(col("value")) * 100).cast("long").as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val agg = ev.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
      val spine = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(explode(sequence(col("h0"), col("h1"),
          expr("interval 1 hour"))).as("h"))
      val types = ev.select(col("event_type")).distinct()
      spine.crossJoin(types)
        .join(agg, Seq("event_type", "h"), "left")
        .select(col("event_type"), tsUs(col("h")).as("hour_us"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("cents"), lit(0L)).as("cents"))
        .orderBy(col("event_type"), col("hour_us"))
    }),

    // LOCF imputation (last observation carried forward) — the other
    // standard resample fill next to events_gapfill's zeros: silent
    // hours take the most recent observed hourly total, hours before
    // the first observation stay NULL (imputed vs never-seen are
    // distinguishable). Same pre-aggregated spine shape as gapfill —
    // the carry-forward window runs per event_type over one row per
    // (type, hour), never raw events.
    "events_locf" -> ((s, dir) => {
      // persisted: the hourly aggregate, the spine bounds, and the type
      // list all consume this projection (ScanAudit: events x3)
      val ev = events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          (d2(col("value")) * 100).cast("long").as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val agg = ev.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
      val spine = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(explode(sequence(col("h0"), col("h1"),
          expr("interval 1 hour"))).as("h"))
      val types = ev.select(col("event_type")).distinct()
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.crossJoin(types)
        .join(agg, Seq("event_type", "h"), "left")
        .withColumn("cents_locf", last(col("cents"), ignoreNulls = true).over(w))
        .select(col("event_type"), tsUs(col("h")).as("hour_us"),
          coalesce(col("n"), lit(0L)).as("n"), col("cents_locf"))
        .orderBy(col("event_type"), col("hour_us"))
    }),

    // Data-quality constraint profile — the engine-level form of the
    // reference's schema contracts (ref: tests/test_connect.py:117-186
    // pins per-entity column contracts, null rules and value domains;
    // src/canvas.py:67-95 enforces them imperatively). One report row
    // per declared constraint: primary-key uniqueness, FK integrity,
    // value domains, null and range rules. Each table is profiled in a
    // SINGLE aggregate pass (conditional sums + one distinct count),
    // and the FK check rides the SAME orders pass as a broadcast left
    // join + miss count (distinct dim keys so the probe can't fan out
    // even if the dim PK is dirty — the profiler must not assume the
    // constraint it is checking). At 100 TB this is ONE fact scan +
    // a dim broadcast — no per-constraint rescans.
    "dq_profile" -> ((s, dir) => {
      val o = orders(s, dir)
      val c = customer(s, dir)
      // each 1-row aggregate is persisted: every report() branch of the
      // union re-executes its source subtree otherwise (ScanAudit:
      // orders x5 — which contradicted this docstring's "no
      // per-constraint rescans" until round 10 made it true)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val custKeys = c.select(col("c_custkey")).distinct()
        .withColumn("_hit", lit(1))
      val oAgg = o.join(broadcast(custKeys),
          col("o_custkey") === col("c_custkey"), "left")
        .agg(
          count(lit(1)).as("n"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk_dup"),
          sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L)
            .otherwise(0L)).as("bad_status"),
          sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0, 1L)
            .otherwise(0L)).as("bad_price"),
          sum(when(col("_hit").isNull, 1L).otherwise(0L)).as("fk_viol"))
        .persist(mem)
      val cAgg = c.agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - countDistinct(col("c_custkey"))).as("pk_dup"),
        sum(when(col("c_name").isNull, 1L).otherwise(0L)).as("null_name"))
        .persist(mem)
      def report(src: org.apache.spark.sql.DataFrame, name: String,
                 violations: org.apache.spark.sql.Column) =
        src.select(lit(name).as("check_name"), col("n").as("n_checked"),
          violations.as("n_violations"))
      Seq(
        report(cAgg, "customer_name_not_null", col("null_name")),
        report(cAgg, "customer_pk_unique", col("pk_dup")),
        report(oAgg, "orders_custkey_fk", col("fk_viol")),
        report(oAgg, "orders_pk_unique", col("pk_dup")),
        report(oAgg, "orders_status_domain", col("bad_status")),
        report(oAgg, "orders_totalprice_positive", col("bad_price")))
        .reduce(_ unionByName _)
        .withColumn("passed", col("n_violations") === 0)
        .orderBy(col("check_name"))
    }),

    // Integer PageRank over the part<->supplier bipartite graph from
    // lineitem (who supplies what): dedup to distinct edges, add both
    // directions (undirected), 3 damped floor-division iterations, top
    // 10 by rank. Node ids pack entity+key in one long (part -> 2k,
    // supplier -> 2k+1). Top-10 via orderBy+limit is
    // TakeOrderedAndProject — no global sort.
    "pagerank_bipartite" -> ((s, dir) => {
      val e0 = lineitem(s, dir)
        .select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      PageRank.ranks(edges, PR_ITERS)
        .orderBy(col("rank").desc, col("node"))
        .limit(10)
    }),

    // LPA community detection over the same part↔supplier graph —
    // frequency-argmax propagation (dense attachment) next to
    // PageRank's rank propagation and dedup_clusters' reachability
    // min-propagation: three fixed synchronous rounds (deterministic —
    // ties break toward the smallest label, both engines unroll the
    // identical update), summarized as the community-size histogram.
    // Round 16 (guide §2.4/§3.1): the pair list is handed RAW to
    // communitiesDistinct, which dedups INSIDE the single
    // symmetrize+partition exchange — the distinct symmetric edge set
    // the oracle's `DISTINCT` builds (part ids are even, supplier ids
    // odd, so neither reversed duplicates nor self-pairs can exist) —
    // and propagates votes under the byte-budgeted broadcast regime:
    // with edges frozen on HashPartitioning(u) and the per-round label
    // table broadcast, a round is two broadcast probes and two
    // partition-local aggregates, no |E|-row exchange at all.
    "communities_lpa" -> ((s, dir) => {
      val pairs = lineitem(s, dir)
        .select((col("l_partkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
      LabelProp.communitiesDistinct(pairs, LPA_ITERS)
        .groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
        .groupBy(col("community_size"))
        .agg(count(lit(1)).as("n_communities"))
        .orderBy(col("community_size"))
    }),

    // Personalized PageRank from a seed set (node id < 20 on the
    // symmetrized bipartite graph — i.e. parts AND suppliers with
    // key < 10, since part nodes are even 2k and supplier nodes odd
    // 2k+1): proximity
    // to the seeds under the damped walk — the seed-expansion
    // "related items" primitive next to global pagerank_bipartite.
    // Mass starts at the seeds and teleports only to them, so after 3
    // iterations rank is nonzero only within 3 hops — the locality
    // that keeps PPR a fraction of global PageRank at 100 TB. Top-10
    // via orderBy+limit (TakeOrderedAndProject).
    "ppr_part_seeds" -> ((s, dir) => {
      val e0 = lineitem(s, dir)
        .select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = edges.select(col("src").as("node"))
        .filter(col("node") < 20).distinct()
      PageRank.personalizedRanks(edges, seeds, PR_ITERS)
        .filter(col("rank") > 0)
        .orderBy(col("rank").desc, col("node"))
        .limit(10)
    })
  )

  def oracles: Map[String, String] = {
    // One damped integer PageRank update as a CTE body: ranks from
    // `prev`, edges+degree from fixed CTEs e and d.
    // One synchronous LPA round as a CTE body: per-node label counts
    // over neighbors∪self (e carries self-loops), argmax with
    // smallest-label tie-break via ROW_NUMBER — the same result the
    // engine's min(struct(-n, lbl)) two-aggregate produces.
    def lpaStep(prev: String): String =
      s"""SELECT u AS node, lbl FROM (
         |  SELECT e.u, l.lbl, COUNT(*) AS n,
         |    ROW_NUMBER() OVER (PARTITION BY e.u
         |      ORDER BY COUNT(*) DESC, l.lbl) AS rn
         |  FROM e JOIN $prev l ON e.v = l.node
         |  GROUP BY e.u, l.lbl)
         |WHERE rn = 1""".stripMargin

    def prStep(prev: String): String =
      s"""SELECT e.dst AS node,
         |  CAST((15 * 1000000 + 85 * SUM($prev.rank // d.deg)) // 100
         |    AS BIGINT) AS rank
         |FROM e JOIN $prev ON e.src = $prev.node JOIN d ON e.src = d.src
         |GROUP BY e.dst""".stripMargin

    // prStep with the teleport gated on seed membership (node < 20).
    def pprStep(prev: String): String =
      s"""SELECT e.dst AS node,
         |  CAST((15 * 1000000 * (CASE WHEN e.dst < 20 THEN 1 ELSE 0 END)
         |    + 85 * SUM($prev.rank // d.deg)) // 100
         |    AS BIGINT) AS rank
         |FROM e JOIN $prev ON e.src = $prev.node JOIN d ON e.src = d.src
         |GROUP BY e.dst""".stripMargin

    Map(
      "scd2_intervals" ->
        """WITH m AS (
          |  SELECT user_id, event_type, ts, event_id,
          |    CASE WHEN lag(event_type) OVER w IS NULL
          |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |g AS (
          |  SELECT *, SUM(chg) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS grp FROM m),
          |iv AS (
          |  SELECT user_id, event_type, grp, min(ts) AS vf,
          |    CAST(count(*) AS BIGINT) AS n_events
          |  FROM g GROUP BY user_id, event_type, grp)
          |SELECT user_id, event_type,
          |  epoch_us(vf) AS valid_from_us,
          |  epoch_us(coalesce(
          |    lead(vf) OVER (PARTITION BY user_id ORDER BY vf, grp),
          |    TIMESTAMP '9999-12-31 00:00:00')) AS valid_to_us,
          |  n_events
          |FROM iv
          |ORDER BY user_id, valid_from_us, valid_to_us, event_type""".stripMargin,

      // The oracle derives the guaranteed-survivor set and pins
      // approx_ok = true: the Spark side computes approx_ok from the
      // actual sketch, so any violation of the MG bound hash-mismatches.
      "heavy_hitters_mg" ->
        s"""WITH tok AS (
           |  SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS token
           |  FROM documents),
           |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n_true
           |        FROM tok GROUP BY token),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok)
           |SELECT token, n_true, true AS approx_ok
           |FROM cnt, tot
           |WHERE n_true * ${K_MG + 1} > n_total
           |ORDER BY token""".stripMargin,

      // Relational CMS reconstruction: counter (i, b) = Σ n_true of keys
      // hashing there (same fixed hash constants via CountMin.bucketSql);
      // est = min over rows — value-identical to the Aggregator's array.
      "count_min_users" -> {
        def rows(src: String) = (0 until CountMin.DEPTH).map { i =>
          s"""SELECT user_id, n_true, CAST($i AS BIGINT) AS i,
             |    CAST(${CountMin.bucketSql(i, "user_id", CM_WIDTH)} AS BIGINT) AS b
             |  FROM $src""".stripMargin
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH cnt AS (
           |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_true
           |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
           |hashed AS (
           |  ${rows("cnt")}),
           |bk AS (
           |  SELECT i, b, CAST(sum(n_true) AS BIGINT) AS c
           |  FROM hashed GROUP BY i, b),
           |probe AS (SELECT user_id, n_true FROM cnt WHERE user_id < $CM_PROBE),
           |pd AS (
           |  ${rows("probe")}),
           |est AS (
           |  SELECT pd.user_id, min(bk.c) AS est
           |  FROM pd JOIN bk USING (i, b) GROUP BY pd.user_id)
           |SELECT p.user_id, p.n_true, e.est,
           |  e.est >= p.n_true AS no_undercount
           |FROM probe p JOIN est e USING (user_id)
           |ORDER BY user_id""".stripMargin
      },

      "mad_outliers" ->
        """WITH ev AS (
          |  SELECT event_type,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          |  FROM events),
          |med AS (
          |  SELECT event_type,
          |    CAST(quantile_cont(v, 0.5) * 2 AS BIGINT) AS med2
          |  FROM ev GROUP BY event_type),
          |dev AS (
          |  SELECT ev.event_type, abs(2 * ev.v - med.med2) AS dev2, med.med2
          |  FROM ev JOIN med USING (event_type)),
          |st AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |    max(med2) AS med2,
          |    CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
          |  FROM dev GROUP BY event_type)
          |SELECT dev.event_type, max(st.n_events) AS n_events,
          |  max(st.med2) AS med2, max(st.mad4) AS mad4,
          |  CAST(sum(CASE WHEN 10000 * dev.dev2 > 22239 * st.mad4
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
          |FROM dev JOIN st USING (event_type)
          |GROUP BY dev.event_type ORDER BY dev.event_type""".stripMargin,

      "bm25_search" ->
        """WITH tok AS (
          |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
          |  FROM documents),
          |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
          |       FROM tok GROUP BY doc_id),
          |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
          |                  CAST(sum(dl) AS BIGINT) AS sumdl FROM dl),
          |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          |       FROM tok WHERE term IN ('spark', 'window', 'table')
          |       GROUP BY doc_id, term),
          |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          |       FROM tf GROUP BY term),
          |scored AS (
          |  SELECT tf.doc_id,
          |    CAST((1000 * (2*c.n_docs - 2*df.df + 1) * 22 * tf.tf * c.sumdl) //
          |      ((2*df.df + 1) * (10*tf.tf*c.sumdl + 3*c.sumdl + 9*dl.dl*c.n_docs))
          |      AS BIGINT) AS pts
          |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
          |  CROSS JOIN corpus c)
          |SELECT doc_id, CAST(sum(pts) AS BIGINT) AS bm25_permille
          |FROM scored GROUP BY doc_id
          |ORDER BY bm25_permille DESC, doc_id LIMIT 20""".stripMargin,

      "window_ntile_nth" ->
        """SELECT o_orderkey, o_orderpriority,
          |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
          |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderpriority
          |    ORDER BY o_totalprice, o_orderkey
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          |    AS second_cheapest_key
          |FROM orders
          |WINDOW w AS (PARTITION BY o_orderpriority
          |  ORDER BY o_totalprice, o_orderkey)
          |ORDER BY o_orderkey""".stripMargin,

      "events_gapfill" ->
        """WITH ev AS (
          |  SELECT event_type, date_trunc('hour', ts) AS h,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          |  FROM events),
          |agg AS (
          |  SELECT event_type, h, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(v) AS BIGINT) AS cents
          |  FROM ev GROUP BY event_type, h),
          |spine AS (
          |  SELECT unnest(generate_series(min(h), max(h),
          |    INTERVAL 1 HOUR)) AS h FROM ev),
          |types AS (SELECT DISTINCT event_type FROM ev)
          |SELECT t.event_type, epoch_us(s.h) AS hour_us,
          |  coalesce(a.n, 0) AS n, coalesce(a.cents, 0) AS cents
          |FROM spine s CROSS JOIN types t
          |LEFT JOIN agg a ON a.event_type = t.event_type AND a.h = s.h
          |ORDER BY t.event_type, hour_us""".stripMargin,

      "events_locf" ->
        """WITH ev AS (
          |  SELECT event_type, date_trunc('hour', ts) AS h,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          |  FROM events),
          |agg AS (
          |  SELECT event_type, h, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(v) AS BIGINT) AS cents
          |  FROM ev GROUP BY event_type, h),
          |spine AS (
          |  SELECT unnest(generate_series(min(h), max(h),
          |    INTERVAL 1 HOUR)) AS h FROM ev),
          |types AS (SELECT DISTINCT event_type FROM ev),
          |joined AS (
          |  SELECT t.event_type, s.h, a.n, a.cents
          |  FROM spine s CROSS JOIN types t
          |  LEFT JOIN agg a ON a.event_type = t.event_type AND a.h = s.h)
          |SELECT event_type, epoch_us(h) AS hour_us,
          |  coalesce(n, 0) AS n,
          |  last_value(cents IGNORE NULLS) OVER (
          |    PARTITION BY event_type ORDER BY h
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents_locf
          |FROM joined
          |ORDER BY event_type, hour_us""".stripMargin,

      "dq_profile" ->
        """WITH o AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS pk_dup,
          |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
          |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
          |    CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
          |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_price
          |  FROM orders),
          |c AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) AS pk_dup,
          |    CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
          |      AS BIGINT) AS null_name
          |  FROM customer),
          |fk AS (
          |  SELECT CAST(count(*) AS BIGINT) AS v FROM orders
          |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
          |rep AS (
          |  SELECT 'customer_name_not_null' AS check_name, c.n AS n_checked,
          |    c.null_name AS n_violations FROM c
          |  UNION ALL SELECT 'customer_pk_unique', c.n, c.pk_dup FROM c
          |  UNION ALL SELECT 'orders_custkey_fk', o.n, fk.v FROM o, fk
          |  UNION ALL SELECT 'orders_pk_unique', o.n, o.pk_dup FROM o
          |  UNION ALL SELECT 'orders_status_domain', o.n, o.bad_status FROM o
          |  UNION ALL SELECT 'orders_totalprice_positive', o.n, o.bad_price
          |    FROM o)
          |SELECT check_name, n_checked, n_violations,
          |  n_violations = 0 AS passed
          |FROM rep ORDER BY check_name""".stripMargin,

      "pagerank_bipartite" ->
        s"""WITH e0 AS (
           |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM lineitem),
           |e AS (SELECT src, dst FROM e0
           |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
           |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
           |      FROM e GROUP BY src),
           |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM d),
           |r1 AS (${prStep("r0")}),
           |r2 AS (${prStep("r1")}),
           |r3 AS (${prStep("r2")})
           |SELECT node, rank FROM r3
           |ORDER BY rank DESC, node LIMIT 10""".stripMargin,

      // Mirrors ppr_part_seeds: same edge/degree CTEs, seed-conditional
      // teleport (node < 20), seed-only start mass, 3 unrolled rounds.
      "ppr_part_seeds" ->
        s"""WITH e0 AS (
           |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM lineitem),
           |e AS (SELECT src, dst FROM e0
           |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
           |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
           |      FROM e GROUP BY src),
           |r0 AS (SELECT src AS node,
           |  CAST(CASE WHEN src < 20 THEN 1000000 ELSE 0 END AS BIGINT)
           |    AS rank FROM d),
           |r1 AS (${pprStep("r0")}),
           |r2 AS (${pprStep("r1")}),
           |r3 AS (${pprStep("r2")})
           |SELECT node, rank FROM r3
           |WHERE rank > 0
           |ORDER BY rank DESC, node LIMIT 10""".stripMargin,

      "communities_lpa" ->
        s"""WITH p0 AS MATERIALIZED (
           |  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
           |  FROM lineitem),
           |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM p0
           |        UNION ALL SELECT b AS u, a AS v FROM p0),
           |e AS MATERIALIZED (SELECT u, v FROM sym
           |      UNION ALL SELECT DISTINCT u, u AS v FROM sym),
           |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM e),
           |l1 AS MATERIALIZED (${lpaStep("l0")}),
           |l2 AS MATERIALIZED (${lpaStep("l1")}),
           |l3 AS (${lpaStep("l2")}),
           |c AS (SELECT lbl, COUNT(*) AS community_size FROM l3 GROUP BY lbl)
           |SELECT CAST(community_size AS BIGINT) AS community_size,
           |  COUNT(*) AS n_communities
           |FROM c GROUP BY community_size ORDER BY community_size""".stripMargin
    )
  }
}
