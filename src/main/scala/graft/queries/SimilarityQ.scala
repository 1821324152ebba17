package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.VectorFns
import graft.operators.{Dedup, Multimodal, SimilaritySearch}
import Util._

/** Similarity-search + multimodal queries over the embeddings/documents
  * tables (SURVEY §2.9 [EXT]). Cosine runs over integer-quantized vectors
  * (exact, order-independent — see VectorFns), so scores hash-match DuckDB
  * bit-for-bit.
  */
object SimilarityQ {

  private val DIMS = 64
  private val N_QUERIES = 8  // vec_id < 8 are the query vectors
  private val LSH_BITS = 4
  private val ND_TABLES = 2  // embed_near_dup: banded LSH tables
  private val ND_BITS = 8    //   ... of 8 sign-projection bits each
  // Corpus-adaptive width (round 14): + floor(log2(nReps/ND_REF)) bits,
  // capped at ND_MAX_BITS — per-bucket occupancy stays ≈ ND_REF/2^ND_BITS
  // (= 8 vectors) at any scale; the 30x probe measured the fixed width
  // at exponent 1.74 (in-bucket pairs quadratic in corpus size).
  private val ND_REF = 2048L
  private val ND_MAX_BITS = 16
  private val ND_THRESHOLD = 0.95
  private val RECALL_CAP = 1000L // embed_lsh_recall audit sample bound
  // Planted-copy id offset for the synthetic near-dup corpora. Must sit
  // ABOVE any real vec_id at any corpus scale: the 30x organic gate
  // caught the old +1,000,000 offset colliding with real ids (organic
  // vec_ids are sparse and reach 2.9M at 30x), which silently aliased a
  // planted copy of vec k with the real vector at k+1e6 — the pair join
  // then fanned out per duplicated id on BOTH engines, differently.
  // 2^40 is beyond any plausible corpus id and exact in a DOUBLE, and
  // the recall sample's `% PLANT_OFF` fold still maps a copy back to
  // its source id.
  private val PLANT_OFF = 1L << 40
  private val IVF_NLIST = 16 // vec_id in [8, 24) are the IVF centroids
  private val KMEANS_K = 8   // Lloyd seed: the k lowest vec_ids
  private val PQ_M = 4       // PQ subspaces (64 dims -> 4 x 16)
  private val PQ_KSUB = 8    // codewords per subspace; seeds vec_id [8,16)
  private val FRAME_STRIDE = 3
  private val RESIZE_BOX = 64
  private val SEM_THRESHOLD = 0.95 // semdedup within-cluster cosine
  // semdedup adaptive cluster count (round 14): k = KMEANS_K <<
  // floor(log2(nDistinct/SEM_REF)) — the paper's own cost model (k
  // grows with the corpus so cluster sizes stay bounded); the 30x probe
  // measured fixed k=8 at exponent 1.93. k stays 8 through sf0.1.
  private val SEM_REF = 2048L

  // ---- shared DuckDB snippets ------------------------------------------

  /** Quantized embeddings CTE (mirrors VectorFns.quantize, scale 10000). */
  private val qSql =
    "list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 10000 + 0.5) AS BIGINT))"

  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, ${DIMS + 1}), i -> $a[i] * $b[i]))"

  private def cosSql(a: String, b: String) =
    s"""CAST(${dotSql(a, b)} AS DOUBLE) /
       |    (sqrt(CAST(${dotSql(a, a)} AS DOUBLE)) * sqrt(CAST(${dotSql(b, b)} AS DOUBLE)))""".stripMargin

  /** Per-projection weight lists `(proj, [w...]::BIGINT[])` for the
    * RELATIONAL bucket build (round 14): the lambda form — 32
    * list_transform+list_sum evaluations per vector — measured ~370 s
    * of the embed_near_dup oracle's 402 s at the 10x organic gate
    * (DuckDB 1.0 evaluates list lambdas row-at-a-time); the same
    * arithmetic as an unnest ⋈ weights join + hash aggregate runs in
    * seconds. Same weights, same integer dot products, same bits.
    */
  private def weightListsSql(nProj: Int): String =
    (0 until nProj).map { pj =>
      val ws = (0 until DIMS).map(i =>
        VectorFns.projWeight(pj, i, DIMS)).mkString(", ")
      s"($pj, [$ws]::BIGINT[])"
    }.mkString(", ")

  /** The relational twin of two masked 16-bit lshBucket calls (offsets
    * 0 and ND_MAX_BITS), producing `bk(vec_id, b0, b1)` from a `q` CTE
    * and the `nb(nbits)` width CTE — plus the `qa` DOUBLE[DIMS] copy of
    * every vector for downstream native dots. Round 16 (the semdedup
    * treatment, VERDICT task 2): the round-14 unnest ⋈ weights join
    * made the projection stage |V|·2·ND_MAX_BITS·DIMS intermediate
    * rows; each (vector, projection) sign is now ONE native
    * array_inner_product over fixed DOUBLE[DIMS] arrays. Bit-identical:
    * products and their 64-term sums are integer-valued and < 2^53
    * (|q| <= ~30k scaled units, |w| <= 1000), so every DOUBLE dot
    * equals the old CAST(BIGINT-sum AS DOUBLE) exactly — same s > 0
    * sign rule, same shifts, same buckets.
    */
  private def bkRelationalSql: String =
    s"""qa AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(q, x -> CAST(x AS DOUBLE))::DOUBLE[$DIMS] AS qa
       |  FROM q),
       |wt(proj, w) AS (VALUES ${weightListsSql(2 * ND_MAX_BITS)}),
       |wa AS MATERIALIZED (
       |  SELECT proj,
       |    list_transform(w, x -> CAST(x AS DOUBLE))::DOUBLE[$DIMS] AS wv
       |  FROM wt),
       |sums AS MATERIALIZED (
       |  SELECT v.vec_id, w.proj, array_inner_product(v.qa, w.wv) AS s
       |  FROM qa v CROSS JOIN wa w),
       |bk AS MATERIALIZED (
       |  SELECT vec_id,
       |    CAST(COALESCE(SUM(CASE WHEN proj < (SELECT nbits FROM nb)
       |        AND s > 0 THEN 1::BIGINT << proj ELSE 0 END), 0)
       |      AS BIGINT) AS b0,
       |    CAST(COALESCE(SUM(CASE WHEN proj >= $ND_MAX_BITS
       |        AND proj - $ND_MAX_BITS < (SELECT nbits FROM nb)
       |        AND s > 0 THEN 1::BIGINT << (proj - $ND_MAX_BITS)
       |        ELSE 0 END), 0) AS BIGINT) AS b1
       |  FROM sums GROUP BY vec_id)""".stripMargin

  /** LSH bucket SQL (mirrors VectorFns.lshBucket; `offset` selects the
    * projection family, i.e. the banded hash table).
    */
  private def bucketSql(q: String, nBits: Int = LSH_BITS, offset: Int = 0): String =
    (0 until nBits).map { j =>
      val weights = (0 until DIMS).map(i =>
        VectorFns.projWeight(offset + j, i, DIMS)).mkString(", ")
      s"(CASE WHEN list_sum(list_transform(range(1, ${DIMS + 1}), i -> $q[i] * ([$weights]::BIGINT[])[i])) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  // ----------------------------------------------------------------------

  /** The embed_lsh_recall one-row summary (n_truth, n_found, n_matched,
    * recall_permille, precision_permille) — factored out so Curation's
    * consolidated curation_report reuses the identical detector audit.
    */
  private[queries] def embedRecallSummary(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val base = embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val full = base.unionByName(
      base.filter(col("vec_id") % 5 === 0)
        .withColumn("vec_id", col("vec_id") + lit(PLANT_OFF))
        .withColumn("embedding", transform(col("embedding"), x => x * lit(0.9))))
    // The audit measures recall AT THE WIDTH THE FULL CORPUS USES: the
    // adaptive detector's bucket width is a function of the full rep
    // count, so the sample is banded at that same width (per-pair
    // collision probability at a given width is vector-intrinsic; the
    // published recall is scale-dependent exactly because the width is).
    val nRepsFull = full
      .select(VectorFns.quantize(col("embedding")).as("q"))
      .distinct().count()
    val fullBits = Dedup.adaptiveBits(ND_BITS, nRepsFull, ND_REF, ND_MAX_BITS)
    val corpus = full.filter(col("vec_id") % PLANT_OFF % 1000000L < RECALL_CAP)
    val q = corpus
      .select(col("vec_id"), VectorFns.quantize(col("embedding")).as("q"))
      .withColumn("nrm", VectorFns.normQ(col("q")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = q.select(col("vec_id").as("a"), col("q").as("qa"),
        col("nrm").as("na"))
      .join(q.select(col("vec_id").as("b"), col("q").as("qb"),
        col("nrm").as("nb")), col("a") < col("b"))
      .filter(VectorFns.dotQ(col("qa"), col("qb")) /
        (col("na") * col("nb")) >= ND_THRESHOLD)
      .select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val found = Dedup.embeddingNearDupLsh(corpus, threshold = ND_THRESHOLD,
        dims = DIMS, nTables = ND_TABLES, nBits = fullBits,
        tblOff = ND_MAX_BITS)
      .select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nF = found.agg(count(lit(1)).as("n_found"))
    val nM = found.join(truth, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_matched"))
    nT.crossJoin(nF).crossJoin(nM)
      .select(col("n_truth"), col("n_found"), col("n_matched"),
        expr("(1000 * n_matched) div n_truth").as("recall_permille"),
        expr("(1000 * n_matched) div n_found").as("precision_permille"))
  }

  def queries: Map[String, Q] = Map(

    // Brute-force exact top-5 cosine neighbors for 8 broadcast query
    // vectors — the ANN baseline (linear scan, no index).
    "ann_bruteforce_top5" -> ((s, dir) => {
      val e = embeddings(s, dir)
      SimilaritySearch.bruteForceTopK(
        e.filter(col("vec_id") < N_QUERIES),
        e.filter(col("vec_id") >= N_QUERIES), k = 5)
        .orderBy(col("q_vec"), col("rnk"))
    }),

    // LSH-bucketed ANN: probe only the query's sign-projection bucket.
    "ann_lsh_top3" -> ((s, dir) => {
      val e = embeddings(s, dir)
      SimilaritySearch.lshTopK(
        e.filter(col("vec_id") < N_QUERIES),
        e.filter(col("vec_id") >= N_QUERIES), k = 3,
        nBits = LSH_BITS, dims = DIMS)
        .orderBy(col("q_vec"), col("rnk"))
    }),

    // Multi-probe LSH: the query also probes every Hamming-1 neighbor
    // bucket — near-hyperplane misses recovered without bigger buckets.
    "ann_lsh_multiprobe_top3" -> ((s, dir) => {
      val e = embeddings(s, dir)
      SimilaritySearch.lshMultiProbeTopK(
        e.filter(col("vec_id") < N_QUERIES),
        e.filter(col("vec_id") >= N_QUERIES), k = 3,
        nBits = LSH_BITS, dims = DIMS)
        .orderBy(col("q_vec"), col("rnk"))
    }),

    // IVF ANN: candidates assigned once to the nearest of 16 centroids
    // (deterministic id-range sample standing in for k-means iterates);
    // each query probes its 2 nearest lists — ~1/8 of the full scan.
    "ann_ivf_top3" -> ((s, dir) => {
      val e = embeddings(s, dir)
      SimilaritySearch.ivfTopK(
        e.filter(col("vec_id") < N_QUERIES),
        e.filter(col("vec_id") >= N_QUERIES + IVF_NLIST),
        e.filter(col("vec_id") >= N_QUERIES && col("vec_id") < N_QUERIES + IVF_NLIST),
        k = 3, nprobe = 2)
        .orderBy(col("q_vec"), col("rnk"))
    }),

    // Product-quantization ANN (ADC): candidates stored as 4 codeword ids
    // (vs 64 dims), query-candidate distance approximated by summing 4
    // lookups in the query's precomputed codeword-distance table. The
    // compression tier below IVF: at 100 TB the code table is ~1/16th of
    // the vector table and the scoring join never touches raw candidate
    // vectors. Codebooks are one relational Lloyd round per subspace
    // seeded from vec_id [8, 16); exact int64 L2 throughout.
    "ann_pq_adc_top3" -> ((s, dir) => {
      val e = embeddings(s, dir)
      SimilaritySearch.pqTopK(
        e.filter(col("vec_id") < N_QUERIES),
        e.filter(col("vec_id") >= N_QUERIES + PQ_KSUB),
        e.filter(col("vec_id") >= N_QUERIES &&
            col("vec_id") < N_QUERIES + PQ_KSUB)
          .select((col("vec_id") - N_QUERIES).as("cid"), col("embedding")),
        m = PQ_M, dims = DIMS, k = 3)
        .orderBy(col("q_vec"), col("rnk"))
    }),

    // IVF-PQ: coarse quantizer (the 16 IVF centroids) routes candidates
    // to lists, PQ encodes the RESIDUAL against the list centroid, each
    // query probes its 2 nearest lists and scores only their codes via
    // per-list ADC tables — the full billion-vector index recipe with
    // exact int64 arithmetic end to end.
    "ann_ivfpq_top3" -> ((s, dir) => {
      val e = embeddings(s, dir)
      SimilaritySearch.ivfPqTopK(
        e.filter(col("vec_id") < N_QUERIES),
        e.filter(col("vec_id") >= N_QUERIES + IVF_NLIST),
        e.filter(col("vec_id") >= N_QUERIES &&
            col("vec_id") < N_QUERIES + IVF_NLIST)
          .select(col("vec_id").as("ccid"), col("embedding")),
        m = PQ_M, dims = DIMS, ksub = PQ_KSUB, k = 3, nprobe = 2)
        .orderBy(col("q_vec"), col("rnk"))
    }),

    // Reciprocal-rank fusion of two ANN tiers (exact brute-force top-5
    // and LSH top-3): the standard way to combine retrieval rankings
    // without comparable scores. Points are exact integers
    // (10^9 div (60 + rank), the classic RRF k=60), so the fused
    // ranking hash-matches the oracle. The re-ranking window runs over
    // at most 8 rows per query (the union of the two bounded lists) —
    // the fusion step is free at any corpus size; the tiers' own
    // shuffles stay bounded as asserted for the ann_* queries.
    "ann_rrf_fusion" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val qs = e.filter(col("vec_id") < N_QUERIES)
      val cs = e.filter(col("vec_id") >= N_QUERIES)
      val bf = SimilaritySearch.bruteForceTopK(qs, cs, k = 5)
        .select(col("q_vec"), col("c_vec"), col("rnk"))
      val lsh = SimilaritySearch.lshTopK(qs, cs, k = 3,
          nBits = LSH_BITS, dims = DIMS)
        .select(col("q_vec"), col("c_vec"), col("rnk"))
      val pts = bf.unionByName(lsh)
        .select(col("q_vec"), col("c_vec"),
          expr("cast(1000000000 as bigint) div (60 + rnk)").as("pts"))
      val fused = pts.groupBy(col("q_vec"), col("c_vec"))
        .agg(sum(col("pts")).as("rrf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_vec")).orderBy(col("rrf").desc, col("c_vec"))
      fused.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("q_vec"), col("rnk"), col("c_vec"), col("rrf"))
        .orderBy(col("q_vec"), col("rnk"))
    }),

    // Lloyd k-means over quantized embeddings (k = 8 seeded from
    // vec_id < 8, two fixed iterations): broadcast centroids, map-side
    // exact integer distances via the codegen'd dot kernel, relational
    // floor-mean update — one pass over the table per iteration, no
    // collect(). Output is the exact per-cluster summary.
    "kmeans_embed" -> ((s, dir) => {
      val vecs = embeddings(s, dir).select(col("vec_id").as("id"),
        VectorFns.quantize(col("embedding")).as("qv"))
      graft.operators.Clustering.kmeansSummary(vecs, k = KMEANS_K, iters = 2)
        .orderBy(col("cid"))
    }),

    // Per-label centroid: dimension-wise mean embedding — the vector
    // aggregation behind k-means iterates / class prototypes, computed
    // relationally (posexplode -> one hash agg keyed by (label, dim)):
    // exact long sums, one correctly-rounded division, map-side partial
    // aggregation — the shape that computes 100 TB of embeddings'
    // centroids in one shuffle of (label, dim) partial sums.
    "label_centroids" -> ((s, dir) => {
      embeddings(s, dir)
        .select(col("label"),
          posexplode(graft.functions.VectorFns.quantize(col("embedding")))
            .as(Seq("dim", "qv")))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n_vecs"),
          (sum(col("qv")).cast("double") / count(lit(1))).as("mean_q"))
        .orderBy(col("label"), col("dim"))
    }),

    // Embedding near-duplicate pairs over the FULL corpus (no cap),
    // blocked by banded sign-projection LSH (2 tables x 8 bits) instead
    // of a label key: label blocks grow linearly with the corpus and the
    // within-block join is quadratic per block — a scale-killer — while
    // LSH bucket occupancy is controlled by nBits. Run at the true
    // near-duplicate regime (cos >= 0.95; the corpus carries planted
    // scaled copies of every 5th vector — scaling is cosine-preserving,
    // so each copy is a genuine near-dup of its source). Measured on
    // testdata: zero planted pairs missed at every SF, candidate volume
    // 40x under all-pairs. The oracle mirrors the banding, so the hash
    // gate checks the exact candidate set, not just the survivors.
    "embed_near_dup" -> ((s, dir) => {
      val base = embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val corpus = base.unionByName(
        base.filter(col("vec_id") % 5 === 0)
          .withColumn("vec_id", col("vec_id") + lit(PLANT_OFF))
          .withColumn("embedding", transform(col("embedding"), x => x * lit(0.9))))
      Dedup.embeddingNearDupLsh(corpus, threshold = ND_THRESHOLD,
          dims = DIMS, nTables = ND_TABLES, nBits = ND_BITS,
          tblOff = ND_MAX_BITS, adaptRef = Some(ND_REF), maxBits = ND_MAX_BITS)
        .orderBy(col("a"), col("b"))
    }),

    // Detector-quality audit for the EMBEDDING LSH (round 12, the
    // dedup_lsh_recall twin): recall and precision of the banded
    // sign-projection detector against EXACT all-pairs cosine ground
    // truth on a capped sample — the second of the two 100 TB near-dup
    // detectors now publishes its miss rate. Sample = vectors whose
    // source id < RECALL_CAP (planted 0.9-scaled copies ride along via
    // the % PLANT_OFF fold), so the audit's pair space is CONSTANT-sized
    // at any corpus scale, and per-pair collision probability is
    // vector-intrinsic (sign projections read only the two vectors), so
    // the sample-restricted detector measures the same per-pair recall
    // the full run has. found ⊆ truth (same cosine expression, same
    // threshold, LSH candidates ⊆ all pairs) makes precision_permille =
    // 1000 an invariant the oracle re-proves; the bounded crossJoin is
    // the sample's by design (≤ 1.2·RECALL_CAP rows a side). The
    // builder is shared with Curation's consolidated curation_report.
    "embed_lsh_recall" -> ((s, dir) => embedRecallSummary(s, dir)),

    // SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    // at web-scale through semantic deduplication"): cluster the
    // embedding space, then prune within-cluster semantic duplicates —
    // pairs whose cosine exceeds a high threshold — keeping the lowest
    // id. Assignment is argmax cosine to the k seed centroids (the
    // paper clusters normalized embeddings, where L2 and cosine agree;
    // cosine keeps the planted scaled copies in their source's cluster
    // exactly). The pair stage is all-pairs WITHIN a cluster — the
    // paper's own cost model: k grows with the corpus so cluster sizes
    // stay bounded and the per-cluster quadratic never sees the whole
    // table; k is fixed at 8 here only so the oracle stays an unrolled
    // CTE. The corpus carries the embed_near_dup planted 0.9-scaled
    // copies (cosine-preserving), so the prune stage emits nonzero rows
    // at EVERY scale — the gate is never vacuous. Output: per-cluster
    // size, pruned count, and kept permille.
    "semdedup_prune" -> ((s, dir) => {
      val base = embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val corpus = base.unionByName(
        base.filter(col("vec_id") % 5 === 0)
          .withColumn("vec_id", col("vec_id") + lit(PLANT_OFF))
          .withColumn("embedding", transform(col("embedding"), x => x * lit(0.9))))
      // REPLICA CONTRACTION (round 11): identical QUANTIZED vectors are
      // indistinguishable to every term below — argmax-cosine
      // assignment (with its cid tie-break), pair cosines, and the
      // prune rule all read qv only — so a k-replica group would pay k²
      // rows in the within-cluster pair join. Collapse each qv-group to
      // its min-id representative; the per-MEMBER prune decision
      // reconstructs exactly:
      //   pruned(m in G) ⟺ (selfCos(G) >= t AND m > rep(G))        — an
      //     earlier member of m's own group prunes it —
      //   OR (min over groups H != G in the cluster with
      //       cos(G,H) >= t of rep(H)) < m                          — the
      //     smallest qualifying foreign id is a group's rep by
      //     definition, so "exists a < m" ⟺ "min qualifying rep < m".
      // All cosines are evaluated by the SAME formula on the same qv
      // arrays, so doubles are bit-identical to the uncontracted plan
      // (equality-pinned in SemDedupContractionTest). No-op when every
      // group has one member.
      val vecs = corpus.select(col("vec_id").as("id"),
          VectorFns.quantize(col("embedding")).as("qv"))
        .withColumn("nrm", VectorFns.normQ(col("qv")))
      val grouped = vecs
        .withColumn("rep", min(col("id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qv"))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val members = grouped.select(col("rep"), col("id"))
      val reps = grouped.filter(col("rep") === col("id"))
        .select(col("id"), col("qv"), col("nrm"))
      // Adaptive k (the paper's "k grows with the corpus"): per-cluster
      // occupancy stays ~SEM_REF/1 flat, so the within-cluster pair
      // space is ~linear in corpus size instead of quadratic (30x probe:
      // exponent 1.93 at fixed k). Centroid seeds stay the lowest ids;
      // the count that sizes k is the DISTINCT-vector count the
      // contraction already materializes, mirrored in the oracle as
      // count(DISTINCT q).
      val nDistinct = grouped.filter(col("rep") === col("id")).count()
      val kEff = KMEANS_K.toLong <<
        graft.operators.Dedup.adaptiveBits(0, nDistinct, SEM_REF, 30)
      graft.operators.Guard.record("semdedup",
        s"k=$kEff nDistinct=$nDistinct")
      val cents = grouped.filter(col("id") < kEff)
        .select(col("id").as("cid"), col("qv").as("cv"), col("nrm").as("cnrm"))
      // argmax-cosine assignment: centroids broadcast, ties -> lowest
      // cid ((-cos, cid) struct min; integer dot = 0 always yields
      // +0.0 cos, so the negation cannot manufacture a -0.0/+0.0
      // ordering split vs the oracle's ORDER BY cos DESC)
      val asg = reps.crossJoin(broadcast(cents))
        .withColumn("cos",
          VectorFns.dotQ(col("qv"), col("cv")) / (col("nrm") * col("cnrm")))
        .groupBy(col("id"))
        .agg(min(struct((-col("cos")).as("nc"), col("cid").as("c"))).as("m"))
        .select(col("id"), col("m.c").as("cid"))
      // rep-level membership feeds both pair sides and the expansion
      val memR = asg.join(reps, Seq("id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val aSide = memR.select(col("cid"), col("id").as("a"),
        col("qv").as("qa"), col("nrm").as("na"))
      val bSide = memR.select(col("cid"), col("id").as("b"),
        col("qv").as("qb"), col("nrm").as("nb"))
      val minOther = aSide.join(bSide, Seq("cid"))
        .filter(col("a") =!= col("b"))
        .withColumn("cos",
          VectorFns.dotQ(col("qa"), col("qb")) / (col("na") * col("nb")))
        .filter(col("cos") >= SEM_THRESHOLD)
        .groupBy(col("b").as("rep"))
        .agg(min(col("a")).as("min_other"))
      val selfDup = memR
        .withColumn("cos",
          VectorFns.dotQ(col("qv"), col("qv")) / (col("nrm") * col("nrm")))
        .filter(col("cos") >= SEM_THRESHOLD)
        .select(col("id").as("rep"), lit(true).as("self_dup"))
      members
        .join(asg.select(col("id").as("rep"), col("cid")), "rep")
        .join(minOther, Seq("rep"), "left")
        .join(selfDup, Seq("rep"), "left")
        .withColumn("p",
          when((coalesce(col("self_dup"), lit(false)) &&
              col("id") > col("rep")) ||
            col("min_other") < col("id"), 1L).otherwise(0L))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("p")).as("n_pruned"))
        .withColumn("keep_permille",
          expr("(1000 * (n_vecs - n_pruned)) div n_vecs"))
        .orderBy(col("cid"))
    }),

    // Johnson–Lindenstrauss projection audit: project the 64-dim
    // quantized embeddings onto 16 deterministic pseudo-random
    // directions (the same LCG weight family the LSH buckets use) and
    // measure, over the deterministic consecutive-id pair sample, how
    // the projected squared distance tracks the original — the
    // distance-preservation check run BEFORE trusting a reduced-dim
    // index at 100 TB (16 longs per vector instead of 64 is 4x less
    // shuffle in every downstream ANN/cluster pass). Ratios are exact
    // integers (projected diffs are pre-scaled by div 32 so the squared
    // sum stays in BIGINT), bucketed by log2 — JL says they
    // concentrate; a flat histogram means the projection family is
    // broken. Map-side projection at the scan, one self-join on id+1
    // (1:1, no fan-out), one bucket aggregate.
    "jl_projection_audit" -> ((s, dir) => {
      val JDIMS = 16
      val vecs = embeddings(s, dir).select(col("vec_id").as("id"),
        VectorFns.quantize(col("embedding")).as("qv"))
      val projCols = (0 until JDIMS).map { j =>
        aggregate(
          zip_with(col("qv"),
            typedLit((0 until DIMS).map(i => VectorFns.projWeight(j, i, DIMS))),
            (x, w) => x * w),
          lit(0L), (acc, x) => acc + x).as(s"y$j")
      }
      val proj = vecs.select(col("id") +: col("qv") +: projCols: _*)
      val a = proj.columns.foldLeft(proj)((d, c) => d.withColumnRenamed(c, s"a_$c"))
      val b = proj.columns.foldLeft(proj)((d, c) => d.withColumnRenamed(c, s"b_$c"))
      val d2o = aggregate(zip_with(col("a_qv"), col("b_qv"),
        (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)
      // abs BEFORE the scaling div: Spark div truncates toward zero
      // while DuckDB // floors, and they only agree on non-negatives
      val d2p = (0 until JDIMS).map(j =>
        expr(s"(abs(a_y$j - b_y$j) div 32) * (abs(a_y$j - b_y$j) div 32)"))
        .reduce(_ + _)
      a.join(b, col("b_id") === col("a_id") + 1)
        .select(d2o.as("d2_orig"), d2p.as("d2_proj"))
        .filter(col("d2_orig") > 0)
        .withColumn("ratio", expr("d2_proj div d2_orig"))
        .withColumn("bucket", length(bin(greatest(col("ratio"), lit(1L))))
          .cast("long") - 1)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"), min(col("ratio")).as("min_ratio"),
          max(col("ratio")).as("max_ratio"))
        .orderBy(col("bucket"))
    }),

    // Multimodal metadata: opaque binary payload + typed header fields,
    // no payload decode (column pruning keeps the bytes unread at scale).
    "multimodal_meta" -> ((s, dir) => {
      Multimodal.extractMeta(Multimodal.attachPayload(documents(s, dir)))
        .withColumn("media_md5", md5(col("text")))
        .select(col("doc_id"), col("media_md5"), col("byte_len"),
          col("width"), col("height"), col("n_frames"))
        .orderBy(col("doc_id"))
    }),

    // Per-frame fan-out: one row per sampled frame handle + leading byte.
    "multimodal_framesample" -> ((s, dir) => {
      Multimodal.explodeFrames(Multimodal.attachPayload(documents(s, dir)),
          stride = FRAME_STRIDE)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_byte"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // Aspect-preserving resize of the fake decoded dimensions into a
    // 64x64 box — metadata math in exact integer/double arithmetic.
    "multimodal_resize" -> ((s, dir) => {
      Multimodal.resizeMeta(
          Multimodal.extractMeta(Multimodal.attachPayload(documents(s, dir))),
          box = RESIZE_BOX)
        .select(col("doc_id"), col("width"), col("height"),
          col("new_w"), col("new_h"))
        .orderBy(col("doc_id"))
    }),

    // Embedding-norm health audit — the vector-pipeline sanity gate that
    // catches corrupt rows (zeroed vectors, double-scaled batches, wrong
    // normalization) BEFORE they poison ANN indexes or centroids: the
    // squared L2 norm of every vector, banded by robust distance from the
    // corpus median (median/MAD, the same exact-integer doubled-median
    // discipline as mad_outliers — one extreme batch cannot move the
    // fences). Band k = norms beyond k robust sigmas (1.4826*MAD), band 3
    // catching the planted 0.9-scaled near-dup copies whose norms sit
    // 19% under the concentrated corpus median. All integers: sqn is the
    // quantized self-dot (exact int64), medians carried doubled/
    // quadrupled so .5 halves stay integral, fences cross-multiplied.
    // Scale shape: one vector scan (persisted for the two percentile
    // passes + the final banding), 1-row broadcast stats, a 4-row
    // artifact at any corpus size — never a sort of the vectors.
    "embed_norm_outliers" -> ((s, dir) => {
      val q = VectorFns.quantize(col("embedding"))
      val e = embeddings(s, dir)
        .select(col("vec_id"), VectorFns.dotQ(q, q).as("sqn"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val med = e.agg(
        (percentile(col("sqn"), lit(0.5)) * 2).cast("long").as("med2"))
      val dev = e.crossJoin(broadcast(med))
        .withColumn("dev2", abs(lit(2L) * col("sqn") - col("med2")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mad = dev.agg(
        (percentile(col("dev2"), lit(0.5)) * 2).cast("long").as("mad4"))
      dev.crossJoin(broadcast(mad))
        .withColumn("band",
          when(lit(10000L) * col("dev2") > lit(22239L) * col("mad4"), 3L)
            .when(lit(10000L) * col("dev2") > lit(14826L) * col("mad4"), 2L)
            .when(lit(10000L) * col("dev2") > lit(7413L) * col("mad4"), 1L)
            .otherwise(0L))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_vecs"), min(col("sqn")).as("min_sqn"),
          max(col("sqn")).as("max_sqn"))
        .orderBy(col("band"))
    })
  )

  def oracles: Map[String, String] = Map(

    // Mirrors semdedup_prune: same planted corpus, argmax-cosine
    // assignment to the adaptive-k seed centroids (row_number DESC,
    // cid), same within-cluster pair threshold, per-cluster rollup.
    // RELATIONAL (round 15): the n×k assignment dots and the
    // within-cluster pair dots ran as list lambdas; at the 30x gate's
    // k=256 the assignment stage alone is ~18M lambda dots and would
    // re-dominate the oracle — both stages now run as unnest ⋈ unnest
    // hash aggregates (the embed_near_dup treatment), identical
    // integer sums and double casts.
    // REPLICA CONTRACTION (round 15, second pass): the relational pair
    // join over ALL members exploded on the REPLICATED 10x corpus
    // (3000-member duplicate clusters → a 2.3G-row (cid,i) join, 1369 s
    // vs the lambda form's 70 s) — so the oracle now mirrors the Spark
    // side's qv-group contraction exactly (the reconstruction
    // SemDedupContractionTest pins): identical-q members share every
    // cosine, so assignment and pair dots run at REP level, and the
    // per-member prune decision reconstructs as
    //   pruned(m in G) ⟺ m > cut(G),
    //   cut(G) = least(rep(G) if selfcos(G) ≥ t, min qualifying
    //            foreign rep in G's cluster)
    // (an earlier member of m's own group prunes m; "∃ x∈H, x<m" ⟺
    // rep(H)<m since rep is H's min id). No-op on replica-free corpora.
    // FIXED-ARRAY DOTS (round 16): the unnest ⋈ unnest dot stages were
    // the 100x-gate blocker — joining per-dimension rows on i makes the
    // assignment stage |reps|·k·$DIMS and the pair stage Σ m²·$DIMS
    // intermediate rows (681 s at 30x; measured 374 s for one 10M-dot
    // probe vs 0.7 s as array_inner_product on this host). Quantized
    // vectors now also carry a DOUBLE[$DIMS] copy and every dot runs as
    // one native array_inner_product; the argmax window became
    // max + equality join-back + min(cid) (same "highest cosine, then
    // lowest cid" tie rule, two hash aggregates instead of a 123M-row
    // partitioned sort). Bit-identical: products and partial sums are
    // integer-valued and < 2^53, so the DOUBLE dot equals the old
    // CAST(BIGINT-sum AS DOUBLE) exactly, on every corpus.
    "semdedup_prune" ->
      s"""WITH base AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |corpus AS (
         |  SELECT vec_id, emb FROM base
         |  UNION ALL
         |  SELECT vec_id + $PLANT_OFF, list_transform(emb, x -> x * 0.9)
         |  FROM base WHERE vec_id % 5 = 0),
         |n AS MATERIALIZED (
         |  SELECT id, q, qa, sqrt(array_inner_product(qa, qa)) AS nrm
         |  FROM (SELECT id, q,
         |      list_transform(q, x -> CAST(x AS DOUBLE))::DOUBLE[$DIMS] AS qa
         |    FROM (SELECT vec_id AS id,
         |      list_transform(emb, x -> CAST(floor(x * 10000 + 0.5) AS BIGINT))
         |        AS q FROM corpus))),
         |grp AS MATERIALIZED (
         |  SELECT id, min(id) OVER (PARTITION BY q) AS rep FROM n),
         |reps AS MATERIALIZED (
         |  SELECT n.id, n.qa, n.nrm FROM n JOIN grp USING (id)
         |  WHERE grp.rep = n.id),
         |kk AS MATERIALIZED (
         |  SELECT CAST($KMEANS_K AS BIGINT) * (1::BIGINT <<
         |    least(length(bin(greatest(count(*) // $SEM_REF, 1))) - 1,
         |          30)) AS k
         |  FROM reps),
         |cents AS MATERIALIZED (
         |  SELECT id AS cid, qa AS cqa, nrm AS cnrm FROM n
         |  WHERE id < (SELECT k FROM kk)),
         |sc AS MATERIALIZED (
         |  SELECT r.id, c.cid,
         |    array_inner_product(r.qa, c.cqa) / (r.nrm * c.cnrm) AS cos
         |  FROM reps r CROSS JOIN cents c),
         |mxc AS (SELECT id, max(cos) AS mc FROM sc GROUP BY id),
         |asg AS (
         |  SELECT sc.id, min(sc.cid) AS cid
         |  FROM sc JOIN mxc ON sc.id = mxc.id AND sc.cos = mxc.mc
         |  GROUP BY sc.id),
         |rmem AS MATERIALIZED (SELECT asg.id, asg.cid, reps.qa, reps.nrm
         |        FROM asg JOIN reps USING (id)),
         |qpairs AS MATERIALIZED (
         |  SELECT x.id AS xid, y.id AS yid
         |  FROM rmem x JOIN rmem y ON x.cid = y.cid AND x.id < y.id
         |  WHERE array_inner_product(x.qa, y.qa) / (x.nrm * y.nrm)
         |    >= $SEM_THRESHOLD),
         |minfor AS (
         |  SELECT id, min(o) AS mf FROM (
         |    SELECT xid AS id, yid AS o FROM qpairs
         |    UNION ALL
         |    SELECT yid AS id, xid AS o FROM qpairs)
         |  GROUP BY id),
         |cut AS (
         |  SELECT r.id AS rep,
         |    least(
         |      coalesce(CASE WHEN array_inner_product(r.qa, r.qa)
         |                 / (r.nrm * r.nrm) >= $SEM_THRESHOLD
         |               THEN r.id END, 9223372036854775807),
         |      coalesce(mf.mf, 9223372036854775807)) AS cut
         |  FROM reps r
         |  LEFT JOIN minfor mf ON r.id = mf.id),
         |agg AS (
         |  SELECT rm.cid, CAST(count(*) AS BIGINT) AS n_vecs,
         |    CAST(SUM(CASE WHEN g.id > c.cut THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_pruned
         |  FROM grp g JOIN cut c ON g.rep = c.rep
         |             JOIN rmem rm ON g.rep = rm.id
         |  GROUP BY rm.cid)
         |SELECT cid, n_vecs, n_pruned,
         |  (1000 * (n_vecs - n_pruned)) // n_vecs AS keep_permille
         |FROM agg ORDER BY cid""".stripMargin,

    // Mirrors jl_projection_audit: same LCG weight family, abs-scaled
    // projected diffs, consecutive-id pairs, log2 ratio buckets.
    // RELATIONAL (round 15): the 16 per-vector projections and the
    // consecutive-pair distances ran as list lambdas (row-at-a-time in
    // DuckDB 1.0, ~25 s at the 10x gates); the same integer arithmetic
    // as an unnest ⋈ weights join + two hash aggregates runs in
    // seconds. Same sums, same // 32 scaling, same buckets.
    "jl_projection_audit" ->
      s"""WITH e AS (SELECT vec_id AS id, $qSql AS q FROM embeddings),
         |unq AS MATERIALIZED (
         |  SELECT id, t.i, q[t.i] AS x
         |  FROM e, generate_series(1, $DIMS) AS t(i)),
         |wt(proj, w) AS (VALUES ${weightListsSql(16)}),
         |wrows AS MATERIALIZED (
         |  SELECT proj, t.i, w[t.i] AS wv
         |  FROM wt, generate_series(1, $DIMS) AS t(i)),
         |ysum AS MATERIALIZED (
         |  SELECT u.id, w.proj, CAST(sum(u.x * w.wv) AS BIGINT) AS y
         |  FROM unq u JOIN wrows w USING (i)
         |  GROUP BY 1, 2),
         |d2p AS (
         |  SELECT a.id,
         |    CAST(sum((abs(a.y - b.y) // 32) * (abs(a.y - b.y) // 32))
         |      AS BIGINT) AS d2_proj
         |  FROM ysum a JOIN ysum b ON b.id = a.id + 1 AND a.proj = b.proj
         |  GROUP BY a.id),
         |d2o AS (
         |  SELECT a.id,
         |    CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2_orig
         |  FROM unq a JOIN unq b ON b.id = a.id + 1 AND a.i = b.i
         |  GROUP BY a.id),
         |pairs AS (SELECT d2_orig, d2_proj FROM d2o JOIN d2p USING (id))
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs,
         |  min(ratio) AS min_ratio, max(ratio) AS max_ratio
         |FROM (SELECT d2_proj // d2_orig AS ratio,
         |        CAST(length(bin(greatest(d2_proj // d2_orig, 1))) - 1
         |          AS BIGINT) AS bucket
         |      FROM pairs WHERE d2_orig > 0)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "ann_bruteforce_top5" ->
      s"""WITH e AS (SELECT vec_id, $qSql AS q FROM embeddings),
         |ql AS (SELECT vec_id AS q_vec, q AS qq FROM e WHERE vec_id < $N_QUERIES),
         |cl AS (SELECT vec_id AS c_vec, q AS cq FROM e WHERE vec_id >= $N_QUERIES),
         |scored AS (
         |  SELECT q_vec, c_vec,
         |    ${cosSql("qq", "cq")} AS cos
         |  FROM cl CROSS JOIN ql),
         |ranked AS (
         |  SELECT q_vec, c_vec, cos, row_number() OVER (
         |    PARTITION BY q_vec ORDER BY cos DESC, c_vec) AS rnk
         |  FROM scored)
         |SELECT q_vec, rnk, c_vec, cos FROM ranked
         |WHERE rnk <= 5 ORDER BY q_vec, rnk""".stripMargin,

    "ann_lsh_top3" ->
      s"""WITH e AS (SELECT vec_id, $qSql AS q FROM embeddings),
         |b AS (SELECT vec_id, q, ${bucketSql("q")} AS bucket FROM e),
         |ql AS (SELECT bucket, vec_id AS q_vec, q AS qq FROM b WHERE vec_id < $N_QUERIES),
         |cl AS (SELECT bucket, vec_id AS c_vec, q AS cq FROM b WHERE vec_id >= $N_QUERIES),
         |scored AS (
         |  SELECT q_vec, c_vec,
         |    ${cosSql("qq", "cq")} AS cos
         |  FROM cl JOIN ql USING (bucket)),
         |ranked AS (
         |  SELECT q_vec, c_vec, cos, row_number() OVER (
         |    PARTITION BY q_vec ORDER BY cos DESC, c_vec) AS rnk
         |  FROM scored)
         |SELECT q_vec, rnk, c_vec, cos FROM ranked
         |WHERE rnk <= 3 ORDER BY q_vec, rnk""".stripMargin,

    // IVF-PQ mirrored at (id, dim) granularity: coarse assign -> residual
    // -> seed codebook -> one Lloyd round -> encode -> per-list ADC ->
    // rank. Same exact-integer Σ(v-cv)^2 / floor-mean steps as Spark.
    "ann_ivfpq_top3" -> {
      val subDim = DIMS / PQ_M
      val centLo = N_QUERIES
      val centHi = N_QUERIES + IVF_NLIST
      def pqNearest(cb: String, name: String) =
        s"""$name AS (
           |  SELECT id, sub, pcid FROM (
           |    SELECT rd.id, rd.sub, c.pcid,
           |      row_number() OVER (PARTITION BY rd.id, rd.sub
           |        ORDER BY CAST(sum((rd.rv - c.cw) * (rd.rv - c.cw)) AS BIGINT),
           |                 c.pcid) AS rn
           |    FROM rd JOIN $cb c USING (dim)
           |    GROUP BY rd.id, rd.sub, c.pcid)
           |  WHERE rn = 1)""".stripMargin
      def coarseNearest(src: String, name: String, keep: String) =
        s"""$name AS (
           |  SELECT id, ccid FROM (
           |    SELECT s.id, ct.ccid,
           |      row_number() OVER (PARTITION BY s.id
           |        ORDER BY CAST(sum((s.v - ct.cv) * (s.v - ct.cv)) AS BIGINT),
           |                 ct.ccid) AS rn
           |    FROM $src s JOIN cent ct USING (dim)
           |    GROUP BY s.id, ct.ccid)
           |  WHERE $keep)""".stripMargin
      s"""WITH e AS (SELECT vec_id, $qSql AS q FROM embeddings),
         |sd AS (
         |  SELECT vec_id AS id,
         |    CAST(generate_subscripts(q, 1) - 1 AS BIGINT) AS dim,
         |    CAST((generate_subscripts(q, 1) - 1) // $subDim AS BIGINT) AS sub,
         |    unnest(q) AS v
         |  FROM e),
         |cent AS (SELECT id AS ccid, dim, v AS cv FROM sd
         |         WHERE id >= $centLo AND id < $centHi),
         |cand AS (SELECT * FROM sd WHERE id >= $centHi),
         |qry AS (SELECT * FROM sd WHERE id < $N_QUERIES),
         |${coarseNearest("cand", "ca", "rn = 1")},
         |rd AS (
         |  SELECT cand.id, ca.ccid, cand.dim, cand.sub, cand.v - cent.cv AS rv
         |  FROM cand JOIN ca USING (id)
         |  JOIN cent ON cent.ccid = ca.ccid AND cent.dim = cand.dim),
         |seeds AS (
         |  SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS pcid
         |  FROM (SELECT DISTINCT id FROM cand ORDER BY id LIMIT $PQ_KSUB)),
         |cw0 AS (SELECT s.pcid, rd.sub, rd.dim, rd.rv AS cw
         |        FROM rd JOIN seeds s USING (id)),
         |${pqNearest("cw0", "a1")},
         |cb AS (
         |  SELECT a1.pcid, rd.dim, rd.sub,
         |    CAST(floor(CAST(sum(rd.rv) AS DOUBLE) / count(*)) AS BIGINT) AS cw
         |  FROM rd JOIN a1 ON rd.id = a1.id AND rd.sub = a1.sub
         |  GROUP BY a1.pcid, rd.dim, rd.sub),
         |${pqNearest("cb", "enc")},
         |codes AS (
         |  SELECT enc.id AS c_vec, ca.ccid, enc.sub, enc.pcid AS code
         |  FROM enc JOIN ca ON ca.id = enc.id),
         |${coarseNearest("qry", "qa", "rn <= 2")},
         |qrd AS (
         |  SELECT qry.id, qa.ccid, qry.dim, qry.sub, qry.v - cent.cv AS rvq
         |  FROM qry JOIN qa USING (id)
         |  JOIN cent ON cent.ccid = qa.ccid AND cent.dim = qry.dim),
         |adc AS (
         |  SELECT qrd.id AS q_vec, qrd.ccid, qrd.sub, c.pcid AS code,
         |    CAST(sum((qrd.rvq - c.cw) * (qrd.rvq - c.cw)) AS BIGINT) AS qd
         |  FROM qrd JOIN cb c USING (dim)
         |  GROUP BY qrd.id, qrd.ccid, qrd.sub, c.pcid),
         |scored AS (
         |  SELECT adc.q_vec, codes.c_vec, CAST(sum(adc.qd) AS BIGINT) AS adist
         |  FROM codes JOIN adc ON adc.ccid = codes.ccid
         |    AND adc.sub = codes.sub AND adc.code = codes.code
         |  GROUP BY adc.q_vec, codes.c_vec),
         |ranked AS (
         |  SELECT q_vec, c_vec, adist, row_number() OVER (
         |    PARTITION BY q_vec ORDER BY adist, c_vec) AS rnk
         |  FROM scored)
         |SELECT q_vec, rnk, c_vec, adist FROM ranked
         |WHERE rnk <= 3 ORDER BY q_vec, rnk""".stripMargin
    },

    // PQ-ADC mirrored at (id, dim) granularity: sub = dim // subDim; the
    // train/encode argmins and the ADC sums are the same exact-integer
    // Σ(v-cv)^2 as the Spark side's svv - 2<sv,cv> + cvv.
    "ann_pq_adc_top3" -> {
      val subDim = DIMS / PQ_M
      def nearestSql(src: String, cb: String, name: String) =
        s"""$name AS (
           |  SELECT id, sub, cid FROM (
           |    SELECT s.id, s.sub, c.cid,
           |      row_number() OVER (PARTITION BY s.id, s.sub
           |        ORDER BY CAST(sum((s.v - c.cv) * (s.v - c.cv)) AS BIGINT),
           |                 c.cid) AS rn
           |    FROM $src s JOIN $cb c ON s.sub = c.sub AND s.dim = c.dim
           |    GROUP BY s.id, s.sub, c.cid)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH e AS (SELECT vec_id, $qSql AS q FROM embeddings),
         |sd AS (
         |  SELECT vec_id AS id,
         |    CAST(generate_subscripts(q, 1) - 1 AS BIGINT) AS dim,
         |    CAST((generate_subscripts(q, 1) - 1) // $subDim AS BIGINT) AS sub,
         |    unnest(q) AS v
         |  FROM e),
         |cand AS (SELECT * FROM sd WHERE id >= ${N_QUERIES + PQ_KSUB}),
         |qry AS (SELECT * FROM sd WHERE id < $N_QUERIES),
         |c0 AS (SELECT id - $N_QUERIES AS cid, sub, dim, v AS cv FROM sd
         |       WHERE id >= $N_QUERIES AND id < ${N_QUERIES + PQ_KSUB}),
         |${nearestSql("cand", "c0", "a1")},
         |cb AS (
         |  SELECT a1.sub, a1.cid, cand.dim,
         |    CAST(floor(CAST(sum(cand.v) AS DOUBLE) / count(*)) AS BIGINT) AS cv
         |  FROM cand JOIN a1 ON cand.id = a1.id AND cand.sub = a1.sub
         |  GROUP BY a1.sub, a1.cid, cand.dim),
         |${nearestSql("cand", "cb", "enc")},
         |adc AS (
         |  SELECT qry.id AS q_vec, qry.sub, cb.cid,
         |    CAST(sum((qry.v - cb.cv) * (qry.v - cb.cv)) AS BIGINT) AS qd
         |  FROM qry JOIN cb ON qry.sub = cb.sub AND qry.dim = cb.dim
         |  GROUP BY qry.id, qry.sub, cb.cid),
         |scored AS (
         |  SELECT adc.q_vec, enc.id AS c_vec, CAST(sum(adc.qd) AS BIGINT) AS adist
         |  FROM enc JOIN adc ON enc.sub = adc.sub AND enc.cid = adc.cid
         |  GROUP BY adc.q_vec, enc.id),
         |ranked AS (
         |  SELECT q_vec, c_vec, adist, row_number() OVER (
         |    PARTITION BY q_vec ORDER BY adist, c_vec) AS rnk
         |  FROM scored)
         |SELECT q_vec, rnk, c_vec, adist FROM ranked
         |WHERE rnk <= 3 ORDER BY q_vec, rnk""".stripMargin
    },

    "ann_rrf_fusion" ->
      s"""WITH e AS (SELECT vec_id, $qSql AS q FROM embeddings),
         |b AS (SELECT vec_id, q, ${bucketSql("q")} AS bucket FROM e),
         |qlb AS (SELECT vec_id AS q_vec, q AS qq FROM e WHERE vec_id < $N_QUERIES),
         |clb AS (SELECT vec_id AS c_vec, q AS cq FROM e WHERE vec_id >= $N_QUERIES),
         |sb AS (
         |  SELECT q_vec, c_vec, ${cosSql("qq", "cq")} AS cos
         |  FROM clb CROSS JOIN qlb),
         |rb AS (
         |  SELECT q_vec, c_vec, row_number() OVER (
         |    PARTITION BY q_vec ORDER BY cos DESC, c_vec) AS rnk
         |  FROM sb),
         |qll AS (SELECT bucket, vec_id AS q_vec, q AS qq FROM b WHERE vec_id < $N_QUERIES),
         |cll AS (SELECT bucket, vec_id AS c_vec, q AS cq FROM b WHERE vec_id >= $N_QUERIES),
         |sl AS (
         |  SELECT q_vec, c_vec, ${cosSql("qq", "cq")} AS cos
         |  FROM cll JOIN qll USING (bucket)),
         |rl AS (
         |  SELECT q_vec, c_vec, row_number() OVER (
         |    PARTITION BY q_vec ORDER BY cos DESC, c_vec) AS rnk
         |  FROM sl),
         |u AS (
         |  SELECT q_vec, c_vec, 1000000000 // (60 + rnk) AS pts
         |  FROM rb WHERE rnk <= 5
         |  UNION ALL
         |  SELECT q_vec, c_vec, 1000000000 // (60 + rnk)
         |  FROM rl WHERE rnk <= 3),
         |f AS (
         |  SELECT q_vec, c_vec, CAST(sum(pts) AS BIGINT) AS rrf
         |  FROM u GROUP BY q_vec, c_vec),
         |r AS (
         |  SELECT q_vec, c_vec, rrf, row_number() OVER (
         |    PARTITION BY q_vec ORDER BY rrf DESC, c_vec) AS rnk
         |  FROM f)
         |SELECT q_vec, rnk, c_vec, rrf FROM r
         |WHERE rnk <= 3 ORDER BY q_vec, rnk""".stripMargin,

    "ann_lsh_multiprobe_top3" -> {
      val probeList = ("bucket" +:
        (0 until LSH_BITS).map(b => s"xor(bucket, ${1L << b})").toSeq).mkString(", ")
      s"""WITH e AS (SELECT vec_id, $qSql AS q FROM embeddings),
         |b AS (SELECT vec_id, q, ${bucketSql("q")} AS bucket FROM e),
         |ql AS (
         |  SELECT unnest([$probeList]) AS bucket, vec_id AS q_vec, q AS qq
         |  FROM b WHERE vec_id < $N_QUERIES),
         |cl AS (SELECT bucket, vec_id AS c_vec, q AS cq FROM b WHERE vec_id >= $N_QUERIES),
         |scored AS (
         |  SELECT q_vec, c_vec,
         |    ${cosSql("qq", "cq")} AS cos
         |  FROM cl JOIN ql USING (bucket)),
         |ranked AS (
         |  SELECT q_vec, c_vec, cos, row_number() OVER (
         |    PARTITION BY q_vec ORDER BY cos DESC, c_vec) AS rnk
         |  FROM scored)
         |SELECT q_vec, rnk, c_vec, cos FROM ranked
         |WHERE rnk <= 3 ORDER BY q_vec, rnk""".stripMargin
    },

    "ann_ivf_top3" ->
      s"""WITH e AS (SELECT vec_id, $qSql AS q FROM embeddings),
         |cent AS (SELECT vec_id AS cid, q AS cq FROM e
         |         WHERE vec_id >= $N_QUERIES AND vec_id < ${N_QUERIES + IVF_NLIST}),
         |cand AS (SELECT vec_id, q FROM e WHERE vec_id >= ${N_QUERIES + IVF_NLIST}),
         |ql AS (SELECT vec_id, q FROM e WHERE vec_id < $N_QUERIES),
         |cassign AS (
         |  SELECT vec_id AS c_vec, cid, q AS cq2 FROM (
         |    SELECT c.vec_id, ct.cid, c.q, row_number() OVER (
         |      PARTITION BY c.vec_id
         |      ORDER BY ${cosSql("c.q", "ct.cq")} DESC, ct.cid) AS crnk
         |    FROM cand c CROSS JOIN cent ct)
         |  WHERE crnk = 1),
         |qassign AS (
         |  SELECT vec_id AS q_vec, cid, q AS qq FROM (
         |    SELECT c.vec_id, ct.cid, c.q, row_number() OVER (
         |      PARTITION BY c.vec_id
         |      ORDER BY ${cosSql("c.q", "ct.cq")} DESC, ct.cid) AS crnk
         |    FROM ql c CROSS JOIN cent ct)
         |  WHERE crnk <= 2),
         |scored AS (
         |  SELECT q_vec, c_vec, ${cosSql("qq", "cq2")} AS cos
         |  FROM cassign JOIN qassign USING (cid)),
         |ranked AS (
         |  SELECT q_vec, c_vec, cos, row_number() OVER (
         |    PARTITION BY q_vec ORDER BY cos DESC, c_vec) AS rnk
         |  FROM scored)
         |SELECT q_vec, rnk, c_vec, cos FROM ranked
         |WHERE rnk <= 3 ORDER BY q_vec, rnk""".stripMargin,

    // Two relational Lloyd rounds: distances as exact HUGEINT sums of
    // (v - cv)^2 over the (dim)-joined fanout — identical values to the
    // Spark side's ⟨a,a⟩ - 2⟨a,c⟩ + ⟨c,c⟩; argmin tie-breaks on cid;
    // centroid update floor(sum/n) in double (exact < 2^53).
    "kmeans_embed" -> {
      def assignSql(cents: String, name: String) =
        s"""$name AS (
           |  SELECT id, cid, dist FROM (
           |    SELECT qd.id, c.cid,
           |      CAST(sum((qd.v - c.cv) * (qd.v - c.cv)) AS BIGINT) AS dist,
           |      row_number() OVER (PARTITION BY qd.id
           |        ORDER BY CAST(sum((qd.v - c.cv) * (qd.v - c.cv)) AS BIGINT),
           |                 c.cid) AS rn
           |    FROM qd JOIN $cents c USING (dim)
           |    GROUP BY qd.id, c.cid)
           |  WHERE rn = 1)""".stripMargin
      def updateSql(asg: String, name: String) =
        s"""$name AS (
           |  SELECT cid, dim,
           |    CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cv
           |  FROM qd JOIN $asg USING (id) GROUP BY cid, dim)""".stripMargin
      s"""WITH q AS (SELECT vec_id AS id, $qSql AS qv FROM embeddings),
         |qd AS (
         |  SELECT id, CAST(generate_subscripts(qv, 1) - 1 AS BIGINT) AS dim,
         |    unnest(qv) AS v
         |  FROM q),
         |c0 AS (SELECT id AS cid, dim, v AS cv FROM qd WHERE id < $KMEANS_K),
         |${assignSql("c0", "a1")},
         |${updateSql("a1", "c1")},
         |${assignSql("c1", "a2")},
         |${updateSql("a2", "c2")},
         |cs AS (SELECT cid, CAST(sum(cv) AS BIGINT) AS centroid_sum
         |       FROM c2 GROUP BY cid)
         |SELECT a2.cid, count(*) AS n_vecs,
         |  CAST(sum(a2.dist) AS BIGINT) AS inertia, cs.centroid_sum
         |FROM a2 JOIN cs USING (cid)
         |GROUP BY a2.cid, cs.centroid_sum ORDER BY a2.cid""".stripMargin
    },

    "label_centroids" ->
      s"""WITH e AS (SELECT label, $qSql AS q FROM embeddings),
         |ex AS (
         |  SELECT label, CAST(generate_subscripts(q, 1) - 1 AS BIGINT) AS dim,
         |    unnest(q) AS qv
         |  FROM e)
         |SELECT label, dim, COUNT(*) AS n_vecs,
         |  CAST(SUM(qv) AS DOUBLE) / COUNT(*) AS mean_q
         |FROM ex GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    "multimodal_framesample" ->
      s"""WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
         |f AS (SELECT doc_id, h, unnest(range(0, 16, $FRAME_STRIDE)) AS fi FROM m)
         |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
         |  CAST((CASE WHEN ascii(substr(h, 2 * fi + 1, 1)) >= 97
         |        THEN ascii(substr(h, 2 * fi + 1, 1)) - 87
         |        ELSE ascii(substr(h, 2 * fi + 1, 1)) - 48 END) * 16 +
         |       (CASE WHEN ascii(substr(h, 2 * fi + 2, 1)) >= 97
         |        THEN ascii(substr(h, 2 * fi + 2, 1)) - 87
         |        ELSE ascii(substr(h, 2 * fi + 2, 1)) - 48 END) AS BIGINT)
         |    AS frame_byte
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "multimodal_resize" ->
      s"""WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
         |hv AS (
         |  SELECT doc_id,
         |    (CASE WHEN ascii(substr(h, 1, 1)) >= 97 THEN ascii(substr(h, 1, 1)) - 87 ELSE ascii(substr(h, 1, 1)) - 48 END) AS v1,
         |    (CASE WHEN ascii(substr(h, 2, 1)) >= 97 THEN ascii(substr(h, 2, 1)) - 87 ELSE ascii(substr(h, 2, 1)) - 48 END) AS v2,
         |    (CASE WHEN ascii(substr(h, 3, 1)) >= 97 THEN ascii(substr(h, 3, 1)) - 87 ELSE ascii(substr(h, 3, 1)) - 48 END) AS v3,
         |    (CASE WHEN ascii(substr(h, 4, 1)) >= 97 THEN ascii(substr(h, 4, 1)) - 87 ELSE ascii(substr(h, 4, 1)) - 48 END) AS v4
         |  FROM m),
         |dims AS (
         |  SELECT doc_id, CAST(v1 * 16 + v2 + 1 AS BIGINT) AS width,
         |    CAST(v3 * 16 + v4 + 1 AS BIGINT) AS height
         |  FROM hv)
         |SELECT doc_id, width, height,
         |  CASE WHEN width >= height THEN CAST($RESIZE_BOX AS BIGINT)
         |    ELSE greatest(1, CAST(floor(width * $RESIZE_BOX / height) AS BIGINT)) END AS new_w,
         |  CASE WHEN width >= height
         |    THEN greatest(1, CAST(floor(height * $RESIZE_BOX / width) AS BIGINT))
         |    ELSE CAST($RESIZE_BOX AS BIGINT) END AS new_h
         |FROM dims ORDER BY doc_id""".stripMargin,

    // Bucket width mirrors Dedup.adaptiveBits: base + floor(log2(
    // max(1, nDistinctQ // ND_REF))) bits, capped — length(bin(x)) - 1
    // IS floor(log2(x)) for x >= 1, integer-exact in both engines. The
    // 16-bit bucket is masked down to the effective width (low bits =
    // the first width projections of each table's 16-projection block).
    "embed_near_dup" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |corpus AS (
         |  SELECT vec_id, emb FROM base
         |  UNION ALL
         |  SELECT vec_id + $PLANT_OFF, list_transform(emb, x -> x * 0.9)
         |  FROM base WHERE vec_id % 5 = 0),
         |q AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(emb, x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS q
         |  FROM corpus),
         |nb AS MATERIALIZED (
         |  SELECT CAST(least($ND_BITS +
         |      length(bin(greatest(count(DISTINCT q) // $ND_REF, 1))) - 1,
         |      $ND_MAX_BITS) AS BIGINT) AS nbits
         |  FROM q),
         |$bkRelationalSql,
         |cand AS (
         |  SELECT DISTINCT a, b FROM (
         |    SELECT x.vec_id AS a, y.vec_id AS b
         |    FROM bk x JOIN bk y ON x.b0 = y.b0 AND x.vec_id < y.vec_id
         |    UNION ALL
         |    SELECT x.vec_id AS a, y.vec_id AS b
         |    FROM bk x JOIN bk y ON x.b1 = y.b1 AND x.vec_id < y.vec_id)),
         |scored AS (
         |  SELECT c.a, c.b,
         |    array_inner_product(xa.qa, xb.qa) /
         |    (sqrt(array_inner_product(xa.qa, xa.qa)) *
         |     sqrt(array_inner_product(xb.qa, xb.qa))) AS cos
         |  FROM cand c JOIN qa xa ON c.a = xa.vec_id
         |            JOIN qa xb ON c.b = xb.vec_id)
         |SELECT a, b, cos FROM scored WHERE cos >= $ND_THRESHOLD
         |ORDER BY a, b""".stripMargin,

    // nb is computed over the FULL corpus (count of distinct quantized
    // vectors), then the SAMPLE is banded at that width — the audit
    // measures recall at the width the full-corpus detector uses.
    // RELATIONAL truth stage (round 15, fixed-array dots round 16): the
    // capped sample ran as list lambdas (~20 s at the 10x gates); one
    // unnest ⋈ unnest pair-dot aggregate feeds BOTH truth and the
    // candidate scoring — identical integer sums, casts, and sqrt
    // grouping, so the published recall is bit-unchanged.
    "embed_lsh_recall" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |corpus AS (
         |  SELECT vec_id, emb FROM base
         |  UNION ALL
         |  SELECT vec_id + $PLANT_OFF, list_transform(emb, x -> x * 0.9)
         |  FROM base WHERE vec_id % 5 = 0),
         |nb AS MATERIALIZED (
         |  SELECT CAST(least($ND_BITS +
         |      length(bin(greatest(count(DISTINCT
         |        list_transform(emb, x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)))
         |        // $ND_REF, 1))) - 1,
         |      $ND_MAX_BITS) AS BIGINT) AS nbits
         |  FROM corpus),
         |samp AS (SELECT * FROM corpus WHERE vec_id % $PLANT_OFF % 1000000 < $RECALL_CAP),
         |q AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(emb, x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS q
         |  FROM samp),
         |$bkRelationalSql,
         |nrm AS MATERIALIZED (
         |  SELECT vec_id, sqrt(array_inner_product(qa, qa)) AS nrm
         |  FROM qa),
         |pdot AS MATERIALIZED (
         |  SELECT ua.vec_id AS a, ub.vec_id AS b,
         |    array_inner_product(ua.qa, ub.qa) AS dp
         |  FROM qa ua JOIN qa ub ON ua.vec_id < ub.vec_id),
         |cosv AS MATERIALIZED (
         |  SELECT p.a, p.b, p.dp / (na.nrm * nb.nrm) AS cos
         |  FROM pdot p JOIN nrm na ON p.a = na.vec_id
         |              JOIN nrm nb ON p.b = nb.vec_id),
         |truth AS MATERIALIZED (
         |  SELECT a, b FROM cosv WHERE cos >= $ND_THRESHOLD),
         |found AS MATERIALIZED (
         |  SELECT c.a, c.b FROM (
         |    SELECT DISTINCT a, b FROM (
         |      SELECT x.vec_id AS a, y.vec_id AS b
         |      FROM bk x JOIN bk y ON x.b0 = y.b0 AND x.vec_id < y.vec_id
         |      UNION ALL
         |      SELECT x.vec_id AS a, y.vec_id AS b
         |      FROM bk x JOIN bk y ON x.b1 = y.b1 AND x.vec_id < y.vec_id)) c
         |  JOIN cosv v ON c.a = v.a AND c.b = v.b
         |  WHERE v.cos >= $ND_THRESHOLD),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_matched
         |      FROM found f JOIN truth t ON f.a = t.a AND f.b = t.b)
         |SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
         |  CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found,
         |  (SELECT n_matched FROM m) AS n_matched,
         |  CAST((1000 * (SELECT n_matched FROM m)) //
         |    (SELECT count(*) FROM truth) AS BIGINT) AS recall_permille,
         |  CAST((1000 * (SELECT n_matched FROM m)) //
         |    (SELECT count(*) FROM found) AS BIGINT) AS precision_permille""".stripMargin,

    "multimodal_meta" ->
      """WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
        |hv AS (
        |  SELECT doc_id, h,
        |    (CASE WHEN ascii(substr(h, 1, 1)) >= 97 THEN ascii(substr(h, 1, 1)) - 87 ELSE ascii(substr(h, 1, 1)) - 48 END) AS v1,
        |    (CASE WHEN ascii(substr(h, 2, 1)) >= 97 THEN ascii(substr(h, 2, 1)) - 87 ELSE ascii(substr(h, 2, 1)) - 48 END) AS v2,
        |    (CASE WHEN ascii(substr(h, 3, 1)) >= 97 THEN ascii(substr(h, 3, 1)) - 87 ELSE ascii(substr(h, 3, 1)) - 48 END) AS v3,
        |    (CASE WHEN ascii(substr(h, 4, 1)) >= 97 THEN ascii(substr(h, 4, 1)) - 87 ELSE ascii(substr(h, 4, 1)) - 48 END) AS v4,
        |    (CASE WHEN ascii(substr(h, 5, 1)) >= 97 THEN ascii(substr(h, 5, 1)) - 87 ELSE ascii(substr(h, 5, 1)) - 48 END) AS v5
        |  FROM m)
        |SELECT doc_id, h AS media_md5,
        |  CAST(octet_length(from_hex(h)) AS BIGINT) AS byte_len,
        |  CAST(v1 * 16 + v2 + 1 AS BIGINT) AS width,
        |  CAST(v3 * 16 + v4 + 1 AS BIGINT) AS height,
        |  CAST(v5 % 8 + 1 AS BIGINT) AS n_frames
        |FROM hv ORDER BY doc_id""".stripMargin,

    // Mirrors embed_norm_outliers: same quantized self-dot, doubled
    // median / quadrupled MAD (quantile_cont keeps .5 halves exact),
    // same cross-multiplied robust-sigma fences.
    "embed_norm_outliers" ->
      s"""WITH e AS (
         |  SELECT vec_id,
         |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS sqn
         |  FROM (SELECT vec_id, $qSql AS q FROM embeddings)),
         |med AS (SELECT CAST(quantile_cont(sqn, 0.5) * 2 AS BIGINT) AS med2
         |        FROM e),
         |dev AS (SELECT vec_id, sqn, abs(2 * sqn - med2) AS dev2
         |        FROM e, med),
         |mad AS (SELECT CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
         |        FROM dev),
         |banded AS (
         |  SELECT sqn,
         |    CAST(CASE WHEN 10000 * dev2 > 22239 * mad4 THEN 3
         |         WHEN 10000 * dev2 > 14826 * mad4 THEN 2
         |         WHEN 10000 * dev2 > 7413 * mad4 THEN 1
         |         ELSE 0 END AS BIGINT) AS band
         |  FROM dev, mad)
         |SELECT band, CAST(count(*) AS BIGINT) AS n_vecs,
         |  min(sqn) AS min_sqn, max(sqn) AS max_sqn
         |FROM banded GROUP BY band ORDER BY band""".stripMargin
  )

  /** DuckDB twin of [[embedRecallSummary]] — exposed so the
    * curation_report oracle embeds it as a derived table (DuckDB
    * accepts a WITH inside a parenthesized subquery).
    */
  private[queries] lazy val embedRecallOracleSql: String =
    oracles("embed_lsh_recall")
}
