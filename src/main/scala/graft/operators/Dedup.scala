package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VectorFns}

/** Deduplication operators for the LLM-training-data surface
  * (SURVEY §2.9; PAPERS.md anchors). Input contract: a documents table
  * (doc_id long, text string) / embeddings table (vec_id, embedding).
  *
  * Scale design (100 TB):
  *  - exact dedup: one hash-shuffle on the 32-char fingerprint, map-side
  *    partial aggregation.
  *  - text shingling is relational (shingle ROWS, not arrays): tokenize →
  *    posexplode → window lead → distinct, all whole-stage codegen;
  *    signatures are hash-aggregates over those rows.
  *  - MinHash/LSH: one shuffle on doc_id for signatures, one keyed by
  *    (band_idx, band_hash); candidate pairs only for docs sharing a band
  *    bucket, so the O(n^2) pair space never materializes. Verification
  *    touches candidate pairs only.
  *  - SimHash: 16 conditional sums in one aggregate; dedup is a groupBy
  *    on the signature value.
  *  - n-gram Jaccard: inverted-index self-join on shingle (shuffle keyed
  *    by shingle) — exact, for modest corpora or as the verify stage.
  *  - embedding near-dup: blocked pair join (label or LSH bucket as the
  *    blocking key) + exact quantized cosine with precomputed norms.
  */
object Dedup {

  /** Exact dedup on normalized text: one representative (min doc_id) per
    * fingerprint. reference analogue: dropDuplicates(keys).
    *
    * unicodeNorm=true fingerprints through [[TextFns.normTextUnicode]]
    * (zero-width strip + NFC, plus the accent fold when accentFold set)
    * so visually-identical NFC/NFD twins collapse — OFF by default to
    * keep existing fingerprints stable; multilingual corpora opt in.
    */
  def exactDedup(docs: DataFrame, unicodeNorm: Boolean = false,
                 accentFold: Boolean = false): DataFrame =
    docs
      .withColumn("fp",
        if (unicodeNorm) TextFns.fingerprintUnicode(col("text"), accentFold)
        else TextFns.fingerprint(col("text")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_dups"))

  /** (doc_id, s): the distinct word-n-gram shingle set, one row per
    * shingle — the relational formulation of shingling.
    *
    * posexplode + ranking-window lead + distinct keep every step inside
    * whole-stage codegen. The array formulation (transform over a token
    * array) is a trap twice over: higher-order-function lambdas run
    * interpreted, and when physical projections fuse, a lambda body that
    * indexes into the token array re-evaluates the inlined tokenizer
    * regex once per element — O(tokens^2) per document (measured: 160 s
    * of CPU for 1500 docs). Rows, windows and aggregates never touch
    * either failure mode, and every downstream consumer (inverted index,
    * MinHash sigs, SimHash bit-sums, intersection counts) wants rows
    * anyway. Docs shorter than n tokens yield no full gram and drop out.
    */
  def shingleRows(docs: DataFrame, n: Int): DataFrame =
    shingleOccurrences(docs, n).distinct()

  /** (doc_id, s) with one row per shingle OCCURRENCE (duplicates kept) —
    * the multiset form [[shingleRows]] dedups. Consumers that need
    * within-doc frequencies (repetition signals) read this; set-semantics
    * consumers (Jaccard, MinHash) read the distinct form.
    */
  private def shingleOccurrences(docs: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val gram = concat_ws(" ",
      col("tok") +: (1 until n).map(j => lead(col("tok"), j).over(w)): _*)
    docs
      .select(col("doc_id"),
        posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "tok")))
      // concat_ws skips NULLs, so tail positions would emit short grams:
      // keep only windows where the last token exists.
      .select(col("doc_id"), gram.as("s"),
        lead(col("tok"), n - 1).over(w).isNotNull.as("full"))
      .filter(col("full"))
      .select(col("doc_id"), col("s"))
  }

  /** Benchmark decontamination: training docs sharing at least minHits
    * distinct word-n-gram shingles with ANY eval-suite doc — the standard
    * n-gram-collision test-set-leakage check run before pre-training.
    * Output: (doc_id, n_shared), one row per contaminated training doc.
    *
    * Scale shape (100 TB corpus vs a tiny benchmark suite): the eval
    * shingle set is DISTINCT-ed and broadcast, so the corpus-side probe
    * is a map-side hash join — the 100 TB side is never shuffled by
    * shingle, which also makes hot shingles harmless here (no
    * shingle-keyed reducer exists). One final hash-aggregate keyed by
    * doc_id (a perfectly-distributed key) counts the collisions.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame, n: Int,
      minHits: Int): DataFrame = {
    val evalShingles = shingleRows(evalSet, n).select(col("s")).distinct()
    shingleRows(train, n)
      .join(broadcast(evalShingles), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minHits)
  }

  /** Chunk-level (passage) dedup — the "line-level dedup" of corpus
    * pipelines (CCNet-style), at fixed token granularity since the
    * synthetic docs carry no newlines: documents split into disjoint
    * `chunkTokens`-token windows, each fingerprinted, and every chunk
    * appearing in 2+ documents reported. Catches boilerplate shared
    * across otherwise-distinct pages, which document-level dedup never
    * sees. Incomplete tail chunks drop (deterministic membership).
    *
    * Scale shape: one posexplode + two hash aggregates — first keyed
    * (doc_id, chunk_idx) to rebuild chunk text (8-element order-struct
    * sort per group, no window over the corpus), then keyed by the
    * fingerprint, both map-side combinable; no pair join anywhere.
    */
  def chunkDupes(docs: DataFrame, chunkTokens: Int): DataFrame = {
    val chunks = docs
      .select(col("doc_id"),
        posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("ci", expr(s"pos div $chunkTokens"))
      .groupBy(col("doc_id"), col("ci"))
      .agg(count(lit(1)).as("n"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("chunk"))
      .filter(col("n") === chunkTokens)
    chunks
      .groupBy(md5(col("chunk")).as("chunk_fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("rep_doc_id"))
      .filter(col("n_docs") >= 2)
  }

  /** Graded contamination score — the continuous form of
    * [[decontaminate]]: every train doc's distinct-shingle overlap with
    * the eval set as integer permille (0 = clean, 1000 = fully
    * contained). Pipelines threshold this instead of a binary hit count
    * when deciding drop-vs-downweight. Same scale shape as
    * decontaminate: eval shingles broadcast, corpus side never shuffles
    * by shingle, one doc_id-keyed aggregate; permille by integer floor
    * division (portable, no doubles).
    */
  def contaminationScore(train: DataFrame, evalSet: DataFrame, n: Int): DataFrame = {
    val evalShingles = shingleRows(evalSet, n).select(col("s"))
      .distinct().withColumn("hit", lit(1L))
    shingleRows(train, n)
      .join(broadcast(evalShingles), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .withColumn("overlap_permille",
        expr("(1000 * n_shared) div n_shingles"))
  }

  /** Per-doc repetition signals (the Gopher-style quality filters):
    * total vs distinct n-gram occurrence counts, the duplicate-gram
    * share, and the hottest single gram's share — both shares as integer
    * permille via floor division, so the output is engine-portable
    * (no >15-significant-digit doubles). Docs shorter than n tokens have
    * no gram and drop out, like every shingle consumer.
    *
    * Scale shape: two hash aggregates, keyed (doc_id, s) then doc_id —
    * both keys include doc_id so neither shuffle has a hot key, and both
    * get map-side partial aggregation.
    */
  def repetitionStats(docs: DataFrame, n: Int): DataFrame = {
    val per = shingleOccurrences(docs, n)
      .groupBy(col("doc_id"), col("s"))
      .agg(count(lit(1)).as("cnt"))
    per.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("total_grams"),
        count(lit(1)).as("distinct_grams"),
        max(col("cnt")).as("max_gram_count"))
      .withColumn("dup_permille",
        floor(lit(1000) * (col("total_grams") - col("distinct_grams")) /
          col("total_grams")))
      .withColumn("top_gram_permille",
        floor(lit(1000) * col("max_gram_count") / col("total_grams")))
  }

  /** Per-doc shingle-set sizes (the |A| term of Jaccard). */
  private def shingleSizes(inv: DataFrame): DataFrame =
    inv.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))

  /** Document-frequency ceiling: drop shingles appearing in more than
    * maxDf documents — the standard defense against the hot-shingle skew
    * bomb. One stop-phrase shingle shared by f docs puts f² candidate
    * rows on a single reducer key in any shingle-keyed self-join; a df
    * ceiling bounds every key at maxDf² while barely moving Jaccard
    * (stop-phrases carry no near-dup signal — they're common to
    * EVERYTHING, which is exactly why their df is high).
    *
    * The ceiling defines the shingle universe: dropped shingles are
    * excluded from intersection counts AND set sizes, so Jaccard stays a
    * true set similarity over the filtered space. One count-window
    * shuffle keyed by shingle.
    */
  def dfCeiling(inv: DataFrame, maxDf: Int): DataFrame = {
    val w = Window.partitionBy(col("s"))
    inv.withColumn("_df", count(lit(1)).over(w))
      .filter(col("_df") <= maxDf)
      .drop("_df")
  }

  /** Fractional df ceiling: drop shingles appearing in more than
    * frac * |corpus| documents. An ABSOLUTE cap ([[dfCeiling]]) mirrors
    * easily into oracles but silently changes meaning when the corpus
    * grows — at 10x the data the same cap drops 10x "hotter" shingles
    * relative to corpus size. A stop-phrase is a FRACTION property
    * ("appears in >2% of documents"), so the scale-invariant form
    * computes the cap from the corpus itself: one extra count aggregate,
    * broadcast-joined (a 1-row frame) onto the df window — still fully
    * lazy, no driver-side action.
    */
  def dfCeilingFraction(inv: DataFrame, frac: Double): DataFrame = {
    val n = inv.select(col("doc_id")).agg(
      countDistinct(col("doc_id")).as("_n_docs"))
    val w = Window.partitionBy(col("s"))
    // The cap is computed in DECIMAL, not double: n * frac in doubles
    // rounds up for many exact-looking fractions (100 * 0.07 =
    // 7.000000000000001, ceil -> 8), silently admitting df one above the
    // documented ceiling. frac.toString recovers the decimal the caller
    // wrote, so the product is exact.
    val cap = ceil(col("_n_docs").cast("decimal(20,6)") *
      lit(BigDecimal(frac.toString)))
    inv.crossJoin(broadcast(n))
      .withColumn("_df", count(lit(1)).over(w))
      .filter(col("_df") <= cap)
      .drop("_df", "_n_docs")
  }

  private def applyDf(inv: DataFrame, maxDf: Option[Int]): DataFrame =
    maxDf.map(dfCeiling(inv, _)).getOrElse(inv)

  /** Persist the inverted index for operators that consume it several
    * times (signatures, verify probe side, verify build side, set
    * sizes). Catalyst's ReuseExchange can't deduplicate those subtrees —
    * per-consumer column pruning and aliasing make them structurally
    * different — so without this the corpus is re-scanned and
    * re-shingled once per consumer (7 scans in the measured LSH plan).
    * MEMORY_AND_DISK spills rather than recomputes at scale.
    *
    * Lifecycle: Dataset.persist registers the plan in the session's
    * CacheManager, which holds it until unpersist/clearCache — there is
    * no automatic reclamation (the ContextCleaner only collects
    * unreferenced RDDs, and the CacheManager's reference is strong).
    * Re-invocations canonicalize to the SAME entry, so a session holds
    * at most one cached index per distinct dedup query, not one per
    * call; long-lived sessions cycling over many distinct corpora
    * should call spark.catalog.clearCache() between corpora.
    */
  private def materialized(inv: DataFrame): DataFrame =
    inv.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** MinHash signatures sig0..sig{k-1}: per seed i, the min md5 of
    * "i#shingle" over the doc's shingle set — one hash-aggregate with k
    * min() columns over the shingle rows (map-side partial min, shuffle
    * carries k hex strings per doc). md5 is the portable hash (identical
    * hex in DuckDB); min over lexicographic hex is order-insensitive.
    * The shingle-set size rides in the same aggregate (column `sz`), so
    * the Jaccard-verify stage doesn't re-derive the shingle rows.
    */
  def minhashSigs(inv: DataFrame, k: Int): DataFrame = {
    val sigCols = (0 until k)
      .map(i => min(md5(concat(lit(s"$i#"), col("s")))).as(s"sig$i")) :+
      count(lit(1)).as("sz")
    inv.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** LSH banding: candidate pairs = docs sharing any band hash, verified
    * with exact Jaccard intersection counts over the shingle rows; result
    * pairs with jaccard >= threshold. bands * rowsPerBand signatures.
    *
    * Scale shape: signatures shuffle once on doc_id; banding shuffles
    * (band_idx, band_hash) — the blocking key that keeps the pair space
    * sub-quadratic; verification touches only candidate pairs (cand x
    * |shingles(a)| rows), never the full self-join.
    */
  def minhashLshPairs(docs: DataFrame, n: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double, maxDf: Option[Int] = None): DataFrame = {
    val inv = materialized(applyDf(shingleRows(docs, n), maxDf))
    val sigs = minhashSigs(inv, bands * rowsPerBand)
    val bandCols = (0 until bands).map { b =>
      md5(concat((0 until rowsPerBand).map(r => col(s"sig${b * rowsPerBand + r}")): _*))
    }
    val banded = sigs
      .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
    val l = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("a"))
    val r = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("b"))
    val cand = l.join(r, Seq("band_idx", "band_hash"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
    jaccardFromCounts(interCounts(cand, inv),
      sigs.select(col("doc_id"), col("sz")), threshold)
  }

  /** |A ∩ B| for candidate pairs only: expand each pair by a's shingles,
    * keep those that exist in b (semi join), count per pair — the shared
    * verify stage of every candidate-generating tier (LSH bands, prefix
    * filter). Touches cand × |shingles(a)| rows, never a full self-join.
    */
  private def interCounts(cand: DataFrame, inv: DataFrame): DataFrame =
    cand
      .join(inv.select(col("doc_id").as("a"), col("s")), "a")
      .join(inv.select(col("doc_id").as("b"), col("s")), Seq("b", "s"), "left_semi")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))

  /** Prefix rows for the prefix-filtered Jaccard join (the AllPairs /
    * PPJoin candidate rule, Bayardo et al. WWW'07): order every doc's
    * shingles by a GLOBAL canonical order (df ascending — rarest first —
    * then shingle text) and keep only the first
    * |A| - ceil(t·|A|) + 1 of them. If J(A,B) ≥ t then |A∩B| ≥ ceil(t·|A|)
    * (J ≥ t ⟹ |A∩B| ≥ t·|A∪B| ≥ t·|A|, and the count is an integer), so
    * a pair sharing NO prefix shingle has all its shared shingles among
    * A's last ceil(t·|A|)-1 — too few; prefixes of true pairs must
    * collide. Ordering rarest-first makes the surviving index as cold as
    * possible: the hottest shingles sit at the END of every doc's
    * ordering and mostly fall OUT of the prefix, so the candidate join
    * fans out on rare shingles instead of stop-phrases.
    *
    * The ceiling ceil(t·|A|) is computed in decimal (t recovered via
    * toString), not double — same rounding hazard as
    * [[dfCeilingFraction]].
    */
  private[operators] def prefixRows(inv: DataFrame, threshold: Double): DataFrame =
    prefixRowsBy(inv,
      ceil(col("sz").cast("decimal(20,6)") *
        lit(BigDecimal(threshold.toString))))

  /** Exact-rational prefix rows for callers whose threshold is a true
    * p/q rational: ⌈p·sz/q⌉ = (p·sz + q − 1) div q in pure integer
    * column arithmetic. The double round-trip in [[prefixRows]] can
    * overshoot the real ceiling for ratios whose nearest double rounds
    * HIGH (5/7 → 0.7142857142857143 > 5/7), which silently SHRINKS the
    * prefix and drops qualifying pairs — a correctness leak, not a
    * physical-plan choice, so the rational API never goes through a
    * double at all.
    */
  private[operators] def prefixRowsExact(inv: DataFrame, num: Int,
                                         den: Int): DataFrame = {
    require(num > 0 && den > 0, "threshold must be a positive rational")
    prefixRowsBy(inv, expr(s"(${num}L * sz + ${den - 1}L) div ${den}L"))
  }

  /** Shared body: rank each doc's shingles in the global rarest-first
    * order and keep ranks ≤ sz − ceilOfTSz + 1, where ceilOfTSz is the
    * caller's column formula for ⌈t·sz⌉ over the window-computed `sz`.
    */
  private def prefixRowsBy(inv: DataFrame, ceilOfTSz: Column): DataFrame = {
    val dfreq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val wsz = Window.partitionBy(col("doc_id"))
    inv.join(dfreq, "s")
      .withColumn("sz", count(lit(1)).over(wsz))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= col("sz") - ceilOfTSz + 1)
      .select(col("s"), col("doc_id"), col("sz"))
  }

  /** Exact n-gram Jaccard pairs with PREFIX-FILTERED candidate
    * generation — same output as [[ngramJaccardPairs]] (the filter is
    * lossless), different physical strategy: instead of self-joining the
    * FULL inverted index (every shingle with df f contributes f² pair
    * rows), only each doc's (1-t)·|A|+1 rarest shingles are indexed for
    * candidates. At threshold 0.8 that's 5× fewer index rows, and the
    * joined rows concentrate on LOW-df shingles, so per-key fan-out
    * collapses — the standard similarity-join candidate rule at corpus
    * scale. Verification still reads the full index, so scores are exact.
    */
  def prefixJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                         maxDf: Option[Int] = None): DataFrame = {
    val inv = materialized(applyDf(shingleRows(docs, n), maxDf))
    // persisted: both sides of the candidate self-join consume the
    // prefix rows — without this the df-join + ranking-window chain that
    // builds them runs twice.
    val pre = materialized(prefixRows(inv, threshold))
    // Data-dependent regime guard. The prefix rule helps exactly when
    // the candidate join's fan-out Σ_s df(s)² over the PREFIX index is
    // well below the full index's — the usual case at high thresholds,
    // where the prefix keeps ~(1-t)·|A| rare shingles per doc. But on a
    // near-duplicate-heavy corpus the rule inverts: replication
    // multiplies the df of exactly the rare shingles the prefix keys
    // on (while the full index's fan-out stays bounded by the df
    // ceiling, which DROPS shingles that grow past the cap), so the
    // "pruned" join does more work than the plain one. Both fan-outs
    // are one hash aggregate over an already-persisted frame, so
    // measure instead of guessing; the prefix path must also pay its
    // verification joins against the full index, hence the 2x margin.
    // Either path is lossless (pinned by DedupTest at both regimes),
    // so the choice affects only the physical plan.
    def fanout(ix: DataFrame): Long = {
      val r = ix.groupBy(col("s")).agg(count(lit(1)).as("f"))
        .agg(sum(col("f") * col("f")).as("c")).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val preF = fanout(pre); val invF = fanout(inv)
    val usePrefix = preF * 2 <= invF
    Guard.record("prefixJaccard",
      s"tier=${if (usePrefix) "prefix" else "plain"} preFanout=$preF invFanout=$invF")
    // The guard already materialized `pre` (its fan-out aggregate); if
    // the plain tier wins, that cache is DEAD — nothing downstream
    // reads it — so release it here instead of leaving it resident
    // until the caller's clearCache (library-grade cache scoping).
    if (!usePrefix) { pre.unpersist(); () }
    val inter =
      if (usePrefix) {
        val cand = pre.select(col("s"), col("doc_id").as("a"))
          .join(pre.select(col("s"), col("doc_id").as("b")), Seq("s"))
          .filter(col("a") < col("b"))
          .select(col("a"), col("b"))
          .distinct()
        interCounts(cand, inv)
      } else
        // plain-tier intersection counts straight off the self-join —
        // NOT candidates + re-verification, which would pay the join
        // fan-out twice and make the fallback slower than the tier it
        // falls back to
        inv.select(col("s"), col("doc_id").as("a"))
          .join(inv.select(col("s"), col("doc_id").as("b")), Seq("s"))
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("inter"))
    jaccardFromCounts(inter, shingleSizes(inv), threshold)
  }

  /** Exact n-gram Jaccard pairs via inverted-index self-join — the
    * no-false-negative formulation.
    *
    * Intersection sizes come straight out of the self-join with a
    * groupBy(a,b).count() (each shingle is distinct per doc, so a pair
    * appears once per shared shingle): everything stays in codegen'd
    * joins and hash aggregates, and the shuffle is keyed by shingle —
    * the quantity that actually bounds the pair space. Pass maxDf to cap
    * the per-shingle fan-out ([[dfCeiling]]): without it one stop-phrase
    * shingle in f docs makes f² pair rows on one reducer key.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        maxDf: Option[Int] = None): DataFrame = {
    val inv = materialized(applyDf(shingleRows(docs, n), maxDf))
    val inter = inv.select(col("s"), col("doc_id").as("a"))
      .join(inv.select(col("s"), col("doc_id").as("b")), Seq("s"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    jaccardFromCounts(inter, shingleSizes(inv), threshold)
  }

  /** Rep-doc count up to which [[containmentPairs]]' verify broadcasts
    * its per-doc shingle arrays: at ~1.2 KB of array per doc the
    * broadcast sits near 240 MB at the cap — comfortable on the target
    * executors. Past it (millions of distinct docs at 100 TB) the same
    * joins run as plain shuffled joins.
    */
  private[operators] val ARRAY_VERIFY_MAX_DOCS = 200000

  /** Asymmetric shingle-CONTAINMENT pairs: c(a→b) = |A ∩ B| / |A| — the
    * subset detector Jaccard structurally cannot be. A document fully
    * contained in a much larger one scores jaccard |A|/|B| ≈ 0 but
    * containment 1.0; that is exactly the truncation/excerpt/quote dup
    * class a training-data pipeline must catch (and the asymmetry tells
    * you WHICH side is the fragment).
    *
    * One physical pipeline:
    *  1. replica contraction — docs with identical normalized text
    *     collapse to a min-id representative, weighted by group size k;
    *  2. the shingle key is hashed to xxhash64 only when a one-aggregate
    *     certificate proves the hash injective on this corpus;
    *  3. the df ceiling applies to the WEIGHTED df (bit-for-bit the
    *     uncontracted df), and every doc carries its post-cap size `sz`,
    *     which prunes whole pairs on sizes alone (the `sz` window);
    *  4. candidates pair a's PREFIX — its |A| − ⌈t·|A|⌉ + 1 rarest
    *     shingles, the asymmetric AllPairs rule, since c(a→b) ≥ p/q
    *     forces |A∩B| ≥ ⌈t·|A|⌉ — with the full index, and the PPJoin
    *     positional bound drops candidates that cannot reach ⌈t·|A|⌉;
    *  5. one verify: size(array_intersect) of the two docs' shingle
    *     arrays. The doc-array joins carry a broadcast hint when the
    *     representative count is at most [[ARRAY_VERIFY_MAX_DOCS]], and
    *     are plain shuffled joins otherwise — the only size-dependent
    *     choice, and it moves the physical plan, never the rows.
    *
    * Representative pairs then expand back to member pairs. ORDERED
    * pairs a ≠ b: each unordered candidate yields both directions, scored
    * independently. The threshold p/q is enforced EXACTLY in integers
    * (q·|∩| >= p·|A|) and the score is emitted as floor-permille — no
    * doubles anywhere, so the oracle comparison is engine-exact.
    * minSize drops docs whose shingle set is so small that containment
    * is trivially 1.0 (a two-shingle doc contained anywhere carries no
    * dup signal).
    */
  def containmentPairs(docs: DataFrame, n: Int, thresholdNum: Int,
                       thresholdDen: Int, minSize: Int,
                       maxDf: Option[Int] = None): DataFrame =
    containmentPairsCapped(docs, n, thresholdNum, thresholdDen, minSize,
      maxDf, ARRAY_VERIFY_MAX_DOCS)

  /** [[containmentPairs]] with the verify's broadcast ceiling as a
    * parameter (the test seam: bcastDocsCap = 0 plans the shuffled
    * doc-array joins on any corpus). Results never depend on it.
    */
  private[operators] def containmentPairsCapped(
      docs: DataFrame, n: Int, thresholdNum: Int, thresholdDen: Int,
      minSize: Int, maxDf: Option[Int], bcastDocsCap: Int): DataFrame = {
    // The contraction's intra-group expansion emits containment=1000
    // unconditionally, which matches the uncontracted plan only while
    // inter = sz_a passes inter*den >= sz_a*num, i.e. den >= num. A
    // >100% threshold would admit spurious intra-replica pairs, so the
    // exactness precondition is enforced, not assumed.
    require(thresholdNum <= thresholdDen,
      s"containment threshold must be <= 1 ($thresholdNum/$thresholdDen)")
    // REPLICA CONTRACTION (round 11, the jw_best_match/dedup_levenshtein
    // treatment): docs with identical normalized text have identical
    // shingle sets, so a k-replica group contributes k identical rows to
    // every pair-space term. Collapse each group to its min-id
    // representative BEFORE the pair join and expand after verification:
    // pair work scales with DISTINCT content, never with replication.
    // Exactness is preserved by two invariants: (1) the df ceiling is
    // applied to the WEIGHTED df (each representative counts k), which
    // is bit-for-bit the uncontracted corpus df the oracle computes;
    // (2) every score term (inter, sz_a) is identical across a group's
    // members, so rep-pair scores transfer unchanged, and intra-group
    // ordered pairs are containment 1.0 by definition (subject to the
    // same minSize gate on the post-cap set size). On a deduplicated
    // corpus the contraction is a no-op (k = 1 everywhere).
    val members = materialized(docs
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
      .withColumn("rep", min(col("doc_id")).over(
        Window.partitionBy(col("fp"))))
      .select(col("rep"), col("doc_id")))
    val weights = members.groupBy(col("rep"))
      .agg(count(lit(1)).as("k"))
    val repDocs = docs.join(
      weights.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    // DICTIONARY-HASHED SHINGLE KEY (round 15, the 100x decade probe's
    // #1 finding): every stage below shuffles, sorts or aggregates on
    // the shingle key — the df-cap window, the dfreq aggregate, the
    // global (df, s) prefix order, the candidate join, and the verify
    // arrays — and the raw key is the n-gram TEXT (~25-35 bytes,
    // growing with n) where 8 bytes of xxhash64 carry the same
    // identity. Hashing is adopted only after injectivity on THIS
    // corpus is PROVEN (count(distinct s) == count(distinct hash)): a
    // collision would merge two shingles and corrupt df/intersection
    // counts, so equality of the two distinct-counts — one extra
    // aggregate over the persisted postings — is the exactness
    // certificate, not a probability argument. On collision (expected
    // near 2^32 distinct shingles per the birthday bound) the operator
    // silently keeps the text key: same results, wider shuffles. The
    // prefix-filter and positional-bound lemmas only require SOME
    // global total order shared by all docs, so (df, hash) is as valid
    // a canonical order as (df, text) — candidate sets differ, outputs
    // cannot (DedupTest pins outputs under both key regimes).
    val rawInv = materialized(shingleRows(repDocs, n))
    // Injectivity certificate in ONE aggregate pass (round 16, guide
    // §2.3/§8 — was two countDistincts, which Catalyst plans through an
    // Expand that doubles every posting row through the partial
    // aggregate and pays two exchanges): group by the 64-bit hash and
    // compare min(s) to max(s) per group — the hash is injective on
    // this corpus iff NO hash group holds two distinct shingles, the
    // same certificate (count(distinct s) == count(distinct hash))
    // decided without ever counting. Map-side partial agg reduces each
    // partition to its distinct hashes before the single exchange.
    val collided = rawInv
      .groupBy(xxhash64(col("s")).as("h"))
      .agg((min(col("s")) =!= max(col("s"))).as("c"))
      .agg(max(col("c"))).first()
    val hashKeys = collided.isNullAt(0) || !collided.getBoolean(0)
    val keyedInv =
      if (hashKeys) rawInv.withColumn("s", xxhash64(col("s"))) else rawInv
    val invAll = keyedInv
      .join(weights.select(col("rep").as("doc_id"), col("k")), "doc_id")
    // The cached index carries each doc's post-cap set size: one window
    // at build time buys the SIZE-COMPLEMENTARY filter below.
    val inv = materialized((maxDf match {
      case Some(cap) =>
        val w = Window.partitionBy(col("s"))
        invAll.withColumn("_df", sum(col("k")).over(w))
          .filter(col("_df") <= cap).drop("_df", "k")
      case None => invAll.drop("k")
    }).withColumn("sz",
      count(lit(1)).over(Window.partitionBy(col("doc_id")))))
    // Force the post-cap index into its cache so the pre-cap postings
    // cache (only needed for the injectivity check + this one build)
    // can release NOW instead of riding through the pair joins.
    inv.count()
    rawInv.unpersist()
    // Size-complementary filter, applied map-side right after the
    // shingle join and before anything shuffles on (a,b): a-side docs
    // below minSize and pairs whose b side is too small to ever reach
    // the containment threshold carry no information (inter <= sz_b, so
    // inter·den >= sz_a·num forces sz_b·den >= sz_a·num). Both depend
    // only on pair-constant sizes — whole pairs drop, lossless.
    val szOk = col("a") =!= col("b") &&
      col("_sza") >= minSize &&
      col("_szb") * thresholdDen >= col("_sza") * thresholdNum

    // CANDIDATES (the round-13 prefix rule) — the full-index pair
    // aggregate (52 M keys for 5.9 k qualifying pairs at organic 10x,
    // the measured round-12 dominator) never happens:
    //
    //  1. invR ranks every doc's shingles in the global canonical
    //     order (df asc, s asc — the prefixRowsBy order), so the
    //     prefix is rnk <= sz − ⌈t·sz⌉ + 1 and every shingle carries
    //     its position.
    //  2. The candidate join pairs a's prefix rows with the full
    //     index: Σ df_pre·df rows, never more than a full self-join's
    //     Σ df² (prefix rows ⊂ index rows).
    //  3. The per-pair aggregate keeps kpre = |shared ∩ prefix(a)| and
    //     pbmax = pos_b of the deepest prefix match. POSITIONAL BOUND
    //     (lossless, PPJoin Xiao et al. WWW'08 adapted to asymmetric
    //     containment): shared tokens beyond a's prefix rank after the
    //     deepest prefix match in the global order, hence occupy
    //     positions > pbmax in b, so
    //       inter <= kpre + min(⌈t·sz_a⌉ − 1, sz_b − pbmax)
    //     (sz_a − La = ⌈t·sz_a⌉ − 1). Pairs whose bound misses
    //     ⌈t·sz_a⌉ drop before verification — measured 2.2x fewer
    //     candidates at organic 10x, same qualifying pairs.
    val dfreq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // persisted: the candidate join reads invR on BOTH sides (a's
    // prefix rows and the full index), and AQE stage reuse does not
    // fire across the post-aggregate projection (the round-12
    // finding), so without the cache the dfreq aggregate + rank
    // window run twice. Same caller-clearCache contract as inv.
    val invR = materialized(inv.join(dfreq, "s")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .withColumn("ta", expr(
        s"(${thresholdNum}L * sz + ${thresholdDen - 1}L) div ${thresholdDen}L"))
      .select(col("s"), col("doc_id"), col("sz"), col("rnk"), col("ta")))
    val cand = invR.filter(col("rnk") <= col("sz") - col("ta") + 1)
      .select(col("s"), col("doc_id").as("a"), col("sz").as("_sza"),
        col("ta"))
      .join(invR.select(col("s"), col("doc_id").as("b"),
        col("sz").as("_szb"), col("rnk").as("pb")), Seq("s"))
      .filter(szOk)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("kpre"), max(col("pb")).as("pbmax"),
        first(col("_sza")).as("sz_a"), first(col("_szb")).as("szb"),
        first(col("ta")).as("tA"))
      .filter(col("kpre") +
        least(col("tA") - 1, col("szb") - col("pbmax")) >= col("tA"))
      .select(col("a"), col("b"), col("sz_a"))

    // VERIFY: inter = |A∩B| exactly — inv is distinct per (doc_id, s),
    // so the arrays hold distinct elements and the intersect size IS
    // the intersection count. Each candidate moves as ONE row carrying
    // both docs' arrays, never an expansion by a's postings (the
    // round-15 100x probe: the expansion verify pushed 1.3 B rows
    // through a join probe and an (a,b)-keyed aggregate). Up to the
    // broadcast ceiling the array joins are map-side (zero shuffle);
    // past it they shuffle, with hashed 8-byte keys ~2·nCand·avgSz·8
    // bytes. docsArr is persisted because both joins read it.
    val nRep = weights.count()
    val bcast = nRep <= bcastDocsCap
    Guard.record("containment",
      s"verify=${if (bcast) "arrays" else "arrshuffle"} nRep=$nRep " +
        s"keys=${if (hashKeys) "hashed64" else "text"}")
    val docsArr = materialized(inv.groupBy(col("doc_id"))
      .agg(collect_list(col("s")).as("arr")))
    def arraysOf(side: String): DataFrame = {
      val d = docsArr.select(col("doc_id").as(side),
        col("arr").as(s"arr_$side"))
      if (bcast) broadcast(d) else d
    }
    val repPairs = cand
      .join(arraysOf("a"), "a")
      .join(arraysOf("b"), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("arr_a"), col("arr_b")))
          .cast("long").as("inter"),
        col("sz_a"))
      .filter(col("sz_a") >= minSize)
      .filter(col("inter") * thresholdDen >= col("sz_a") * thresholdNum)
      .select(col("a"), col("b"),
        expr("(1000 * inter) div sz_a").as("containment_permille"))
    // Expand representative pairs back to member pairs. Cross-group:
    // both directions already exist as rep pairs, so two member joins
    // reproduce every (a in G_ra, b in G_rb) ordered pair with the
    // (identical) rep score. Intra-group: all ordered member pairs of a
    // group whose post-cap set size clears minSize score exactly 1000
    // (A = B, so inter = sz_a and the p/q threshold holds for any
    // p <= q). Output size equals the uncontracted plan's by
    // construction — expansion is output-shaped, never pair-join-shaped.
    val cross = repPairs
      .join(members.select(col("rep").as("a"), col("doc_id").as("ma")), "a")
      .join(members.select(col("rep").as("b"), col("doc_id").as("mb")), "b")
      .select(col("ma").as("a"), col("mb").as("b"),
        col("containment_permille"))
    val intra = shingleSizes(inv).filter(col("sz") >= minSize)
      .select(col("doc_id").as("rep"))
      .join(members, "rep")
      .withColumnRenamed("doc_id", "ma")
      .join(members.withColumnRenamed("doc_id", "mb"), "rep")
      .filter(col("ma") =!= col("mb"))
      .select(col("ma").as("a"), col("mb").as("b"),
        lit(1000L).as("containment_permille"))
    cross.unionByName(intra)
  }

  /** jaccard = |∩| / (|A| + |B| - |∩|) from per-pair intersection counts
    * and per-doc set sizes; pairs below threshold are dropped. Counts are
    * exact longs, the division is one double op — deterministic.
    */
  private def jaccardFromCounts(inter: DataFrame, sizes: DataFrame,
                                threshold: Double): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sz_a")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("sz_b")), "b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))

  /** Sparse weighted cosine pairs over shingle tf vectors — the
    * bag-of-words member of the similarity family (Jaccard = set
    * overlap, this = weighted multiset angle, embeddingNearDup = dense
    * angle). Every doc is a sparse vector of per-shingle term
    * frequencies, weighted rare-heavy by the LINEAR rarity weight
    * w(s) = maxDf + 1 - df(s) ∈ [1, maxDf] — a pure per-row function of
    * df, deliberately NOT a vocabulary-wide rank window (which would
    * single-partition the vocab; the round-5 oov_rate lesson).
    *
    * The cosine threshold is enforced EXACTLY in integers: for t =
    * num/den, cos(A,B) ≥ t ⟺ dot ≥ 0 ∧ den²·dot² ≥ num²·‖A‖²·‖B‖²,
    * evaluated in decimal(38,0) — no square roots, no doubles, no
    * portability edge. Output carries (dot, na2, nb2) so callers can
    * re-derive any score downstream.
    *
    * Scale shape: two hash aggregates (tf keyed by (doc,s), df keyed by
    * s), the df ceiling bounds the shingle-keyed self-join fan-out at
    * maxDf² exactly like [[ngramJaccardPairs]], and norms ride a
    * doc_id-keyed aggregate.
    */
  def sparseCosinePairs(docs: DataFrame, n: Int, num: Int, den: Int,
                        maxDf: Int): DataFrame = {
    require(num >= 0 && den > 0 && num <= den, s"need 0 <= $num/$den <= 1")
    val tf = shingleOccurrences(docs, n)
      .groupBy(col("doc_id"), col("s"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val vec = materialized(
      tf.join(dfreq.filter(col("df") <= maxDf), "s")
        .withColumn("tfw", col("tf") * (lit(maxDf + 1) - col("df")))
        .select(col("doc_id"), col("s"), col("tfw")))
    val norms = vec.groupBy(col("doc_id"))
      .agg(sum(col("tfw") * col("tfw")).as("n2"))
    val dots = vec.select(col("s"), col("doc_id").as("a"), col("tfw").as("wa"))
      .join(vec.select(col("s"), col("doc_id").as("b"), col("tfw").as("wb")), Seq("s"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    val d38 = "decimal(38,0)"
    dots
      .join(norms.select(col("doc_id").as("a"), col("n2").as("na2")), "a")
      .join(norms.select(col("doc_id").as("b"), col("n2").as("nb2")), "b")
      .filter(col("dot") >= 0 &&
        lit(den.toLong * den) * col("dot").cast(d38) * col("dot") >=
          lit(num.toLong * num) * col("na2").cast(d38) * col("nb2"))
      .select(col("a"), col("b"), col("dot"), col("na2"), col("nb2"))
  }

  /** (doc_id, simhash): 16-bit SimHash signature over the shingle rows —
    * bit b is the sign of sum over shingles of (2*bit_b(md5(s)) - 1),
    * where bit_b is the lowest bit of the b-th hex digit.
    *
    * One hash-aggregate with 16 conditional sums: map-side partial
    * aggregation, whole-stage codegen, and the shuffle carries 16 longs
    * per doc — the shape that wins at 100 TB too.
    */
  def withSimhash(inv: DataFrame, nBits: Int = 16): DataFrame = {
    val ex = inv.select(col("doc_id"), md5(col("s")).as("m"))
    val bitSums = (0 until nBits).map { b =>
      sum(TextFns.hexVal(substring(col("m"), b + 1, 1)) % 2 * 2 - 1).as(s"bs$b")
    }
    val agg = ex.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val value = (0 until nBits)
      .map(b => when(col(s"bs$b") > 0, lit(1L * (1L << b))).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("doc_id"), value.as("simhash"))
  }

  /** [[withSimhash]] as ONE row-level expression — same signature values
    * (equality pinned in DedupTest), no shuffle, no window: the form a
    * STREAMING gate needs, where the relational tier's per-doc aggregate
    * would turn a row filter into stateful update-mode output.
    *
    * The bit counters fold in a single `aggregate` HOF whose input array
    * maps each distinct shingle through md5 exactly once (one aggregate
    * consuming one transform — nothing indexes the built array, so the
    * projection-fusion re-inline pitfall from SURVEY §8 lesson 1 does
    * not apply). The signature assembles by Horner's rule over the
    * reversed counter array (acc*2 + sign-bit, MSB first) — no
    * per-bit power-of-two table, no shiftleft-by-column.
    *
    * Docs with fewer than n tokens have NO shingles and fold to 0 —
    * callers gating on the signature must branch those to an exact
    * fingerprint instead (see StreamingOps.nearDupGate), or every short
    * doc would collapse into one survivor.
    */
  def rowSimhash(text: Column, n: Int = 3, nBits: Int = 16): Column = {
    val grams = array_distinct(TextFns.shingles(TextFns.tokens(text), n))
    val hashed = transform(grams, g => md5(g))
    val bitsOf = (m: Column) =>
      transform(sequence(lit(1), lit(nBits)),
        b => TextFns.hexVal(m.substr(b.cast("int"), lit(1))) % 2 * 2 - 1)
    val counters = aggregate(hashed,
      array_repeat(lit(0L), nBits),
      (acc, m) => zip_with(acc, bitsOf(m), (x, y) => x + y))
    aggregate(reverse(counters), lit(0L),
      (a, c) => a * 2 + when(c > 0, 1L).otherwise(0L))
  }

  /** Connected components over near-duplicate pairs: every doc in a dup
    * cluster gets the cluster's minimum doc_id as its representative —
    * the "cluster then keep one" step that turns pairwise dedup output
    * into droppable rows.
    *
    * Min-label propagation with POINTER JUMPING: each round every node
    * takes (1) the min label among itself and its neighbors, then (2)
    * its label's own label (path compression — the contraction step that
    * large-star/small-star also exploits). Step 2 roughly doubles the
    * distance a label travels per round, so a component of diameter d
    * converges in O(log d) rounds, not d — the difference between 20 and
    * 1,000,000 rounds on a pathological chain at 100 TB. Each round is
    * two shuffle-joins + one aggregate; the driver sees only the
    * changed-label count.
    *
    * Checkpointing: every round's label table is checkpointed to cut the
    * growing lineage. `checkpointDir = None` uses localCheckpoint —
    * right for local[n], but executor-loss-fragile on a cluster; pass a
    * reliable dir (HDFS/S3) there and the same loop survives executor
    * loss. A passed dir is set on the SparkContext for the duration of
    * the call and the previous checkpoint dir (if any) is restored
    * afterwards, so other jobs' checkpoints are not silently redirected;
    * if no dir was set before, the passed one remains (SparkContext has
    * no unset).
    *
    * Throws IllegalStateException if maxIters rounds don't converge —
    * a partially-propagated labeling is WRONG, never silently returned.
    * With pointer jumping, the default 20 rounds covers diameters far
    * beyond any real dup cluster (~2^20).
    *
    * Input: (a, b) pairs with a < b. Output: (doc_id, rep_doc_id) for
    * every doc that appears in at least one pair.
    */
  def componentsFromPairs(pairs: DataFrame, maxIters: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame = Ckpt.scoped {
    val spark = pairs.sparkSession
    val prevCheckpointDir = spark.sparkContext.getCheckpointDir
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def save(df: DataFrame): DataFrame =
      Ckpt.track(
        if (checkpointDir.isDefined) df.checkpoint(eager = true)
        else df.localCheckpoint(eager = true))
    try {
    // Materialize the edge list once: the iteration below references it
    // every round (neighbor join + convergence check), and without the
    // checkpoint the full upstream pair pipeline (e.g. MinHash LSH)
    // would re-execute per round. Pre-partitioned on v — the per-round
    // neighbor join's key — BEFORE the checkpoint: LogicalRDD preserves
    // the child's output partitioning, so every round's join shuffles
    // only the (small, changing) label table while the (large, frozen)
    // edge table stays put. On a chain-diameter graph that removes the
    // dominant shuffle from every one of the O(log d) rounds.
    val p0raw = pairs.select(col("a"), col("b"))
    // Star-contraction prelude (round 10): one mapPartitions pass runs an
    // in-memory union-find over each PARTITION's edges and replaces them
    // with star edges (node → partition-local component min). Components
    // are preserved — each partition's spanning structure survives as a
    // star, and cross-partition connectivity still flows through shared
    // nodes — but every locally-connected stretch collapses to diameter
    // 1, so the pointer-jumping loop below starts from a graph whose
    // diameter is bounded by the cross-partition hop count, not the
    // data's. Measured at the 10x replica this takes er_clusters' CC from
    // 4 rounds (~7.8 s) to 2 (the fixed-point round plus the sum-equality
    // confirmation round — the loop's floor). The label fixed point (=
    // global per-component minima over the SAME node set: every node of
    // an edge appears in its partition's star, self-stars keep isolated
    // self-loop nodes visible) is unchanged, so output hashes cannot
    // move. Long-keyed graphs only — every caller's ids are BIGINT;
    // other key types skip the prelude rather than risk an
    // ordering-semantics mismatch against the SQL oracles.
    //
    // Either branch is the single materialization of the caller's pair
    // pipeline (LSH, blocking, edit-distance…): the contraction pass
    // reads it exactly once inside its own job, so no separate
    // pre-checkpoint is needed — the edge build below only ever touches
    // the saved (contracted) table.
    def ufPass(df: DataFrame): DataFrame = {
      import spark.implicits._
      df.as[(Long, Long)].mapPartitions { it =>
        // Primitive open-addressed union-find (round 15): the previous
        // java.util.HashMap[Long, Long] autoboxed EVERY get/put, and on
        // a dup-dense corpus this pass streams the full quadratic
        // survivor set (87M edges at the 100x organic corpus) through
        // ~6 boxed map operations each — allocation churn that showed
        // up as multi-GB young-gen pressure and 3-7x run-to-run
        // variance. The primitive map does the identical min-root
        // union-find (same link rule, same path compression, same star
        // output) with zero allocation per edge.
        val uf = new LongUnionFind()
        it.foreach { case (a, b) => uf.union(a, b) }
        uf.stars
      }.toDF("a", "b")
    }
    // THREE contraction passes (round 12): pass 1 runs over the
    // caller's partitioning, so a component whose edges are scattered
    // across partitions survives as several stars whose merging used to
    // cost pointer-jumping rounds. Passes 2–3 rerun the union-find over
    // the star edges REPARTITIONED BY MEMBER NODE: every (root, k) row
    // of one k colocates (each node appears as k in each partition that
    // saw it — as a self-star if it was a local root), so all roots
    // sharing any node in one partition merge locally. A root also
    // reappears as a MEMBER of later partitions' stars, so repeating
    // the by-node pass keeps merging root-of-root chains the previous
    // pass created. Components and node set are preserved for the same
    // reason as pass 1; the shuffles between passes mean each pass
    // executes once (map side) with no extra materialization. Measured
    // on the organic ER graph (1.47M edges): loop rounds 4 → 2 (the
    // floor: fixed point + confirmation), er_clusters 12.9 → 6.1 s.
    val p0 =
      if (p0raw.schema.fields.forall(_.dataType ==
          org.apache.spark.sql.types.LongType))
        save(ufPass(ufPass(ufPass(p0raw).repartition(col("b")))
          .repartition(col("b"))))
      else save(p0raw)
    // Self-loops (u,u) are unioned in so that the per-round neighbor
    // aggregate min(lbl) OVER neighbors∪self IS least(own, neighbor
    // min) directly — the label table is then referenced exactly once
    // per propagation (no separate left join back against itself), so
    // an UNCHECKPOINTED intermediate label table can feed a second
    // propagation in the same job without its subtree re-executing.
    val sym = p0.select(col("a").as("u"), col("b").as("v"))
      .unionByName(p0.select(col("b").as("u"), col("a").as("v")))
    val edges = save(sym
      .unionByName(sym.select(col("u"), col("u").as("v")).distinct())
      .repartition(col("v")))
    Ckpt.release(p0) // superseded: every later plan reads `edges` only
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    var converged = false
    var iter = 0
    // Convergence check WITHOUT a per-round join: every step only ever
    // DECREASES a node's label (least of own + neighbors' labels, then
    // label-of-label, which is <= label), so the label sum is strictly
    // monotone until the fixed point — equal consecutive sums == no node
    // changed. One aggregate over the just-checkpointed table instead of
    // a join against the previous round's labels. The sum is decimal(38)
    // — a long sum can overflow at billions of 64-bit ids, and a wrapped
    // (or ANSI-nulled) sum could fake convergence.
    var prevSum: Option[java.math.BigDecimal] = None
    // One propagate+jump unit over the current label table `cur`,
    // jumping through `through`. Jumps go through a SEPARATE table
    // (the previous checkpointed table, or the previous unit's output)
    // rather than self-joining the propagated frame — a self-join
    // would hash its two sides on different keys (lbl vs node), so
    // ReuseExchange couldn't collapse them and the whole propagated
    // subtree would execute twice. `through` holds every node, its
    // labels only decrease and stay inside the component, so a jumped
    // label is still a valid, monotonically-decreasing component label
    // and the fixed point (labels = component minima) is unchanged.
    //
    // THREE jumps per unit: each extra join adds the through-table's
    // full travel distance again (r_k = (j+1)·r_{k-1} + 1 with j
    // jumps), making one unit a 4x distance contraction for the price
    // of two extra small label-table joins in the same linear dataflow.
    def unit(cur: DataFrame, through: DataFrame): DataFrame = {
      // min over neighbors∪self (edges carry self-loops) = least(own,
      // neighbor min): one reference to `cur`, one linear dataflow
      val propagated = edges
        .join(cur.withColumnRenamed("node", "v2"), col("v") === col("v2"))
        .groupBy(col("u").as("node"))
        .agg(min(col("lbl")).as("lbl"))
      val prev = through
        .select(col("node").as("p_node"), col("lbl").as("p_lbl"))
      (1 to 3).foldLeft(propagated) { (acc, _) =>
        acc.alias("n").join(prev, col("n.lbl") === col("p_node"))
          .select(col("n.node").as("node"), col("p_lbl").as("lbl"))
      }
    }
    while (!converged && iter < maxIters) {
      // TWO units per checkpointed round: the checkpoint
      // materialization and the convergence aggregate are
      // driver-synchronized job waves — the dominant cost on a
      // chain-diameter graph once each unit is one linear dataflow.
      // Two units between checkpoints halve those waves. The second
      // unit's cur is the first unit's (uncheckpointed) output —
      // referenced exactly once, so its subtree executes once inside
      // the same job — while its jumps go through the CHECKPOINTED
      // table (jumping through `once` would re-execute that subtree
      // three more times; through a one-unit-stale map the jump is
      // still valid and still compounds the per-round contraction to
      // ~7x — a diameter-d chain converges in ~log7(d) rounds).
      val once = unit(labels, labels)
      val prevLabels = labels
      labels = save(unit(once, labels)) // cut the growing lineage
      // the new eager checkpoint is self-contained; round N-1's blocks
      // are dead now (round 1's `prevLabels` is lazy — release no-ops)
      Ckpt.release(prevLabels)
      val newSum = labels
        .agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)).as("s"))
        .head().getDecimal(0)
      converged = prevSum.exists(_.compareTo(newSum) == 0)
      prevSum = Some(newSum)
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"componentsFromPairs did not converge after $maxIters rounds; " +
          "a partial labeling would be wrong — raise maxIters")
    Ckpt.release(edges) // returned plan reads only the final labels
    labels.select(col("node").as("doc_id"), col("lbl").as("rep_doc_id"))
    } finally {
      // every checkpoint is eager, so restoring the dir here is safe —
      // no lazy checkpoint of ours can fire after the call returns
      if (checkpointDir.isDefined)
        prevCheckpointDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  /** Multi-source BFS layers over an undirected pair graph: each node's
    * hop distance from its component's representative (the min-id node,
    * per [[componentsFromPairs]]). The per-cluster radius profile this
    * yields is the dup-graph diagnostic CC alone can't give — a
    * chain-shaped cluster (transitive near-dups drifting content) and a
    * star-shaped one (one template, many copies) have identical
    * components but very different layer histograms.
    *
    * Scale shape: classic frontier BFS — per round one shuffle join of
    * the (shrinking) frontier against the checkpointed edge table
    * (pre-partitioned on the join key, so only the frontier moves), one
    * anti-join against visited, rounds = graph diameter (small for dup
    * clusters by construction). Visited is re-checkpointed per round to
    * keep lineage flat. Throws after `maxIters` rounds with a live
    * frontier — a partial layering is wrong, never silently returned.
    *
    * Input: (a, b) pairs with a < b. Output: (doc_id, layer) for every
    * node in the pair graph; representatives are layer 0.
    *
    * `checkpointDir` switches localCheckpoint (fast, but lineage dies
    * with an executor) to reliable checkpointing — same contract as
    * [[componentsFromPairs]]; set it on a real cluster.
    */
  def bfsLayers(pairs: DataFrame, maxIters: Int = 20,
                checkpointDir: Option[String] = None): DataFrame = Ckpt.scoped {
    val spark = pairs.sparkSession
    val prevCheckpointDir = spark.sparkContext.getCheckpointDir
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def save(df: DataFrame): DataFrame =
      Ckpt.track(
        if (checkpointDir.isDefined) df.checkpoint(eager = true)
        else df.localCheckpoint(eager = true))
    try {
    val p0 = save(pairs.select(col("a"), col("b")))
    val edges = save(p0.select(col("a").as("u"), col("b").as("v"))
      .unionByName(p0.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u")))
    val comp = componentsFromPairs(p0, checkpointDir = checkpointDir)
    var visited = save(comp.filter(col("doc_id") === col("rep_doc_id"))
      .select(col("doc_id").as("node"), lit(0L).as("layer")))
    Ckpt.release(p0) // superseded: edges + the initial visited are saved
    var frontier = visited
    var layer = 1
    var done = false
    while (!done && layer <= maxIters) {
      val next = save(edges
        .join(frontier.select(col("node").as("u")), Seq("u"))
        .select(col("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("layer", lit(layer.toLong)))
      val prevFrontier = frontier
      if (next.isEmpty) {
        Ckpt.release(next) // empty terminal frontier: nothing reads it
        done = true
      } else {
        val prevVisited = visited
        visited = save(visited.unionByName(next))
        Ckpt.release(prevVisited) // new visited checkpoint supersedes it
        frontier = next
        layer += 1
      }
      // the previous frontier fed only this round's join; idempotent if
      // it was also the just-released visited (round 1), and must stay
      // when it IS the live visited (first-round-empty graph edge case)
      if (!(prevFrontier eq visited)) Ckpt.release(prevFrontier)
    }
    if (!done)
      throw new IllegalStateException(
        s"bfsLayers frontier still live after $maxIters rounds; " +
          "a partial layering would be wrong — raise maxIters")
    Ckpt.release(edges) // returned plan reads only the final visited
    if (!(frontier eq visited)) Ckpt.release(frontier)
    visited.select(col("node").as("doc_id"), col("layer"))
    } finally {
      // every checkpoint is eager, so restoring the dir here is safe
      if (checkpointDir.isDefined)
        prevCheckpointDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  /** Neighborhood-Jaccard link prediction over an undirected pair
    * graph: for every NON-adjacent pair with at least one common
    * neighbor, the Jaccard of the two neighborhoods as integer
    * permille — the classic "these nodes connect to the same things
    * but not each other" scorer. On a verified dup graph this is the
    * transitivity audit: a union of cliques (exact-replica dups)
    * yields zero rows, and any row it DOES yield is an LSH near-miss
    * worth a verify pass.
    *
    * Scale shape: candidates from the canonical-order two-hop join
    * (shuffle key = the shared endpoint, fan-out bounded by the
    * blocked degree), existing edges leave via an anti-join, degrees
    * ride back as broadcasts, the score is an integer division, and
    * top-k plans TakeOrderedAndProject — no global sort, no floats.
    *
    * Input: (a, b) pairs with a < b. Output: top-k
    * (a, b, common, union_size, jaccard_permille).
    */
  def linkPredictionJaccard(pairs0: DataFrame, topK: Int = 100): DataFrame = {
    val pairs = pairs0.select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val und = pairs.union(pairs.select(col("b"), col("a"))).toDF("u", "v")
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val common = und.as("e1")
      .join(und.as("e2"), col("e1.v") === col("e2.u") &&
        col("e1.u") < col("e2.v"))
      .groupBy(col("e1.u").as("a"), col("e2.v").as("b"))
      .agg(count(lit(1)).as("common"))
    common.join(pairs, Seq("a", "b"), "left_anti")
      .join(broadcast(deg.select(col("u").as("a"), col("d").as("da"))),
        Seq("a"))
      .join(broadcast(deg.select(col("u").as("b"), col("d").as("db"))),
        Seq("b"))
      .select(col("a"), col("b"), col("common"),
        (col("da") + col("db") - col("common")).as("union_size"),
        expr("(1000 * common) div (da + db - common)")
          .as("jaccard_permille"))
      .orderBy(col("jaccard_permille").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** SimHash dedup: group identical signatures (Hamming distance 0). */
  def simhashDedup(docs: DataFrame, n: Int, nBits: Int = 16): DataFrame =
    withSimhash(shingleRows(docs, n), nBits)
      .groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_docs"))

  /** Embedding near-duplicate pairs: blocked pair join + exact quantized
    * cosine >= threshold. `blockKey` bounds the pair space (a label, or an
    * LSH bucket from VectorFns.lshBucket at scale).
    */
  /** Embedding near-duplicate pairs via banded sign-projection LSH —
    * the scale path for [[embeddingNearDup]]: no externally supplied
    * block key, no corpus cap. `nTables` independent hash tables of
    * `nBits` sign-projection bits each; a pair is a candidate iff it
    * collides in AT LEAST ONE table (banded OR-amplification — recall
    * 1-(1-p^b)^L per pair, the same construction as MinHash LSH bands).
    * Optional `probe` additionally expands the LEFT side of each table
    * to all 1-bit-flip buckets (asymmetric multi-probe, the
    * ann_lsh_multiprobe_top3 recipe) for boundary recall at ~(nBits+1)x
    * candidate cost.
    *
    * Scale shape: candidates come only from per-(table,bucket) joins —
    * Σ_t Σ_bucket |bucket|² pairs instead of n²/2 (measured 40x under
    * all-pairs at the declared query's parameters, with zero missed
    * planted duplicates). The pair set is DISTINCT-ed (a pair can
    * collide in several tables) BEFORE vectors are fetched, so exact
    * cosine runs once per candidate; raise `nBits` with log(n) to hold
    * per-bucket occupancy flat at cluster scale.
    */
  def embeddingNearDupLsh(embs: DataFrame, threshold: Double, dims: Int,
                          nTables: Int = 2, nBits: Int = 8,
                          probe: Boolean = false): DataFrame =
    embeddingNearDupLshAt(embs, threshold, dims, nTables, nBits,
      tblOff = nBits, probe = probe)

  /** floor(log2(max(1, n / ref))) extra bits over `base`, capped at
    * `maxBits` — the corpus-adaptive bucket width. Integer-exact
    * (highestOneBit position), so the DuckDB twin
    * `least(base + length(bin(greatest(n // ref, 1))) - 1, maxBits)`
    * computes the identical value and the banding stays mirrored.
    */
  def adaptiveBits(base: Int, n: Long, ref: Long, maxBits: Int): Int = {
    val extra = 63 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, n / ref))
    math.min(base + extra, maxBits)
  }

  /** Corpus-adaptive [[embeddingNearDupLshAt]]: bucket width grows as
    * floor(log2(nReps / refReps)) extra bits over `nBits` (capped at
    * `maxBits`), holding per-bucket occupancy ≈ refReps/2^nBits FLAT at
    * any corpus scale — the round-14 30x probe measured the fixed-width
    * detector at scaling exponent 1.74 (bucket occupancy grows linearly,
    * in-bucket pairs quadratically); with the width tracking log(n) the
    * pair space stays ~linear. The rep count that sizes the width is the
    * SAME count the replica contraction already needs, so the decision
    * costs nothing extra; it is recorded via [[Guard]] (`bits=`).
    * Boundary-recall tradeoff is explicit: pairs AT the cosine threshold
    * lose per-table collision probability with every added bit (the
    * embed_lsh_recall audit measures recall at the width the full corpus
    * actually uses), while exactly-parallel duplicates collide at any
    * width. Holding boundary recall flat instead would mean raising
    * nTables alongside — a cost knob callers own, not a default.
    */
  def embeddingNearDupLshAdaptive(embs: DataFrame, threshold: Double,
                                  dims: Int, nTables: Int, nBits: Int,
                                  refReps: Long, maxBits: Int): DataFrame =
    embeddingNearDupLshAt(embs, threshold, dims, nTables, nBits,
      tblOff = maxBits, probe = false, adaptRef = Some(refReps),
      maxBits = maxBits)

  /** Core of the banded-LSH near-dup detector; `tblOff` spaces each
    * table's projection block (pass maxBits when the effective width is
    * corpus-adaptive so the projection set per table is stable across
    * widths, nBits for the fixed-width legacy layout).
    */
  private[graft] def embeddingNearDupLshAt(
      embs: DataFrame, threshold: Double, dims: Int,
      nTables: Int, nBits: Int, tblOff: Int,
      probe: Boolean = false, adaptRef: Option[Long] = None,
      maxBits: Int = 16): DataFrame = {
    // REPLICA PRE-COLLAPSE (round 11): vectors with identical QUANTIZED
    // arrays are indistinguishable to every downstream term — bucket
    // ids, dot products, norms all read q only — so a k-replica group
    // would put k identical rows in every LSH bucket and k² identical
    // pairs through the verify join. Collapse each q-group to its min-id
    // representative before banding; expand after the cosine filter.
    // Cross-group pairs inherit the rep pair's cosine verbatim (same q,
    // same nrm ⇒ bit-identical double); intra-group pairs emit the SAME
    // formula evaluated on the group's own q (dot(q,q)/(nrm·nrm) — not a
    // literal 1.0, which could differ in the last ulp), gated by the
    // same threshold. The pair SET is exactly the uncontracted plan's:
    // identical q always collides with itself in every table, so intra
    // pairs were always candidates. No-op on a replica-free corpus.
    val base = materialized(
      embs.select(col("vec_id"), VectorFns.quantize(col("embedding")).as("q"))
        .withColumn("rep", min(col("vec_id")).over(
          Window.partitionBy(col("q")))))
    val members = base.select(col("rep"), col("vec_id"))
    val q = materialized(base.filter(col("rep") === col("vec_id"))
      .select(col("vec_id"), col("q"))
      .withColumn("nrm", VectorFns.normQ(col("q"))))
    // Rep count first: it sizes the adaptive bucket width AND decides
    // the vector-fetch strategy below (q is persisted, so the count is
    // one cheap pass that every later stage reuses).
    val nReps = q.count()
    val nBitsEff = adaptRef match {
      case Some(ref) => adaptiveBits(nBits, nReps, ref, maxBits)
      case None      => nBits
    }
    val tables = (0 until nTables).map { t =>
      q.select(col("vec_id"), lit(t).as("tbl"),
        VectorFns.lshBucket(col("q"), nBitsEff, dims,
          offset = t * tblOff).as("bkt"))
    }.reduce(_ unionByName _)
    val right = tables.select(col("tbl"), col("bkt"), col("vec_id").as("b"))
    val left =
      if (!probe) tables.select(col("tbl"), col("bkt"), col("vec_id").as("a"))
      else tables.select(col("vec_id").as("a"), col("tbl"),
        explode(array(col("bkt") +: (0 until nBitsEff).map(k =>
          col("bkt").bitwiseXOR(lit(1L << k))): _*)).as("bkt"))
    // POST-VERIFY DEDUP (round 15, the 100x decade probe): the old plan
    // ran `.distinct()` over the RAW bucket-join pairs before the
    // verify — at the 100x organic corpus that distinct shuffled 143 M
    // rows to remove 14% cross-table duplicates and cost 60 s of the
    // operator's 161 s. Deduping AFTER the cosine gate shuffles only
    // the QUALIFYING pairs (15.8 M there), and the per-pair cosine is
    // bit-identical across a pair's duplicate candidate rows (same q,
    // same nrm), so distinct-on-(a,b,cos) collapses them exactly; the
    // extra verify work on duplicate rows is map-side when the rep
    // table broadcasts (the common regime below). Output set unchanged.
    val cand = left.join(right, Seq("tbl", "bkt"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    val va = q.select(col("vec_id").as("a"), col("q").as("qa"), col("nrm").as("na"))
    val vb = q.select(col("vec_id").as("b"), col("q").as("qb"), col("nrm").as("nb"))
    // Vector-fetch strategy, measured not guessed (the tier-guard
    // pattern): joining candidates against the rep-vector table drags a
    // dims-long array per matched row through BOTH pair-join shuffles —
    // candidate-volume × vector-width bytes (2+ GB at the 10x organic
    // corpus), while the rep table itself is tiny. Budget the decision
    // in BYTES, not rows (round 15 — the row cap at 100k left the 100x
    // corpus's 240k-rep/73 MB table on the shuffle path, dragging
    // 135 GB of arrays through the pair joins for an 83-159 s verify
    // that the broadcast runs map-side): broadcast while the quantized
    // rep table fits 128 MB; past that the shuffle join IS the plan (a
    // billion-vector rep table broadcasts nowhere) and candidates are
    // instead bounded by nBits growing with log(n).
    val bcastBytes = nReps * (dims.toLong * 4 + 64)
    val useBcast = bcastBytes <= (128L << 20)
    val (vaJ, vbJ) =
      if (useBcast) (broadcast(va), broadcast(vb)) else (va, vb)
    Guard.record("embedNearDup",
      s"fetch=${if (useBcast) "broadcast" else "shuffle"} " +
        s"nReps=$nReps bits=$nBitsEff bcastMB=${bcastBytes >> 20}")
    val repPairs = cand.join(vaJ, Seq("a")).join(vbJ, Seq("b"))
      .withColumn("cos", VectorFns.dotQ(col("qa"), col("qb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
      .distinct()
    // Expansion. Cross-group member ids can interleave, so the canonical
    // (min, max) orientation is re-established per member pair; groups
    // are disjoint, so each unordered member pair arises from exactly
    // one rep pair (no duplicates). Intra: all unordered pairs within a
    // group, cosine evaluated by the shared formula on the group's q.
    val cross = repPairs
      .join(members.select(col("rep").as("a"), col("vec_id").as("ma")), "a")
      .join(members.select(col("rep").as("b"), col("vec_id").as("mb")), "b")
      .select(least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"), col("cos"))
    val intra = q
      .withColumn("cos",
        VectorFns.dotQ(col("q"), col("q")) / (col("nrm") * col("nrm")))
      .filter(col("cos") >= threshold)
      .select(col("vec_id").as("rep"), col("cos"))
      .join(members.select(col("rep"), col("vec_id").as("ma")), "rep")
      .join(members.select(col("rep"), col("vec_id").as("mb")), "rep")
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("a"), col("mb").as("b"), col("cos"))
    cross.unionByName(intra)
  }

  def embeddingNearDup(embs: DataFrame, blockKey: Column, threshold: Double): DataFrame = {
    // Norms are computed once per vector before the pair join (n of them),
    // not once per pair (n^2 of them); same doubles, same cosine values.
    val q = embs.select(col("vec_id"), blockKey.as("blk"),
        VectorFns.quantize(col("embedding")).as("q"))
      .withColumn("nrm", VectorFns.normQ(col("q")))
    val l = q.select(col("blk"), col("vec_id").as("a"), col("q").as("qa"), col("nrm").as("na"))
    val r = q.select(col("blk"), col("vec_id").as("b"), col("q").as("qb"), col("nrm").as("nb"))
    l.join(r, Seq("blk"))
      .filter(col("a") < col("b"))
      .withColumn("cos", VectorFns.dotQ(col("qa"), col("qb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }
}
