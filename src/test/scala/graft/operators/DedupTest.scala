package graft.operators

import org.apache.spark.CheckpointDirs.{filesUnder, withCheckpointDir}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // Two near-identical docs (one word changed), one unrelated.
  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (2L, "completely different words about spark shuffles and partition pruning")
  ).toDF("doc_id", "text")

  test("exactDedup groups identical normalized text") {
    val withDup = docs.union(Seq((3L, "The  quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text"))
    val out = Dedup.exactDedup(withDup)
    assert(out.count() == 3)
    val dupRow = out.filter(col("n_dups") === 2).select("rep_doc_id").as[Long].collect()
    assert(dupRow.toSeq == Seq(0L))
  }

  test("dedup_exact_unicode query collapses all fixture spellings into one group") {
    // The declared query plants the four mixed-Unicode-form fixture rows
    // (NFC, NFD twin, zero-width-ridden, pre-folded — negative ids) into
    // the corpus and dedups through the NFC+fold fingerprint: exactly
    // one group must carry all four, with rep = the minimum id (-4).
    val out = graft.SparkEntry.queries("dedup_exact_unicode")(
      spark, "/root/testdata/sf0.001")
    val fix = out.filter(col("rep_doc_id") < 0)
      .select(col("rep_doc_id"), col("n_dups")).as[(Long, Long)].collect()
    assert(fix.toSeq == Seq((-4L, 4L)))
  }

  test("ngramJaccardPairs finds exactly the planted near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L)))
    // 12 shingles each; the changed word breaks 3 -> 9 shared, union 15
    assert(math.abs(pairs.head._3 - 0.6) < 1e-12)
  }

  test("minhashLshPairs candidates+verify find the near-dup, nothing else") {
    val pairs = Dedup.minhashLshPairs(docs, n = 3, bands = 4, rowsPerBand = 2,
      threshold = 0.5).as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L)))
  }

  test("simhashDedup: identical docs share a signature") {
    val twin = docs.union(Seq((3L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text"))
    val out = Dedup.simhashDedup(twin, n = 3)
    val grouped = out.filter(col("n_docs") === 2)
    assert(grouped.count() == 1)
    assert(grouped.select("rep_doc_id").as[Long].head() == 0L)
  }

  test("rowSimhash equals the relational withSimhash signature per doc") {
    val batch = Dedup.withSimhash(Dedup.shingleRows(docs, n = 3))
      .as[(Long, Long)].collect().toMap
    val row = docs
      .select(col("doc_id"), Dedup.rowSimhash(col("text"), n = 3).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(batch.keySet == row.keySet)
    assert(batch == row)
    // and on a doc with no shingles the row form folds to 0
    val short = Seq((9L, "two words")).toDF("doc_id", "text")
      .select(Dedup.rowSimhash(col("text"), n = 3)).as[Long].head()
    assert(short == 0L)
  }

  // One true near-dup pair (0,1) plus seven docs that share nothing but
  // a planted hot stop-phrase shingle "click here now" (df = 7).
  private def hotDocs = (Seq(
    (0L, "u v w x y z q1"),
    (1L, "u v w x y z q2")) ++
    (2L to 8L).map(i => (i, s"click here now d$i"))).toDF("doc_id", "text")

  test("dfCeiling drops only shingles above the df ceiling") {
    val inv = Dedup.shingleRows(hotDocs, n = 3)
    val kept = Dedup.dfCeiling(inv, maxDf = 5)
    val dropped = inv.exceptAll(kept).select("s").distinct().as[String].collect()
    assert(dropped.toSeq == Seq("click here now"))
    // every other shingle row survives untouched
    assert(kept.count() == inv.count() - 7)
  }

  test("dfCeilingFraction scales the cap with corpus size") {
    val inv = Dedup.shingleRows(hotDocs, n = 3)
    // 9 docs; frac 0.6 -> cap ceil(5.4) = 6 < hot shingle's df 7
    val kept = Dedup.dfCeilingFraction(inv, frac = 0.6)
    val dropped = inv.exceptAll(kept).select("s").distinct().as[String].collect()
    assert(dropped.toSeq == Seq("click here now"))
    // frac 0.8 -> cap ceil(7.2) = 8 >= 7: nothing dropped — the SAME
    // fraction over a bigger corpus admits proportionally hotter shingles
    assert(Dedup.dfCeilingFraction(inv, frac = 0.8).count() == inv.count())
  }

  test("dfCeiling kills the hot-shingle pair bomb but keeps the true near-dup") {
    // Without the ceiling the stop-phrase manufactures C(7,2) = 21
    // spurious pairs (plus the true one): the f² skew bomb in miniature.
    val unfiltered = Dedup.ngramJaccardPairs(hotDocs, n = 3, threshold = 0.3)
    assert(unfiltered.count() == 22)
    // With the ceiling: exactly the planted near-dup, its jaccard
    // computed over the filtered shingle universe (4 shared / 6 union).
    val filtered = Dedup.ngramJaccardPairs(hotDocs, n = 3, threshold = 0.3,
      maxDf = Some(5)).as[(Long, Long, Double)].collect()
    assert(filtered.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L)))
    assert(math.abs(filtered.head._3 - 4.0 / 6.0) < 1e-12)
    // Same ceiling wired through the MinHash/LSH path.
    val lsh = Dedup.minhashLshPairs(hotDocs, n = 3, bands = 4, rowsPerBand = 2,
      threshold = 0.3, maxDf = Some(5)).as[(Long, Long, Double)].collect()
    assert(lsh.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L)))
  }

  test("prefixJaccardPairs equals the full inverted-index join (lossless pruning)") {
    // Same pairs, same scores, on both the plain corpus and the hot
    // stop-phrase corpus, at two thresholds — the prefix filter must
    // never lose a pair the full self-join finds.
    for (corpus <- Seq(docs, hotDocs); t <- Seq(0.3, 0.5, 0.8)) {
      val full = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = t)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      val pref = Dedup.prefixJaccardPairs(corpus, n = 3, threshold = t)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      assert(pref == full, s"threshold $t")
    }
  }

  test("prefixJaccardPairs keeps a pair whose Jaccard equals a threshold that rounds high") {
    // 7 and 5 word trigrams sharing 5: Jaccard is exactly 5/7, and the
    // double 5.0 / 7 rounds above 5/7. The verify still admits the pair,
    // so the prefix must keep enough shingles for the candidate join to
    // find it.
    val corpus = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"), (2L, "w3 w4 w5 w6 w7 w8 w9"))
      .toDF("doc_id", "text")
    val t = 5.0 / 7
    val full = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = t)
      .as[(Long, Long, Double)].collect().toSeq
    val pref = Dedup.prefixJaccardPairs(corpus, n = 3, threshold = t)
      .as[(Long, Long, Double)].collect().toSeq
    assert(full == Seq((1L, 2L, t)))
    assert(pref == full)
  }

  test("prefixRows index is strictly smaller and drops the hottest shingles first") {
    val inv = Dedup.shingleRows(hotDocs, n = 3)
    val pre = Dedup.prefixRows(inv, threshold = 0.8)
    // |A| - ceil(0.8|A|) + 1 < |A| whenever |A| >= 2: strictly fewer rows
    assert(pre.count() < inv.count())
    // The planted df=7 stop-phrase orders LAST in every doc (rarest-first
    // puts the hottest shingle at the end), and at t=0.8 the 2-shingle
    // hot docs keep a 1-shingle prefix — the hot key vanishes from the
    // candidate index entirely, before any df ceiling.
    val hotRows = pre.filter(col("s") === "click here now").count()
    assert(hotRows == 0)
  }

  test("sparseCosinePairs: exact integer gate admits the near-dup, rejects the rest") {
    // 9 shared shingles (df=2, weight 19) + 3 unique each (df=1, weight
    // 20): dot = 9·19² = 3249, n2 = 3249 + 3·20² = 4449 each side,
    // cos = 3249/4449 ≈ 0.730 — passes t=0.7, fails t=0.8.
    val pairs = Dedup.sparseCosinePairs(docs, n = 3, num = 7, den = 10,
      maxDf = 20).as[(Long, Long, Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L)))
    val (_, _, dot, na2, nb2) = pairs.head
    assert((dot, na2, nb2) == (3249L, 4449L, 4449L))
    // gate really held: 100·dot² >= 49·na2·nb2 in exact arithmetic
    assert(BigInt(100) * BigInt(dot) * BigInt(dot) >=
      BigInt(49) * BigInt(na2) * BigInt(nb2))
    assert(Dedup.sparseCosinePairs(docs, n = 3, num = 8, den = 10,
      maxDf = 20).count() == 0)
  }

  test("sparseCosinePairs weights repeated rare shingles heavier than tf=1") {
    // doc 10 repeats its text twice -> same shingle SET as doc 11 but
    // doubled tf on the wrap-around grams; cosine vs the single copy
    // stays high (parallel-ish vectors), and dot carries the multiset
    // signal (> set-intersection size).
    val rep = Seq(
      (10L, "alpha beta gamma delta alpha beta gamma delta"),
      (11L, "alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val got = Dedup.sparseCosinePairs(rep, n = 3, num = 8, den = 10, maxDf = 20)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.map(p => (p._1, p._2)).toSeq == Seq((10L, 11L)))
    assert(got.head._3 > 2) // dot uses tf products, not shared-set size
  }

  test("componentsFromPairs labels chains and keeps components separate") {
    // chain 1-2-3 (transitive), separate pair 7-8, isolated pair 10-20
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 20L)).toDF("a", "b")
    val got = Dedup.componentsFromPairs(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L,
      10L -> 10L, 20L -> 10L))
  }

  test("componentsFromPairs converges on a deep chain (diameter > 2)") {
    // path 100-101-...-112: min label must propagate the full diameter
    val pairs = (100L until 112L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.componentsFromPairs(pairs).as[(Long, Long)].collect()
    assert(got.length == 13)
    assert(got.forall(_._2 == 100L))
  }

  test("componentsFromPairs: 150-link chain converges within the default 20 rounds") {
    // Diameter 150 >> 20: plain min-label propagation would need 150
    // rounds; pointer jumping must close it in <= 20 (O(log d)).
    val pairs = (1000L until 1150L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.componentsFromPairs(pairs).as[(Long, Long)].collect()
    assert(got.length == 151)
    assert(got.forall(_._2 == 1000L))
  }

  test("componentsFromPairs: reliable checkpoint dir mode matches local mode") {
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val got = withCheckpointDir(dir) {
      Dedup.componentsFromPairs(pairs).as[(Long, Long)].collect().toMap
    }
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    assert(filesUnder(dir) > 0, "no reliable checkpoint was written")
  }

  test("componentsFromPairs leaves the context's checkpoint dir unchanged") {
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    assert(sc.getCheckpointDir.isEmpty)
    Dedup.componentsFromPairs(pairs).collect()
    assert(sc.getCheckpointDir.isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("cc_keep").toString
    withCheckpointDir(dir) {
      val set = sc.getCheckpointDir
      Dedup.componentsFromPairs(pairs).collect()
      assert(sc.getCheckpointDir == set)
    }
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("componentsFromPairs throws (not silently wrong) when maxIters too low") {
    // Convergence is two equal consecutive label sums — fixed point
    // plus a confirmation round — so ONE round can never confirm and
    // the guard must throw rather than return a possibly-partial
    // labeling. (A 41-link chain at maxIters=2 was the old fixture;
    // the round-12 three-pass star contraction now closes that within
    // the 2-round floor, which is the improvement, not a lost guard.)
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Dedup.componentsFromPairs(pairs, maxIters = 1)
    }
  }

  test("bfsLayers: chain vs star give distinct layer profiles, same components") {
    // chain 1-2-3-4 (layers 0,1,2,3 from rep 1) and star 10-{11,12,13}
    // (rep 10 at 0, all leaves at 1): identical component sizes, the
    // different shapes only the layering distinguishes.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("a", "b")
    val got = Dedup.bfsLayers(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      10L -> 0L, 11L -> 1L, 12L -> 1L, 13L -> 1L))
  }

  test("bfsLayers takes the min-hop path on a cyclic graph") {
    // cycle 1-2-3-4-5-1: node 4 is 2 hops via 5 as well as 3 via 2-3;
    // layer must be the min (2), and the walk must terminate despite
    // the cycle.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L))
      .toDF("a", "b")
    val got = Dedup.bfsLayers(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("bfsLayers: reliable checkpoint dir mode matches local mode") {
    val dir = java.nio.file.Files.createTempDirectory("bfs_ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = withCheckpointDir(dir) {
      Dedup.bfsLayers(pairs).as[(Long, Long)].collect().toMap
    }
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      10L -> 0L, 11L -> 1L))
    assert(filesUnder(dir) > 0, "no reliable checkpoint was written")
  }

  test("bfsLayers throws (not silently partial) when maxIters < diameter") {
    val pairs = (0L until 10L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Dedup.bfsLayers(pairs, maxIters = 3)
    }
  }

  test("linkPredictionJaccard scores open wedges and skips existing edges") {
    // path 1-2-3-4: predicted (1,3) via 2 and (2,4) via 3, both
    // common=1 union=2 -> 500 permille; (1,4) is distance 3 (no common
    // neighbor) and must NOT appear; existing edges must not either.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val got = Dedup.linkPredictionJaccard(pairs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 1L, 2L, 500L), (2L, 4L, 1L, 2L, 500L)))
  }

  test("linkPredictionJaccard is empty on a union of cliques (transitivity audit)") {
    // triangle {1,2,3} + edge {7,8}: every common-neighbor pair is
    // already adjacent, so a transitively-closed dup graph predicts
    // nothing — the property the corpus query leans on.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    assert(Dedup.linkPredictionJaccard(pairs).isEmpty)
  }

  test("linkPredictionJaccard ranks the tighter neighborhood overlap first") {
    // star core 10-{11,12,13} plus chain 11-12? no — use two wedges of
    // different sharpness: hub 20 links {21,22}, and hub 30 links
    // {31,32,33}. (21,22): common 1, union 2 -> 500. (31,32),(31,33),
    // (32,33): common 1, union 2 -> 500 as well BUT their hubs' degree
    // is 3, so union = d(31)+d(32)-1 = 1+1-1... degrees are leaf
    // degrees (1 each): union 1, score 1000. Leaf pairs of ANY star
    // score 1000; sharpen 20's wedge by giving 21 an extra neighbor 40,
    // diluting (21,22) to union 2 -> 500, ranked after the 30-star's
    // 1000s.
    val pairs = Seq((20L, 21L), (20L, 22L), (21L, 40L),
      (30L, 31L), (30L, 32L), (30L, 33L)).toDF("a", "b")
    val got = Dedup.linkPredictionJaccard(pairs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.take(3).map(_._5).forall(_ == 1000L))
    assert(got.take(3).map(t => (t._1, t._2)).toSet ==
      Set((31L, 32L), (31L, 33L), (32L, 33L)))
    assert(got.exists(t => (t._1, t._2) == (21L, 22L) && t._5 == 500L))
    // 40's wedge partners: (20,40) via 21 — common 1, union d(20)+d(40)-1=2
    assert(got.exists(t => (t._1, t._2) == (20L, 40L) && t._5 == 500L))
  }

  test("dfCeilingFraction cap is exact decimal, not double-rounded (100 x 0.07 = 7, not 8)") {
    // 100 * 0.07 = 7.000000000000001 in doubles -> ceil 8 would keep the
    // df=8 shingle the documented ceiling (7) requires dropping.
    val inv = ((0 until 100).map(i => (i.toLong, s"u$i")) ++
      (0 until 8).map(i => (i.toLong, "hot"))).toDF("doc_id", "s")
    val kept = Dedup.dfCeilingFraction(inv, 0.07)
    assert(kept.filter(col("s") === "hot").count() == 0)
    assert(kept.count() == 100)
  }

  test("decontaminate flags only train docs sharing >= minHits eval shingles") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares 2 grams with eval
      (2L, "alpha beta gamma unrelated tail words"), // shares 1 gram
      (3L, "nothing in common with the benchmark")
    ).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, "alpha beta gamma delta epsilon prefix")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, evalSet, n = 3, minHits = 2)
      .as[(Long, Long)].collect().toSeq.sorted
    // doc 1 shares "alpha beta gamma", "beta gamma delta", "gamma delta
    // epsilon" (3 >= 2); doc 2 only "alpha beta gamma" (1 < 2).
    assert(out == Seq((1L, 3L)))
  }

  test("repetitionStats measures duplicate and hottest gram shares") {
    val d = Seq(
      (0L, "a b a b a b a b"), // 6 3-grams: "a b a" x3, "b a b" x3
      (1L, "p q r s t u"),     // 4 distinct 3-grams, no repetition
      (2L, "x y")              // shorter than n: drops out
    ).toDF("doc_id", "text")
    val rows = Dedup.repetitionStats(d, n = 3)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows == Seq(
      // total 6, distinct 2, max 3 -> dup 666, top 500
      (0L, 6L, 2L, 3L, 666L, 500L),
      (1L, 4L, 4L, 1L, 0L, 250L)))
  }

  test("embeddingNearDup finds the planted high-cosine pair within block") {
    val embs = Seq(
      (0L, Seq.tabulate(8)(i => 0.1f * (i + 1)), 1),
      (1L, Seq.tabulate(8)(i => 0.1001f * (i + 1)), 1), // ~parallel to 0
      (2L, Seq.tabulate(8)(i => if (i % 2 == 0) 0.5f else -0.5f), 1),
      (3L, Seq.tabulate(8)(i => 0.1f * (i + 1)), 2)     // same dir, other block
    ).toDF("vec_id", "embedding", "label")
    val out = Dedup.embeddingNearDup(embs, col("label"), 0.99)
      .as[(Long, Long, Double)].collect()
    assert(out.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L)))
    assert(out.head._3 > 0.999)
  }

  test("embeddingNearDupLsh catches the cross-block pair label blocking misses") {
    val embs = Seq(
      (0L, Seq.tabulate(8)(i => 0.1f * (i + 1)), 1),
      (1L, Seq.tabulate(8)(i => 0.1001f * (i + 1)), 1), // ~parallel to 0
      (2L, Seq.tabulate(8)(i => if (i % 2 == 0) 0.5f else -0.5f), 1),
      (3L, Seq.tabulate(8)(i => 0.1f * (i + 1)), 2)     // same dir, other label
    ).toDF("vec_id", "embedding", "label")
    val lsh = Dedup.embeddingNearDupLsh(embs, threshold = 0.99, dims = 8,
        nTables = 2, nBits = 4, tblOff = 4)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    // (0,3) straddles the label boundary: invisible to label blocking,
    // found by LSH (parallel vectors share every sign projection).
    assert(lsh == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("embeddingNearDupLsh pairs ⊇ label-blocked pairs on testdata (declared regime)") {
    // The declared query's corpus: full sf0.001 embeddings + scaled
    // copies of every 5th vector (cosine-preserving, so genuine
    // near-dups), threshold 0.95, 2 tables x 8 bits.
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))
    val corpus = base.unionByName(
      base.filter(col("vec_id") % 5 === 0)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
        .withColumn("embedding", transform(col("embedding"), x => x * lit(0.9))))
    val lsh = Dedup.embeddingNearDupLsh(corpus, threshold = 0.95, dims = 64,
        nTables = 2, nBits = 8, tblOff = 8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val labelBlocked = Dedup.embeddingNearDup(corpus, col("label"), 0.95)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(labelBlocked.subsetOf(lsh),
      s"label-blocked pairs missed by LSH: ${labelBlocked -- lsh}")
    // And every planted copy pair is found (zero misses, as measured).
    val planted = base.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id")).as[Long].collect()
      .map(id => (id, id + 1000000L)).toSet
    assert(planted.subsetOf(lsh), s"planted pairs missed: ${planted -- lsh}")
  }

  test("embeddingNearDupLsh multi-probe candidates are a superset of exact-bucket") {
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val exact = Dedup.embeddingNearDupLsh(base, threshold = 0.45, dims = 64,
        nTables = 2, nBits = 8, tblOff = 8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val probed = Dedup.embeddingNearDupLsh(base, threshold = 0.45, dims = 64,
        nTables = 2, nBits = 8, tblOff = 8, probe = true)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(exact.subsetOf(probed),
      s"probe lost pairs: ${exact -- probed}")
  }

  test("embeddingNearDupLsh replica pre-collapse equals the uncontracted plan") {
    // A replica-heavy corpus (each vector duplicated 3x with fresh ids,
    // interleaved id ranges so (min,max) orientation is exercised): the
    // collapsed implementation must emit the exact pair set AND the
    // bit-identical cosines of the uncontracted plan below (the old
    // implementation, kept inline as the reference).
    import graft.functions.VectorFns
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .limit(300)
    val corpus = base
      .unionByName(base.filter(col("vec_id") % 3 === 0)
        .withColumn("vec_id", col("vec_id") * 2 + 100000L))
      .unionByName(base.filter(col("vec_id") % 3 === 0)
        .withColumn("vec_id", col("vec_id") * 2 + 50001L))
    def uncontracted(embs: org.apache.spark.sql.DataFrame, threshold: Double,
                     dims: Int, nTables: Int, nBits: Int) = {
      val q = embs.select(col("vec_id"), VectorFns.quantize(col("embedding")).as("q"))
        .withColumn("nrm", VectorFns.normQ(col("q")))
        .persist()
      val tables = (0 until nTables).map { t =>
        q.select(col("vec_id"), lit(t).as("tbl"),
          VectorFns.lshBucket(col("q"), nBits, dims, offset = t * nBits).as("bkt"))
      }.reduce(_ unionByName _)
      val cand = tables.select(col("tbl"), col("bkt"), col("vec_id").as("a"))
        .join(tables.select(col("tbl"), col("bkt"), col("vec_id").as("b")),
          Seq("tbl", "bkt"))
        .filter(col("a") < col("b")).select(col("a"), col("b")).distinct()
      cand
        .join(q.select(col("vec_id").as("a"), col("q").as("qa"), col("nrm").as("na")), Seq("a"))
        .join(q.select(col("vec_id").as("b"), col("q").as("qb"), col("nrm").as("nb")), Seq("b"))
        .withColumn("cos", VectorFns.dotQ(col("qa"), col("qb")) / (col("na") * col("nb")))
        .filter(col("cos") >= threshold)
        .select(col("a"), col("b"), col("cos"))
    }
    val got = Dedup.embeddingNearDupLsh(corpus, threshold = 0.95, dims = 64,
      nTables = 2, nBits = 8, tblOff = 8).as[(Long, Long, Double)].collect().toSeq.sorted
    val want = uncontracted(corpus, threshold = 0.95, dims = 64,
      nTables = 2, nBits = 8).as[(Long, Long, Double)].collect().toSeq.sorted
    assert(want.nonEmpty && want.exists(_._3 < 1.0)) // non-vacuous: replicas AND near-dups
    assert(got == want)
    spark.catalog.clearCache()
  }

  test("containmentPairs replica contraction equals the uncontracted plan (randomized)") {
    // Random corpora with exact replicas, fragments, near-misses and
    // noise, across several (threshold, minSize, cap) settings — the
    // contraction (collapse identical-normText groups, weighted df cap,
    // intra-group 1000s) must reproduce the uncontracted inverted-index
    // self-join EXACTLY. The fixed-corpus oracle pins one regime; this
    // pins the corners (groups straddling the cap, fragments of
    // replicated docs, minSize at the group boundary).
    def uncontracted(d: org.apache.spark.sql.DataFrame, n: Int, num: Int,
                     den: Int, minSize: Int, maxDf: Int) = {
      val inv0 = Dedup.shingleRows(d, n)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
      val inv = inv0.withColumn("_df", count(lit(1)).over(w))
        .filter(col("_df") <= maxDf).drop("_df").persist()
      val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      inv.select(col("s"), col("doc_id").as("a"))
        .join(inv.select(col("s"), col("doc_id").as("b")), Seq("s"))
        .filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("a"), col("sz").as("sz_a")), "a")
        .filter(col("sz_a") >= minSize)
        .filter(col("inter") * den >= col("sz_a") * num)
        .select(col("a"), col("b"),
          expr("(1000 * inter) div sz_a").as("containment_permille"))
    }
    val vocab = ('a' to 't').map(_.toString)
    for (seed <- Seq(3, 17)) {
      val rnd = new scala.util.Random(seed)
      def doc(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val bases = Seq.fill(12)(doc(8 + rnd.nextInt(12)))
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      var id = 0L
      bases.foreach { b =>
        val k = 1 + rnd.nextInt(4) // replica group size 1..4
        (0 until k).foreach { _ => rows += ((id, b)); id += 1 }
        if (rnd.nextBoolean()) { // a fragment of this base
          rows += ((id, b.split(" ").take(5 + rnd.nextInt(3)).mkString(" "))); id += 1
        }
      }
      val d = rows.toSeq.toDF("doc_id", "text")
      for ((num, den, minSize, cap) <- Seq((4, 5, 5, 100), (2, 3, 3, 6), (1, 1, 4, 4))) {
        val got = Dedup.containmentPairs(d, n = 3, thresholdNum = num,
          thresholdDen = den, minSize = minSize, maxDf = Some(cap))
          .as[(Long, Long, Long)].collect().toSeq.sorted
        val want = uncontracted(d, 3, num, den, minSize, cap)
          .as[(Long, Long, Long)].collect().toSeq.sorted
        assert(want.nonEmpty, s"vacuous case seed=$seed t=$num/$den")
        assert(got == want, s"seed=$seed t=$num/$den minSize=$minSize cap=$cap")
        spark.catalog.clearCache()
      }
    }
  }

  test("containmentPairs flags the fragment Jaccard is blind to, asymmetrically") {
    // doc 10 is a verbatim excerpt of doc 11 (first 8 of 20 tokens):
    // containment(10->11) = 1.0 while jaccard ~ 6/18 — the class the
    // operator exists for. The reverse direction must NOT fire at 4/5.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val frag = base.split(" ").take(8).mkString(" ")
    val d = Seq((10L, frag), (11L, base), (12L, "unrelated words entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, n = 3, thresholdNum = 4,
      thresholdDen = 5, minSize = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((10L, 11L, 1000L)), out.toString)
    // and the symmetric Jaccard tier at 0.5 sees nothing here
    val jac = Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(jac.isEmpty, jac.mkString(","))
  }
}
