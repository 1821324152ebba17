package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LabelPropTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def lpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    LabelProp.communities(edges.toDF("a", "b"), iters)
      .as[(Long, Long)].collect().toMap

  test("two disjoint triangles settle on their min-id labels") {
    val out = lpa(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)), iters = 3)
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("a path graph floods to the min label within diameter rounds") {
    val out = lpa(Seq((1L, 2L), (2L, 3L), (3L, 4L)), iters = 4)
    assert(out.values.toSet == Set(1L))
  }

  test("fixed rounds are deterministic across runs and input order") {
    val edges = Seq((5L, 6L), (6L, 7L), (5L, 7L), (7L, 8L),
      (20L, 21L), (21L, 22L))
    val a = lpa(edges, iters = 2)
    val b = lpa(edges.reverse, iters = 2)
    assert(a == b)
  }

  test("iters must be at least 1") {
    intercept[IllegalArgumentException] {
      LabelProp.communities(Seq((1L, 2L)).toDF("a", "b"), iters = 0)
    }
  }

  test("communitiesDistinct == communities(distinct) on a raw pair list " +
      "with duplicates (no reversed duplicates)") {
    // Bipartite-style orientation (a even, b odd) — the communities_lpa
    // encoding — with heavy duplication, so the fused
    // repartition+dropDuplicates edge build has real work to do.
    val raw = Seq((2L, 3L), (2L, 3L), (2L, 5L), (4L, 3L), (4L, 7L),
      (6L, 7L), (6L, 7L), (6L, 7L), (8L, 9L), (2L, 5L), (4L, 3L))
    for (iters <- 1 to 3) {
      val fused = LabelProp.communitiesDistinct(raw.toDF("a", "b"), iters)
        .as[(Long, Long)].collect().toMap
      val ref = LabelProp.communities(raw.toDF("a", "b").distinct(), iters)
        .as[(Long, Long)].collect().toMap
      assert(fused == ref, s"iters=$iters")
    }
  }

  test("communitiesDistinct handles ids outside the packed-argmax range " +
      "(struct path) identically") {
    val big = 1L << 40
    val raw = Seq((big + 2, big + 3), (big + 2, big + 3), (big + 2, big + 5),
      (big + 4, big + 3), (big + 8, big + 9))
    val fused = LabelProp.communitiesDistinct(raw.toDF("a", "b"), 2)
      .as[(Long, Long)].collect().toMap
    val ref = LabelProp.communities(raw.toDF("a", "b").distinct(), 2)
      .as[(Long, Long)].collect().toMap
    assert(fused == ref)
  }

  test("communitiesDistinct broadcast and shuffle vote regimes agree " +
      "with communities(distinct) (self-vote fold, both argmax paths)") {
    // Star + triangle-ish mix where self-votes DECIDE some nodes (a
    // node whose own label got no edge vote must still be a candidate
    // with count 1), plus an isolated-pair edge. Run the same corpus
    // through the broadcast regime (default budget) and the shuffle
    // fallback (budget 0) and require both to equal the multiset
    // reference on the distinct pair list.
    val raw = Seq((2L, 3L), (2L, 5L), (2L, 7L), (4L, 3L), (4L, 5L),
      (6L, 3L), (8L, 9L), (10L, 11L), (10L, 13L), (12L, 11L))
    val rawBig = raw.map { case (a, b) => (a + (1L << 40), b + (1L << 40)) }
    for ((data, tag) <- Seq((raw, "packed"), (rawBig, "struct"));
         iters <- 1 to 3) {
      val ref = LabelProp.communities(data.toDF("a", "b").distinct(), iters)
        .as[(Long, Long)].collect().toMap
      val bc = LabelProp.communitiesDistinct(data.toDF("a", "b"), iters)
        .as[(Long, Long)].collect().toMap
      assert(bc == ref, s"broadcast regime, $tag, iters=$iters")
      val sh = LabelProp.communitiesDistinctBudget(data.toDF("a", "b"), iters,
          checkpointDir = None, budgetMB = 0)
        .as[(Long, Long)].collect().toMap
      assert(sh == ref, s"shuffle regime, $tag, iters=$iters")
    }
  }

  test("communitiesDistinct iters must be at least 1") {
    intercept[IllegalArgumentException] {
      LabelProp.communitiesDistinct(Seq((1L, 2L)).toDF("a", "b"), iters = 0)
    }
  }

  test("dense cores split across a bridge that reachability would merge") {
    // Two 4-cliques joined by one bridge edge: connected components give
    // ONE component; three LPA rounds keep the two dense cores apart.
    def clique(ids: Seq[Long]) =
      for (i <- ids.indices; j <- i + 1 until ids.size)
        yield (ids(i), ids(j))
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) ++ Seq((4L, 11L))
    val cc = Dedup.componentsFromPairs(edges.toDF("a", "b"))
      .select(col("rep_doc_id")).distinct().count()
    assert(cc == 1)
    val out = lpa(edges, iters = 3)
    assert(Seq(1L, 2L, 3L).forall(out(_) == 1L))
    assert(Seq(12L, 13L, 14L).forall(out(_) == 11L))
    assert(out.values.toSet.size == 2)
  }
}
