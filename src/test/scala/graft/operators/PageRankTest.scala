package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class PageRankTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("symmetric 2-cycle is a fixed point at the start rank") {
    // a<->b, deg 1 each: rank' = (15*S + 85*S) div 100 = S exactly.
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = PageRank.ranks(edges, iters = 4, scale = 1000000L)
      .orderBy("node").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 1000000L), (2L, 1000000L)))
  }

  test("undirected star concentrates rank on the hub, exact integers") {
    // hub 0 <-> leaves 1..4 (both directions). One iteration from S:
    // hub gets (15S + 85*4S) div 100; each leaf (15S + 85*(S div 4)) div 100.
    val leaves = (1L to 4L)
    val edges = (leaves.map(l => (0L, l)) ++ leaves.map(l => (l, 0L)))
      .toDF("src", "dst")
    val s = 1000000L
    val out = PageRank.ranks(edges, iters = 1, scale = s)
      .orderBy("node").as[(Long, Long)].collect().toMap
    val hub = (15 * s + 85 * (4 * s)) / 100
    val leaf = (15 * s + 85 * (s / 4)) / 100
    assert(out(0L) == hub)
    leaves.foreach(l => assert(out(l) == leaf))
    assert(out(0L) > out(1L), "hub must outrank leaves")
  }

  test("source-only nodes keep their teleport share instead of vanishing") {
    // 1 -> 2 <-> 3: node 1 has no in-edges. It must stay in the output
    // at the teleport-only fixed point (15*S div 100), still feeding its
    // out-edge every iteration.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val s = 1000000L
    val out = PageRank.ranks(edges, iters = 3, scale = s)
      .orderBy("node").as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L), "node 1 dropped from the output")
    assert(out(1L) == 15 * s / 100)
    assert(out(2L) > out(1L), "node 2 receives two in-edges' rank")
  }

  test("iteration count is validated") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException](PageRank.ranks(edges, iters = 0))
  }

  test("checkpoint cadence changes no values (8 vs never)") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val cut = PageRank.walk(edges, None, iters = 10, scale = 1000000L,
      checkpointEvery = 3).orderBy("node").as[(Long, Long)].collect().toSeq
    val plain = PageRank.walk(edges, None, iters = 10, scale = 1000000L,
      checkpointEvery = 1000).orderBy("node").as[(Long, Long)].collect().toSeq
    assert(cut == plain)
  }

  test("24 iterations complete with a bounded plan (lineage cut every 8)") {
    // Without the checkpoint the plan nests 24 join+agg levels and
    // analysis cost explodes superlinearly; with the cut this stays
    // seconds. Fixed point of the symmetric cycle pins correctness.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 1L), (3L, 2L), (1L, 3L)).toDF("src", "dst")
    val out = PageRank.ranks(edges, iters = 24, scale = 1000000L)
      .orderBy("node").as[(Long, Long)].collect()
    // symmetric 3-cycle, deg 2: rank' = (15S + 85*(2*(S div 2))) div 100 = S
    assert(out.toSeq == Seq((1L, 1000000L), (2L, 1000000L), (3L, 1000000L)))
  }

  test("rank mass stays bounded by the teleport/damping envelope") {
    // Chain with both directions: 1<->2<->3. Sum of ranks can only
    // shrink from floor-division leakage, never grow past N*scale.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val total = PageRank.ranks(edges, iters = 3)
      .agg(sum("rank")).as[Long].head()
    assert(total <= 3 * 1000000L)
    assert(total > 3 * 1000000L / 2, "floor leakage should stay small")
  }

  test("personalized: rank reaches exactly the i-hop neighborhood of the seeds") {
    // path 1-2-3-4-5 (undirected), seed {1}. After i iterations only
    // nodes within i hops of the seed can hold mass.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val afterTwo = PageRank.personalizedRanks(edges, seeds, iters = 2)
      .filter(col("rank") > 0).orderBy("node").as[(Long, Long)].collect()
    assert(afterTwo.map(_._1).toSet == Set(1L, 2L, 3L),
      s"2 iterations must cover hops <= 2, got ${afterTwo.toSeq}")
    assert(afterTwo.toMap.apply(1L) > afterTwo.toMap.apply(3L),
      "the seed must outrank the frontier")
  }

  test("personalized: seed-only teleport, exact one-hop values on a star") {
    // hub 0 <-> leaves 1..4, seed {0}. One iteration: leaves start at 0
    // and contribute nothing, so hub = (15S + 0) div 100 (teleport
    // only); each leaf receives the hub's spread, (0 + 85*(S div 4))
    // div 100. Both exact integers.
    val leaves = (1L to 4L)
    val edges = (leaves.map(l => (0L, l)) ++ leaves.map(l => (l, 0L)))
      .toDF("src", "dst")
    val s = 1000000L
    val out = PageRank.personalizedRanks(edges, Seq(0L).toDF("node"),
      iters = 1, scale = s)
      .orderBy("node").as[(Long, Long)].collect().toMap
    assert(out(0L) == 15 * s / 100)
    leaves.foreach(l => assert(out(l) == 85 * (s / 4) / 100))
  }

  test("personalized: checkpoint cadence changes no values") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(2L, 4L).toDF("node")
    val cut = PageRank.walk(edges, Some(seeds), iters = 9, scale = 1000000L,
      checkpointEvery = 2).orderBy("node").as[(Long, Long)].collect().toSeq
    val plain = PageRank.walk(edges, Some(seeds), iters = 9,
      scale = 1000000L, checkpointEvery = 1000)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(cut == plain)
  }
}
