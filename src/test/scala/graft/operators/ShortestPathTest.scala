package graft.operators

import org.apache.spark.CheckpointDirs.{filesUnder, withCheckpointDir}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ShortestPathTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val edges = Seq(
    (0L, 1L, 10L), (1L, 2L, 10L), (2L, 3L, 10L),
    (0L, 3L, 100L), (1L, 3L, 50L))

  private def run(maxHops: Int): Map[Long, Long] =
    ShortestPath.boundedCheapestPaths(
      edges.toDF("src", "dst", "cost"), source = 0L, maxHops = maxHops)
      .as[(Long, Long)].collect().toMap

  test("hop bound is part of the semantics") {
    assert(run(1) == Map(0L -> 0L, 1L -> 10L, 3L -> 100L))
    assert(run(2) == Map(0L -> 0L, 1L -> 10L, 2L -> 20L, 3L -> 60L))
    assert(run(3) == Map(0L -> 0L, 1L -> 10L, 2L -> 20L, 3L -> 30L))
    // extra hops beyond the diameter change nothing
    assert(run(5) == run(3))
  }

  test("reliable checkpoint dir mode matches local mode") {
    val dir = java.nio.file.Files.createTempDirectory("sp_ckpt").toString
    assert(withCheckpointDir(dir)(run(3)) == run(3))
    assert(filesUnder(dir) > 0, "no reliable checkpoint was written")
  }

  test("unreachable nodes are absent; source costs zero") {
    val disconnected = Seq((0L, 1L, 5L), (7L, 8L, 1L))
    val d = ShortestPath.boundedCheapestPaths(
      disconnected.toDF("src", "dst", "cost"), source = 0L, maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(0L -> 0L, 1L -> 5L))
  }

  test("matches reference Bellman-Ford on random weighted digraphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 12
      val es = (for {
        i <- 0L until n; j <- 0L until n
        if i != j && rnd.nextDouble() < 0.25
      } yield (i, j, (rnd.nextInt(90) + 10).toLong)).toVector
      // reference: n-1 relaxation rounds over the full edge list
      var ref = Map(0L -> 0L)
      for (_ <- 1 until n) {
        val relaxed = es.flatMap { case (u, v, w) =>
          ref.get(u).map(du => v -> (du + w))
        }
        ref = (ref.toSeq ++ relaxed).groupBy(_._1)
          .map { case (v, ds) => v -> ds.map(_._2).min }
      }
      val got = ShortestPath.boundedCheapestPaths(
        es.toDF("src", "dst", "cost"), source = 0L, maxHops = n - 1)
        .as[(Long, Long)].collect().toMap
      assert(got == ref, s"trial $trial")
    }
  }
}
