package graft.operators

import org.apache.spark.CheckpointDirs.{filesUnder, withCheckpointDir}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class KCoreTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hIndex(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    KCore.corenessHIndex(pairs.toDF("a", "b"), rounds)
      .as[(Long, Long)].collect().toMap

  private def corenessOf(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    hIndex(pairs, rounds = 25)

  /** Reference coreness: sequential peeling over an adjacency map — for
    * k = 1, 2, …, delete nodes of degree < k until none is left; a node
    * deleted at level k has coreness k - 1.
    */
  private def peel(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    var adj = pairs.flatMap(p => Seq(p, p.swap))
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }
    val ref = scala.collection.mutable.Map.empty[Long, Long]
    var k = 1L
    while (adj.nonEmpty) {
      var changed = true
      while (changed) {
        val below = adj.filter(_._2.size < k).keySet
        changed = below.nonEmpty
        below.foreach { v => ref(v) = k - 1 }
        adj = (adj -- below).map { case (u, vs) => u -> (vs -- below) }
      }
      adj.keys.foreach(v => ref(v) = k)
      k += 1
    }
    ref.toMap
  }

  test("mixed graph: clique, triangle, chain, pendant") {
    // 4-clique {1,2,3,4} — coreness 3; bridge chain 4-5, 5-6 — 5 and 6
    // peel at level 2 (coreness 1); triangle {7,8,9} — coreness 2;
    // pendant 9-10 — node 10 coreness 1.
    val clique = for {
      i <- 1L to 4L; j <- (i + 1) to 4L
    } yield (i, j)
    val rest = Seq((4L, 5L), (5L, 6L), (7L, 8L), (7L, 9L), (8L, 9L), (9L, 10L))
    val expected = Map(
      1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L,
      7L -> 2L, 8L -> 2L, 9L -> 2L, 10L -> 1L)
    assert(peel(clique ++ rest) == expected)
    assert(corenessOf(clique ++ rest) == expected)
  }

  test("single edge: both endpoints coreness 1") {
    assert(corenessOf(Seq((1L, 2L))) == Map(1L -> 1L, 2L -> 1L))
  }

  test("cascading peel: a chain fully unravels at level 2") {
    // A path graph has an empty 2-core; every node must end at 1.
    val chain = (1L until 6L).map(i => (i, i + 1))
    val result = corenessOf(chain)
    assert(result == (1L to 6L).map(_ -> 1L).toMap)
  }

  test("matches a reference peeling implementation on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 25
      val pairs = (for {
        i <- 0L until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.15
      } yield (i, j)).toVector
      if (pairs.nonEmpty) {
        assert(corenessOf(pairs) == peel(pairs), s"trial $trial")
      }
    }
  }

  test("h-index iteration converges to exact peeling coreness") {
    // Lü et al. 2016: the iterated neighbor H-index equals coreness at
    // its fixpoint, and the sequence is pointwise non-increasing — so
    // at a rounds count past convergence the fixed-round operator must
    // equal the peeling reference. Random graphs, same generator family
    // as the reference test above; plus extra rounds are a no-op.
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 25
      val pairs = (for {
        i <- 0L until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.2
      } yield (i, j)).toVector
      if (pairs.nonEmpty) {
        val h = hIndex(pairs, rounds = 25)
        assert(h == peel(pairs), s"trial $trial")
        assert(hIndex(pairs, rounds = 30) == h, s"trial $trial idempotent tail")
      }
    }
  }

  test("h-index fixed rounds: clique-union dup graph converges by 2") {
    // The kcore_docs regime: near-dup graphs are unions of replica
    // cliques (+ pendants). Convergence depth here is <= 2, well under
    // the query's declared KCORE_ROUNDS=4.
    val clique = for { i <- 1L to 5L; j <- (i + 1) to 5L } yield (i, j)
    val g = clique ++ Seq((5L, 6L), (7L, 8L))
    assert(hIndex(g, rounds = 2) == peel(g))
  }

  test("h-index: reliable checkpoint dir mode matches local mode") {
    val dir = java.nio.file.Files.createTempDirectory("kcore_ckpt").toString
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    def run() = KCore.corenessHIndex(g, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(withCheckpointDir(dir)(run()) == run())
    assert(filesUnder(dir) > 0, "no reliable checkpoint was written")
  }
}
