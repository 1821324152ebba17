package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins [[Dedup.containmentPairs]] against a brute-force in-memory
  * reference on random corpora — with the verify's doc arrays broadcast
  * and shuffled alike, the OUTPUT must equal the definitionally-computed
  * containment pairs, so this test is what makes the broadcast hint a
  * pure physical-plan decision. Corpora are generated from a small
  * vocabulary with deliberate duplication (truncations = the
  * containment class, plus unrelated docs).
  */
class ContainmentPropertyTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      gen(Gen.Parameters.default.withSize(25), Seed(911L + i)))

  /** Mirror of TextFns tokenization + 3-gram shingle sets. */
  private def shingleSet(text: String): Set[String] = {
    val toks = "\\S+".r.findAllIn(text.toLowerCase).toVector
    if (toks.size < 3) Set.empty
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Brute-force containment with the same df ceiling / threshold /
    * minSize contract as the operator.
    */
  private def refContainment(docs: Seq[(Long, String)], maxDf: Int,
      tNum: Int, tDen: Int, minSize: Int): Set[(Long, Long, Long)] = {
    val sets0 = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    val df = sets0.values.flatten.groupBy(identity).view.mapValues(_.size)
    val hot = df.filter(_._2 > maxDf).keys.toSet
    val sets = sets0.view.mapValues(_ -- hot).toMap
    (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a != b && sa.size >= minSize
      inter = (sa & sb).size
      if inter * tDen >= sa.size * tNum && inter > 0
    } yield (a, b, (1000L * inter) / sa.size)).toSet
  }

  private val wordGen = Gen.oneOf(
    (0 until 12).map(i => s"w$i"))

  private val corpusGen: Gen[List[String]] = Gen.listOf(for {
    len <- Gen.choose(3, 14)
    words <- Gen.listOfN(len, wordGen)
  } yield words.mkString(" "))

  test("containmentPairs == brute force on random corpora (incl. truncations)") {
    // 5/7 and 2/3 round HIGH as doubles (0.7142857142857143 > 5/7) — the
    // exact-rational prefix must not shrink the prefix for them; 4/5 is
    // decimal-exact and covers the original contract
    val thresholds = Seq((4, 5), (5, 7), (2, 3))
    for ((texts, i) <- samples(corpusGen, 6).zipWithIndex) {
      // append truncations of the first docs: the excerpt class the
      // operator exists to catch
      val trunc = texts.take(3).filter(_.split(" ").length >= 6)
        .map(t => t.split(" ").take(5).mkString(" "))
      val docs = (texts ++ trunc).zipWithIndex
        .map { case (t, id) => (id.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val (tn, td) = thresholds(i % thresholds.size)
      val want = refContainment(docs, maxDf = 6, tNum = tn, tDen = td,
        minSize = 3)
      // both physical shapes must agree with the definition: the
      // default broadcast array verify, and the shuffled array joins
      // (bcastDocsCap = 0 forces them)
      val shapes = Seq(
        ("bcast-arrays", Dedup.ARRAY_VERIFY_MAX_DOCS),
        ("shuffled-arrays", 0))
      for ((label, cap) <- shapes) {
        val got = Dedup.containmentPairsCapped(df, n = 3,
            thresholdNum = tn, thresholdDen = td, minSize = 3,
            maxDf = Some(6), bcastDocsCap = cap)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        assert(got == want,
          s"sample $i ($label): ${docs.size} docs at $tn/$td")
      }
    }
  }
}
