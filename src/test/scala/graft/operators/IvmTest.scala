package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class IvmTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("maintained join view equals full recompute under random splits") {
    val rnd = new Random(13)
    val facts = (1 to 400).map(i =>
      (i.toLong, (rnd.nextInt(20) + 1).toLong, (rnd.nextInt(900) + 100).toLong))
    val dims = (1L to 20L).map(k => (k, s"g${k % 5}"))
    for (trial <- 1 to 3) {
      // random insert-only split of both sides, including lopsided ones
      val fCut = rnd.nextInt(facts.size + 1)
      val dCut = rnd.nextInt(dims.size + 1)
      val fShuf = rnd.shuffle(facts)
      val dShuf = rnd.shuffle(dims)
      val (f0, df) = fShuf.splitAt(fCut)
      val (d0, dd) = dShuf.splitAt(dCut)
      def fdf(xs: Seq[(Long, Long, Long)]) = xs.toDF("id", "ck", "v")
      def ddf(xs: Seq[(Long, String)]) = xs.toDF("ck", "g")
      val maintained = Ivm.maintainJoinAggSigned(
        fdf(f0), fdf(df).withColumn("sign", lit(1L)), ddf(d0),
        ddf(dd).withColumn("sign", lit(1L)), "ck", Seq("g"), "v")
        .as[(String, Long)].collect().toMap
      val recomputed = fdf(facts).join(ddf(dims), "ck")
        .groupBy("g").agg(sum("v").as("s"))
        .as[(String, Long)].collect().toMap
      assert(maintained == recomputed, s"trial $trial fCut=$fCut dCut=$dCut")
    }
  }

  test("signed maintenance equals recompute under random inserts AND deletes") {
    val rnd = new Random(29)
    val facts = (1 to 300).map(i =>
      (i.toLong, (rnd.nextInt(12) + 1).toLong, (rnd.nextInt(900) + 100).toLong))
    val dims = (1L to 12L).map(k => (k, s"g${k % 4}"))
    for (trial <- 1 to 3) {
      // base = random subset; inserts = the complement; deletes = a
      // random subset OF THE BASE (a retraction must exist in its base)
      val fShuf = rnd.shuffle(facts)
      val (f0, fIns) = fShuf.splitAt(rnd.nextInt(facts.size + 1))
      val fDel = f0.filter(_ => rnd.nextInt(4) == 0)
      val (d0, dIns) = rnd.shuffle(dims).splitAt(rnd.nextInt(dims.size + 1))
      def fdf(xs: Seq[(Long, Long, Long)], sign: Option[Long] = None) = {
        val base = xs.toDF("id", "ck", "v")
        sign.map(s => base.withColumn("sign", lit(s))).getOrElse(base)
      }
      def ddf(xs: Seq[(Long, String)], sign: Option[Long] = None) = {
        val base = xs.toDF("ck", "g")
        sign.map(s => base.withColumn("sign", lit(s))).getOrElse(base)
      }
      val da = fdf(fIns, Some(1L)).unionByName(fdf(fDel, Some(-1L)))
      val maintained = Ivm.maintainJoinAggSigned(
        fdf(f0), da, ddf(d0), ddf(dIns, Some(1L)), "ck", Seq("g"), "v")
        .as[(String, Long)].collect().toMap
      val fPost = facts.diff(fDel)
      val recomputed = fdf(fPost).join(ddf(dims), "ck")
        .groupBy("g").agg(sum("v").as("v"))
        .as[(String, Long)].collect().toMap
      assert(maintained == recomputed, s"trial $trial")
    }
  }

  test("signed maintenance drops a group whose rows all retract") {
    val f = Seq((1L, 1L, 10L), (2L, 2L, 5L)).toDF("id", "ck", "v")
    val d = Seq((1L, "a"), (2L, "b")).toDF("ck", "g")
    // retract the only row of group a; no inserts anywhere
    val da = Seq((1L, 1L, 10L)).toDF("id", "ck", "v")
      .withColumn("sign", lit(-1L))
    val db = d.limit(0).withColumn("sign", lit(1L))
    val m = Ivm.maintainJoinAggSigned(f, da, d, db, "ck", Seq("g"), "v")
      .as[(String, Long)].collect().toMap
    assert(m == Map("b" -> 5L))
  }

  test("empty deltas: maintained view is the base view") {
    val f = Seq((1L, 1L, 10L), (2L, 1L, 5L)).toDF("id", "ck", "v")
    val d = Seq((1L, "a")).toDF("ck", "g")
    val empty_f = f.limit(0)
    val empty_d = d.limit(0)
    val m = Ivm.maintainJoinAggSigned(f, empty_f.withColumn("sign", lit(1L)),
      d, empty_d.withColumn("sign", lit(1L)), "ck", Seq("g"), "v")
      .as[(String, Long)].collect().toMap
    assert(m == Map("a" -> 15L))
  }
}
