package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Ckpt.iterate]]: the save cadence, the release of superseded
  * saves, the convergence test and the round cap.
  */
class CkptIterateTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def saved(df: DataFrame): Option[LogicalRDD] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr)
      case _ => None
    }

  /** Runs `iterate` over `x + 1` from 0..4, recording each state that
    * `step` received as a save, with the round that saved it.
    */
  private def plusOne(maxRounds: Int, every: Int,
      done: Option[(DataFrame, Int) => Boolean] = None) = {
    val saves = scala.collection.mutable.ArrayBuffer.empty[(Int, LogicalRDD)]
    val out = Ckpt.scoped {
      Ckpt.iterate(spark.range(5).toDF("x"), maxRounds, every,
          name = "plusOne", done = done) { (s, r) =>
        saved(s).foreach(lr => saves += ((r - 1, lr)))
        s.select((col("x") + 1).as("x"))
      }
    }
    (out, saves.toSeq)
  }

  private def values(df: DataFrame): Seq[Long] =
    df.as[Long].collect().toSeq.sorted

  test("a fixed run saves every `every` rounds and leaves the last lazy") {
    val (out, saves) = plusOne(maxRounds = 10, every = 3)
    assert(saves.map(_._1) == Seq(3, 6, 9))
    assert(saved(out).isEmpty, "the last round was saved")
    assert(values(out) == (10L to 14L))
    Ckpt.releaseAll()
  }

  test("each superseded save is unpersisted; the returned state still reads") {
    val (out, saves) = plusOne(maxRounds = 10, every = 3)
    val (superseded, live) = saves.partition(_._1 < 9)
    assert(superseded.forall(_._2.rdd.getStorageLevel == StorageLevel.NONE))
    assert(live.map(_._1) == Seq(9))
    assert(live.head._2.rdd.getStorageLevel != StorageLevel.NONE,
      "the save the returned state reads was released")
    assert(values(out) == (10L to 14L))

    // a converging run returns its last save, and only that one is kept
    val (conv, convSaves) = plusOne(maxRounds = 10, every = 1,
      done = Some((_, r) => r == 4))
    assert(convSaves.map(_._1) == Seq(1, 2, 3))
    assert(convSaves.forall(_._2.rdd.getStorageLevel == StorageLevel.NONE))
    val last = saved(conv).getOrElse(fail("a converged run returned a lazy state"))
    assert(last.rdd.getStorageLevel != StorageLevel.NONE)
    assert(values(conv) == (4L to 8L))
    Ckpt.releaseAll()
  }

  test("a done test that never fires throws at the cap, naming the operator") {
    var tested = 0
    val e = intercept[IllegalStateException] {
      plusOne(maxRounds = 4, every = 1,
        done = Some { (_, _) => tested += 1; false })
    }
    assert(tested == 4)
    assert(e.getMessage.contains("plusOne") && e.getMessage.contains("4 rounds"),
      e.getMessage)
    Ckpt.releaseAll()
  }
}
