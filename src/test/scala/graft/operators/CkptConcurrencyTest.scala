package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The round-15 Ckpt concurrency contract: `releaseAll()` must not
  * free checkpoints belonging to an operator still mid-flight on
  * another thread. Under the old process-global registry the first
  * test fails deterministically (the mid-flight checkpoint's blocks
  * are unpersisted out from under the paused operator); under the
  * scoped registry they survive until the scope exits.
  */
class CkptConcurrencyTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ckptRdd(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd

  test("releaseAll leaves a mid-flight operator's checkpoints alone") {
    val started = new CountDownLatch(1)
    val proceed = new CountDownLatch(1)
    @volatile var midFlight: org.apache.spark.sql.DataFrame = null
    @volatile var opResult = -1L
    val op = new Thread(() => {
      opResult = Ckpt.scoped {
        val df = Ckpt.track(
          spark.range(100).toDF("id").localCheckpoint(eager = true))
        midFlight = df
        started.countDown()
        // paused mid-operator: the checkpoint is live, later rounds
        // would still read it
        assert(proceed.await(30, TimeUnit.SECONDS))
        df.count()
      }
    })
    op.start()
    assert(started.await(30, TimeUnit.SECONDS))
    Ckpt.releaseAll() // concurrent embedder, old contract's failure mode
    assert(ckptRdd(midFlight).getStorageLevel != StorageLevel.NONE,
      "releaseAll freed a checkpoint owned by an open operator scope")
    proceed.countDown()
    op.join(30000)
    assert(opResult === 100L) // the operator read its blocks intact
    // After the scope exits the result belongs to the caller: a later
    // releaseAll (post-consumption) reclaims it deterministically.
    Ckpt.releaseAll()
    assert(ckptRdd(midFlight).getStorageLevel == StorageLevel.NONE,
      "closed-scope checkpoint not reclaimed by releaseAll")
  }

  test("inner-scope results stay protected while the outer scope runs") {
    Ckpt.scoped {
      // an operator composed inside another operator: the inner scope's
      // surviving checkpoint re-homes to the OUTER scope on exit
      val inner = Ckpt.scoped {
        Ckpt.track(
          spark.range(7).toDF("id").localCheckpoint(eager = true))
      }
      Ckpt.releaseAll()
      assert(ckptRdd(inner).getStorageLevel != StorageLevel.NONE,
        "inner result freed while the enclosing operator still runs")
      assert(inner.count() === 7L)
    }
    Ckpt.releaseAll()
  }

  test("two operators race a releaseAll hammer without losing blocks") {
    import org.apache.spark.sql.functions.{col, lit}
    val pairs = spark.range(0, 400)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hammer = new Thread(() => {
      while (!stop.get()) { Ckpt.releaseAll(); Thread.`yield`() }
    })
    @volatile var err: Throwable = null
    // Each embedder wraps its compose-and-consume span in its own
    // scope (the documented protection for results consumed after the
    // operator returns); the operators' internal scopes protect the
    // mid-flight intermediates automatically.
    val ops = Seq(
      new Thread(() => {
        try Ckpt.scoped {
          assert(Dedup.componentsFromPairs(pairs).count() === 401L)
        } catch { case t: Throwable => err = t }
      }),
      new Thread(() => {
        try Ckpt.scoped {
          // 49 of its 50 hops are saved, each released by the next
          val edges = pairs.select(col("a").as("src"), col("b").as("dst"),
            lit(1L).as("cost"))
          assert(ShortestPath.boundedCheapestPaths(edges, source = 0L,
            maxHops = 50).count() === 51L)
        } catch { case t: Throwable => err = t }
      }))
    hammer.start()
    ops.foreach(_.start())
    ops.foreach(_.join(120000))
    stop.set(true)
    hammer.join(30000)
    if (err != null) fail(s"operator failed under concurrent releaseAll: $err")
    Ckpt.releaseAll()
  }
}
