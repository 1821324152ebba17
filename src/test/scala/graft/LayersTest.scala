package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LabelProp

/** [[Layers.record]] attributes every job of its body to the call site
  * that started it, and sees only the jobs of its own body.
  */
class LayersTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("jobs are attributed to operator and caller call sites; calls are isolated") {
    val raw = Seq((2L, 3L), (2L, 5L), (4L, 3L), (8L, 9L)).toDF("a", "b")
    val (_, first) = try Layers.record(spark) {
      LabelProp.communitiesDistinct(raw, 2)
        .write.format("noop").mode("overwrite").save()
    } finally spark.catalog.clearCache()

    val sites = first.sites.keys
    assert(sites.exists(_.startsWith("count at LabelProp.scala")), sites)
    assert(sites.exists(_.contains("LayersTest.scala")), sites)
    assert(first.sites.values.map(_.jobs).sum == first.total.jobs)
    assert(first.total.jobs > 0 && first.total.tasks > 0)
    assert(first.total.stages > 0 && first.total.executorRunS >= 0)

    val (_, second) = Layers.record(spark) {
      spark.range(5).write.format("noop").mode("overwrite").save()
    }
    assert(second.sites.keys.forall(_.contains("LayersTest.scala")),
      second.sites.keys)
    assert(second.total.jobs > 0 && second.total.jobs < first.total.jobs)
    assert(Layers.record(spark)(())._2.sites.isEmpty)
  }
}
