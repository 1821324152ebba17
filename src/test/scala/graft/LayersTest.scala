package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}

import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Guard, LabelProp}

/** [[Layers.record]] attributes every job of its body to the call site
  * that started it, sees only the jobs of its own body, and keeps the
  * body's Guard decisions and normalized plans.
  */
class LayersTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A corpus dir holding only a small `lineitem.parquet`, enough for
    * q1_pricing_summary and communities_lpa.
    */
  lazy val corpus: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-layers").toString
    (1 to 60).map { i =>
      (i % 7 + 1L, i % 5 + 1L, i.toDouble, i * 10.0, (i % 3) / 10.0,
        if (i % 2 == 0) "A" else "R", if (i % 3 == 0) "F" else "O")
    }.toDF("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
      "l_discount", "l_returnflag", "l_linestatus")
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("jobs are attributed to operator and caller call sites; calls are isolated") {
    val raw = Seq((2L, 3L), (2L, 5L), (4L, 3L), (8L, 9L)).toDF("a", "b")
    val (_, first) = try Layers.record(spark) {
      noop(LabelProp.communitiesDistinct(raw, 2))
    } finally spark.catalog.clearCache()

    val sites = first.sites.keys
    assert(sites.exists(_.startsWith("first at LabelProp.scala")), sites)
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
    val empty = Layers.record(spark)(())._2
    assert(empty.sites.isEmpty && empty.guards.isEmpty && empty.executions.isEmpty)
  }

  test("operator checkpoints are attributed to the operator's line, not Ckpt") {
    val chain = (1L to 6L).map(i => (i, i + 1)).toDF("a", "b")
    val (_, rec) = Layers.record(spark) {
      noop(Dedup.componentsFromPairs(chain))
    }
    val sites = rec.sites.keys
    assert(sites.exists(_.startsWith("localCheckpoint at Dedup.scala")), sites)
    assert(!sites.exists(_.contains("Ckpt.scala")), sites)
    assert(rec.sites.values.map(_.jobs).sum == rec.total.jobs)
  }

  test("normalize strips what names the run and keeps the table name") {
    val plan = Seq(
      "AdaptiveSparkPlan (9)",
      "+- ShuffleQueryStage (5), Statistics(sizeInBytes=864.0 B, rowCount=6)",
      "   +- * HashAggregate (3)",
      "*(5) Project [a#12L, b#7]",
      "ShuffleQueryStage 3",
      "Filter exists(q#4, lambdafunction((lambda x_595#12L > 0), lambda x_595#12L, false))",
      "",
      "(1) Scan parquet ",
      "Location: InMemoryFileIndex [file:/data/sf0.01/lineitem.parquet]",
      "",
      "(2) Scan ExistingRDD",
      "Arguments: [u#3L], MapPartitionsRDD[123] at localCheckpoint at Dedup.scala:540, ExistingRDD",
      "",
      "(3) HashAggregate [codegen id : 5]",
      "Arguments: 3",
      "",
      "(4) Exchange",
      "Arguments: hashpartitioning(a#12L, 4), ENSURE_REQUIREMENTS, [plan_id=78]",
      "",
      "(5) ShuffleQueryStage",
      "Output [1]: [a#12L]",
      "Arguments: 3",
      "",
      "(6) OverwriteByExpression",
      "Arguments: org.apache.spark.sql.execution.datasources.noop.NoopTable$@5d3b2a1f",
      "Arguments: graft.operators.Dedup$$$Lambda$4889/0x00007f5ab13fc798@11c68269, obj#7: scala.Tuple2")
      .mkString("\n")
    assert(Layers.normalize(plan) == Seq(
      "AdaptiveSparkPlan (9)",
      "+- ShuffleQueryStage (5)",
      "   +- * HashAggregate (3)",
      "*(N) Project [a#L, b#]",
      "ShuffleQueryStage N",
      "Filter exists(q#, lambdafunction((lambda x_#L > 0), lambda x_#L, false))",
      "",
      "(1) Scan parquet ",
      "Location: InMemoryFileIndex [lineitem.parquet]",
      "",
      "(2) Scan ExistingRDD",
      "Arguments: [u#L], MapPartitionsRDD[N] at localCheckpoint, ExistingRDD",
      "",
      "(3) HashAggregate [codegen id : N]",
      "Arguments: 3",
      "",
      "(4) Exchange",
      "Arguments: hashpartitioning(a#L, 4), ENSURE_REQUIREMENTS, [plan_id=]",
      "",
      "(5) ShuffleQueryStage",
      "Output [1]: [a#L]",
      "Arguments: N",
      "",
      "(6) OverwriteByExpression",
      "Arguments: org.apache.spark.sql.execution.datasources.noop.NoopTable$@",
      "Arguments: graft.operators.Dedup$$$Lambda@, obj#: scala.Tuple2")
      .mkString("\n"))
  }

  test("plan_fp is the same for one query recorded twice and moves with its filter") {
    val (q1, dir) = (SparkEntry.queries("q1_pricing_summary"), corpus)
    def fp(filter: Boolean): String = Layers.record(spark) {
      val df = q1(spark, dir)
      noop(if (filter) df.filter(col("sum_qty") > 100) else df)
    }._2.planFp
    val a = fp(filter = false)
    assert(a.matches("[0-9a-f]{16}"), a)
    assert(fp(filter = false) == a)
    assert(fp(filter = true) != a)
  }

  test("scans: one per parquet leaf, and a cache's build counts once") {
    val dir = corpus
    val (_, q1) = Layers.record(spark) {
      noop(SparkEntry.queries("q1_pricing_summary")(spark, dir))
    }
    assert(q1.scans == Map("lineitem" -> 1))
    assert(q1.executions.map(_.scans) == Seq(Map("lineitem" -> 1)))

    val persisted = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 3).persist()
    val (twice, later) = try (Layers.record(spark) {
      persisted.count()
      persisted.agg(sum(col("l_quantity"))).collect()
    }._2, Layers.record(spark)(persisted.count())._2)
    finally persisted.unpersist()
    assert(twice.executions.size == 2, twice.executions.map(_.site))
    assert(twice.executions.forall(_.plan.contains("InMemoryTableScan")))
    assert(twice.scans == Map("lineitem" -> 1))
    // a cache built before the record opened is read, not scanned
    assert(later.executions.size == 1 && later.scans.isEmpty, later.scans)
  }

  test("communities_lpa's record holds the LPA probe execution with the edge build") {
    val dir = corpus
    val (_, rec) = try Layers.record(spark) {
      noop(SparkEntry.queries("communities_lpa")(spark, dir))
    } finally LocalSession.reset(spark)
    val probe = rec.executions.filter(_.site.startsWith("first at LabelProp.scala"))
    assert(probe.size == 1, rec.executions.map(_.site))
    // the distinct symmetric edge table: a union of the two directions
    // of the lineitem pairs, exchanged once and cached
    assert(Seq("Union", "Exchange", "InMemoryRelation", "lineitem.parquet")
      .forall(probe.head.plan.contains), probe.head.plan)
    assert(probe.head.scans == Map("lineitem" -> 2))
    assert(rec.guards.keySet == Set("lpa"))
  }

  // Guards are per thread: each concurrent record holds its own body's
  // decision, and one taken outside every record is in none. Sites and
  // plans are not per caller yet: each record counts every job and SQL
  // execution of the context while its body runs, both threads' here.
  test("concurrent records each keep their own Guard decisions") {
    val graphs = Seq(Seq((2L, 3L), (2L, 5L), (4L, 3L)), (1L to 9L).map(i => (i, i + 1)))
    val barrier = new CyclicBarrier(graphs.size + 1)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Layers.Record]()
    val threads = graphs.zipWithIndex.map { case (g, i) =>
      val edges = g.toDF("a", "b")
      new Thread(() => {
        val (_, rec) = Layers.record(spark) {
          barrier.await(120, TimeUnit.SECONDS)
          noop(LabelProp.communitiesDistinct(edges, 2))
          barrier.await(120, TimeUnit.SECONDS)
        }
        results.put(i, rec)
      })
    }
    try {
      threads.foreach(_.start())
      barrier.await(120, TimeUnit.SECONDS)
      Guard.record("outside", "any")
      barrier.await(120, TimeUnit.SECONDS)
      threads.foreach(_.join(120000))
    } finally spark.catalog.clearCache()
    graphs.zipWithIndex.foreach { case (g, i) =>
      val rec = results.get(i)
      assert(rec != null, s"thread $i recorded nothing")
      val nV = g.flatMap { case (a, b) => Seq(a, b) }.distinct.size
      assert(rec.guards.keySet == Set("lpa"), rec.guards)
      assert(rec.guards("lpa").contains(s" nV=$nV "), rec.guards)
    }
  }
}
