package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Golden end-to-end test of the reference's sync semantics
  * (SURVEY §3.3, §5 item 5): ERP truth vs mirror → updates → FK-ordered
  * sink → report, with exact expected row sets.
  */
class SyncPipelineTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("end-to-end sync: missing rows, enrollment diff, FK order, report") {
    // ERP truth: two faculty, two courses, three enrollments.
    val faculty = Seq((1L, "prof.a"), (2L, "prof.b")).toDF("id_num", "login_id")
    val courses = Seq(("c1", "Intro"), ("c2", "Algo")).toDF("crs_cde", "title")
    val enrTruth = Seq(("c1", 10L), ("c1", 11L), ("c2", 10L))
      .toDF("crs_cde", "id_num")
    // Mirror: prof.a and c1 already exist; enrollment (c2,10) was dropped
    // in truth's past (mirror still has it), (c1,11) is new.
    val facMirror = Seq((1L, "prof.a")).toDF("id_num", "login_id")
    val crsMirror = Seq(("c1", "Intro")).toDF("crs_cde", "title")
    val enrMirror = Seq(("c1", 10L), ("c2", 99L)).toDF("crs_cde", "id_num")

    val entities = Seq(
      SyncPipeline.Entity("faculty_users", faculty, facMirror, Seq("id_num")),
      SyncPipeline.Entity("courses", courses, crsMirror, Seq("crs_cde")),
      SyncPipeline.Entity("daily_enrollment", enrTruth, enrMirror,
        Seq("crs_cde", "id_num"), symmetric = true))

    val sunk = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    val (order, report, _) = SyncPipeline.runObserved(entities, SyncSink.FK_ORDER) {
      (name, df) => sunk(name) = df.collect().map(_.toString).sorted.toSeq
    }

    // K3: strict FK order — users before courses before enrollments.
    assert(order == Seq("faculty_users", "courses", "daily_enrollment"))
    assert(sunk.keys.toSeq == order)

    // J2: missing faculty = prof.b only.
    assert(sunk("faculty_users") == Seq("[2,prof.b]"))
    // J4: missing course = c2 only.
    assert(sunk("courses") == Seq("[c2,Algo]"))
    // J6: adds are status=active, drops status=deleted.
    assert(sunk("daily_enrollment").toSet == Set(
      "[c1,11,active]", "[c2,10,active]", "[c2,99,deleted]"))

    // K4/A3: report counts per dataset and status.
    val rep = report.as[(String, String, Long)].collect().toSet
    assert(rep == Set(
      ("faculty_users", "created", 1L),
      ("courses", "created", 1L),
      ("daily_enrollment", "active", 2L),
      ("daily_enrollment", "deleted", 1L)))
  }

  test("runObserved collects per-entity row metrics during the sink write, no re-scan") {
    val faculty = Seq((1L, "prof.a"), (2L, "prof.b")).toDF("id_num", "login_id")
    val facMirror = Seq((1L, "prof.a")).toDF("id_num", "login_id")
    val courses = Seq(("c1", "Intro"), ("c2", "Algo")).toDF("crs_cde", "title")
    val crsMirror = spark.emptyDataset[(String, String)]
      .toDF("crs_cde", "title")
    val entities = Seq(
      SyncPipeline.Entity("faculty_users", faculty, facMirror, Seq("id_num")),
      SyncPipeline.Entity("courses", courses, crsMirror, Seq("crs_cde")))

    val (sunk, _, metrics) =
      SyncPipeline.runObserved(entities, SyncSink.FK_ORDER) { (_, df) =>
        df.collect(); ()
      }
    assert(sunk == Seq("faculty_users", "courses"))
    assert(metrics("faculty_users")("n_rows") == 1L)
    assert(metrics("courses")("n_rows") == 2L)
    assert(metrics("faculty_users")("n_null_key") == 0L)
    assert(metrics("courses")("n_null_key") == 0L)
  }

  test("all seven reference datasets flow through the FK-ordered sink") {
    // One entity per name in the reference's update_queries map
    // (reference src/jenzabar.py:51-59); the sink loop must emit them in
    // exactly SyncSink.FK_ORDER regardless of input order.
    def pair(k: Long) = (Seq((k, "x"), (k + 1, "y")).toDF("id_num", "v"),
      Seq((k, "x")).toDF("id_num", "v"))
    val entities = SyncSink.FK_ORDER.reverse.zipWithIndex.map { case (name, i) =>
      val (truth, mirror) = pair(10L * i)
      SyncPipeline.Entity(name, truth, mirror, Seq("id_num"),
        symmetric = name == "daily_enrollment")
    }
    val sunk = scala.collection.mutable.ArrayBuffer.empty[String]
    val (order, report, _) = SyncPipeline.runObserved(entities, SyncSink.FK_ORDER) {
      // an action per entity resolves its Observation
      (name, df) => sunk += name; df.collect(); ()
    }
    assert(order == SyncSink.FK_ORDER)
    assert(sunk.toSeq == SyncSink.FK_ORDER)
    // every dataset contributes to the change report: six anti-join
    // entities create one row each; the symmetric one adds one active.
    val rep = report.as[(String, String, Long)].collect()
    assert(rep.map(_._1).toSet == SyncSink.FK_ORDER.toSet)
    assert(rep.collect { case (_, "created", n) => n }.sum == 6L)
  }
}
