package graft.operators

import java.sql.Date

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import TypedEntities.{Enrollment, EnrollmentChange}

/** Schema-contract + semantics test for the typed enrollment stage,
  * porting the reference's enrollment contract
  * (tests/test_connect.py:154-165): the upload carries exactly the
  * 11 pinned columns, and the daily diff derives add/drop status.
  */
class TypedEntitiesTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val d = Date.valueOf("2026-01-01")
  private def enr(course: String, user: Long, section: String) =
    Enrollment("25", "1S", course, user, "student", section, "active",
      user * 10, user * 100, created_by_sis = true, d)

  test("Enrollment case class carries the reference's 11-column contract") {
    val expected = Seq("yr_cde", "trm_cde", "course_id", "user_id", "role",
      "section_id", "status", "canvas_enrollment_id", "canvas_section_id",
      "created_by_sis", "load_date")
    val ds = Seq(enr("c1", 1L, "s1")).toDS()
    assert(ds.columns.toSeq == expected)
    // asEnrollments round-trips an untyped frame through the contract
    assert(TypedEntities.asEnrollments(spark, ds.toDF()).columns.toSeq == expected)
    // and REJECTS a frame missing a contract column at analysis time
    intercept[org.apache.spark.sql.AnalysisException] {
      TypedEntities.asEnrollments(spark, ds.toDF().drop("role")).schema
    }
  }

  test("typed enrollmentDiff derives adds and drops on the composite key") {
    val truth = Seq(enr("c1", 10L, "s1"), enr("c1", 11L, "s1"), enr("c2", 10L, "s2")).toDS()
    val mirror = Seq(enr("c1", 10L, "s1"), enr("c2", 99L, "s2")).toDS()
    val got: Seq[EnrollmentChange] =
      TypedEntities.enrollmentDiff(truth, mirror).collect().toSeq
    assert(got.toSet == Set(
      EnrollmentChange("c1", 11L, "s1", "active"),
      EnrollmentChange("c2", 10L, "s2", "active"),
      EnrollmentChange("c2", 99L, "s2", "deleted")))
  }

  // The pipeline's run entry point is SyncPipeline.runObserved.
  test("typed entity feeds SyncPipeline.run inside the FK-ordered sink") {
    val truth = Seq(enr("c1", 10L, "s1"), enr("c1", 11L, "s1")).toDS()
    val mirror = Seq(enr("c1", 10L, "s1")).toDS()
    val entities = Seq(TypedEntities.enrollmentEntity(truth, mirror))
    val sunk = scala.collection.mutable.Map.empty[String, Seq[EnrollmentChange]]
    val (order, report, _) = SyncPipeline.runObserved(entities, SyncSink.FK_ORDER) {
      // the sink sees the typed diff contract, not a loose Row shape
      (name, df) => sunk(name) = df.as[EnrollmentChange].collect().toSeq
    }
    assert(order == Seq("daily_enrollment"))
    assert(sunk("daily_enrollment") == Seq(EnrollmentChange("c1", 11L, "s1", "active")))
    assert(report.as[(String, String, Long)].collect().toSet ==
      Set(("daily_enrollment", "active", 1L)))
  }
}
