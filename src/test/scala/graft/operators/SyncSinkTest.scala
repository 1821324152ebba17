package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SyncSinkTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("uploadAll sinks datasets in FK dependency order, skipping absent ones") {
    val updates = Map(
      "daily_enrollment" -> Seq(("c1", 1L, "active")).toDF("crs_cde", "id_num", "status"),
      "faculty_users" -> Seq((1L, "prof")).toDF("id_num", "login_id"),
      "courses" -> Seq(("c1", "Intro")).toDF("crs_cde", "title"))
    val sunk = scala.collection.mutable.ArrayBuffer.empty[String]
    val order = SyncSink.uploadAll(updates, SyncSink.FK_ORDER)((n, _) => sunk += n)
    assert(order == Seq("faculty_users", "courses", "daily_enrollment"))
    assert(sunk.toSeq == order)
  }

  test("uploadAll rejects datasets missing from the declared order") {
    val updates = Map("mystery" -> Seq((1L, "x")).toDF("id_num", "login_id"))
    assertThrows[IllegalArgumentException] {
      SyncSink.uploadAll(updates, SyncSink.FK_ORDER)((_, _) => ())
    }
  }

  test("changeReport counts per dataset and status; writeReport emits text") {
    val updates = Map(
      "faculty_users" -> Seq((1L, "a"), (2L, "b")).toDF("id_num", "login_id"),
      "daily_enrollment" -> Seq(("c1", 1L, "active"), ("c1", 2L, "deleted"))
        .toDF("crs_cde", "id_num", "status"))
    val rep = SyncSink.changeReport(updates)
    val rows = rep.as[(String, String, Long)].collect().toSet
    assert(rows == Set(
      ("faculty_users", "created", 2L),
      ("daily_enrollment", "active", 1L),
      ("daily_enrollment", "deleted", 1L)))

    val dir = java.nio.file.Files.createTempDirectory("report").toString
    SyncSink.writeReport(spark, rep, s"$dir/report", Seq("2 rows dropped"))
    val lines = spark.read.text(s"$dir/report").as[String].collect().toSeq
    assert(lines.contains("daily_enrollment: active = 1"))
    assert(lines.contains("WARNING: 2 rows dropped"))
  }

  test("writeReport of a local report runs no Spark job and writes its lines in order") {
    val rep = Seq[(String, String, Long)](("sections", "created", 3L),
      ("daily_enrollment", "deleted", 1L), ("sections", null, 1L),
      ("daily_enrollment", "active", 2L)).toDF("dataset", "status", "n")
    val out = java.nio.file.Files.createTempDirectory("report").resolve("report")
    SyncSink.writeReport(spark, rep.limit(1), out.toString, Seq("stale"))
    val (_, rec) = graft.Layers.record(spark) {
      SyncSink.writeReport(spark, rep, out.toString, Seq("1 row dropped"))
    }
    assert(rec.total.jobs == 0, rec.sites)
    val parts = out.toFile.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
    val lines = java.nio.file.Files.readAllLines(parts.head.toPath).toArray.toSeq
    assert(lines == Seq("daily_enrollment: active = 2",
      "daily_enrollment: deleted = 1", "sections: null = 1",
      "sections: created = 3", "WARNING: 1 row dropped"))
  }
}
