package graft.sources

import java.io.ByteArrayOutputStream
import java.net.{HttpURLConnection, InetSocketAddress, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{EntitySpecs, SyncPipeline, SyncSink}

/** The reference's whole sync run wired END TO END over a real socket —
  * one rehearsal of src/canvas.py:30-133 in its actual order and
  * timing, against a JDK HttpServer standing in for the LMS:
  *
  *   1. term catalog (S5, paginated GET — canvas.py:23-27)
  *   2. create provisioning report + poll every 3 s until complete
  *      (S6 — canvas.py:30-43)
  *   3. download the report zip, extract per-entity CSVs
  *      (S7 — canvas.py:46-52)
  *   4. clean/conform each entity (P1-P10 — canvas.py:62-104)
  *   5. diff against the SIS mirror (J2-J6)
  *   6. upload updates in FK order, polling each import to 100%
  *      every 2 s before starting the next (K3 — canvas.py:107-133)
  *   7. write the change report (K4 — canvas.py:136-162)
  *
  * The stub records the server-observed upload ORDER and the test pins
  * it to the FK contract; poll cadence is pinned through the injected
  * sleep. Everything is hermetic: the socket binds an ephemeral
  * loopback port, and no real time passes.
  */
class WiredSyncRehearsalTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // ---- tiny HTTP client (driver-side connector edge) ----
  private def httpGet(url: String): (Int, Array[Byte]) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("GET")
    val code = c.getResponseCode
    val body = c.getInputStream.readAllBytes()
    c.disconnect()
    (code, body)
  }
  private def httpPost(url: String): (Int, Array[Byte]) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.getOutputStream.close()
    val code = c.getResponseCode
    val body = c.getInputStream.readAllBytes()
    c.disconnect()
    (code, body)
  }

  private def respond(ex: HttpExchange, body: String, code: Int = 200): Unit = {
    val b = body.getBytes(UTF_8)
    ex.sendResponseHeaders(code, b.length)
    ex.getResponseBody.write(b)
    ex.close()
  }

  private def zipBytes(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes(UTF_8))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  test("wired sync rehearsal: catalog → report poll → zip → clean → diff → FK-ordered upload") {
    // ---------- the LMS stub ----------
    val reportPolls = new AtomicInteger(0)
    val uploadsSeen = mutable.ArrayBuffer.empty[String] // server-observed order
    val importPolls = mutable.Map.empty[Int, Int]
    val reportZip = zipBytes(
      "users.csv" ->
        """user_id,canvas_user_id,login_id
          |1001,501,alice
          |1002,502,bob
          |CanvasStu_9,503,ghost
          |,504,nobody
          |""".stripMargin,
      "courses.csv" ->
        """canvas_course_id,course_id,status
          |9001,MATH101,active
          |9002,HIST200,active
          |""".stripMargin,
      "sections.csv" ->
        """course_id,section_id,name,status,account_id,canvas_section_id,created_by_sis
          |MATH101,S1,Math S1,active,1,7001,true
          |HIST200,S2,Hist S2,active,1,7002,false
          |""".stripMargin,
      "enrollments.csv" ->
        """course_id,user_id,role,section_id,status,canvas_enrollment_id,canvas_section_id,created_by_sis
          |MATH101,1001,student,S1,active,E1,7001,true
          |MATH101,1002,student,S1,active,E2,7001,false
          |HIST200,1001,student,S2,active,E3,7002,true
          |""".stripMargin)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/terms", (ex: HttpExchange) => {
      val page = ex.getRequestURI.getQuery.stripPrefix("page=").toInt
      respond(ex, Seq(
        "10|23FA\n11|24FA", // page 0
        "12|25SP",          // page 1
        ""                  // page 2: exhausted
      )(page))
    })
    server.createContext("/api/reports", (ex: HttpExchange) => {
      if (ex.getRequestMethod == "POST") respond(ex, "42:created")
      else { // GET /api/reports/42 — poll: running x2, then complete
        val n = reportPolls.incrementAndGet()
        respond(ex, if (n <= 2) "running" else "complete:/files/provisioning.zip")
      }
    })
    server.createContext("/files/provisioning.zip", (ex: HttpExchange) => {
      ex.sendResponseHeaders(200, reportZip.length)
      ex.getResponseBody.write(reportZip)
      ex.close()
    })
    server.createContext("/api/sis_imports", (ex: HttpExchange) => {
      if (ex.getRequestMethod == "POST") {
        val name = ex.getRequestURI.getQuery.stripPrefix("name=")
        uploadsSeen += name
        respond(ex, uploadsSeen.size.toString) // import id
      } else { // GET /api/sis_imports/{id}: 50 once, then 100
        val id = ex.getRequestURI.getPath.split('/').last.toInt
        val n = importPolls.updateWith(id)(p => Some(p.getOrElse(0) + 1)).get
        respond(ex, if (n <= 1) "50" else "100")
      }
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val sleeps = mutable.ArrayBuffer.empty[Long] // injected: records cadence

    try {
      // ---------- 1. term catalog over the socket (canvas.py:23-27) ----------
      val termSchema = StructType(Seq(StructField("id", LongType),
        StructField("sis_term_id", StringType)))
      val terms = Connectors.catalogScan(spark, termSchema) { page =>
        val (_, body) = httpGet(s"$base/api/terms?page=$page")
        new String(body, UTF_8).split('\n').filter(_.nonEmpty).toSeq.map { l =>
          val Array(id, sis) = l.split('|'); Row(id.toLong, sis)
        }
      }
      val termId = terms.filter(col("sis_term_id") === "24FA")
        .select("id").collect().head.getLong(0)
      assert(termId == 11L)

      // ---------- 2. create report, poll every 3 s (canvas.py:30-43) ----------
      val (_, created) = httpPost(s"$base/api/reports?term=$termId")
      assert(new String(created, UTF_8) == "42:created")
      val done = Connectors.awaitJob[String](
        status = () => new String(httpGet(s"$base/api/reports/42")._2, UTF_8),
        isDone = _.startsWith("complete"),
        intervalMs = 3000, sleep = sleeps += _)
      val attachment = done.stripPrefix("complete:")

      // ---------- 3. download + extract (canvas.py:46-52) ----------
      val staging = java.nio.file.Files
        .createTempDirectory("wired-report").toString
      val (_, zipBody) = httpGet(s"$base$attachment")
      val extracted = Connectors.extractZip(zipBody, staging)
      assert(extracted.map(_.getFileName.toString).toSet ==
        Set("users.csv", "courses.csv", "sections.csv", "enrollments.csv"))

      // ---------- 4. clean/conform (canvas.py:62-104) ----------
      val usersRaw = graft.Tables.csv(spark, s"$staging/users.csv",
        StructType(Seq(StructField("user_id", StringType),
          StructField("canvas_user_id", LongType),
          StructField("login_id", StringType))))
      val coursesRaw = graft.Tables.csv(spark, s"$staging/courses.csv",
        StructType(Seq(StructField("canvas_course_id", LongType),
          StructField("course_id", StringType),
          StructField("status", StringType))))
      val sectionsRaw = graft.Tables.csv(spark, s"$staging/sections.csv",
        StructType(Seq(StructField("course_id", StringType),
          StructField("section_id", StringType),
          StructField("name", StringType), StructField("status", StringType),
          StructField("account_id", LongType),
          StructField("canvas_section_id", LongType),
          StructField("created_by_sis", BooleanType))))
      val enrollRaw = graft.Tables.csv(spark, s"$staging/enrollments.csv",
        StructType(Seq(StructField("course_id", StringType),
          StructField("user_id", StringType), StructField("role", StringType),
          StructField("section_id", StringType),
          StructField("status", StringType),
          StructField("canvas_enrollment_id", StringType),
          StructField("canvas_section_id", LongType),
          StructField("created_by_sis", BooleanType))))
      val ld = "2026-08-15"
      val users = EntitySpecs.users(ld)(usersRaw)
      val courses = EntitySpecs.courses("24", "FA", ld)(coursesRaw)
      val sections = EntitySpecs.sections("24", "FA", ld)(sectionsRaw)
      val enrolls = EntitySpecs.enrollments("24", "FA", ld)(enrollRaw)
      // P-row contracts hold through the wire: numeric-only ids, sentinel
      import spark.implicits._
      assert(users.select("id_num").as[String].collect().toSet ==
        Set("1001", "1002"))
      assert(sections.select("created_by_sis").as[Int].collect().sorted
        .toSeq == Seq(0, -1).sorted)

      // ---------- 5+6+7. diff → FK-ordered upload with polls → report ----------
      def mirror(rows: Seq[Row], schema: StructType) = {
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(rows.asJava, schema)
      }
      val entities = Seq(
        SyncPipeline.Entity("student_users", users,
          mirror(Seq(Row("1001")),
            StructType(Seq(StructField("id_num", StringType)))),
          Seq("id_num")),
        SyncPipeline.Entity("courses", courses,
          mirror(Seq(Row("MATH101")),
            StructType(Seq(StructField("crs_cde", StringType)))),
          Seq("crs_cde")),
        SyncPipeline.Entity("sections", sections,
          mirror(Seq(Row("S1")),
            StructType(Seq(StructField("section_id", StringType)))),
          Seq("section_id")),
        SyncPipeline.Entity("daily_enrollment", enrolls,
          mirror(Seq(Row("MATH101", "1001"), Row("MATH101", "1003")),
            StructType(Seq(StructField("course_id", StringType),
              StructField("user_id", StringType)))),
          Seq("course_id", "user_id"), symmetric = true))
      val updatesDir = java.nio.file.Files
        .createTempDirectory("wired-updates").toString
      val (sunk, report, _) = SyncPipeline.runObserved(entities, SyncSink.FK_ORDER) {
        (name, df) =>
          graft.Tables.writeCsv(df, s"$updatesDir/$name", singleFile = true)
          val (_, idBody) = httpPost(s"$base/api/sis_imports?name=$name")
          val importId = new String(idBody, UTF_8).toInt
          val p = Connectors.awaitJob[String](
            status = () =>
              new String(httpGet(s"$base/api/sis_imports/$importId")._2, UTF_8),
            isDone = _ == "100", intervalMs = 2000, sleep = sleeps += _)
          assert(p == "100")
      }
      SyncSink.writeReport(spark, report, s"$updatesDir/report")

      // FK upload order, AS THE SERVER SAW IT (canvas.py:108-116)
      assert(uploadsSeen.toSeq ==
        Seq("student_users", "courses", "sections", "daily_enrollment"))
      assert(sunk == uploadsSeen.toSeq)
      // poll cadence: two 3 s report polls, then one 2 s poll per import
      assert(sleeps.toSeq == Seq(3000L, 3000L, 2000L, 2000L, 2000L, 2000L))
      // report.txt shape (K4): per-dataset status counts
      val lines = spark.read.text(s"$updatesDir/report")
        .as[String].collect().toSet
      assert(lines == Set(
        "courses: active = 1",          // HIST200 missing from mirror
        "daily_enrollment: active = 2", // (MATH101,1002), (HIST200,1001)
        "daily_enrollment: deleted = 1", // (MATH101,1003) gone from truth
        "sections: active = 1",         // S2
        "student_users: created = 1"))  // 1002 (no status col -> created)
    } finally server.stop(0)
  }
}
