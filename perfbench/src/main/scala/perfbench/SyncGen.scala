package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.sql.DriverManager
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs for one LMS⇄ERP sync, with the outcome every run must
  * reproduce exactly.
  *
  * ERP truth is Parquet; the LMS side is the four Canvas report CSVs the
  * run cleans and reloads into the Derby mirror. Every entity has unique
  * keys (a colliding key set would turn a diff into a near no-op). Churn
  * is planted per entity: truth rows left out of the report (the rows a
  * run must upload) and report rows the truth does not have (extras; for
  * enrollments these are the drops). The users report also carries rows
  * with a null or non-numeric `user_id`, which the users clean spec must
  * filter, and the ERP enrollments carry rows with a null `user_id`,
  * which surface as null keys in the enrollment update set.
  */
final case class SyncShape(users: Int) {
  val faculty: Int = users / 20
  val students: Int = users - faculty
  val courses: Int = users / 10
  val sectionsPerCourse = 3
  val enrollPerStudent = 10
  val libraryCourses: Int = math.max(2, courses / 100)
  val librarySectionsPerCourse = 2
  val badUserRows: Int = math.max(2, users / 2000)
  val nullKeyEnrollments: Int = math.max(2, users / 200)
}

/** Exact expected outcome of a sync over the generated inputs. */
final case class SyncExpect(
    sisTermId: String, lmsTermId: Long,
    mirrorRows: Map[String, Long],   // Derby table -> rows after reload
    updates: Map[String, Long],      // entity -> update rows (n_rows)
    nullKeys: Map[String, Long],     // entity -> null keys in the update set
    reportLines: Seq[String],
    truthRows: Map[String, Long])    // entity -> rows on the truth side

object SyncGen {
  val UsersTable = "RPC_RE_CANVAS_USERS"
  val CoursesTable = "RPC_RE_CANVAS_COURSES"
  val SectionsTable = "RPC_RE_CANVAS_SECTIONS"
  val EnrollmentsTable = "RPC_RE_CANVAS_ENROLLMENTS"
  val MirrorTables: Seq[String] = Seq(UsersTable, CoursesTable, SectionsTable, EnrollmentsTable)

  // The config singleton holds the current term, the one the nightly run syncs.
  val ConfigYear = "25 "
  val ConfigTerm = "1S "

  val usersCsvSchema: StructType = StructType(Seq(
    StructField("user_id", StringType), StructField("canvas_user_id", LongType),
    StructField("login_id", StringType)))
  val coursesCsvSchema: StructType = StructType(Seq(
    StructField("canvas_course_id", LongType), StructField("course_id", StringType),
    StructField("status", StringType)))
  val sectionsCsvSchema: StructType = StructType(Seq(
    StructField("course_id", StringType), StructField("section_id", StringType),
    StructField("name", StringType), StructField("status", StringType),
    StructField("account_id", LongType), StructField("canvas_section_id", LongType),
    StructField("created_by_sis", BooleanType)))
  val enrollmentsCsvSchema: StructType = StructType(Seq(
    StructField("course_id", StringType), StructField("user_id", LongType),
    StructField("role", StringType), StructField("section_id", StringType),
    StructField("status", StringType), StructField("canvas_enrollment_id", StringType),
    StructField("canvas_section_id", LongType), StructField("created_by_sis", BooleanType)))

  val termSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("sis_term_id", StringType)))

  /** The LMS term catalog, served in pages of 8 (years 20-29, two terms each). */
  val termCatalog: Seq[Row] =
    (20 to 29).flatMap(y => Seq("1S", "2S").map(t => s"$y$t")).zipWithIndex
      .map { case (sis, i) => Row(1000L + 7L * i, sis) }
  def termPage(page: Int): Seq[Row] = termCatalog.slice(page * 8, page * 8 + 8)

  private def courseCode(i: Int) = f"C$i%06d"
  private def sectionCode(i: Int) = f"S$i%07d"
  private def libCourseCode(i: Int) = f"L$i%05d"
  private def libSectionCode(i: Int) = f"LS$i%06d"

  /** Writes the ERP truth Parquet, the Canvas report CSVs and the Derby
    * schema (empty mirror tables plus REG_CONFIG) under `dir`, and returns
    * the expected outcome.
    */
  def generate(spark: SparkSession, shape: SyncShape, seed: Long, dir: String,
               jdbcUrl: String): SyncExpect = {
    val sisTermId = "251S"
    val lmsTermId = termCatalog.find(_.getString(1) == sisTermId).get.getLong(0)
    // keep: whether a truth row is in the report; extra: report-only rows
    def rng(tag: Int) = new SplittableRandom(seed * 1000003L + tag)
    // Row 0 of every entity is always missing from the report, so each of
    // the seven update sets is non-empty.
    def keep(tag: Int) = { val r = rng(tag); (i: Int) => i != 0 && r.nextInt(100) != 0 }
    val keepUser = keep(1)
    val keepCourse = keep(2)
    val keepSection = keep(3)
    val keepEnroll = keep(4)
    val keepLibCourse = keep(5)
    val keepLibSection = keep(6)
    val extraShare = 100 // one report-only row per 100 truth rows

    val truthRows = mutable.Map.empty[String, Long]
    val updates = mutable.Map.empty[String, Long]

    // ---- users: faculty ids from 100000, students from 1000000 ----
    val facIds = (0 until shape.faculty).map(100000L + _)
    val stuIds = (0 until shape.students).map(1000000L + _)
    val facKeep = facIds.indices.map(keepUser)
    val stuKeep = stuIds.indices.map(keepUser)
    val nExtraUsers = shape.users / extraShare
    val usersCsv = new mutable.ArrayBuffer[String]()
    var canvasId = 1L
    def userLine(uid: String) = {
      canvasId += 1; s"$uid,$canvasId,u$canvasId@lms"
    }
    facIds.zip(facKeep).foreach { case (id, k) => if (k) usersCsv += userLine(id.toString) }
    stuIds.zip(stuKeep).foreach { case (id, k) => if (k) usersCsv += userLine(id.toString) }
    (0 until nExtraUsers).foreach(i => usersCsv += userLine((9000000L + i).toString))
    val validUsers = usersCsv.size.toLong
    (0 until shape.badUserRows).foreach { i =>
      usersCsv += userLine("")
      usersCsv += userLine(s"CanvasStu_$i")
    }
    updates("faculty_users") = facKeep.count(!_).toLong
    updates("student_users") = stuKeep.count(!_).toLong
    truthRows("faculty_users") = shape.faculty.toLong
    truthRows("student_users") = shape.students.toLong

    // ---- courses and sections, library ones alongside ----
    val coursesCsv = new mutable.ArrayBuffer[String]()
    val sectionsCsv = new mutable.ArrayBuffer[String]()
    var lmsId = 500000L
    def courseLine(code: String) = { lmsId += 1; s"$lmsId,$code,available" }
    def sectionLine(course: String, code: String, sis: Boolean) = {
      lmsId += 1; s"$course,$code,$code name,active,1,$lmsId,$sis"
    }
    var missing = 0L
    (0 until shape.courses).foreach { i =>
      if (keepCourse(i)) coursesCsv += courseLine(courseCode(i)) else missing += 1
    }
    updates("courses") = missing
    missing = 0
    (0 until shape.libraryCourses).foreach { i =>
      if (keepLibCourse(i)) coursesCsv += courseLine(libCourseCode(i)) else missing += 1
    }
    updates("ctl_library_courses") = missing
    (0 until shape.courses / extraShare + 1).foreach(i => coursesCsv += courseLine(f"X$i%06d"))
    val nSections = shape.courses * shape.sectionsPerCourse
    missing = 0
    (0 until nSections).foreach { i =>
      val c = courseCode(i / shape.sectionsPerCourse)
      if (keepSection(i)) sectionsCsv += sectionLine(c, sectionCode(i), i % 2 == 0)
      else missing += 1
    }
    updates("sections") = missing
    val nLibSections = shape.libraryCourses * shape.librarySectionsPerCourse
    missing = 0
    (0 until nLibSections).foreach { i =>
      val c = libCourseCode(i / shape.librarySectionsPerCourse)
      if (keepLibSection(i)) sectionsCsv += sectionLine(c, libSectionCode(i), sis = true)
      else missing += 1
    }
    updates("ctl_library_sections") = missing
    (0 until nSections / extraShare + 1).foreach { i =>
      sectionsCsv += sectionLine(courseCode(i % shape.courses), f"XS$i%06d", sis = false)
    }
    truthRows("courses") = shape.courses.toLong
    truthRows("ctl_library_courses") = shape.libraryCourses.toLong
    truthRows("sections") = nSections.toLong
    truthRows("ctl_library_sections") = nLibSections.toLong

    // ---- enrollments: student s takes courses (7s + j) mod C, j < 10 ----
    // Distinct for j < 10 because C > 10, so (user_id, course_id) is unique.
    require(shape.courses > shape.enrollPerStudent + 1, "too few courses")
    def enrollCourse(s: Int, j: Int) = courseCode(((7L * s + j) % shape.courses).toInt)
    val enrollCsv = new mutable.ArrayBuffer[String]()
    val truthEnroll = new mutable.ArrayBuffer[Row](shape.students * shape.enrollPerStudent)
    var adds = 0L
    var eid = 0L
    def enrollLine(course: String, uid: Long) = {
      eid += 1; s"$course,$uid,StudentEnrollment,${course}_1,active,E$eid,$eid,true"
    }
    stuIds.zipWithIndex.foreach { case (uid, s) =>
      (0 until shape.enrollPerStudent).foreach { j =>
        val c = enrollCourse(s, j)
        truthEnroll += Row(uid, c, "student")
        if (keepEnroll(s * shape.enrollPerStudent + j)) enrollCsv += enrollLine(c, uid) else adds += 1
      }
    }
    // drops: one report-only enrollment for every 10th student, in a course
    // outside that student's truth set (j = 10)
    var drops = 0L
    stuIds.zipWithIndex.foreach { case (uid, s) =>
      if (s % 10 == 0) { enrollCsv += enrollLine(enrollCourse(s, shape.enrollPerStudent), uid); drops += 1 }
    }
    (0 until shape.nullKeyEnrollments).foreach { i =>
      truthEnroll += Row(null, courseCode(i % shape.courses), "student")
    }
    updates("daily_enrollment") = adds + drops + shape.nullKeyEnrollments
    truthRows("daily_enrollment") = truthEnroll.size.toLong

    // ---- write the Canvas report CSVs ----
    val report = new File(dir, "report"); report.mkdirs()
    def writeLines(name: String, header: String, lines: Seq[String]): Unit = {
      val w = new BufferedWriter(new FileWriter(new File(report, name)), 1 << 16)
      try { w.write(header); w.newLine(); lines.foreach { l => w.write(l); w.newLine() } }
      finally w.close()
    }
    writeLines("users.csv", "user_id,canvas_user_id,login_id", usersCsv.toSeq)
    writeLines("courses.csv", "canvas_course_id,course_id,status", coursesCsv.toSeq)
    writeLines("sections.csv",
      "course_id,section_id,name,status,account_id,canvas_section_id,created_by_sis",
      sectionsCsv.toSeq)
    writeLines("enrollments.csv",
      "course_id,user_id,role,section_id,status,canvas_enrollment_id,canvas_section_id,created_by_sis",
      enrollCsv.toSeq)

    // ---- write the ERP truth Parquet ----
    import scala.jdk.CollectionConverters._
    def parquet(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/erp/$name")
    val userSchema = StructType(Seq(StructField("id_num", LongType),
      StructField("login_id", StringType), StructField("name", StringType)))
    parquet("faculty", userSchema, facIds.map(i => Row(i, s"f$i", s"Faculty $i")))
    parquet("students", userSchema, stuIds.map(i => Row(i, s"s$i", s"Student $i")))
    val courseSchema = StructType(Seq(StructField("crs_cde", StringType),
      StructField("title", StringType)))
    parquet("courses", courseSchema,
      (0 until shape.courses).map(i => Row(courseCode(i), s"Course $i")))
    parquet("library_courses", courseSchema,
      (0 until shape.libraryCourses).map(i => Row(libCourseCode(i), s"Library $i")))
    val sectionSchema = StructType(Seq(StructField("section_id", StringType),
      StructField("crs_cde", StringType), StructField("name", StringType)))
    parquet("sections", sectionSchema, (0 until nSections).map(i =>
      Row(sectionCode(i), courseCode(i / shape.sectionsPerCourse), s"Section $i")))
    parquet("library_sections", sectionSchema, (0 until nLibSections).map(i =>
      Row(libSectionCode(i), libCourseCode(i / shape.librarySectionsPerCourse), s"Library section $i")))
    parquet("enrollments", StructType(Seq(StructField("user_id", LongType),
      StructField("course_id", StringType), StructField("role", StringType))),
      truthEnroll.toSeq)

    createMirrorSchema(jdbcUrl)

    val mirrorRows = Map(
      UsersTable -> validUsers,
      CoursesTable -> coursesCsv.size.toLong,
      SectionsTable -> sectionsCsv.size.toLong,
      EnrollmentsTable -> enrollCsv.size.toLong)
    val nullKeys = updates.keys.map(k =>
      k -> (if (k == "daily_enrollment") shape.nullKeyEnrollments.toLong else 0L)).toMap
    val lines = updates.toSeq.flatMap {
      case ("daily_enrollment", _) =>
        Seq(("daily_enrollment", "active", adds + shape.nullKeyEnrollments),
          ("daily_enrollment", "deleted", drops))
      case (k, n) => Seq((k, "created", n))
    }.filter(_._3 > 0).sorted.map { case (d, s, n) => s"$d: $s = $n" }
    SyncExpect(sisTermId, lmsTermId, mirrorRows, updates.toMap, nullKeys, lines,
      truthRows.toMap)
  }

  /** Creates the mirror tables with the cleaned schemas (quoted lower-case
    * columns, as Spark's JDBC writer names them) and the REG_CONFIG row.
    */
  private def createMirrorSchema(url: String): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      def v(n: Int) = s"VARCHAR($n)"
      val term = s""""yr_cde" ${v(2)}, "trm_cde" ${v(2)}, "load_date" DATE"""
      Seq(
        s"""CREATE TABLE $UsersTable ("id_num" BIGINT, "canvas_user" BIGINT,
           |"login_id" ${v(64)}, "load_date" DATE)""".stripMargin,
        s"""CREATE TABLE $CoursesTable ("canvas_course_id" BIGINT,
           |"crs_cde" ${v(16)}, "status" ${v(16)}, $term)""".stripMargin,
        s"""CREATE TABLE $SectionsTable ("crs_cde" ${v(16)}, "section_id" ${v(16)},
           |"name" ${v(64)}, "status" ${v(16)}, "account_id" BIGINT,
           |"canvas_section_id" BIGINT, "created_by_sis" INT, $term)""".stripMargin,
        s"""CREATE TABLE $EnrollmentsTable ("course_id" ${v(16)}, "user_id" BIGINT,
           |"role" ${v(32)}, "section_id" ${v(16)}, "status" ${v(16)},
           |"canvas_enrollment_id" ${v(16)}, "canvas_section_id" BIGINT,
           |"created_by_sis" INT, $term)""".stripMargin,
        "CREATE TABLE REG_CONFIG (CUR_YR_DFLT CHAR(4), CUR_TRM_DFLT CHAR(4))",
        s"INSERT INTO REG_CONFIG VALUES ('$ConfigYear', '$ConfigTerm')"
      ).foreach(st.execute)
      st.close()
    } finally c.close()
  }

  /** Row count of a Derby table, read over plain JDBC for the checks. */
  def tableRows(url: String, table: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }
}
