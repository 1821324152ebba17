package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.functions.Terms
import graft.operators.{EntitySpecs, SyncPipeline, SyncSink}
import graft.sources.{Connectors, Jdbc}

/** One full LMS⇄ERP sync per unit, driven through the engine's public
  * functions in the reference's order: term resolution, clean + mirror
  * truncate-reload, the seven diffs with FK-ordered single-file uploads,
  * and the change report.
  */
final class SyncWorkload(spark: SparkSession, shape: SyncShape, seed: Long,
                         dir: String) extends Workload {
  // In-memory embedded Derby: the mirror stands in for a remote database,
  // so its own disk writes are not part of the engine's cost, and on a
  // shared host they made whole runs up to 30% slower.
  private val db = "jdbc:derby:memory:perfbench_mirror"
  private val url = s"$db;create=true"
  private val conn = Jdbc.Conn(url)
  private var expect: SyncExpect = _
  private val LoadDate = "2025-08-25"
  private val BatchSize = 100 // the reference's multi-row INSERT chunk

  def prepare(): Unit = {
    if (expect != null) dropMirror()
    Main.deleteTree(new File(dir))
    new File(dir).mkdirs()
    expect = SyncGen.generate(spark, shape, seed, dir, url)
  }

  def prepareReps: Int = 3
  // A 4k-user unit took 11.5, 6.7, 5.8 s on 4 cores and then 4.6-5.1 s
  // from the fourth on, so the measured units start on that plateau. The
  // checks are cheap, so warm units run them too.
  def warmUnits: Int = 3
  def minUnits: Int = 4
  def opsPerUnit: Int = 1

  /** Drops the in-memory mirror database so it can be created afresh. */
  private def dropMirror(): Unit =
    try java.sql.DriverManager.getConnection(s"$db;drop=true")
    catch { case _: java.sql.SQLException => () } // Derby reports the drop as an exception

  def unit(t: Tracer, u: Int, warm: Boolean): UnitResult = {
    val out = s"$dir/out/$u"
    val sinkOrder = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    try {
      val (sisTerm, lmsTerm, sunk, observed) = t.span("sync.run") {
        run(t, out, sinkOrder)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val counts = observed.map { case (e, m) =>
        e -> (m("n_rows").asInstanceOf[Long], m("n_null_key").asInstanceOf[Long])
      }
      val failures = check(sisTerm, lmsTerm, sunk, sinkOrder.toSeq, counts, out)
      failures.foreach(f => System.err.println(s"perfbench: sync check failed: $f"))
      UnitResult(wall, if (failures.isEmpty) 0 else 1, counts)
    } catch {
      case e: Exception =>
        System.err.println(s"perfbench: sync failed: ${e.getClass.getName}: ${e.getMessage}")
        UnitResult((System.nanoTime() - t0) / 1e9, 1)
    } finally Main.deleteTree(new File(out))
  }

  private def run(t: Tracer, out: String, sinkOrder: mutable.ArrayBuffer[String])
      : (String, Long, Seq[String], Map[String, Map[String, Any]]) = {
    val (sisTerm, lmsTerm) = t.spanRows("functions.term_resolve", (_: (String, Long)) => 1L) {
      val cfg = Jdbc.readTable(spark, conn, "REG_CONFIG")
        .select(col("CUR_YR_DFLT").as("yr_cde"), col("CUR_TRM_DFLT").as("trm_cde"))
      val terms = Connectors.catalogScan(spark, SyncGen.termSchema)(SyncGen.termPage)
      val r = Terms.resolveTerm(cfg, "current", terms).collect().head
      (r.getString(0), r.getLong(1))
    }
    val (yr, trm) = (sisTerm.take(2), sisTerm.drop(2))

    val cleaned = t.spanRows("operators.clean_build", (_: Seq[(String, DataFrame)]) => 0L) {
      def csv(name: String, schema: org.apache.spark.sql.types.StructType) =
        Tables.csv(spark, s"$dir/report/$name.csv", schema)
      Seq(
        SyncGen.UsersTable -> EntitySpecs.users(LoadDate)(csv("users", SyncGen.usersCsvSchema))
          .withColumn("id_num", col("id_num").cast("long")),
        SyncGen.CoursesTable -> EntitySpecs.courses(yr, trm, LoadDate)(
          csv("courses", SyncGen.coursesCsvSchema)),
        SyncGen.SectionsTable -> EntitySpecs.sections(yr, trm, LoadDate)(
          csv("sections", SyncGen.sectionsCsvSchema)),
        SyncGen.EnrollmentsTable -> EntitySpecs.enrollments(yr, trm, LoadDate)(
          csv("enrollments", SyncGen.enrollmentsCsvSchema)))
    }

    t.span("sources.mirror_reload") {
      val allowed = SyncGen.MirrorTables.toSet
      cleaned.foreach { case (table, df) =>
        Jdbc.overwriteMirror(df, conn, table, allowed, BatchSize)
      }
    }

    val (sunk, report, observed) = t.spanRows("operators.diff_build",
        (r: (Seq[String], DataFrame, Map[String, Map[String, Any]])) =>
          r._3.values.map(_("n_rows").asInstanceOf[Long]).sum) {
      def erp(name: String) = spark.read.parquet(s"$dir/erp/$name")
      def mirror(table: String) = Jdbc.readTable(spark, conn, table)
      val entities = Seq(
        SyncPipeline.Entity("faculty_users", erp("faculty"), mirror(SyncGen.UsersTable), Seq("id_num")),
        SyncPipeline.Entity("student_users", erp("students"), mirror(SyncGen.UsersTable), Seq("id_num")),
        SyncPipeline.Entity("courses", erp("courses"), mirror(SyncGen.CoursesTable), Seq("crs_cde")),
        SyncPipeline.Entity("sections", erp("sections"), mirror(SyncGen.SectionsTable), Seq("section_id")),
        SyncPipeline.Entity("daily_enrollment", erp("enrollments"), mirror(SyncGen.EnrollmentsTable),
          Seq("user_id", "course_id"), symmetric = true),
        SyncPipeline.Entity("ctl_library_courses", erp("library_courses"),
          mirror(SyncGen.CoursesTable), Seq("crs_cde")),
        SyncPipeline.Entity("ctl_library_sections", erp("library_sections"),
          mirror(SyncGen.SectionsTable), Seq("section_id")))
      SyncPipeline.runObserved(entities, SyncSink.FK_ORDER) { (name, df) =>
        t.span("sources.upload") {
          sinkOrder += name
          Tables.writeCsv(df, s"$out/updates/$name", singleFile = true)
        }
      }
    }
    t.span("operators.report") {
      SyncSink.writeReport(spark, report, s"$out/report")
    }
    (sisTerm, lmsTerm, sunk, observed)
  }

  private def check(sisTerm: String, lmsTerm: Long, sunk: Seq[String],
                    sinkOrder: Seq[String], counts: Map[String, (Long, Long)],
                    out: String): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    if (sisTerm != expect.sisTermId || lmsTerm != expect.lmsTermId)
      f += s"term ($sisTerm, $lmsTerm) != (${expect.sisTermId}, ${expect.lmsTermId})"
    if (sunk != SyncSink.FK_ORDER || sinkOrder != SyncSink.FK_ORDER)
      f += s"sink order $sinkOrder != ${SyncSink.FK_ORDER}"
    expect.mirrorRows.foreach { case (table, n) =>
      val got = SyncGen.tableRows(url, table)
      if (got != n) f += s"mirror $table has $got rows, expected $n"
    }
    expect.updates.foreach { case (e, n) =>
      val (rows, nulls) = counts.getOrElse(e, (-1L, -1L))
      if (rows != n) f += s"$e n_rows $rows != $n"
      if (nulls != expect.nullKeys(e)) f += s"$e n_null_key $nulls != ${expect.nullKeys(e)}"
      val written = csvRows(new File(s"$out/updates/$e"))
      if (written != n) f += s"$e upload file has $written rows, expected $n"
    }
    val lines = partLines(new File(s"$out/report"))
    if (lines != expect.reportLines)
      f += s"report lines ${lines.mkString("; ")} != ${expect.reportLines.mkString("; ")}"
    f.toSeq
  }

  private def partFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-")).sortBy(_.getName)

  private def partLines(d: File): Seq[String] = partFiles(d).flatMap { p =>
    val s = scala.io.Source.fromFile(p)
    try s.getLines().toVector finally s.close()
  }

  /** Data rows in a single-file CSV upload (header excluded). */
  private def csvRows(d: File): Long = {
    val parts = partFiles(d)
    if (parts.size > 1) -1L
    else partLines(d).size match { case 0 => 0L; case n => n - 1L }
  }

  def describe: Map[String, Any] = Map(
    "users" -> shape.users, "courses" -> shape.courses,
    "sections" -> shape.courses * shape.sectionsPerCourse,
    "enrollments" -> expect.truthRows("daily_enrollment"),
    "mirror_rows" -> expect.mirrorRows, "expected_updates" -> expect.updates,
    "expected_null_keys" -> expect.nullKeys, "report_lines" -> expect.reportLines)

}
