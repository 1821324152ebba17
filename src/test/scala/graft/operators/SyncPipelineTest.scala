package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlBridge, Row}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.scalatest.concurrent.{Eventually, Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.{Layers, Tables, TestSpark}
import graft.sources.Jdbc

/** Golden end-to-end test of the reference's sync semantics
  * (SURVEY §3.3, §5 item 5): ERP truth vs mirror → updates → FK-ordered
  * sink → report, with exact expected row sets.
  */
class SyncPipelineTest extends AnyFunSuite with TimeLimits with Eventually {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  implicit val signaler: Signaler = ThreadSignaler

  private def poolThreads: Int =
    Thread.getAllStackTraces.keySet.asScala.count(t => t.isAlive && t.getName == "sync-diff")

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

  // The metrics are counted from the collected update sets before the
  // first sink call, not during the sink write; the name is kept.
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
      // the sink reads each local update set it is handed
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

  test("n_null_key counts a null in any key column, not only the first") {
    // (11, null) has a non-null user_id but can never match on course_id.
    val truth = Seq((10L, Some("c1")), (11L, None: Option[String]))
      .toDF("user_id", "course_id")
    val mirror = Seq((10L, "c1")).toDF("user_id", "course_id")
    val entities = Seq(SyncPipeline.Entity("daily_enrollment", truth, mirror,
      Seq("user_id", "course_id"), symmetric = true))
    val (_, _, metrics) =
      SyncPipeline.runObserved(entities, SyncSink.FK_ORDER) { (_, df) =>
        df.collect(); ()
      }
    assert(metrics("daily_enrollment")("n_rows") == 1L)
    assert(metrics("daily_enrollment")("n_null_key") == 1L)
  }

  test("the report counts what was uploaded, even when the sink applies it to the mirror") {
    // Derby mirror; the sink appends each upload to its mirror table, as
    // applying the SIS import would. A report that re-ran the diffs after
    // the uploads would find nothing missing.
    val dir = java.nio.file.Files.createTempDirectory("derby").toString
    val conn = Jdbc.Conn(s"jdbc:derby:$dir/syncdb;create=true")
    val tables = Map("faculty_users" -> "MIRROR_USERS", "courses" -> "MIRROR_COURSES")
    Jdbc.overwriteMirror(Seq((1L, "prof.a")).toDF("id_num", "login_id"),
      conn, tables("faculty_users"), tables.values.toSet)
    Jdbc.overwriteMirror(Seq(("c1", "Intro")).toDF("crs_cde", "title"),
      conn, tables("courses"), tables.values.toSet)
    val entities = Seq(
      SyncPipeline.Entity("faculty_users",
        Seq((1L, "prof.a"), (2L, "prof.b"), (3L, "prof.c")).toDF("id_num", "login_id"),
        Jdbc.readTable(spark, conn, tables("faculty_users")), Seq("id_num")),
      SyncPipeline.Entity("courses",
        Seq(("c1", "Intro"), ("c2", "Algo")).toDF("crs_cde", "title"),
        Jdbc.readTable(spark, conn, tables("courses")), Seq("crs_cde")))

    val (_, report, _) = SyncPipeline.runObserved(entities, SyncSink.FK_ORDER) {
      (name, df) => Jdbc.append(df, conn, tables(name))
    }
    assert(Jdbc.readTable(spark, conn, tables("faculty_users")).count() == 3)
    val (rows, rec) = Layers.record(spark)(report.collect())
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet == Set(
      ("faculty_users", "created", 2L),
      ("courses", "created", 1L)))
    assert(rec.total.jobs == 0, rec.sites)
  }

  test("the observed report equals the recomputed changeReport") {
    // A null status and statuses carried on the truth side of anti-join
    // entities, a plain entity (created), an empty update set (no line)
    // and the symmetric add/drop entity.
    val faculty = Seq((1L, Some("active")), (2L, None: Option[String]), (3L, None))
      .toDF("id_num", "status")
    val students = Seq((4L, "active"), (5L, "inactive"), (6L, "active"))
      .toDF("id_num", "status")
    val users = Seq((1L, "active")).toDF("id_num", "status")
    val courses = Seq(("c1", "Intro"), ("c2", "Algo")).toDF("crs_cde", "title")
    val sections = Seq(("s1", "c1")).toDF("section_id", "crs_cde")
    val enrTruth = Seq((10L, "c1"), (11L, "c1")).toDF("user_id", "course_id")
    val enrMirror = Seq((10L, "c1"), (12L, "c2")).toDF("user_id", "course_id")
    val entities = Seq(
      SyncPipeline.Entity("faculty_users", faculty, users, Seq("id_num")),
      SyncPipeline.Entity("student_users", students, users, Seq("id_num")),
      SyncPipeline.Entity("courses", courses,
        Seq(("c1", "Intro")).toDF("crs_cde", "title"), Seq("crs_cde")),
      SyncPipeline.Entity("sections", sections, sections, Seq("section_id")),
      SyncPipeline.Entity("daily_enrollment", enrTruth, enrMirror,
        Seq("user_id", "course_id"), symmetric = true))

    val (_, report, _) = SyncPipeline.runObserved(entities, SyncSink.FK_ORDER) {
      (_, df) => df.collect(); ()
    }
    val observed = report.collect().toSet
    val recomputed =
      SyncSink.changeReport(SyncPipeline.computeUpdates(entities)).collect().toSet
    assert(observed == recomputed)
    assert(observed == Set(
      Row("faculty_users", null, 2L),
      Row("student_users", "active", 2L),
      Row("student_users", "inactive", 1L),
      Row("courses", "created", 1L),
      Row("daily_enrollment", "active", 1L),
      Row("daily_enrollment", "deleted", 1L)))
  }

  test("a sink that runs no action still gets complete metrics and report") {
    val entities = Seq(
      SyncPipeline.Entity("faculty_users",
        Seq((1L, "prof.a"), (2L, "prof.b")).toDF("id_num", "login_id"),
        Seq((1L, "prof.a")).toDF("id_num", "login_id"), Seq("id_num")),
      SyncPipeline.Entity("daily_enrollment",
        Seq((10L, "c1"), (11L, "c1")).toDF("user_id", "course_id"),
        Seq((10L, "c1"), (12L, "c2")).toDF("user_id", "course_id"),
        Seq("user_id", "course_id"), symmetric = true))
    val sunk = mutable.ArrayBuffer.empty[String]
    val (order, report, metrics) = failAfter(60.seconds) {
      SyncPipeline.runObserved(entities, SyncSink.FK_ORDER)((name, _) => sunk += name)
    }
    assert(order == Seq("faculty_users", "daily_enrollment"))
    assert(sunk.toSeq == order)
    assert(metrics("faculty_users")("n_rows") == 1L)
    assert(metrics("daily_enrollment")("n_rows") == 2L)
    assert(metrics("daily_enrollment")("n_null_key") == 0L)
    assert(report.as[(String, String, Long)].collect().toSet == Set(
      ("faculty_users", "created", 1L),
      ("daily_enrollment", "active", 1L),
      ("daily_enrollment", "deleted", 1L)))
  }

  test("every diff sees the pre-upload mirror, even one another upload appends to") {
    // courses and ctl_library_courses both diff against MIRROR_COURSES,
    // and the sink appends each upload to it. Uploading courses first
    // must not shrink ctl_library_courses' update set (c2 and c3 overlap).
    val dir = java.nio.file.Files.createTempDirectory("derby").toString
    val conn = Jdbc.Conn(s"jdbc:derby:$dir/syncdb;create=true")
    val table = "MIRROR_COURSES"
    Jdbc.overwriteMirror(Seq(("c1", "Intro")).toDF("crs_cde", "title"),
      conn, table, Set(table))
    def entity(name: String, codes: String*) = SyncPipeline.Entity(name,
      codes.map(c => (c, s"title $c")).toDF("crs_cde", "title"),
      Jdbc.readTable(spark, conn, table), Seq("crs_cde"))
    val entities = Seq(entity("courses", "c1", "c2", "c3"),
      entity("ctl_library_courses", "c2", "c3", "c4"))

    val sunk = mutable.LinkedHashMap.empty[String, Set[String]]
    val (_, _, metrics) = SyncPipeline.runObserved(entities, SyncSink.FK_ORDER) {
      (name, df) =>
        sunk(name) = df.select("crs_cde").as[String].collect().toSet
        Jdbc.append(df, conn, table)
    }
    assert(sunk.toSeq == Seq("courses" -> Set("c2", "c3"),
      "ctl_library_courses" -> Set("c2", "c3", "c4")))
    assert(metrics("ctl_library_courses")("n_rows") == 3L)
    assert(Jdbc.readTable(spark, conn, table).count() == 6)
  }

  test("a failed diff runs no sink, surfaces its error and leaves no pool thread") {
    val courses = Seq("c1", "c2").toDF("crs_cde")
      .withColumn("title", when(col("crs_cde") === "c2", raise_error(lit("bad course c2")))
        .otherwise(lit("Intro")))
    val entities = Seq(
      SyncPipeline.Entity("faculty_users", Seq((1L, "prof.a")).toDF("id_num", "login_id"),
        spark.emptyDataset[(Long, String)].toDF("id_num", "login_id"), Seq("id_num")),
      SyncPipeline.Entity("courses", courses,
        Seq(("c1", "Intro")).toDF("crs_cde", "title"), Seq("crs_cde")))
    val sunk = mutable.ArrayBuffer.empty[String]
    val e = intercept[Exception] {
      failAfter(60.seconds) {
        SyncPipeline.runObserved(entities, SyncSink.FK_ORDER)((name, _) => sunk += name)
      }
    }
    assert(e.getMessage.contains("bad course c2"), e)
    assert(sunk.isEmpty)
    eventually(timeout(10.seconds))(assert(poolThreads == 0))
  }

  test("the caller's job group is on every diff job") {
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }
    }
    val entities = SyncSink.FK_ORDER.zipWithIndex.map { case (name, i) =>
      SyncPipeline.Entity(name, Seq((i, "x"), (i + 100, "y")).toDF("id_num", "v"),
        Seq((i, "x")).toDF("id_num", "v"), Seq("id_num"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup("sync-caller", "diff jobs inherit it", interruptOnCancel = false)
    try {
      val (order, _, metrics) = failAfter(60.seconds) {
        SyncPipeline.runObserved(entities, SyncSink.FK_ORDER)((_, _) => ())
      }
      assert(order == SyncSink.FK_ORDER)
      assert(metrics.values.map(_("n_rows")).toSet == Set(1L))
      GraftSqlBridge.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get >= SyncSink.FK_ORDER.size)
    assert(groups.asScala.toSet == Set("sync-caller"))
  }

  test("a sink that fails partway stops the FK-ordered sync and surfaces its error") {
    val entities = SyncSink.FK_ORDER.zipWithIndex.map { case (name, i) =>
      SyncPipeline.Entity(name, Seq((i, "x"), (i + 100, "y")).toDF("id_num", "v"),
        Seq((i, "x")).toDF("id_num", "v"), Seq("id_num"))
    }
    val sunk = mutable.ArrayBuffer.empty[String]
    val e = intercept[IllegalStateException] {
      failAfter(60.seconds) {
        SyncPipeline.runObserved(entities, SyncSink.FK_ORDER) { (name, _) =>
          if (name == "sections") throw new IllegalStateException("upload of sections refused")
          sunk += name
        }
      }
    }
    assert(e.getMessage == "upload of sections refused")
    assert(sunk.toSeq == SyncSink.FK_ORDER.takeWhile(_ != "sections"))
    eventually(timeout(10.seconds))(assert(poolThreads == 0))
  }

  test("a sink that fails mid-write on sections leaves the previous run's sections upload in place") {
    val dir = java.nio.file.Files.createTempDirectory("uploads")
    def contents(name: String): Map[String, Seq[Byte]] =
      dir.resolve(name).toFile.listFiles().map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    def entities(night: Int) = SyncSink.FK_ORDER.zipWithIndex.map { case (name, i) =>
      SyncPipeline.Entity(name, Seq((i, "x"), (i + 100 * night, "y")).toDF("id_num", "v"),
        Seq((i, "x")).toDF("id_num", "v"), Seq("id_num"))
    }
    def upload(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      Tables.writeCsv(df, dir.resolve(name).toString, singleFile = true)
    SyncPipeline.runObserved(entities(1), SyncSink.FK_ORDER)(upload)
    val before = SyncSink.FK_ORDER.map(n => n -> contents(n)).toMap
    val e = intercept[Exception] {
      SyncPipeline.runObserved(entities(2), SyncSink.FK_ORDER) { (name, df) =>
        // the sections upload fails in a task of its write
        if (name == "sections") Tables.writeCsv(df.repartition(1).withColumn("v",
          when(col("id_num") > 100, raise_error(lit("disk full"))).otherwise(col("v"))),
          dir.resolve(name).toString)
        else upload(name, df)
      }
    }
    assert(e.getMessage.contains("disk full"), e)
    assert(contents("sections") == before("sections"))
    // the entities before sections carry the second run's uploads, the
    // ones after it the first run's
    val (sunk, rest) = SyncSink.FK_ORDER.span(_ != "sections")
    assert(sunk.forall(n => contents(n) != before(n)))
    assert(rest.forall(n => contents(n) == before(n)))
  }

  test("two concurrent runs in one session each return their own results") {
    // Same entity names, different data: each run's order, metrics,
    // report and uploaded rows must equal what it yields when run alone.
    def entities(ids: Seq[Long], enr: Seq[(Long, String)]) = Seq(
      SyncPipeline.Entity("faculty_users", ids.map(i => (i, s"prof$i")).toDF("id_num", "login_id"),
        Seq((1L, "prof1")).toDF("id_num", "login_id"), Seq("id_num")),
      SyncPipeline.Entity("courses", ids.map(i => (s"c$i", "t")).toDF("crs_cde", "title"),
        Seq(("c2", "t")).toDF("crs_cde", "title"), Seq("crs_cde")),
      SyncPipeline.Entity("daily_enrollment", enr.toDF("user_id", "course_id"),
        Seq((10L, "c1"), (12L, "c2")).toDF("user_id", "course_id"),
        Seq("user_id", "course_id"), symmetric = true))
    val a = entities(Seq(1L, 2L, 3L), Seq((10L, "c1"), (11L, "c1")))
    val b = entities(Seq(1L, 4L, 5L, 6L, 7L), Seq((12L, "c2"), (13L, "c3"), (14L, "c3")))
    def run(es: Seq[SyncPipeline.Entity]) = {
      val sunk = mutable.LinkedHashMap.empty[String, Set[Row]]
      val (order, report, metrics) = SyncPipeline.runObserved(es, SyncSink.FK_ORDER) {
        (name, df) => sunk(name) = df.collect().toSet
      }
      (order, report.collect().toSet, metrics, sunk.toSeq)
    }
    val (soloA, soloB) = (run(a), run(b))
    assert(soloA != soloB)

    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val runs = Seq(a, b).map { es =>
        pool.submit[Any] { () => start.await(); run(es) }
      }
      start.countDown()
      val Seq(concA, concB) = failAfter(120.seconds)(runs.map(_.get()))
      assert(concA == soloA)
      assert(concB == soloB)
    } finally pool.shutdownNow()
  }
}
