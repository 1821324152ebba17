package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink round-trips for the file-format edges (SURVEY §2.1
  * S4/K1/S8 + [EXT] json/orc): schema-contracted reads, no inferSchema
  * on production paths.
  */
class TablesTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id_num", LongType),
    StructField("login_id", StringType),
    StructField("score", DoubleType)))

  private def sample = Seq(
    (1L, "alice", 0.5), (2L, "bob", 0.25), (3L, "carol", 1.0)
  ).toDF("id_num", "login_id", "score")

  test("CSV sink + schema-contracted scan round-trips (S4/K1)") {
    val dir = java.nio.file.Files.createTempDirectory("csv").toString
    Tables.writeCsv(sample, s"$dir/users", singleFile = true)
    val back = Tables.csv(spark, s"$dir/users", schema)
    assert(back.schema == schema)
    assert(back.orderBy("id_num").collect().toSeq == sample.orderBy("id_num").collect().toSeq)
  }

  private def partFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).toSeq

  private def singlePart(dir: String): Array[Byte] = {
    val parts = partFiles(dir)
    assert(parts.size == 1, parts)
    java.nio.file.Files.readAllBytes(parts.head.toPath)
  }

  test("single-file writeCsv writes the bytes of Spark's coalesce(1) writer") {
    val valueSchema = StructType(Seq(
      StructField("s", StringType), StructField("d", DoubleType),
      StructField("b", BooleanType), StructField("day", DateType),
      StructField("ts", TimestampType), StructField("n", LongType)))
    val day = java.sql.Date.valueOf("2025-08-25")
    val ts = java.sql.Timestamp.valueOf("2025-08-25 13:45:06.789")
    val values = Seq(
      Row("plain", 1.5, true, day, ts, 1L),
      Row("a,b", -0.25, false, null, null, null),
      Row("say \"hi\"", 1e20, null, day, ts, -7L),
      Row(null, null, true, day, ts, 0L),
      Row("", Double.NaN, false, day, ts, Long.MaxValue),
      Row("line1\nline2", 0.1, true, day, ts, 3L))
    val df = spark.createDataFrame(java.util.Arrays.asList(values: _*), valueSchema)
    val dir = java.nio.file.Files.createTempDirectory("csvbytes").toString
    Seq("values" -> df, "empty" -> df.limit(0)).foreach { case (name, frame) =>
      frame.coalesce(1).write.option("header", "true").csv(s"$dir/spark_$name")
      Tables.writeCsv(frame, s"$dir/graft_$name", singleFile = true)
      val (want, got) = (singlePart(s"$dir/spark_$name"), singlePart(s"$dir/graft_$name"))
      assert(new String(got, "UTF-8") == new String(want, "UTF-8"), name)
      assert(got.sameElements(want), name)
    }
  }

  test("single-file writeCsv of a local frame runs no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("csvjobs").toString
    val (_, rec) = Layers.record(spark) {
      Tables.writeCsv(sample, s"$dir/users", singleFile = true)
    }
    assert(rec.total.jobs == 0, rec.sites)
    assert(partFiles(s"$dir/users").map(_.getName).forall(_.matches("part-00000-.*-c000\\.csv")))
  }

  test("single-file writeCsv replaces earlier output with exactly one part- file") {
    val out = java.nio.file.Files.createTempDirectory("csvreplace").resolve("users").toString
    sample.repartition(3).write.option("header", "true").csv(out)
    assert(partFiles(out).size > 1)
    Tables.writeCsv(sample.filter($"id_num" < 3), out, singleFile = true)
    assert(partFiles(out).size == 1)
    assert(Tables.csv(spark, out, schema).orderBy("id_num").collect().toSeq ==
      sample.filter($"id_num" < 3).orderBy("id_num").collect().toSeq)
  }

  // every file under dir, hidden checksums included, by name
  private def contents(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().map(f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap

  // a frame whose write fails in a task, after its output path is chosen
  private def poisoned = spark.range(1, 4).select(col("id").as("id_num"),
    when(col("id") === 3L, raise_error(lit("disk full"))).otherwise(lit("x")).as("login_id"),
    lit(0.5).as("score"))

  test("a failed writeCsv or writeReport leaves the previous output byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("publish")
    val (out, rep) = (dir.resolve("users").toString, dir.resolve("report").toString)
    Tables.writeCsv(sample, out, singleFile = true)
    val before = contents(out)
    intercept[Exception](Tables.writeCsv(poisoned, out))
    assert(contents(out) == before)
    intercept[Exception](Tables.writeCsv(poisoned, out, singleFile = true))
    assert(contents(out) == before)
    val e = intercept[IllegalStateException] {
      Tables.publish(spark, out) { (fs, staging) =>
        val o = fs.create(new org.apache.hadoop.fs.Path(staging, "part-00000"))
        o.write("half a rep".getBytes("UTF-8"))
        o.close()
        throw new IllegalStateException("disk full")
      }
    }
    assert(e.getMessage == "disk full")
    assert(contents(out) == before)

    val report = Seq(("sections", "created", 3L)).toDF("dataset", "status", "n")
    operators.SyncSink.writeReport(spark, report, rep)
    val reportBefore = contents(rep)
    intercept[Exception](operators.SyncSink.writeReport(spark,
      poisoned.select(col("login_id").as("dataset"), lit("created").as("status"),
        col("id_num").as("n")), rep))
    assert(contents(rep) == reportBefore)
  }

  test("an output stranded at path.old by an interrupted swap heals on the next write") {
    val out = java.nio.file.Files.createTempDirectory("heal").resolve("users").toString
    val (old, staging) = (new java.io.File(out + ".old"), new java.io.File(out + ".staging"))
    Tables.writeCsv(sample, out, singleFile = true)
    val first = contents(out)
    // the swap died between its renames: the output sits at .old only
    assert(new java.io.File(out).renameTo(old))
    intercept[Exception](Tables.writeCsv(poisoned, out))
    assert(contents(out) == first)
    assert(!old.exists())

    assert(new java.io.File(out).renameTo(old))
    Tables.writeCsv(sample.filter($"id_num" < 3), out, singleFile = true)
    assert(Tables.csv(spark, out, schema).orderBy("id_num").collect().toSeq ==
      sample.filter($"id_num" < 3).orderBy("id_num").collect().toSeq)
    assert(!old.exists() && !staging.exists())

    // the swap died before dropping .old: the new output stays
    assert(old.mkdir())
    Tables.writeCsv(sample, out, singleFile = true)
    assert(Tables.csv(spark, out, schema).count() == 3)
    assert(!old.exists() && !staging.exists())
  }

  test("json lines round-trip with explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("json").toString
    sample.write.mode("overwrite").json(s"$dir/users")
    val back = spark.read.schema(schema).json(s"$dir/users")
    assert(back.orderBy("id_num").collect().toSeq == sample.orderBy("id_num").collect().toSeq)
  }

  test("orc round-trip preserves schema and values") {
    val dir = java.nio.file.Files.createTempDirectory("orc").toString
    sample.write.mode("overwrite").orc(s"$dir/users")
    val back = spark.read.orc(s"$dir/users")
    assert(back.schema.fields.map(_.name).toSeq == schema.fields.map(_.name).toSeq)
    assert(back.orderBy("id_num").collect().toSeq == sample.orderBy("id_num").collect().toSeq)
  }

  test("events reads TIMESTAMP(NANOS) as micros without changing the session conf") {
    // nanos_events/events.parquet: three rows whose ts is parquet
    // TIMESTAMP(NANOS) with sub-microsecond digits. DuckDB 1.0's own
    // parquet writer stores TIMESTAMP_NS as micros, so the rows come from
    // DuckDB through Arrow, and pyarrow's writer keeps the nanos:
    //   python3 -c "import duckdb, pyarrow as pa, pyarrow.parquet as pq
    //   t = duckdb.sql('''SELECT event_id, epoch_us(ts) * 1000 + ns AS ts,
    //     user_id, event_type, value FROM (VALUES
    //     (1::BIGINT, TIMESTAMP '2024-03-01 08:00:00.123456', 789, 7::BIGINT, 'view', 1.5::DOUBLE),
    //     (2::BIGINT, TIMESTAMP '2024-03-01 08:00:01', 999, 7::BIGINT, 'purchase', 20.0::DOUBLE),
    //     (3::BIGINT, TIMESTAMP '1999-12-31 23:59:59.999999', 1, 9::BIGINT, 'view', 0.25::DOUBLE))
    //     v(event_id, ts, ns, user_id, event_type, value) ORDER BY event_id''').arrow()
    //   pq.write_table(t.set_column(1, 'ts', t.column('ts').cast(pa.timestamp('ns'))),
    //     'events.parquet')"
    val dir = new java.io.File(getClass.getResource("/nanos_events").toURI).getPath
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // a plain read's outcome: the ts type it executes with, or its failure
    def plainRead(): Either[String, DataType] = scala.util.Try {
      val df = spark.read.parquet(s"$dir/events.parquet")
      df.collect()
      df.schema("ts").dataType
    }.toEither.left.map(_.getClass.getName)
    val confBefore = spark.conf.getOption(key)
    val plainBefore = plainRead()

    val ev = Tables.events(spark, dir)
    assert(spark.conf.getOption(key) == confBefore)
    // executed after events() returned: the scan still reads the nanos
    assert(ev.schema("ts").dataType == TimestampType)
    val micros = ev.orderBy("event_id").select(unix_micros($"ts")).as[Long].collect().toSeq
    assert(micros == Seq(1709280000123456L, 1709280001000000L, 946684799999999L))
    assert(spark.conf.getOption(key) == confBefore)
    assert(plainRead() == plainBefore)
  }

  test("parquet loaders read every driver table at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    Tables.all.foreach { t =>
      // events needs its dedicated loader (TIMESTAMP(NANOS) normalization)
      val df = if (t == "events") Tables.events(spark, sf)
               else Tables.table(spark, sf, t)
      assert(df.count() > 0, s"table $t empty")
    }
  }
}
