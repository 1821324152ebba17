package graft

import java.io.OutputStreamWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import scala.util.Using

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Typed access to the engine's table surface.
  *
  * The reference stages every dataset as CSV files on local disk between
  * stages (reference: src/integrator.py:17, src/canvas.py:59); here each
  * table is a columnar Parquet scan and all intermediate state stays inside
  * one lazy Catalyst lineage. At 100 TB these would be partitioned
  * directories (e.g. term-partitioned mirrors for dynamic partition
  * pruning); the loader API is directory-based so that swap is free.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet scan (SURVEY §2.1 S8). Column pruning + predicate pushdown
    * reach the scan automatically because nothing materializes in between.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** The events table's `ts` encoding varies by producer: some corpora
    * carry parquet TIMESTAMP(NANOS) — which Spark's vectorized reader
    * rejects, so it is read as a nanos-since-epoch long (via
    * `nanosAsLong`) and truncate-divided to a micros TIMESTAMP, matching
    * how DuckDB coerces TIMESTAMP_NS — while others are already micros
    * (TIMESTAMP or TIMESTAMP_NTZ). Dispatch on the type the reader
    * actually produced: the footer is read once either way, so the
    * branch costs nothing, and every downstream query sees one
    * canonical micros TIMESTAMP column (session tz pinned UTC, so the
    * NTZ wall-clock equals the instant). `nanosAsLong` is scoped to this
    * relation (`scopedRead`); the session's own conf is left as it is.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = GraftSqlBridge.scopedRead(s,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")(table(_, d, "events"))
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** CSV scan with an explicit schema (SURVEY §2.1 S4): schema is inferred
    * at the edge in the reference (src/canvas.py:63) but contracted here —
    * no `inferSchema` on production paths (it costs a full extra pass).
    */
  def csv(spark: SparkSession, path: String,
          schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** CSV sink (SURVEY §2.1 K1; reference src/canvas.py:59) with a header,
    * replacing any earlier output at `path` through [[publish]]: a write
    * that fails leaves the previous output in place. Large outputs keep
    * their partitioning and go through Spark's writer. `singleFile =
    * true` is for the small update files handed to a downstream REST
    * sink: the rows are collected and rendered on the driver by Spark's
    * own CSV generator (header, session time zone), so the bytes equal a
    * `coalesce(1)` write, into one `part-00000-<uuid>-c000.csv`. A local
    * frame costs no Spark job. The rows must fit in
    * `spark.driver.maxResultSize`; a larger frame fails its collect.
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val spark = df.sparkSession
    if (!singleFile)
      publish(spark, path)((_, staging) => df.write.option("header", "true").csv(staging.toString))
    else {
      val rows = df.collect()
      val options = new CSVOptions(Map("header" -> "true"),
        spark.sessionState.conf.csvColumnPruning,
        spark.sessionState.conf.sessionLocalTimeZone)
      val toInternal = ExpressionEncoder(df.schema, lenient = true).createSerializer()
      val name = s"part-00000-${UUID.randomUUID()}-c000.csv"
      publish(spark, path) { (fs, staging) =>
        Using.resource(fs.create(new Path(staging, name))) { out =>
          val gen = new UnivocityGenerator(df.schema, new OutputStreamWriter(out, UTF_8), options)
          gen.writeHeaders()
          rows.foreach(r => gen.write(toInternal(r)))
          gen.flush()
        }
      }
    }
  }

  /** The one way the engine replaces a file output at `path`, on the
    * FileSystem of the session's Hadoop configuration. It is a staged
    * swap, so a failed write or a crash at any point leaves the previous
    * output or the new one at `path`, never a hole or a half-written
    * file:
    *  1. heal an interrupted earlier swap. With both `path` and
    *     `path.old` present the new output had committed, so `.old` is
    *     dropped; with only `.old` present the swap died between its
    *     renames, so `.old` is renamed back. A stale `path.staging`
    *     (left by a failed write) is dropped;
    *  2. `stage` writes the new output to `path.staging`. A stage that
    *     writes nothing there leaves `path` as it is;
    *  3. swap: rename `path` to `path.old`, `.staging` to `path`, then
    *     delete `.old`.
    * Every rename and delete result is checked, and a rename only ever
    * targets an absent path: Hadoop's rename into an existing directory
    * nests the source inside it. A rename that failed silently would let
    * the write return while the next heal restores the old output;
    * throwing fails the write instead.
    */
  private[graft] def publish(spark: SparkSession, path: String)
                            (stage: (FileSystem, Path) => Unit): Unit = {
    val dst = new Path(path)
    val (old, staging) = (dst.suffix(".old"), dst.suffix(".staging"))
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rename(from: Path, to: Path): Unit =
      require(!fs.exists(to) && fs.rename(from, to), s"rename $from -> $to failed")
    def drop(p: Path): Unit =
      if (fs.exists(p)) require(fs.delete(p, true), s"delete $p failed")
    if (fs.exists(old)) { if (fs.exists(dst)) drop(old) else rename(old, dst) }
    drop(staging)
    stage(fs, staging)
    if (fs.exists(staging)) {
      if (fs.exists(dst)) rename(dst, old)
      rename(staging, dst)
      drop(old)
    }
  }

  /** ORC scan (SURVEY §2.1 format coverage beyond the reference's
    * CSV-only staging). Spark's native ORC reader gives the same
    * vectorization + predicate pushdown + column pruning as parquet —
    * the interchange format when an upstream warehouse emits ORC.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    publish(df.sparkSession, path)((_, staging) => df.write.orc(staging.toString))

  /** JSON-lines scan with a contracted schema — like [[csv]], never
    * `inferSchema` on a production path (inference is a full extra pass
    * over 100 TB). Malformed rows surface in the PERMISSIVE default's
    * corrupt-record column rather than killing the job; callers that
    * need fail-fast set mode=FAILFAST at the call site.
    */
  def jsonLines(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    publish(df.sparkSession, path)((_, staging) => df.write.json(staging.toString))
}
