package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Using

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Ordered multi-sink + sync report (SURVEY §2.1 K3/K4, §2.4 A3).
  *
  * The reference uploads the update files to the SIS import in strict FK
  * dependency order — users before courses before sections before
  * enrollments before the library datasets (reference:
  * src/canvas.py:107-133, order list at 108-116) — and writes a per-file
  * change report (src/canvas.py:136-162). The order is a *correctness*
  * constraint that lives outside the DAG, so it stays in typed driver
  * code: each dataset's sink action is an ordinary write (or any
  * side-effecting callback), but the loop awaits each before starting
  * the next. `SyncPipeline.runObserved` computes every update set
  * before this loop starts, so its sinks get small local frames, and a
  * single-file `Tables.writeCsv` of one runs no Spark job; the sync's
  * metrics and change report are counted from those same collected rows.
  */
object SyncSink {

  /** The reference's FK dependency order (src/canvas.py:108-116). */
  val FK_ORDER: Seq[String] = Seq(
    "faculty_users", "student_users", "courses", "sections",
    "daily_enrollment", "ctl_library_courses", "ctl_library_sections")

  /** Sink each named dataset in `order`, sequentially; datasets absent
    * from `updates` are skipped (the reference tolerates missing files —
    * not every term produces every update). Returns the sunk names.
    */
  def uploadAll(updates: Map[String, DataFrame], order: Seq[String])
               (sink: (String, DataFrame) => Unit): Seq[String] = {
    val unknown = updates.keySet -- order.toSet
    require(unknown.isEmpty, s"datasets not in FK order: $unknown")
    order.filter(updates.contains).map { name =>
      sink(name, updates(name))
      name
    }
  }

  /** Per-entity change statistics across all updates (A3): the counts the
    * Canvas side computes and the reference consumes
    * (src/canvas.py:137-150), recomputed from the update frames as the
    * union of [[Diff.changeStats]] over them. It re-executes every diff,
    * so it counts what the diffs yield now, not what was uploaded. A
    * row's status is the frame's `status` column, or "created" when the
    * frame has none (anti-join entities without one).
    * `SyncPipeline.runObserved` does not call it: it counts the same
    * report from the update sets' collected rows. Kept as the reference
    * that report is tested against.
    */
  def changeReport(updates: Map[String, DataFrame]): DataFrame =
    updates.map { case (name, df) =>
      val withStatus =
        if (df.columns.contains("status")) df else df.withColumn("status", lit("created"))
      Diff.changeStats(withStatus, name).withColumnRenamed("entity", "dataset")
    }.reduce(_ unionByName _)

  /** Write the sync report as text lines (K4, report.txt shape:
    * per-dataset counts in (dataset, status) order, then warnings;
    * src/canvas.py:136-162) to one `part-00000` file under `path`,
    * replacing any earlier output. The report is a handful of rows, so
    * it is sorted on the driver and published by `Tables.publish`
    * (written to `path.staging`, then swapped in): a local report costs
    * no Spark job, and a failed write leaves the previous report in
    * place.
    */
  def writeReport(spark: SparkSession, report: DataFrame, path: String,
                  warnings: Seq[String] = Nil): Unit = {
    val lines = report.collect()
      .sortBy(r => (r.getString(0), Option(r.getString(1))))
      .map(r => s"${r.getString(0)}: ${r.getString(1)} = ${r.getLong(2)}")
      .toSeq ++ warnings.map(w => s"WARNING: $w")
    Tables.publish(spark, path) { (fs, staging) =>
      Using.resource(fs.create(new Path(staging, "part-00000")))(
        _.write(lines.map(_ + "\n").mkString.getBytes(UTF_8)))
    }
  }
}
