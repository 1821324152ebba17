package graft.operators

import java.util.concurrent.{ExecutionException, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The reference's full sync run as one composable pipeline
  * (SURVEY §3.3): ERP truth vs Canvas mirror per entity → missing-row
  * anti-joins (J2-J5) + the enrollment symmetric diff (J6) → FK-ordered
  * sink loop (K3) → change report (K4/A3).
  *
  * Everything between the source scans and the update sets is one lazy
  * Catalyst lineage per entity; the update sets are computed together,
  * before any upload. The FK order of the sink loop is the only
  * sequential constraint (it lives in driver code by design — it is a
  * correctness contract with the downstream SIS import, not a data
  * dependency Catalyst could see).
  */
object SyncPipeline {

  /** One entity's sync inputs: ERP truth, mirror snapshot, and the key
    * columns the diff runs on.
    */
  final case class Entity(name: String, truth: DataFrame, mirror: DataFrame,
                          keys: Seq[String], symmetric: Boolean = false)

  /** Compute the per-entity update sets: anti-join "missing" rows for
    * plain entities, add/drop status diff for symmetric ones
    * (DailyEnrollment, reference tests/test_connect.py:160-161).
    */
  def computeUpdates(entities: Seq[Entity]): Map[String, DataFrame] =
    entities.map { e =>
      val update =
        if (e.symmetric) Diff.changedRows(e.truth, e.mirror, e.keys)
        else Diff.missingRows(e.truth, e.mirror, e.keys)
      e.name -> update
    }.toMap

  /** Full run: updates → ordered sinks → report rows. Returns the sunk
    * dataset names (in order), the change report and per-entity metrics.
    *
    * As in the reference (`download_all_updates`, then
    * `upload_all_updates`; SURVEY §3.3), every update set is computed
    * before the first upload: each runs as one `collect()` on its own
    * thread, all at once, so every diff sees the pre-upload mirror. The
    * sink then gets, in FK order, a local frame holding those rows with
    * the update set's schema. If any diff fails, no sink runs, and the
    * first failure is rethrown once every diff has finished. Each update
    * set must fit in `spark.driver.maxResultSize`; a larger one fails its
    * collect.
    *
    * The per-entity metrics `n_rows` and `n_null_key` and the report's
    * per-status counts are counted on the driver from those same
    * collected rows, so they need no second pass over the data. A row
    * has a null key when any of its key columns is null: such a row can
    * never match. A row's status is its `status` field, or "created"
    * when the update set has none; a null status is counted as its own.
    * The change report is a local frame (dataset, status, n), one row
    * per sunk entity and non-zero status; reading it runs no Spark job,
    * and it describes exactly the rows that were uploaded, even when the
    * sink applies them to the mirror. Metrics and report do not depend on
    * the sink running any action.
    */
  def runObserved(entities: Seq[Entity], order: Seq[String])
                 (sink: (String, DataFrame) => Unit)
      : (Seq[String], DataFrame, Map[String, Map[String, Any]]) = {
    val updates = computeUpdates(entities)
    val rows = collectAll(updates)
    val local = updates.map { case (name, df) =>
      name -> df.sparkSession.createDataFrame(rows(name).toSeq.asJava, df.schema)
    }
    val sunk = SyncSink.uploadAll(local, order)(sink)
    val keysOf = entities.map(e => e.name -> e.keys).toMap
    val metrics = sunk.map { n =>
      val keys = keysOf(n).map(updates(n).schema.fieldIndex)
      n -> Map[String, Any](
        "n_rows" -> rows(n).length.toLong,
        "n_null_key" -> rows(n).count(r => keys.exists(r.isNullAt)).toLong)
    }.toMap
    val lines = sunk.flatMap { n =>
      val status = updates(n).schema.fieldNames.indexOf("status")
      def statusOf(r: Row) = if (status < 0) "created" else r.getString(status)
      rows(n).groupMapReduce(statusOf)(_ => 1L)(_ + _).map { case (s, k) => Row(n, s, k) }
    }
    val report = SparkSession.active.createDataFrame(lines.asJava, ReportSchema)
    (sunk, report, metrics)
  }

  /** Collects every update set at once, one pool thread per entity. The
    * pool is created for this call, so its threads inherit the caller's
    * job group and local properties. The first failure is rethrown after
    * every collect has finished, and the pool is gone when this returns.
    */
  private def collectAll(updates: Map[String, DataFrame]): Map[String, Array[Row]] = {
    val pool = Executors.newFixedThreadPool(math.max(updates.size, 1),
      (r: Runnable) => new Thread(r, "sync-diff"))
    try {
      val pending = updates.map { case (name, df) =>
        name -> pool.submit[Array[Row]](() => df.collect())
      }
      val done = pending.map { case (name, f) => name -> Try(f.get()) }
      done.values.collectFirst { case Failure(e: ExecutionException) => throw e.getCause }
      done.map { case (name, rows) => name -> rows.get }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  private val ReportSchema = StructType(Seq(
    StructField("dataset", StringType, nullable = false),
    StructField("status", StringType),
    StructField("n", LongType, nullable = false)))
}
