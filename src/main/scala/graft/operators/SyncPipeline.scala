package graft.operators

import java.util.concurrent.{ExecutionException, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
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
    * Each entity's update set carries a Spark [[Observation]], so
    * per-entity row, null-key and per-status counts are collected by
    * that same `collect()` — no second pass over the data (a separate
    * count() would re-execute the whole diff per entity). A row has a
    * null key when any of its key columns is null: such a row can never
    * match. The change report is built from those per-status counts as a
    * local frame (dataset, status, n), one row per sunk entity and
    * non-zero status; reading it runs no Spark job, and it describes
    * exactly the rows that were uploaded, even when the sink applies
    * them to the mirror. Metrics and report do not depend on the sink
    * running any action.
    */
  def runObserved(entities: Seq[Entity], order: Seq[String])
                 (sink: (String, DataFrame) => Unit)
      : (Seq[String], DataFrame, Map[String, Map[String, Any]]) = {
    val obs = entities.map(e => e.name -> Observation(s"sync_${e.name}")).toMap
    val keysOf = entities.map(e => e.name -> e.keys).toMap
    val byStatus = udaf(StatusCounts, Encoders.STRING)
    val updates = computeUpdates(entities).map { case (name, df) =>
      val nullKey = keysOf(name).map(col(_).isNull).reduce(_ || _)
      name -> df.observe(obs(name),
        count(lit(1)).as("n_rows"),
        sum(when(nullKey, 1L).otherwise(0L)).as("n_null_key"),
        byStatus(SyncSink.reportStatus(df)).as("n_by_status"))
    }
    val sunk = SyncSink.uploadAll(collectAll(updates), order)(sink)
    val metrics = sunk.map(n => n -> obs(n).get).toMap
    val lines = for {
      n <- sunk
      s <- metrics(n)("n_by_status").asInstanceOf[Seq[Row]]
    } yield Row(n, s.getString(0), s.getLong(1))
    val report = SparkSession.active.createDataFrame(lines.asJava, ReportSchema)
    (sunk, report, metrics)
  }

  /** Collects every update set at once, one pool thread per entity, and
    * returns each as a local frame with its schema. The pool is created
    * for this call, so its threads inherit the caller's job group and
    * local properties. The first failure is rethrown after every collect
    * has finished, and the pool is gone when this returns.
    */
  private def collectAll(updates: Map[String, DataFrame]): Map[String, DataFrame] = {
    val pool = Executors.newFixedThreadPool(math.max(updates.size, 1),
      (r: Runnable) => new Thread(r, "sync-diff"))
    try {
      val pending = updates.map { case (name, df) =>
        name -> pool.submit[Array[Row]](() => df.collect())
      }
      val done = pending.map { case (name, f) => name -> Try(f.get()) }
      done.values.collectFirst { case Failure(e: ExecutionException) => throw e.getCause }
      done.map { case (name, rows) =>
        val df = updates(name)
        name -> df.sparkSession.createDataFrame(rows.get.toSeq.asJava, df.schema)
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  private val ReportSchema = StructType(Seq(
    StructField("dataset", StringType, nullable = false),
    StructField("status", StringType),
    StructField("n", LongType, nullable = false)))

  /** Rows per report status. The state is one counter per distinct
    * status (a null status is counted as its own), and every counter it
    * emits is non-zero.
    */
  private object StatusCounts
      extends Aggregator[String, Seq[(String, Long)], Seq[(String, Long)]] {
    def zero: Seq[(String, Long)] = Vector.empty
    def reduce(b: Seq[(String, Long)], status: String): Seq[(String, Long)] =
      add(b, status, 1L)
    def merge(a: Seq[(String, Long)], b: Seq[(String, Long)]): Seq[(String, Long)] =
      b.foldLeft(a) { case (acc, (status, n)) => add(acc, status, n) }
    def finish(r: Seq[(String, Long)]): Seq[(String, Long)] = r

    private def add(b: Seq[(String, Long)], status: String, n: Long) =
      b.indexWhere(_._1 == status) match {
        case -1 => b :+ (status -> n)
        case i => b.updated(i, status -> (b(i)._2 + n))
      }

    // Derived once: every observed upload plans the aggregate anew.
    lazy val bufferEncoder: Encoder[Seq[(String, Long)]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[(String, Long)]] = bufferEncoder
  }
}
