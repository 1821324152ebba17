package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The reference's full sync run as one composable pipeline
  * (SURVEY §3.3): ERP truth vs Canvas mirror per entity → missing-row
  * anti-joins (J2-J5) + the enrollment symmetric diff (J6) → FK-ordered
  * sink loop (K3) → change report (K4/A3).
  *
  * Everything between the source scans and the sinks is one lazy Catalyst
  * lineage per entity; the FK order of the sink loop is the only
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
    * Each entity's update set carries a Spark [[Observation]], so
    * per-entity row and null-key counts are collected DURING the sink
    * write — no second pass over the data (a separate count() would
    * re-execute the whole diff per entity, and at 100 TB the re-scan
    * costs more than the sync itself). Returned metrics cover exactly
    * the sunk entities (an observation only resolves after an action has
    * run on its dataset, so the sink must run one).
    */
  def runObserved(entities: Seq[Entity], order: Seq[String])
                 (sink: (String, DataFrame) => Unit)
      : (Seq[String], DataFrame, Map[String, Map[String, Any]]) = {
    val obs = entities.map(e => e.name -> Observation(s"sync_${e.name}")).toMap
    val keyOf = entities.map(e => e.name -> e.keys.head).toMap
    val updates = computeUpdates(entities).map { case (name, df) =>
      name -> df.observe(obs(name),
        count(lit(1)).as("n_rows"),
        sum(when(col(keyOf(name)).isNull, 1L).otherwise(0L)).as("n_null_key"))
    }
    val sunk = SyncSink.uploadAll(updates, order)(sink)
    val metrics = sunk.map(n => n -> obs(n).get).toMap
    (sunk, SyncSink.changeReport(updates), metrics)
  }
}
