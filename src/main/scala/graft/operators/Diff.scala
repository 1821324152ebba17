package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Diff/sync operators — the engine's reason to exist.
  *
  * The reference computes all seven of its diff queries inside SQL Server
  * (reference: src/jenzabar.py:51-58,74-75: MissingFacultyUsers,
  * MissingStudentUsers, MissingCourses, MissingSections, DailyEnrollment,
  * CtlLibraryCourses, CtlLibrarySections). This module internalizes that
  * externalized compute as Catalyst joins.
  *
  * Scale notes (100 TB posture):
  *  - `missingRows`/`changedRows` shuffle both sides on the key columns; at
  *    scale pre-bucket the mirror snapshot on the same keys so only the
  *    "truth" side shuffles.
  *  - When the mirror side is a small dimension, Catalyst/AQE picks a
  *    broadcast anti-join automatically; don't force it for big mirrors.
  *  - `changeSet` (and `changedRows`, which is `changeSet` over the keys)
  *    is one full-outer join, not two anti-joins — a single shuffle
  *    instead of two.
  */
object Diff {

  /** Anti-join: rows of `truth` whose key has no counterpart in `mirror`
    * (SURVEY §2.3 J2-J5, J7). Generalizes MissingFacultyUsers /
    * MissingStudentUsers / MissingCourses / MissingSections /
    * CtlLibrary* (reference src/jenzabar.py:52-58).
    */
  def missingRows(truth: DataFrame, mirror: DataFrame, keys: Seq[String]): DataFrame =
    truth.join(mirror.select(keys.map(col): _*), keys, "left_anti")

  /** Symmetric diff with status derivation (SURVEY §2.3 J6 —
    * DailyEnrollment.sql): rows only in `truth` become adds
    * (status=active), rows only in `mirror` become drops (status=deleted).
    * It is [[changeSet]] over the two key projections: with no data
    * columns no key can be an update, so `upsert` is an add and `delete`
    * a drop (duplicate keys pair up as the join does). The Canvas SIS
    * enrollment format carries the status column
    * (reference tests/test_connect.py:160-161).
    */
  def changedRows(truth: DataFrame, mirror: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    val status = when(col("op") === "upsert", lit("active")).otherwise(lit("deleted"))
    changeSet(truth.select(kc: _*), mirror.select(kc: _*), keys)
      .select(kc :+ status.as("status"): _*)
  }

  /** Per-entity change statistics (SURVEY §2.4 A3): what Canvas computes
    * server-side and the reference merely consumes
    * (reference src/canvas.py:136-162) — created/deleted counts keyed by
    * entity and status. Partial aggregation (map-side combine) makes this
    * a near-free pass over the diff output.
    */
  def changeStats(diff: DataFrame, entity: String): DataFrame =
    diff.groupBy(lit(entity).as("entity"), col("status"))
      .agg(count(lit(1)).as("n"))

  /** Full-row change set between today's `truth` and yesterday's `mirror`
    * (keyed MERGE input). Output: truth's columns plus `op`:
    *
    *  - key in truth only                         -> op=upsert (insert)
    *  - key in both, any non-key column differing -> op=upsert (update,
    *    carrying truth's values)
    *  - key in mirror only                        -> op=delete (non-key
    *    columns null)
    *
    * Identical rows produce nothing — the change set is proportional to
    * the day's churn, not the table. One full-outer join on the keys
    * (single shuffle); comparisons are null-safe (`<=>`). Contract: both
    * sides unique on `keys`.
    *
    * [[changedRows]] is this over the key columns alone (key-level
    * add/drop status, no update detection and no payload).
    */
  def changeSet(truth: DataFrame, mirror: DataFrame, keys: Seq[String]): DataFrame = {
    val dataCols = truth.columns.toSeq.filterNot(keys.contains)
    val t = truth.withColumn("_t", lit(1))
    val m = dataCols.foldLeft(mirror.select(truth.columns.map(col): _*)) {
      (d, c) => d.withColumnRenamed(c, s"_m_$c")
    }.withColumn("_m", lit(1))
    val differs =
      if (dataCols.isEmpty) lit(false)
      else dataCols.map(c => !(col(c) <=> col(s"_m_$c"))).reduce(_ || _)
    // Filter first, then label: a filter on the `op` CASE would plan as a
    // CASE, not as `isnull(_t) OR isnull(_m) OR ...`.
    t.join(m, keys, "full_outer")
      .filter(col("_t").isNull || col("_m").isNull || differs)
      .select(keys.map(col) ++ dataCols.map(col) :+
        when(col("_t").isNull, lit("delete")).otherwise(lit("upsert")).as("op"): _*)
  }

  /** Apply a [[changeSet]] to a keyed mirror snapshot, producing the next
    * snapshot: upserts replace (or insert) their key's row, deletes drop
    * it — MERGE semantics, the incremental alternative to the reference's
    * truncate-and-reload (reference src/jenzabar.py:46-47, preserved as
    * `Jdbc.overwriteMirror`). Invariant (property-tested):
    * `applyChanges(mirror, changeSet(truth, mirror, keys), keys) == truth`.
    *
    * Scale shape — why this is THE 100 TB upgrade: the mirror is
    * anti-joined against just the touched keys and unioned with the
    * upsert rows. The change set is sized by daily churn, so AQE picks a
    * broadcast anti-join and the 100 TB mirror is never shuffled OR
    * rewritten wholesale; only churn-proportional data moves. The union
    * is narrow (no exchange).
    */
  def applyChanges(mirror: DataFrame, changes: DataFrame, keys: Seq[String],
                   opCol: String = "op"): DataFrame = {
    val cols = mirror.columns.toSeq
    val upserts = changes.filter(col(opCol) === "upsert").select(cols.map(col): _*)
    // Every changed key leaves the mirror (one anti-join); upserted keys
    // re-enter with truth's values.
    val touched = changes.select(keys.map(col): _*)
    mirror.join(touched, keys, "left_anti").unionByName(upserts)
  }

  /** Broadcast dimension lookup (SURVEY §2.3 J1): resolve each fact row's
    * term against a tiny term dimension, reference src/canvas.py:19-27
    * (first match wins — the dimension is unique on the sis key).
    * Explicit `broadcast` because the dimension is known-tiny; at 100 TB
    * this avoids shuffling the fact side entirely.
    */
  def dimLookup(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                joinType: String = "left"): DataFrame =
    fact.join(broadcast(dim), fact(factKey) === dim(dimKey), joinType)
}
