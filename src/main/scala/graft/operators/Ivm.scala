package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental view maintenance for JOIN views — the delta-join product
  * rule over signed deltas. Against base tables (A₀, B₀), changes
  * (ΔA, ΔB) carry a `sign` (+1 insert, -1 delete):
  *
  *   Δ(A ⋈ B) = ΔA ⋈ B₀  ∪  A₀ ⋈ ΔB  ∪  ΔA ⋈ ΔB
  *
  * (the cross term appears exactly once — each new-new pair must count
  * once, and it is in neither ΔA⋈B₀ nor A₀⋈ΔB). An aggregate view over
  * the join then maintains by unioning the old grouped state with the
  * signed delta contributions and re-aggregating on the group key —
  * additive measures (SUM/COUNT) merge exactly; the shuffle is keyed by
  * the GROUP key over delta-sized input, never a rescan of the base
  * join. An insert-only change set is the case where every sign is +1
  * (the `ivm_join_view` query).
  *
  * This is the join sibling of the fact-only `ivm_monthly_revenue`
  * query: there the delta feeds one table; here both sides of a join
  * change and the product rule keeps the maintained view bit-equal to
  * a full recompute (which is exactly what the DuckDB oracle checks).
  */
object Ivm {

  /** Merge an old grouped-SUM state with delta contributions: union on
    * (groupCols, measures) and re-aggregate, summing each measure.
    * Additive-exact; both inputs must already be aggregated to one row
    * per group.
    */
  def mergeAggState(oldState: DataFrame, delta: DataFrame,
                    groupCols: Seq[String], measures: String*): DataFrame = {
    val sums = measures.map(m => sum(col(m)).as(m))
    oldState.unionByName(delta)
      .groupBy(groupCols.map(col): _*)
      .agg(sums.head, sums.tail: _*)
  }

  /** SIGNED delta-join — the bag-algebra product rule with retractions.
    * `da`/`db` carry a `sign` column (+1 insert, -1 delete) against the
    * PRE-change bases (a deleted row must exist in its base); the
    * output's `sign` is the product of contributing signs (base rows
    * count +1), which is exactly the multiplicity algebra of
    *
    *   (A₀+ΔA) ⋈ (B₀+ΔB) = A₀⋈B₀ + ΔA⋈B₀ + A₀⋈ΔB + ΔA⋈ΔΒ.
    */
  def deltaJoinSigned(a0: DataFrame, da: DataFrame,
                      b0: DataFrame, db: DataFrame, key: String): DataFrame = {
    val cross = da.withColumnRenamed("sign", "sign_a")
      .join(db.withColumnRenamed("sign", "sign_b"), key)
      .withColumn("sign", col("sign_a") * col("sign_b"))
      .drop("sign_a", "sign_b")
    da.join(b0, key)
      .unionByName(a0.join(db, key))
      .unionByName(cross)
  }

  /** Maintain SUM(measure) grouped by groupCols over A ⋈ B under
    * insert AND delete deltas: delta contributions enter as
    * sign·measure with a parallel sign-count, and groups whose
    * maintained multiplicity reaches zero DROP from the view — the
    * invariant that keeps the maintained state bit-equal to a full
    * recompute over the post-change tables (which is what the oracle
    * checks). All shuffles are keyed by the group key over delta-sized
    * or group-sized inputs; the base join is aggregated once, never
    * rescanned.
    */
  def maintainJoinAggSigned(a0: DataFrame, da: DataFrame,
                            b0: DataFrame, db: DataFrame, key: String,
                            groupCols: Seq[String], measure: String): DataFrame = {
    val gc = groupCols.map(col)
    val oldView = a0.join(b0, key)
      .groupBy(gc: _*)
      .agg(sum(col(measure)).as(measure), count(lit(1)).as("n_rows"))
    val deltaView = deltaJoinSigned(a0, da, b0, db, key)
      .groupBy(gc: _*)
      .agg(sum(col("sign") * col(measure)).as(measure),
        sum(col("sign")).as("n_rows"))
    mergeAggState(oldView, deltaView, groupCols, measure, "n_rows")
      .filter(col("n_rows") > 0)
      .drop("n_rows")
  }
}
