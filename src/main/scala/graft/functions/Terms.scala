package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Term-key algebra.
  *
  * The reference packs the academic term as a 4-char composite key —
  * 2-char year ++ 2-char semester code ("21"+"1S") — and increments it
  * with driver-side Python (reference: src/integrator.py:27-36,
  * src/jenzabar.py:26, src/canvas.py:98-99). Here the same logic exists as
  * Column expressions so it runs distributed over term columns, not just
  * on a driver scalar.
  */
object Terms {

  /** Decompose a packed term id: yr_cde = chars 1-2, trm_cde = chars 3-4
    * (reference src/integrator.py:28-29 — F1).
    */
  def yrCde(term: Column): Column  = substring(term, 1, 2)
  def trmCde(term: Column): Column = substring(term, 3, 2)

  /** Pack (yr, trm) back into the composite key
    * (reference src/jenzabar.py:26 — F2/F3: trim + concat).
    */
  def packTerm(yr: Column, trm: Column): Column = concat(trim(yr), trim(trm))

  /** Term increment (SURVEY §2.2 F4, reference src/integrator.py:27-36):
    * spring ("2S") of year Y rolls to fall ("1S") of year Y+1; fall ("1S")
    * rolls to spring ("2S") of the same year. Pure when/otherwise + int
    * arithmetic — codegen-friendly, no UDF.
    */
  def nextTerm(yr: Column, trm: Column): Column = {
    val t = trim(trm)
    val y = trim(yr)
    when(t === "2S",
      concat(lpad((y.cast("int") + 1).cast("string"), 2, "0"), lit("1S")))
      .otherwise(concat(y, lit("2S")))
  }

  /** The reference's term-resolution flow (reference
    * src/integrator.py:20-38 + src/canvas.py:19-27) as one composition:
    * read the current term from the config singleton (S2), optionally
    * increment it (F4), then resolve the numeric LMS term id against the
    * term dimension (J1 broadcast lookup). Returns (sis_term_id,
    * lms_term_id) — one row.
    *
    * @param config  one-row config table with yr_cde/trm_cde columns
    * @param which   "current" or "next"
    * @param termDim dimension with sis_term_id and id columns
    */
  def resolveTerm(config: org.apache.spark.sql.DataFrame, which: String,
                  termDim: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    require(which == "current" || which == "next", s"bad term selector: $which")
    val packed =
      if (which == "next") nextTerm(col("yr_cde"), col("trm_cde"))
      else packTerm(col("yr_cde"), col("trm_cde"))
    config.select(packed.as("sis_term_id"))
      .join(org.apache.spark.sql.functions.broadcast(
        termDim.select(col("sis_term_id"), col("id").as("lms_term_id"))),
        Seq("sis_term_id"), "left")
  }
}
