package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column expressions (SURVEY §2.9, [EXT] north-star surface;
  * literature anchors PAPERS.md). Everything is built from codegen'd
  * built-ins — no UDFs — and every construct has a DuckDB-equivalent
  * formulation so queries stay oracle-checkable:
  *  - tokens        <-> regexp_extract_all(lower(text), '\S+')
  *  - shingles      <-> list_transform(range(...), i -> t[i] || ' ' || ...)
  *  - md5           <-> md5 (bit-identical hex in both engines)
  *  - hexVal        <-> ascii-arithmetic on hex chars
  */
object TextFns {

  /** Whitespace tokenizer on lowercased text. regexp_extract_all('\S+')
    * instead of split-by-'\s+' so leading/trailing whitespace can't inject
    * empty tokens (DuckDB's split behaves differently there).
    */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("\\S+"), lit(0))

  /** Whitespace-normalized lowercase text (fingerprint input). */
  def normText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Deterministic document fingerprint: md5 of normalized text.
    * Portable: DuckDB md5() emits the identical hex string.
    */
  def fingerprint(text: Column): Column = md5(normText(text))

  // ---- Unicode canonicalization (round-13, the multilingual-corpus gap) —
  // OFF by default everywhere so existing fingerprints/hashes are stable;
  // callers opt in per operator (e.g. Dedup.exactDups(unicodeNorm=true)).

  /** Unicode normalization to the given form (NFC|NFD|NFKC|NFKD) — a
    * native codegen'd expression ([[expressions.UnicodeNormalize]]);
    * DuckDB `nfc_normalize` is the oracle twin of the NFC path.
    */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.expressions.UnicodeNormalize(
        org.apache.spark.sql.GraftSqlBridge.expression(text), form))

  /** Zero-width / BOM character strip (ZWSP, ZWNJ, ZWJ, WORD JOINER,
    * ZWNBSP) — invisible codepoints that split tokens and defeat
    * fingerprinting. \x{...} escapes keep the pattern printable and are
    * shared RE2/Java-regex syntax, so the oracle uses the same class.
    */
  def stripZeroWidth(text: Column): Column =
    regexp_replace(text,
      "[\\x{200B}\\x{200C}\\x{200D}\\x{2060}\\x{FEFF}]", "")

  /** Accent folding: NFD, strip combining marks (\p{Mn}), recompose to
    * NFC — café/café/cafe collapse. DuckDB twin: strip_accents(...)
    * (both are the utf8proc-style mark-removal fold).
    */
  def foldAccents(text: Column): Column =
    unicodeNormalize(
      regexp_replace(unicodeNormalize(text, "NFD"), "\\p{Mn}", ""), "NFC")

  /** Unicode-normalized fingerprint input: zero-width strip, then NFC
    * (accentFold=false) or the full accent fold (accentFold=true), then
    * the standard whitespace+lowercase normalization. The flagged twin
    * of [[normText]] — visually-identical NFC/NFD docs collapse to one
    * fingerprint class.
    */
  def normTextUnicode(text: Column, accentFold: Boolean = false): Column =
    normText(
      if (accentFold) foldAccents(stripZeroWidth(text))
      else unicodeNormalize(stripZeroWidth(text), "NFC"))

  /** md5 over [[normTextUnicode]] — the Unicode-aware fingerprint. */
  def fingerprintUnicode(text: Column, accentFold: Boolean = false): Column =
    md5(normTextUnicode(text, accentFold))

  /** Jaro–Winkler similarity — a native codegen'd expression
    * ([[graft.functions.expressions.JaroWinklerSim]]), fuzz-pinned
    * bit-for-bit to DuckDB's jaro_winkler_similarity so thresholds and
    * floor(sim*1000) permille projections are oracle-safe doubles.
    */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.expressions.JaroWinklerSim(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** Word n-gram shingles from a token array; empty array when the doc is
    * shorter than n tokens (DuckDB's range() is empty there, Spark's
    * sequence() would descend — hence the guard).
    *
    * The incoming `toks` is bound ONCE as a lambda variable (via a
    * 1-element transform) before the per-gram lambda references it:
    * lambda variables are evaluated values, while a raw expression-built
    * array referenced inside a HOF lambda re-evaluates the whole
    * expression per element — with an expression input like
    * regexp_extract_all that was O(tokens²) re-tokenization per document
    * (measured 8-10 s for a 5 000-doc corpus; 0.3 s bound).
    */
  def shingles(toks: Column, n: Int): Column =
    element_at(
      transform(array(toks), t => {
        val grams = transform(
          sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(j => element_at(t, (i + j).cast("int"))): _*))
        when(size(t) >= n, grams).otherwise(array().cast("array<string>"))
      }),
      1)

  /** Distinct shingle set (order-insensitive usage only: array_distinct and
    * DuckDB list_distinct order elements differently).
    */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(shingles(tokens(text), n))

  /** Count of tokens that belong to a fixed stopword set. aggregate() HOF
    * keeps it whole-stage-codegen'd; no shuffle, no UDF.
    */
  def stopHits(toks: Column, stopwords: Seq[String]): Column =
    aggregate(toks, lit(0L),
      (acc, t) => acc + when(t.isin(stopwords: _*), 1L).otherwise(0L))

  /** Numeric value of one lowercase hex digit column (0-15) via ascii
    * arithmetic — the portable alternative to strpos tricks.
    */
  def hexVal(c: Column): Column =
    when(ascii(c) >= 97, ascii(c) - 87).otherwise(ascii(c) - 48)

  /** The stopword sample the quality formula scores against (an
    * inlined-constant contract: every oracle mirrors this exact list).
    */
  val EN_STOPWORDS: Seq[String] = Seq("the", "a", "and", "of", "is")

  /** THE quality-score formula — single definition for the batch
    * quality_score query, the curate_corpus / quality_weighted_sample
    * pipelines and the streaming ingest gate, so a formula fix can never
    * desynchronize one consumer from the others (round 4 fixed an
    * inverted punctuation penalty; three hand-copies existed).
    *
    * Adds columns: toks, n_tokens, stop_hits, punct_len, stop_ratio,
    * punct_ratio, score. Input must expose `text`. All scalar map-side
    * expressions — pushes to the scan, no shuffle.
    */
  def withQualityCols(df: DataFrame,
                      stopwords: Seq[String] = EN_STOPWORDS): DataFrame =
    df
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("stop_hits", stopHits(col("toks"), stopwords))
      .withColumn("punct_len",
        length(regexp_replace(lower(col("text")), "[a-z0-9 ]", ""))
          .cast("long"))
      .withColumn("stop_ratio",
        col("stop_hits").cast("double") /
          nullif(col("n_tokens"), lit(0)).cast("double"))
      .withColumn("punct_ratio",
        col("punct_len").cast("double") / length(col("text")).cast("double"))
      .withColumn("score",
        lit(0.5) * col("stop_ratio") +
          lit(0.3) * (lit(1.0) - col("punct_ratio")) +
          lit(0.2) * least(col("n_tokens").cast("double") / 100.0, lit(1.0)))
}
