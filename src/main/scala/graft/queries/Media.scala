package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextFns
import graft.operators.Multimodal

/** Media queries that exercise the REAL JDK codecs end to end
  * (SURVEY §2.9 [EXT], round 10): every query encodes a deterministic
  * payload on the executors, decodes it back through `javax.imageio` /
  * `javax.sound.sampled`, and reduces to exact integers a codec-free
  * DuckDB oracle recomputes from the same closed form. Lossless codecs
  * (PNG, PCM WAV) make the round-trip bit-exact, so the oracle hash
  * checks the CODEC PATH itself — not just the relational plumbing
  * around it.
  *
  * Scale posture: encode → decode is one fused mapPartitions chain (no
  * shuffle, no driver traffic, O(pixels|samples) per row); the only
  * shuffles below are the final aggregates/joins a 100 TB run would need
  * anyway, and the perceptual-hash dedup groups on a 64-bit key — the
  * same hash-shuffle shape as exact dedup.
  */
object Media {

  /** DuckDB twin of [[TextFns.fingerprint]] (matches Curation's usage). */
  private val fpSql = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(

    // PNG encode → ImageIO decode → exact per-channel pixel sums. The
    // oracle recomputes the closed-form pixel values over a generated
    // (x, y) grid — if the codec round-trip perturbed a single channel
    // of a single pixel anywhere in the corpus, the hash would miss.
    "image_pixel_stats" -> ((s, dir) => {
      // persisted before the total-order sort: a map-only pipeline has
      // no shuffle for the range sort to anchor exchange-reuse on, so
      // the sort's range-bounds SAMPLING pass would re-run the whole
      // encode+decode chain a second time (ScanAudit can't see this —
      // the plan has one scan leaf that EXECUTES twice). The decoded
      // stats are 8 integers/row, so the cache is tiny at any SF.
      Multimodal.decodePixelStats(
          Multimodal.encodePngPayload(documents(s, dir)))
        .toDF()
        .select(col("doc_id"), col("fmt"), col("width"), col("height"),
          col("n_pixels"), col("sum_r"), col("sum_g"), col("sum_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .orderBy(col("doc_id"))
    }),

    // Image dedup by perceptual hash, validated through pixel space:
    // fingerprint → deterministic 8x8 gray PNG → REAL decode → 64-bit
    // aHash → group. Identical normalized text yields identical images,
    // so aHash groups must equal fingerprint groups (md5-derived pixels
    // make a cross-fingerprint aHash collision a ~2^-64 event; the hash
    // gate at every SF would catch one). The oracle groups by the
    // fingerprint directly — codec-free — so the whole image-dedup
    // pipeline (encode, decode, hash, group, join-back) is checked.
    "image_phash_dup" -> ((s, dir) => {
      // persisted: the encode+decode chain feeds the group aggregate AND
      // the join-back (and the sort's sampling pass) — one codec pass,
      // not three
      val ah = Multimodal.decodeAHash(
          Multimodal.encodeFingerprintImage(
            documents(s, dir)
              .withColumn("fp", TextFns.fingerprint(col("text")))))
        .toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val grp = ah.groupBy(col("ahash"))
        .agg(min(col("doc_id")).as("rep_id"),
          count(lit(1)).as("group_size"))
      ah.join(grp, Seq("ahash"))
        .select(col("doc_id"), col("rep_id"), col("group_size"))
        .orderBy(col("doc_id"))
    }),

    // WAV encode (canonical RIFF byte layout) → javax.sound.sampled
    // decode → exact PCM sample stats incl. zero crossings. PCM is
    // lossless, so the oracle's closed-form recompute is bit-exact.
    "audio_sample_stats" -> ((s, dir) => {
      // persisted before the sort for the same sampling-pass reason as
      // image_pixel_stats (a stage profile measured the sort DOUBLING
      // the query: 3.7 s decode → 8.3 s with the unpersisted sort at 10x)
      Multimodal.decodeAudioStats(
          Multimodal.encodeWavPayload(documents(s, dir)))
        .toDF()
        .select(col("doc_id"), col("n_samples"), col("sum_s"), col("sum_sq"),
          col("min_s"), col("max_s"), col("zero_cross"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .orderBy(col("doc_id"))
    })
  )

  def oracles: Map[String, String] = Map(

    // Pixel grid bounded by the max dims (w <= 16, h <= 14), filtered to
    // each image's true size — version-proof lateral-free form.
    "image_pixel_stats" ->
      """WITH xs AS (SELECT unnest(range(0, 16)) AS x),
        |ys AS (SELECT unnest(range(0, 14)) AS y),
        |d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 7 AS h
        |      FROM documents),
        |px AS (SELECT doc_id, w, h, x, y
        |       FROM d CROSS JOIN xs CROSS JOIN ys WHERE x < w AND y < h)
        |SELECT doc_id, 'png' AS fmt,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(count(*) AS BIGINT) AS n_pixels,
        |  CAST(SUM((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id*17 + x*11 + y*3) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id*23 + x*5 + y*19) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    "image_phash_dup" ->
      s"""WITH f AS (SELECT doc_id, $fpSql AS fp FROM documents),
         |g AS (SELECT fp, MIN(doc_id) AS rep_id, COUNT(*) AS group_size
         |      FROM f GROUP BY fp)
         |SELECT f.doc_id, CAST(g.rep_id AS BIGINT) AS rep_id,
         |  CAST(g.group_size AS BIGINT) AS group_size
         |FROM f JOIN g USING (fp) ORDER BY f.doc_id""".stripMargin,

    "audio_sample_stats" ->
      """WITH i_ AS (SELECT unnest(range(0, 128)) AS i),
        |d AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
        |s AS (SELECT doc_id, n, i, ((doc_id*37 + i*17) % 4001) - 2000 AS v
        |      FROM d CROSS JOIN i_ WHERE i < n),
        |w AS (SELECT doc_id, n, i, v,
        |        lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |      FROM s)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(SUM(v) AS BIGINT) AS sum_s,
        |  CAST(SUM(v*v) AS BIGINT) AS sum_sq,
        |  CAST(MIN(v) AS BIGINT) AS min_s,
        |  CAST(MAX(v) AS BIGINT) AS max_s,
        |  CAST(SUM(CASE WHEN pv IS NOT NULL AND ((pv < 0) != (v < 0))
        |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
        |FROM w GROUP BY doc_id, n ORDER BY doc_id""".stripMargin
  )
}
