package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Multimodal-column plumbing (SURVEY §2.9 [EXT]): images/audio/video ride
  * as opaque `binary` columns with typed metadata beside them. Container
  * HEADER decode (PNG/JPEG/GIF/WAV/FLAC format + dimensions) is real
  * byte-layout parsing ([[decodeDims]], [[parseAudioMeta]]), and — since
  * round 10 — pixel and PCM-sample decode are REAL too, via the JDK's own
  * codecs ([[decodePixelStats]], [[decodeAudioStats]]): `javax.imageio`
  * (PNG/JPEG/GIF read+write) and `javax.sound.sampled` (WAV) ship in the
  * `java.desktop` module of every full JDK, verified present here. Only
  * VIDEO frame decode remains metadata-level (the JDK carries no video
  * codec). [[decodeFeatures]] stays as the featurizer for payloads of
  * unknown/opaque format, where no codec applies by construction.
  *
  * Scale notes: at 100 TB media payloads dominate row size. Keep them in
  * their own column (parquet stores it in a separate chunk, so metadata
  * queries never read the bytes — column pruning), process per-partition
  * with bounded batches, and never collect payloads to the driver. The
  * codec step itself is embarrassingly parallel — O(pixels) per row, zero
  * shuffle — so end-to-end scaling is governed by the surrounding joins
  * and aggregates, never by the decode.
  */
object Multimodal {

  private type Payload = (Long, Array[Byte])

  /** `df`'s `cols` as a typed Dataset, mapped partition-at-a-time: each
    * partition runs [[codecInit]], then the `perPartition` block (which
    * may hold per-partition caches) to get its row function. The rows
    * never reach the driver.
    */
  private def mapRows[I: TypeTag, O: TypeTag](df: DataFrame, cols: String*)
      (perPartition: => I => O): Dataset[O] =
    df.select(cols.map(col): _*).as[I](ExpressionEncoder[I]())
      .mapPartitions { rows =>
        codecInit
        val f = perPartition
        rows.map(f)
      }(ExpressionEncoder[O]())

  /** A decoded media feature row: the stub emits a deterministic
    * fixed-width feature vector per payload.
    */
  final case class MediaFeatures(doc_id: Long, n_bytes: Int, features: Array[Float])

  /** Synthesize an opaque binary payload per document (md5 bytes of the
    * text). A real deployment reads these via the binaryFile source or a
    * parquet binary column; the engine only sees `binary`, so the
    * synthesis is an adequate stand-in for the plumbing.
    */
  def attachPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", unhex(md5(col("text"))))

  /** Typed metadata from the payload header, as pure column expressions
    * (no decode): fake width/height/frame-count parsed from leading bytes.
    */
  def extractMeta(withPayload: DataFrame): DataFrame = {
    val hexCol = hex(col("payload"))
    def hv(i: Int) = TextFns.hexVal(lower(substring(hexCol, i, 1)))
    withPayload
      .withColumn("byte_len", length(col("payload")).cast("long"))
      .withColumn("width", (hv(1) * 16 + hv(2) + 1).cast("long"))
      .withColumn("height", (hv(3) * 16 + hv(4) + 1).cast("long"))
      .withColumn("n_frames", (hv(5) % 8 + 1).cast("long"))
  }

  /** Decode payloads to feature vectors, partition-at-a-time.
    *
    * OPAQUE-FORMAT FEATURIZER: for payloads whose container format is
    * unknown (no codec applies by construction) this derives a
    * deterministic 8-float vector from the payload bytes. Known formats
    * go through the REAL codecs instead — [[decodePixelStats]] for
    * PNG/JPEG/GIF pixels, [[decodeAudioStats]] for WAV PCM samples. The
    * Spark plumbing — mapPartitions over a typed Dataset, Array[Float]
    * output schema, no driver materialization — is the shared contract
    * and is what the tests pin.
    */
  def decodeFeatures(withPayload: DataFrame): Dataset[MediaFeatures] =
    mapRows[Payload, MediaFeatures](withPayload, "doc_id", "payload") { case (id, bytes) =>
      val feats = bytes.take(8).map(b => (b & 0xff) / 255.0f)
      MediaFeatures(id, bytes.length, feats)
    }

  /** A real-header decode row: container format sniffed from magic bytes
    * plus the pixel dimensions parsed from the format's own header
    * layout. `fmt` is "png" / "jpeg" / "gif" / "unknown"; unknown rows
    * carry width = height = -1 rather than being dropped, so corrupt
    * payloads stay visible to downstream quality gates.
    */
  final case class MediaDims(doc_id: Long, fmt: String, width: Long, height: Long)

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Parse (format, width, height) from real image container headers —
    * pure bytes-in, no codec library:
    *
    *  - PNG: 8-byte signature, then the IHDR chunk is REQUIRED first
    *    (PNG spec §11.2.2), so width/height are the two big-endian u32s
    *    at offsets 16 and 20.
    *  - JPEG: FF D8 SOI, then marker segments, each FF <type> <u16 len>;
    *    dimensions live in the first SOFn frame header (FF C0..CF minus
    *    C4/C8/CC which are huffman/arithmetic/extension): u8 precision,
    *    u16 height, u16 width after the length.
    *  - GIF: "GIF87a"/"GIF89a", then the logical screen descriptor's
    *    little-endian u16 width/height at offsets 6 and 8.
    *
    * Truncated or malformed payloads return None, never throw — a 100 TB
    * crawl always contains garbage bytes.
    */
  private[operators] def parseDims(b: Array[Byte]): Option[(String, Long, Long)] = {
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (b.length >= 24 && b.startsWith(pngSig) &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      Some(("png", be32(b, 16), be32(b, 20)))
    else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      // walk marker segments to the first SOFn
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xff) != 0xff) return None // lost sync: not a marker
        val m = b(i + 1) & 0xff
        if (m == 0xff) i += 1 // fill byte before a marker
        else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          if (i + 8 >= b.length) return None // truncated SOF
          return Some(("jpeg", be16(b, i + 7).toLong, be16(b, i + 5).toLong))
        } else if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
          i += 2 // standalone marker, no length field
        } else if (m == 0xd9) {
          return None // EOI before any SOF
        } else {
          val len = be16(b, i + 2)
          if (len < 2) return None
          i += 2 + len
        }
      }
      None
    } else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
               b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Some(("gif", le16(b, 6).toLong, le16(b, 8).toLong))
    else None
  }

  /** Decode REAL container headers partition-at-a-time. Format sniffing
    * and dimension parsing are the genuine PNG/JPEG/GIF byte layouts
    * ([[parseDims]]) — header-only, so a 100 TB metadata profile never
    * pays pixel-decode cost; full pixel decode lives in
    * [[decodePixelStats]]. Same plumbing contract: typed Dataset out of
    * mapPartitions, payload bytes never leave the executors.
    */
  def decodeDims(withPayload: DataFrame): Dataset[MediaDims] =
    mapRows[Payload, MediaDims](withPayload, "doc_id", "payload") { case (id, bytes) =>
      parseDims(bytes) match {
        case Some((fmt, w, h)) => MediaDims(id, fmt, w, h)
        case None              => MediaDims(id, "unknown", -1L, -1L)
      }
    }

  /** Decoded audio container metadata (header-level, no codec). */
  final case class AudioMeta(doc_id: Long, fmt: String, sample_rate: Long,
                             channels: Long, duration_ms: Long)

  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** Parse (format, sampleRate, channels, durationMs) from real audio
    * container headers — pure byte layout, no codec library:
    *
    *  - WAV: "RIFF" <u32le size> "WAVE", then tagged chunks
    *    (<4cc> <u32le len> payload, word-aligned). The "fmt " chunk
    *    carries u16le audio format + channels, u32le sample rate and
    *    byte rate; the "data" chunk's length over the byte rate is the
    *    duration (RIFF/WAVE spec layout).
    *  - FLAC: "fLaC", then metadata blocks (<1B flags|type> <u24be len>);
    *    STREAMINFO (type 0, mandatory first) packs sample rate in 20
    *    bits at byte offsets 18-20, channels-1 in the next 3 bits, and
    *    the 36-bit total-sample count whose ratio to the rate is the
    *    duration (FLAC format spec §STREAMINFO).
    *
    * Truncated/malformed payloads return None, never throw.
    */
  private[operators] def parseAudioMeta(b: Array[Byte])
      : Option[(String, Long, Long, Long)] = {
    if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
        b(11) == 'E') {
      var i = 12
      var rate = -1L; var ch = -1L; var byteRate = -1L; var dataLen = -1L
      while (i + 8 <= b.length && (rate < 0 || dataLen < 0)) {
        val tag = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val len = le32(b, i + 4)
        if (tag == "fmt " && i + 24 <= b.length) {
          ch = le16(b, i + 10).toLong
          rate = le32(b, i + 12)
          byteRate = le32(b, i + 16)
        } else if (tag == "data") {
          dataLen = len
        }
        i += 8 + len.toInt + (len.toInt & 1) // chunks are word-aligned
      }
      if (rate > 0 && ch > 0 && byteRate > 0 && dataLen >= 0)
        Some(("wav", rate, ch, dataLen * 1000L / byteRate))
      else None
    } else if (b.length >= 26 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' &&
               b(3) == 'C' && (b(4) & 0x7f) == 0) { // STREAMINFO first
      val rate = ((b(18) & 0xffL) << 12) | ((b(19) & 0xffL) << 4) |
        ((b(20) & 0xf0L) >> 4)
      val ch = ((b(20) >> 1) & 0x7L) + 1
      val totalSamples = ((b(21) & 0x0fL) << 32) | be32(b, 22)
      if (rate > 0) Some(("flac", rate, ch, totalSamples * 1000L / rate))
      else None
    } else None
  }

  /** Decode REAL audio container headers partition-at-a-time — the audio
    * sibling of [[decodeDims]]: WAV/FLAC sniffing and header layout are
    * genuine byte-layout parsing; full PCM sample decode lives in
    * [[decodeAudioStats]] (FLAC waveform decode has no JDK codec and
    * stays header-only). Payload bytes never leave the executors.
    */
  def decodeAudioMeta(withPayload: DataFrame): Dataset[AudioMeta] =
    mapRows[Payload, AudioMeta](withPayload, "doc_id", "payload") { case (id, bytes) =>
      parseAudioMeta(bytes) match {
        case Some((fmt, sr, ch, ms)) => AudioMeta(id, fmt, sr, ch, ms)
        case None => AudioMeta(id, "unknown", -1L, -1L, -1L)
      }
    }

  /** Frame sampling for "video" payloads: every `stride`-th byte index is
    * a frame handle. Pure expressions: sequence + filter HOF; at scale
    * this is how per-frame fan-out stays inside codegen instead of a UDF.
    */
  def sampleFrames(withPayload: DataFrame, stride: Int): DataFrame =
    withPayload.withColumn("frame_idx",
      filter(sequence(lit(0), length(col("payload")) - 1),
        i => i % stride === 0))

  /** Per-frame fan-out: one row per sampled frame with the frame's
    * leading byte (what a real pipeline would hand to the decoder). The
    * explode keeps fan-out relational — downstream decode batches by
    * partition, never by driver loop.
    */
  def explodeFrames(withPayload: DataFrame, stride: Int): DataFrame = {
    val hexCol = hex(col("payload"))
    withPayload
      .select(col("doc_id"), col("payload"),
        explode(filter(sequence(lit(0), length(col("payload")) - 1),
          i => i % stride === 0)).as("frame_idx"))
      .withColumn("frame_byte",
        (TextFns.hexVal(lower(substring(hexCol, col("frame_idx") * 2 + 1, lit(1)))) * 16 +
          TextFns.hexVal(lower(substring(hexCol, col("frame_idx") * 2 + 2, lit(1)))))
          .cast("long"))
      .drop("payload")
  }

  /** Fit (width, height) into a square box, preserving aspect ratio —
    * integer arithmetic only (exact on both engines), minimum 1 px. The
    * resize itself is metadata math; a real pixel resample would plug in
    * at decodeFeatures' partition batches.
    */
  def resizeMeta(withMeta: DataFrame, box: Int): DataFrame =
    withMeta
      .withColumn("new_w",
        when(col("width") >= col("height"), lit(box.toLong))
          .otherwise(greatest(lit(1L),
            floor(col("width") * box / col("height")).cast("long"))))
      .withColumn("new_h",
        when(col("width") >= col("height"),
          greatest(lit(1L), floor(col("height") * box / col("width")).cast("long")))
          .otherwise(lit(box.toLong)))

  // --------------------------------------------------------------------
  // REAL pixel / PCM-sample decode via the JDK's own codecs (round 10).
  //
  // javax.imageio (PNG/JPEG/GIF readers AND writers) and
  // javax.sound.sampled (WAV) are public JDK API in the java.desktop
  // module — present in this environment's JDK 17 (verified), which
  // retires the earlier "no codec libs in this container" stub
  // justification. Encode and decode both run partition-at-a-time on
  // executors; payload bytes never reach the driver.
  // --------------------------------------------------------------------

  /** Per-JVM codec init: headless AWT (no display server anywhere near a
    * Spark executor) and no ImageIO stream cache (the default file-backed
    * cache hits temp-file creation per tiny image — pure overhead when
    * payloads are already byte arrays in memory).
    */
  private lazy val codecInit: Unit = {
    System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)
  }

  /** Deterministic RGB test-card image per document, REALLY encoded as
    * PNG by the JDK writer: width = 8 + id%9, height = 8 + (id/9)%7, and
    * each channel of pixel (x, y) is integer mod arithmetic in
    * (id, x, y). The closed form is deliberately SQL-expressible, so a
    * DuckDB oracle can recompute the expected pixel sums WITHOUT a codec
    * — and because PNG is lossless, a decode after the real encode →
    * decode round-trip must match it exactly, bit for bit. That makes
    * the codec path itself (not just the plumbing) hash-checkable.
    */
  def encodePngPayload(docs: DataFrame): DataFrame =
    mapRows[Long, Payload](docs, "doc_id") { id =>
      val w = (8 + id % 9).toInt
      val h = (8 + (id / 9) % 7).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
          val g = ((id * 17 + x * 11 + y * 3) % 256).toInt
          val b = ((id * 23 + x * 5 + y * 19) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (id, bos.toByteArray)
    }.toDF("doc_id", "payload")

  /** Exact per-image pixel statistics from a REAL codec decode. */
  final case class PixelStats(doc_id: Long, fmt: String, width: Long,
                              height: Long, n_pixels: Long, sum_r: Long,
                              sum_g: Long, sum_b: Long)

  /** REAL pixel decode partition-at-a-time: `ImageIO.read` (PNG/JPEG/GIF
    * via the JDK's codecs) then an exact integer sum over every pixel's
    * RGB channels. Unreadable payloads yield a sentinel row (fmt
    * "unknown", width = height = -1) rather than throwing — a 100 TB
    * crawl always contains garbage bytes, and dropping them silently
    * would hide ingest corruption from quality gates.
    */
  def decodePixelStats(withPayload: DataFrame): Dataset[PixelStats] =
    mapRows[Payload, PixelStats](withPayload, "doc_id", "payload") { case (id, bytes) =>
      val fmt = parseDims(bytes).map(_._1).getOrElse("unknown")
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) PixelStats(id, "unknown", -1L, -1L, 0L, 0L, 0L, 0L)
      else {
        val w = img.getWidth
        val h = img.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xff
            sg += (p >> 8) & 0xff
            sb += p & 0xff
            x += 1
          }
          y += 1
        }
        PixelStats(id, fmt, w.toLong, h.toLong, w.toLong * h, sr, sg, sb)
      }
    }

  /** 8x8 grayscale PNG per document rendered from its text fingerprint:
    * 64 pixel bytes are md5(fp + "#" + k) for k in 0..3 concatenated, so
    * identical normalized text ⇒ identical image bytes ⇒ identical
    * perceptual hash — the deterministic bridge that lets a SQL oracle
    * (which groups by the fingerprint directly) validate the whole
    * pixel-space dedup pipeline. Input must carry a string `fp` column
    * (see [[graft.functions.TextFns.fingerprint]]).
    */
  def encodeFingerprintImage(withFp: DataFrame): DataFrame =
    mapRows[(Long, String), Payload](withFp, "doc_id", "fp") {
      val md = java.security.MessageDigest.getInstance("MD5")
      row => {
        val (id, fp) = row
        val px = new Array[Byte](64)
        var k = 0
        while (k < 4) {
          md.reset()
          val d = md.digest(
            (fp + "#" + k).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.arraycopy(d, 0, px, k * 16, 16)
          k += 1
        }
        val img = new java.awt.image.BufferedImage(
          8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var i = 0
        while (i < 64) {
          raster.setSample(i % 8, i / 8, 0, px(i) & 0xff)
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")

  final case class AHashRow(doc_id: Long, ahash: Long)

  /** 64-bit average hash (aHash) from a REAL decode of an 8x8 grayscale
    * image: bit (y*8 + x) is set iff pixel*64 > sum of all pixels — the
    * strict integer form of "above the mean", so no floating point
    * anywhere. Gray PNG round-trips losslessly and raster samples are
    * read raw (getRGB would push gray through an sRGB color-space
    * conversion and stop being the identity). Unreadable payloads hash
    * to -1.
    */
  def decodeAHash(withPayload: DataFrame): Dataset[AHashRow] =
    mapRows[Payload, AHashRow](withPayload, "doc_id", "payload") { case (id, bytes) =>
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null || img.getWidth != 8 || img.getHeight != 8)
        AHashRow(id, -1L)
      else {
        val raster = img.getRaster
        val s = new Array[Int](64)
        var sum = 0L
        var i = 0
        while (i < 64) {
          s(i) = raster.getSample(i % 8, i / 8, 0)
          sum += s(i)
          i += 1
        }
        var hash = 0L
        i = 0
        while (i < 64) {
          if (s(i).toLong * 64 > sum) hash |= (1L << i)
          i += 1
        }
        AHashRow(id, hash)
      }
    }

  /** Deterministic 16-bit mono PCM WAV per document: n = 64 + id%64
    * samples at 8 kHz, sample(i) = ((id*37 + i*17) % 4001) − 2000. Same
    * design as [[encodePngPayload]]: the closed form is SQL-expressible
    * and PCM is lossless, so the REAL `javax.sound.sampled` decode is
    * exactly checkable by a codec-free oracle. The writer here is the
    * canonical 44-byte RIFF/WAVE layout (the byte layout
    * [[parseAudioMeta]] documents), built directly — encode is byte
    * layout, decode exercises the JDK codec.
    */
  def encodeWavPayload(docs: DataFrame): DataFrame =
    mapRows[Long, Payload](docs, "doc_id") { id =>
      val n = (64 + id % 64).toInt
      val rate = 8000
      val dataLen = n * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(rate).putInt(rate * 2) // sample rate, byte rate
        .putShort(2).putShort(16) // block align, bits/sample
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < n) {
        bb.putShort((((id * 37 + i * 17) % 4001) - 2000).toShort)
        i += 1
      }
      (id, bb.array())
    }.toDF("doc_id", "payload")

  /** Exact per-clip sample statistics from a REAL codec decode. */
  final case class AudioStats(doc_id: Long, n_samples: Long, sum_s: Long,
                              sum_sq: Long, min_s: Long, max_s: Long,
                              zero_cross: Long)

  /** REAL PCM decode partition-at-a-time: `AudioSystem.getAudioInputStream`
    * parses the WAV container (the JDK's codec, not our byte walker) and
    * yields the PCM frames; stats are exact 64-bit integers — sum, sum of
    * squares, min/max, and sign-change count (zero crossings, the
    * classic cheap voice-activity feature). Unparseable payloads yield a
    * sentinel row (n_samples = -1) rather than throwing.
    */
  def decodeAudioStats(withPayload: DataFrame): Dataset[AudioStats] =
    mapRows[Payload, AudioStats](withPayload, "doc_id", "payload") {
      // Per-partition reader cache: AudioSystem.getAudioInputStream
      // re-walks the AudioFileReader SPI chain per call, and each
      // non-matching provider signals "not mine" by THROWING — so a
      // WAV corpus pays provider exception construction per clip.
      // Caching the last provider that succeeded (the JDK WAV reader
      // here) and trying it first turns the steady state into one
      // direct reader call; any clip it rejects falls back to the
      // full SPI walk, so non-WAV and garbage payloads behave exactly
      // as before. Same decoder class either way — the codec path
      // stays the JDK's.
      var cachedReader: javax.sound.sampled.spi.AudioFileReader = null
      def open(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
        if (cachedReader != null) {
          try {
            return cachedReader.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException =>
              // fall through to the full SPI walk
          }
        }
        val it = java.util.ServiceLoader
          .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
        while (it.hasNext) {
          val r = it.next()
          try {
            val ais = r.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            cachedReader = r
            return ais
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException => ()
          }
        }
        throw new javax.sound.sampled.UnsupportedAudioFileException(
          "no AudioFileReader accepted the payload")
      }
      row => {
        val (id, bytes) = row
        try {
          val ais = open(bytes)
          val f = ais.getFormat
          val data = ais.readAllBytes()
          ais.close()
          if (f.getSampleSizeInBits != 16 || f.getChannels != 1 || f.isBigEndian)
            AudioStats(id, -1L, 0L, 0L, 0L, 0L, 0L)
          else {
            val n = data.length / 2
            var sum = 0L; var sq = 0L; var zc = 0L
            var mn = Long.MaxValue; var mx = Long.MinValue
            var prevNeg = false
            var i = 0
            while (i < n) {
              val v = ((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort.toLong
              sum += v; sq += v * v
              if (v < mn) mn = v
              if (v > mx) mx = v
              val neg = v < 0
              if (i > 0 && neg != prevNeg) zc += 1
              prevNeg = neg
              i += 1
            }
            if (n == 0) AudioStats(id, 0L, 0L, 0L, 0L, 0L, 0L)
            else AudioStats(id, n.toLong, sum, sq, mn, mx, zc)
          }
        } catch {
          // NonFatal, not just the checked pair: ImageIO/audio SPI
          // readers throw RuntimeExceptions (AIOOBE, IllegalArgument)
          // on truncated or adversarial payloads, and a single bad
          // blob must yield the sentinel row, never fail the task.
          case scala.util.control.NonFatal(_) =>
            AudioStats(id, -1L, 0L, 0L, 0L, 0L, 0L)
        }
      }
    }
}
