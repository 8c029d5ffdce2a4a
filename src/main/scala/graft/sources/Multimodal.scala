package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal column plumbing (north-star extension): media payloads
  * as opaque `binary` columns with typed metadata, decoded /
  * feature-extracted by a batched per-partition kernel.
  *
  * The container has no image/audio codecs, so the decode kernel is a
  * STUB — [[fakeDecode]] derives deterministic pseudo-metadata from the
  * bytes. Everything around it is the real plumbing: binary column
  * schema, partition-level batching via mapPartitions (the Scala
  * analogue of arrow-batched mapInPandas), typed output schema, and
  * pushdown-friendly metadata columns. Swapping in a real codec
  * changes only the kernel body.
  *
  * Scale posture: decode is a narrow map stage — no shuffle; the
  * binary column should live in its own parquet column chunk so
  * metadata-only queries never read payload bytes (column pruning).
  */
object Multimodal {

  case class MediaRow(doc_id: Long, payload: Array[Byte])
  case class MediaMeta(doc_id: Long, container: String, n_bytes: Int,
                       first_code: Int, width: Int, height: Int)

  /** STUB decode kernel: deterministic pseudo-metadata in place of a
    * real image decode (codecs unavailable in this environment).
    */
  def fakeDecode(payload: Array[Byte]): (Int, Int, Int) = {
    val n = payload.length
    val first = if (n == 0) 0 else payload(0) & 0xFF
    (first, n % 640, (first * 3) % 480)
  }

  /** REAL decode path for one dependency-free container: BMP with a
    * BITMAPINFOHEADER-family DIB header (header size >= 40 at offset
    * 14; the legacy 12-byte BITMAPCOREHEADER stores 16-bit dimensions
    * at different offsets and falls back to the stub rather than
    * reading garbage). Width is the little-endian i32 at 18; height at
    * 22 is NEGATIVE for top-down rows — reported as |height| (the
    * orientation bit is not part of this metadata surface). Pure byte
    * arithmetic, no codec library: the kernel demonstrates the full
    * real-decode shape (magic sniff → header validate → field parse →
    * typed metadata) that a libjpeg/ffmpeg-backed kernel follows.
    * Non-BMP payloads fall back to the deterministic stub. Returns
    * (first_code, width, height).
    */
  def decodeBmpOrFake(payload: Array[Byte]): (Int, Int, Int) =
    sniffBmp(payload) match {
      case Some((w, h)) => (payload(0) & 0xFF, w, h)
      case None         => fakeDecode(payload)
    }

  private def le32(p: Array[Byte], off: Int): Int =
    (p(off) & 0xFF) | ((p(off + 1) & 0xFF) << 8) |
      ((p(off + 2) & 0xFF) << 16) | ((p(off + 3) & 0xFF) << 24)

  private def be32(p: Array[Byte], off: Int): Int =
    ((p(off) & 0xFF) << 24) | ((p(off + 1) & 0xFF) << 16) |
      ((p(off + 2) & 0xFF) << 8) | (p(off + 3) & 0xFF)

  private def be16(p: Array[Byte], off: Int): Int =
    ((p(off) & 0xFF) << 8) | (p(off + 1) & 0xFF)

  /** BMP (BITMAPINFOHEADER family) dimension sniff: header size >= 40
    * at offset 14 (the legacy 12-byte BITMAPCOREHEADER stores 16-bit
    * dimensions at different offsets and is rejected rather than read
    * as garbage); width LE i32 at 18; height at 22 is NEGATIVE for
    * top-down row order — reported as |height|.
    */
  def sniffBmp(p: Array[Byte]): Option[(Int, Int)] =
    if (p.length >= 54 && p(0) == 'B'.toByte && p(1) == 'M'.toByte &&
        le32(p, 14) >= 40)
      Some((le32(p, 18), math.abs(le32(p, 22))))
    else None

  private val PngSig =
    Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0D, 0x0A, 0x1A, 0x0A)

  /** PNG dimension sniff: 8-byte signature, then the IHDR chunk is
    * REQUIRED first (PNG spec §5.6), so width/height are the BE i32s
    * at fixed offsets 16/20. CRC is not verified — this is a metadata
    * sniff, not an integrity check.
    */
  def sniffPng(p: Array[Byte]): Option[(Int, Int)] =
    if (p.length >= 24 &&
        PngSig.indices.forall(i => (p(i) & 0xFF) == PngSig(i)) &&
        p(12) == 'I'.toByte && p(13) == 'H'.toByte &&
        p(14) == 'D'.toByte && p(15) == 'R'.toByte)
      Some((be32(p, 16), be32(p, 20)))
    else None

  /** JPEG dimension sniff: walk the marker-segment chain from SOI
    * (FF D8) — each segment is FF <code> <BE16 len incl itself> — to
    * the first SOF0/1/2 (baseline/ext-sequential/progressive) frame
    * header, whose payload is [precision u8, height BE16, width BE16].
    * Stops without a result at SOS/EOI (entropy-coded data follows —
    * a malformed stream with no SOF) or any lost marker sync.
    */
  def sniffJpeg(p: Array[Byte]): Option[(Int, Int)] = {
    if (p.length < 4 || (p(0) & 0xFF) != 0xFF || (p(1) & 0xFF) != 0xD8)
      return None
    var i = 2
    while (i + 3 < p.length) {
      if ((p(i) & 0xFF) != 0xFF) return None // lost marker sync
      val code = p(i + 1) & 0xFF
      if (code == 0xDA || code == 0xD9) return None // SOS/EOI before SOF
      val len = be16(p, i + 2)
      if (code >= 0xC0 && code <= 0xC2) {
        if (i + 8 >= p.length || len < 7) return None
        return Some((be16(p, i + 7), be16(p, i + 5))) // (width, height)
      }
      if (len < 2) return None
      i += 2 + len
    }
    None
  }

  /** Magic-sniffing dispatch: the real per-container parsers first,
    * the deterministic stub only as the non-media fallback. Returns
    * (container, first_code, width, height).
    */
  def decodeMedia(payload: Array[Byte]): (String, Int, Int, Int) = {
    val first = if (payload.isEmpty) 0 else payload(0) & 0xFF
    sniffBmp(payload).map { case (w, h) => ("bmp", first, w, h) }
      .orElse(sniffPng(payload).map { case (w, h) => ("png", first, w, h) })
      .orElse(sniffJpeg(payload).map { case (w, h) => ("jpeg", first, w, h) })
      .getOrElse {
        val (f, w, h) = fakeDecode(payload)
        ("raw", f, w, h)
      }
  }

  /** Documents' text re-encoded as a binary payload column — the shape
    * a real media table would have: (id, payload binary, metadata...).
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  private def putLe32(buf: Array[Byte], off: Int, v: Int): Unit =
    (0 until 4).foreach(i => buf(off + i) = ((v >> (8 * i)) & 0xFF).toByte)

  private def putBe32(buf: Array[Byte], off: Int, v: Int): Unit =
    (0 until 4).foreach(i => buf(off + 3 - i) = ((v >> (8 * i)) & 0xFF).toByte)

  private def putBe16(buf: Array[Byte], off: Int, v: Int): Unit = {
    buf(off) = ((v >> 8) & 0xFF).toByte; buf(off + 1) = (v & 0xFF).toByte
  }

  /** Deterministic container fixture for one document: the text bytes
    * wrapped in a REAL container header — BMP / PNG / JPEG cycling by
    * `doc_id % 4`, raw (headerless) for the remainder — with
    * dimensions derived from the byte length: width = n % 640 + 1,
    * height = 3n % 480 + 1. Every other BMP stores the height
    * NEGATIVE (top-down row order) to exercise the |height| report.
    * This is the graded q32 input: byte-exact header construction on
    * one side, [[decodeMedia]]'s independent parse on the other, so
    * an offset/endianness bug in either breaks the oracle match.
    */
  def encodeFixture(docId: Long, text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val w = n % 640 + 1
    val h = 3 * n % 480 + 1
    docId % 4 match {
      case 0 => // BMP: 54-byte BITMAPINFOHEADER, pixel data = text
        val buf = new Array[Byte](54 + n)
        buf(0) = 'B'.toByte; buf(1) = 'M'.toByte
        putLe32(buf, 2, buf.length) // file size
        putLe32(buf, 10, 54) // pixel-array offset
        putLe32(buf, 14, 40) // BITMAPINFOHEADER size
        putLe32(buf, 18, w)
        putLe32(buf, 22, if ((docId / 4) % 2 == 1) -h else h)
        System.arraycopy(text, 0, buf, 54, n)
        buf
      case 1 => // PNG: signature + IHDR chunk (CRC zeroed), then text
        val buf = new Array[Byte](33 + n)
        PngSig.indices.foreach(i => buf(i) = PngSig(i).toByte)
        putBe32(buf, 8, 13) // IHDR data length
        buf(12) = 'I'.toByte; buf(13) = 'H'.toByte
        buf(14) = 'D'.toByte; buf(15) = 'R'.toByte
        putBe32(buf, 16, w)
        putBe32(buf, 20, h)
        buf(24) = 8 // bit depth; color type/compression/filter/interlace 0
        System.arraycopy(text, 0, buf, 33, n)
        buf
      case 2 => // JPEG: SOI + APP0 (walked, not parsed) + SOF0 + EOI + text
        val buf = new Array[Byte](35 + n)
        buf(0) = 0xFF.toByte; buf(1) = 0xD8.toByte // SOI
        buf(2) = 0xFF.toByte; buf(3) = 0xE0.toByte // APP0
        putBe16(buf, 4, 16) // APP0 length (len bytes + 14 data)
        "JFIF".getBytes("US-ASCII").copyToArray(buf, 6)
        buf(20) = 0xFF.toByte; buf(21) = 0xC0.toByte // SOF0
        putBe16(buf, 22, 11) // SOF0 length (8 + 3×1 component)
        buf(24) = 8 // precision
        putBe16(buf, 25, h)
        putBe16(buf, 27, w)
        buf(29) = 1 // 1 component; its 3 spec bytes (30-32) stay zero
        buf(33) = 0xFF.toByte; buf(34) = 0xD9.toByte // EOI
        System.arraycopy(text, 0, buf, 35, n)
        buf
      case _ => text // raw: stub fallback path
    }
  }

  /** q32 — decode pipeline: per-doc payloads wrapped in real container
    * bytes ([[encodeFixture]]) through the batched per-partition
    * [[decodeMedia]] kernel to typed metadata. The BMP/PNG/JPEG rows
    * grade the real header parsers (the oracle predicts the encoded
    * dimensions); the raw rows grade the stub fallback.
    */
  def decodeMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val payload = encodeFixture(r.doc_id, r.payload)
        val (container, first, w, h) = decodeMedia(payload)
        MediaMeta(r.doc_id, container, payload.length, first, w, h)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  case class FrameStats(doc_id: Long, n_frames: Int, n_sampled: Int,
                        sampled_byte_sum: Long)

  /** q40 — frame-sample + resize pipeline over "video" payloads: the
    * payload is treated as fixed-size frames (frameBytes each, tail
    * dropped), every `stride`-th frame is sampled (the usual
    * keyframe-sampling shape), and the stub "resize/feature" kernel
    * reduces each sampled frame to its byte sum. Real codec swap-in
    * changes only the per-frame lambda; the batching, sampling
    * arithmetic, and typed output are the production plumbing.
    */
  def frameSample(spark: SparkSession, dir: String, frameBytes: Int = 32,
                  stride: Int = 4): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val nFrames = r.payload.length / frameBytes
        val sampled = (0 until nFrames).filter(_ % stride == 0)
        var byteSum = 0L
        sampled.foreach { f =>
          var i = f * frameBytes
          val end = i + frameBytes
          while (i < end) { byteSum += r.payload(i) & 0xFF; i += 1 }
        }
        FrameStats(r.doc_id, nFrames, sampled.size, byteSum)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  case class AudioWindow(doc_id: Long, window_idx: Int, energy: Long)

  case class WavMeta(doc_id: Long, channels: Int, sample_rate: Int,
                     n_frames: Long, duration_ms: Long)

  /** WAV (RIFF/WAVE, PCM "fmt " chunk) metadata sniff: channels LE16
    * at 22, sample rate LE32 at 24, block align LE16 at 32, data size
    * LE32 at 40 (canonical 44-byte header with the "data" chunk
    * second). Returns (channels, sampleRate, nFrames). Rejects
    * non-RIFF/WAVE payloads and non-canonical chunk layouts rather
    * than guessing offsets.
    */
  def sniffWav(p: Array[Byte]): Option[(Int, Int, Long)] = {
    def tag(off: Int, s: String): Boolean =
      s.indices.forall(i => p(off + i) == s.charAt(i).toByte)
    if (p.length >= 44 && tag(0, "RIFF") && tag(8, "WAVE") &&
        tag(12, "fmt ") && tag(36, "data")) {
      val channels = (p(22) & 0xFF) | ((p(23) & 0xFF) << 8)
      val sampleRate = le32(p, 24)
      val blockAlign = (p(32) & 0xFF) | ((p(33) & 0xFF) << 8)
      val dataSize = le32(p, 40)
      if (channels > 0 && blockAlign > 0 && sampleRate > 0)
        Some((channels, sampleRate, dataSize.toLong / blockAlign))
      else None
    } else None
  }

  /** Deterministic WAV fixture: the text bytes as PCM16 data behind a
    * canonical 44-byte header — channels from doc_id parity, sample
    * rate from the byte length, data truncated to whole frames.
    */
  def encodeWav(docId: Long, text: Array[Byte]): Array[Byte] = {
    val channels = (docId % 2 + 1).toInt
    val sampleRate = 8000 + text.length % 8000
    val blockAlign = channels * 2
    val dataSize = text.length - text.length % blockAlign
    val buf = new Array[Byte](44 + dataSize)
    "RIFF".getBytes("US-ASCII").copyToArray(buf, 0)
    putLe32(buf, 4, 36 + dataSize)
    "WAVE".getBytes("US-ASCII").copyToArray(buf, 8)
    "fmt ".getBytes("US-ASCII").copyToArray(buf, 12)
    putLe32(buf, 16, 16) // PCM fmt chunk size
    buf(20) = 1 // audio format PCM
    buf(22) = channels.toByte
    putLe32(buf, 24, sampleRate)
    putLe32(buf, 28, sampleRate * blockAlign) // byte rate
    buf(32) = blockAlign.toByte
    buf(34) = 16 // bits per sample
    "data".getBytes("US-ASCII").copyToArray(buf, 36)
    putLe32(buf, 40, dataSize)
    System.arraycopy(text, 0, buf, 44, dataSize)
    buf
  }

  /** q116 — WAV metadata pipeline: per-doc WAV fixtures through the
    * real [[sniffWav]] header parse to typed audio metadata
    * (channels, sample rate, frame count, floor-ms duration). The
    * audio sibling of q32's image containers: byte-exact encode on
    * one side, independent parse on the other, oracle predicts both.
    */
  def wavMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val wav = encodeWav(r.doc_id, r.payload)
        val (ch, sr, nf) = sniffWav(wav).getOrElse(
          throw new IllegalStateException(s"fixture failed to parse: doc ${r.doc_id}"))
        WavMeta(r.doc_id, ch, sr, nf, nf * 1000L / sr)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  /** Oracle: the header fields restated from doc_id and the byte
    * length (ASCII corpus: strlen == bytes). block_align = 2·channels;
    * frames = (n − n % block_align) / block_align; duration floors.
    */
  val wavMetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n,
      |    CAST(doc_id % 2 + 1 AS INT) AS channels,
      |    CAST(8000 + strlen(text) % 8000 AS INT) AS sample_rate
      |  FROM documents
      |)
      |SELECT doc_id, channels, sample_rate,
      |  CAST((n - n % (2 * channels)) // (2 * channels) AS BIGINT) AS n_frames,
      |  CAST(((n - n % (2 * channels)) // (2 * channels)) * 1000 // sample_rate AS BIGINT) AS duration_ms
      |FROM f ORDER BY doc_id""".stripMargin

  /** q114 — audio feature extraction: the payload as a PCM16-LE sample
    * stream, reduced to per-window energy (Σ s², the classic VAD /
    * silence-detection feature). This kernel is REAL — little-endian
    * int16 decode with sign handling (spec-covers a negative sample)
    * and exact integer energy, so the whole audio path is
    * oracle-checkable: no float windowing, no codec dependency. A
    * trailing odd byte and a trailing partial window are dropped
    * (frameSample's tail convention).
    *
    * Scale: narrow mapPartitions over the payload scan — no shuffle;
    * output is windows-per-doc rows (corpus bytes / (2·window)),
    * partition-local until the presentation sort.
    */
  def pcmWindowEnergy(spark: SparkSession, dir: String,
                      window: Int = 16): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val nSamples = r.payload.length / 2
        val nWindows = nSamples / window
        (0 until nWindows).iterator.map { w =>
          var e = 0L
          var i = w * window
          val end = i + window
          while (i < end) {
            val lo = r.payload(2 * i) & 0xFF
            val hi = r.payload(2 * i + 1) // SIGNED high byte: int16 LE
            val s = (hi << 8) | lo
            e += s.toLong * s
            i += 1
          }
          AudioWindow(r.doc_id, w, e)
        }
      }
    }.toDF().orderBy(col("doc_id"), col("window_idx"))
  }

  /** Oracle: the same int16-LE windowed energy restated over the text
    * bytes. The ASCII corpus keeps every high byte < 0x80, so the
    * sign branch contributes nothing here (it is unit-covered with
    * crafted bytes instead); byte i of the payload is
    * ascii(substr(text, i+1, 1)).
    */
  def pcmWindowEnergySql(window: Int = 16): String =
    s"""WITH base AS (
      |  SELECT doc_id, text, strlen(text) // 2 AS n_samp FROM documents
      |), w AS (
      |  SELECT doc_id, text, CAST(f AS INT) AS window_idx
      |  FROM base, unnest(range(0, n_samp // $window)) AS t(f)
      |), s AS (
      |  SELECT doc_id, window_idx,
      |    ascii(substr(text, CAST((window_idx * $window + i) * 2 + 1 AS INT), 1))
      |      + 256 * ascii(substr(text, CAST((window_idx * $window + i) * 2 + 2 AS INT), 1)) AS smp
      |  FROM w, unnest(range(0, $window)) AS t2(i)
      |)
      |SELECT doc_id, window_idx, CAST(SUM(smp * smp) AS BIGINT) AS energy
      |FROM s GROUP BY doc_id, window_idx
      |ORDER BY doc_id, window_idx""".stripMargin

  /** Oracle: frame arithmetic + byte sums restated over the UTF-8 text
    * bytes (ASCII corpus: code units == bytes, so the byte sum of a
    * frame equals the sum of ascii codes of its 32-char window).
    */
  val frameSampleSql: String =
    """WITH base AS (
      |  SELECT doc_id, text, strlen(text) // 32 AS n_frames FROM documents
      |)
      |SELECT doc_id,
      |  CAST(n_frames AS INT) AS n_frames,
      |  CAST((n_frames + 3) // 4 AS INT) AS n_sampled,
      |  CAST(COALESCE(list_sum(flatten(
      |    [[ascii(substr(text, CAST(f AS INT) * 128 + i, 1)) for i in range(1, 33)]
      |     for f in range(0, (n_frames + 3) // 4)])), 0) AS BIGINT) AS sampled_byte_sum
      |FROM base ORDER BY doc_id""".stripMargin

  /** Oracle: what [[decodeMedia]] must parse back out of
    * [[encodeFixture]]'s container bytes, restated independently from
    * the doc fields (ASCII corpus: strlen == byte length; first UTF-8
    * byte == first code point). Container header sizes: BMP 54,
    * PNG 33 (8 sig + 25 IHDR chunk), JPEG 35 (SOI 2 + APP0 18 +
    * SOF0 13 + EOI 2). First codes are the magic bytes: 'B' = 66,
    * 0x89 = 137, 0xFF = 255. The raw rows state the stub formulas.
    */
  val decodeMetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n,
      |    CASE WHEN strlen(text) = 0 THEN 0 ELSE ascii(substr(text, 1, 1)) END AS fc
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
      |    WHEN 2 THEN 'jpeg' ELSE 'raw' END AS container,
      |  CAST(n + CASE doc_id % 4 WHEN 0 THEN 54 WHEN 1 THEN 33
      |    WHEN 2 THEN 35 ELSE 0 END AS INT) AS n_bytes,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 66 WHEN 1 THEN 137
      |    WHEN 2 THEN 255 ELSE fc END AS INT) AS first_code,
      |  CAST(CASE WHEN doc_id % 4 = 3 THEN n % 640
      |    ELSE n % 640 + 1 END AS INT) AS width,
      |  CAST(CASE WHEN doc_id % 4 = 3 THEN fc * 3 % 480
      |    ELSE 3 * n % 480 + 1 END AS INT) AS height
      |FROM f ORDER BY doc_id""".stripMargin

  case class AudioActivity(doc_id: Long, window_idx: Int, n_zero_cross: Int,
                           n_turning: Int, peak_abs: Int, is_silent: Int)

  /** q214 — audio activity profile: q114's PCM16-LE stream reduced to
    * the other classic VAD features per window — zero-crossing count
    * (strict sign alternation), turning-point count (local extrema:
    * adjacent deltas with strictly opposite signs — the
    * voiced/unvoiced texture cue that stays informative even on
    * all-positive streams), peak amplitude, and a silence flag
    * (peak < `silenceThreshold`). The kernel is REAL int16-LE with
    * sign handling; on the graded ASCII corpus every sample is
    * positive, so n_zero_cross is exactly 0 there (stated by the
    * oracle; the sign path is unit-covered with crafted negative
    * bytes, q114's convention). Tail bytes and partial windows drop.
    *
    * Scale: narrow mapPartitions over the payload scan, no shuffle;
    * windows-per-doc output, partition-local until the presentation
    * sort — the same shape as q114, one kernel pass per payload.
    */
  def pcmActivity(spark: SparkSession, dir: String, window: Int = 16,
                  silenceThreshold: Int = 25000): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val nSamples = r.payload.length / 2
        val nWindows = nSamples / window
        (0 until nWindows).iterator.map { w =>
          var zc = 0; var tp = 0; var peak = 0
          var prev = 0; var prevDelta = 0
          var i = w * window
          val end = i + window
          val start = i
          while (i < end) {
            val lo = r.payload(2 * i) & 0xFF
            val hi = r.payload(2 * i + 1) // SIGNED high byte: int16 LE
            val s = (hi << 8) | lo
            val a = if (s < 0) -s else s
            if (a > peak) peak = a
            if (i > start) {
              if ((prev < 0) != (s < 0)) zc += 1
              val d = s - prev
              if (i > start + 1 && prevDelta.toLong * d < 0) tp += 1
              prevDelta = d
            }
            prev = s
            i += 1
          }
          AudioActivity(r.doc_id, w, zc, tp, peak,
            if (peak < silenceThreshold) 1 else 0)
        }
      }
    }.toDF().orderBy(col("doc_id"), col("window_idx"))
  }

  /** Oracle: the same features restated over the ASCII text bytes
    * (q114's per-sample table), with the window-function formulation
    * of the two adjacency counts: lag(smp) for sign alternation,
    * (smp − lag) · (lead − smp) < 0 for turning points. All samples
    * are nonnegative on an ASCII corpus, so the zero-cross column is
    * the constant the real kernel must also produce there.
    */
  def pcmActivitySql(window: Int = 16, silenceThreshold: Int = 25000): String =
    s"""WITH base AS (
       |  SELECT doc_id, text, strlen(text) // 2 AS n_samp FROM documents
       |), w AS (
       |  SELECT doc_id, text, CAST(f AS INT) AS window_idx
       |  FROM base, unnest(range(0, n_samp // $window)) AS t(f)
       |), s AS (
       |  SELECT doc_id, window_idx, CAST(i AS INT) AS i,
       |    ascii(substr(text, CAST((window_idx * $window + i) * 2 + 1 AS INT), 1))
       |      + 256 * ascii(substr(text, CAST((window_idx * $window + i) * 2 + 2 AS INT), 1)) AS smp
       |  FROM w, unnest(range(0, $window)) AS t2(i)
       |), d AS (
       |  SELECT doc_id, window_idx, i, smp,
       |    lag(smp) OVER win AS prev,
       |    lead(smp) OVER win AS nxt
       |  FROM s WINDOW win AS (PARTITION BY doc_id, window_idx ORDER BY i)
       |)
       |SELECT doc_id, window_idx,
       |  CAST(SUM(CASE WHEN prev IS NOT NULL
       |    AND ((prev < 0) <> (smp < 0)) THEN 1 ELSE 0 END) AS INT) AS n_zero_cross,
       |  CAST(SUM(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
       |    AND (smp - prev) * (nxt - smp) < 0 THEN 1 ELSE 0 END) AS INT) AS n_turning,
       |  CAST(MAX(ABS(smp)) AS INT) AS peak_abs,
       |  CASE WHEN MAX(ABS(smp)) < $silenceThreshold THEN 1 ELSE 0 END AS is_silent
       |FROM d GROUP BY doc_id, window_idx
       |ORDER BY doc_id, window_idx""".stripMargin

  /** Deterministic 8×8 grayscale thumbnail fixture: a REAL 24bpp BMP
    * (bottom-up rows, 54-byte BITMAPINFOHEADER) whose pixel at logical
    * top-down (row R, col c) samples the text byte at
    * ((R·8 + c)·7) mod n — the stride-7 walk spreads the 64 samples
    * across the document, so near-identical texts produce
    * near-identical thumbnails (the property perceptual hashing
    * needs). All three channels carry the same gray value.
    */
  def encodeGrayBmp(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val buf = new Array[Byte](54 + 8 * 24) // 8 rows × 8 px × 3 bpp, no padding
    buf(0) = 'B'.toByte; buf(1) = 'M'.toByte
    putLe32(buf, 2, buf.length)
    putLe32(buf, 10, 54)
    putLe32(buf, 14, 40)
    putLe32(buf, 18, 8)
    putLe32(buf, 22, 8) // positive: bottom-up row order
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val logicalRow = 7 - r // stored row r is logical row 7-r (bottom-up)
        val g = if (n == 0) 0
          else text(((logicalRow * 8 + c) * 7) % n) & 0xFF
        val off = 54 + r * 24 + c * 3
        buf(off) = g.toByte; buf(off + 1) = g.toByte; buf(off + 2) = g.toByte
        c += 1
      }
      r += 1
    }
    buf
  }

  /** REAL aHash kernel: parse the BMP header (dimensions via
    * [[sniffBmp]], pixel-array offset from the le32 at 10, row stride
    * padded to 4 bytes, bottom-up vs top-down from the height sign),
    * decode the 64 lumas (integer (b+g+r)/3) in top-down row-major
    * order, and emit the average-hash as FOUR 16-bit bands: bit i of
    * band j is set iff 64·p(16j+i) > Σp (strict — the all-equal
    * image hashes to 0). Bands, not one packed 64-bit word, so the
    * hash never goes negative and every downstream bit op is
    * sign-free on both engines.
    */
  /** Shared REAL decode stage: BMP header parse (dimensions via
    * [[sniffBmp]], pixel-array offset from the le32 at 10, row stride
    * padded to 4 bytes, bottom-up vs top-down from the RAW height
    * sign — sniffBmp reports |height|) to the 64 integer lumas
    * ((b+g+r)/3) in top-down row-major order.
    */
  def decodeLumas(payload: Array[Byte]): Array[Int] = {
    val (w, h) = sniffBmp(payload).getOrElse(
      throw new IllegalArgumentException("not a BITMAPINFOHEADER BMP"))
    require(w == 8 && math.abs(h) == 8, s"hash kernel expects 8x8, got ${w}x$h")
    val off = le32(payload, 10)
    val stride = ((w * 3 + 3) / 4) * 4
    val topDown = le32(payload, 22) < 0
    val lum = new Array[Int](64)
    var rr = 0
    while (rr < 8) {
      val storedRow = if (topDown) rr else 7 - rr
      var c = 0
      while (c < 8) {
        val p = off + storedRow * stride + c * 3
        lum(rr * 8 + c) = ((payload(p) & 0xFF) + (payload(p + 1) & 0xFF) +
          (payload(p + 2) & 0xFF)) / 3
        c += 1
      }
      rr += 1
    }
    lum
  }

  /** Pack 64 hash bits into `nBands` equal sign-free integer bands
    * (bit i of the hash lands in band i/(64/nBands) at in-band
    * position i mod (64/nBands)).
    */
  private def packBands(bit: Int => Boolean, nBands: Int): Array[Int] = {
    val width = 64 / nBands
    val bands = new Array[Int](nBands)
    var i = 0
    while (i < 64) {
      if (bit(i)) bands(i / width) |= 1 << (i % width)
      i += 1
    }
    bands
  }

  def decodeAHashBands(payload: Array[Byte]): Array[Int] = {
    val lum = decodeLumas(payload)
    val total = lum.sum
    packBands(i => 64 * lum(i) > total, 4)
  }

  /** dHash (gradient hash) bands: bit (r, c) is set iff the pixel is
    * strictly darker than its RIGHT neighbor, wrapping at the row end
    * (p(r,c) < p(r,(c+1) mod 8)) — the difference hash is invariant
    * to global brightness shifts that move every aHash bit at once,
    * so the two families fail differently (the reason perceptual-hash
    * pipelines run both).
    */
  def decodeDHashBands(payload: Array[Byte], nBands: Int = 4): Array[Int] = {
    val lum = decodeLumas(payload)
    packBands({ i =>
      val r = i / 8; val c = i % 8
      lum(r * 8 + c) < lum(r * 8 + (c + 1) % 8)
    }, nBands)
  }

  case class AHashRow(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  /** The SQL twin of [[bandHammingDups]]' answer, stated as all pairs
    * (no banding) over `bands` (doc_id, band_idx, band_val). */
  private def hammingPairsSql(maxDist: Int): String =
    s"""hashes AS (
      |  SELECT doc_id,
      |    MAX(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
      |    MAX(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
      |    MAX(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
      |    MAX(CASE WHEN band_idx = 3 THEN band_val END) AS b3
      |  FROM bands GROUP BY doc_id
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
      |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
      |    AS INT) AS hamming
      |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
      |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
      |  <= $maxDist
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Pairs of 64-bit image hashes (four 16-bit bands `b0`..`b3` per
    * doc) within `maxDist` bits: candidates share one identical band,
    * then the full hamming distance is verified. */
  private def bandHammingDups(hashes: DataFrame, maxDist: Int): DataFrame = {
    val bands = hashes.select(col("doc_id"), posexplode(
      array(col("b0"), col("b1"), col("b2"), col("b3"))).as(Seq("band_idx", "band_val")))
    val cand = bands.as("a").join(bands.as("b"), Seq("band_idx", "band_val"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(hashes.select(col("doc_id").as("doc_a"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")), "doc_a")
      .join(hashes.select(col("doc_id").as("doc_b"), col("b0").as("c0"),
        col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3")), "doc_b")
      .withColumn("hamming", expr(
        "bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3)"))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q244 — perceptual-hash image near-dup join: every document's 8×8
    * grayscale thumbnail ([[encodeGrayBmp]]) through the REAL BMP
    * decode + average-hash kernel ([[decodeAHashBands]]), then an
    * LSH band join on the four 16-bit hash bands and a hamming
    * verify at `maxDist` — image-level near-dedup, the multimodal
    * sibling of q27's MinHash text path. Byte-identical docs hash
    * identically (hamming 0); stride-sampled near-identical docs land
    * within a few bits.
    *
    * LOSSLESS banding, proved by the oracle: with 4 bands, any pair
    * at hamming ≤ 3 differs in at most 3 bands, so by pigeonhole at
    * least one band is IDENTICAL and the band join finds the pair.
    * The oracle therefore states the pure all-pairs hamming-≤maxDist
    * relation (no banding), and the driver match proves the candidate
    * generator loses nothing (the q97 discipline). `maxDist` > 3
    * would break the guarantee and is rejected.
    *
    * Scale: hashes are a narrow mapPartitions (no shuffle); the band
    * join shuffles 4 rows/doc on (band_idx, band_val); verification
    * joins hash rows by doc key — candidate-bounded, never all-pairs.
    */
  def imageAHashDups(spark: SparkSession, dir: String,
                     maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, s"banding is lossless only for maxDist <= 3, got $maxDist")
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    val hashes = media.mapPartitions { rows =>
      rows.map { r =>
        val b = decodeAHashBands(encodeGrayBmp(r.payload))
        AHashRow(r.doc_id, b(0), b(1), b(2), b(3))
      }
    }.toDF().transform(graft.Iterate.cut) // two consumers: band explode + verify join
    bandHammingDups(hashes, maxDist)
  }

  case class AviMeta(doc_id: Long, width: Int, height: Int,
                     total_frames: Long, micro_per_frame: Long,
                     duration_ms: Long)

  /** AVI (RIFF/'AVI '/LIST-hdrl/avih) header sniff: the canonical
    * main-header layout — 'avih' fourcc at 24, its 56-byte payload at
    * 32 carrying dwMicroSecPerFrame (+0), dwTotalFrames (+16),
    * dwWidth (+32), dwHeight (+36), all LE32. Rejects anything that
    * is not exactly this canonical chunk order (the sniffWav
    * discipline: parse the layout you can verify, never guess
    * offsets). Returns (width, height, totalFrames, microSecPerFrame).
    */
  def sniffAvi(p: Array[Byte]): Option[(Int, Int, Long, Long)] = {
    def tag(off: Int, s: String): Boolean =
      s.indices.forall(i => p(off + i) == s.charAt(i).toByte)
    if (p.length >= 88 && tag(0, "RIFF") && tag(8, "AVI ") &&
        tag(12, "LIST") && tag(20, "hdrl") && tag(24, "avih")) {
      val micro = le32(p, 32).toLong & 0xFFFFFFFFL
      val frames = le32(p, 48).toLong & 0xFFFFFFFFL
      val w = le32(p, 64)
      val h = le32(p, 68)
      if (micro > 0 && w > 0 && h > 0) Some((w, h, frames, micro)) else None
    } else None
  }

  /** Deterministic AVI fixture: a canonical RIFF/AVI main header in
    * front of the text bytes (the "movi" payload stand-in) — frame
    * timing and dimensions derived from the byte length so the oracle
    * can restate them independently.
    */
  def encodeAvi(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val micro = 33333 + n % 1000
    val frames = n / 16 + 1
    val w = n % 640 + 1
    val h = 3 * n % 480 + 1
    val buf = new Array[Byte](88 + n)
    "RIFF".getBytes("US-ASCII").copyToArray(buf, 0)
    putLe32(buf, 4, buf.length - 8)
    "AVI ".getBytes("US-ASCII").copyToArray(buf, 8)
    "LIST".getBytes("US-ASCII").copyToArray(buf, 12)
    putLe32(buf, 16, 68) // list size: 'hdrl' + avih chunk
    "hdrl".getBytes("US-ASCII").copyToArray(buf, 20)
    "avih".getBytes("US-ASCII").copyToArray(buf, 24)
    putLe32(buf, 28, 56) // avih payload size
    putLe32(buf, 32, micro) // dwMicroSecPerFrame
    putLe32(buf, 48, frames) // dwTotalFrames
    putLe32(buf, 64, w) // dwWidth
    putLe32(buf, 68, h) // dwHeight
    System.arraycopy(text, 0, buf, 88, n)
    buf
  }

  /** q255 — AVI metadata pipeline: per-doc AVI fixtures through the
    * real [[sniffAvi]] header parse to typed video metadata — the
    * video sibling of q116's WAV path (byte-exact encode on one side,
    * independent field parse on the other, oracle predicts both).
    * Duration floors in integer microseconds; fps is the one rounded
    * IEEE division.
    */
  def aviMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val avi = encodeAvi(r.payload)
        val (w, h, frames, micro) = sniffAvi(avi).getOrElse(
          throw new IllegalStateException(s"fixture failed to parse: doc ${r.doc_id}"))
        AviMeta(r.doc_id, w, h, frames, micro, frames * micro / 1000L)
      }
    }.toDF()
      // fps via the engine round (HALF_UP parity with DuckDB ROUND —
      // the suite convention; never a hand-rolled rint)
      .withColumn("fps", round(lit(1e6) / col("micro_per_frame"), 6))
      .orderBy(col("doc_id"))
  }

  val aviMetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n,
      |    CAST(33333 + strlen(text) % 1000 AS BIGINT) AS micro,
      |    CAST(strlen(text) // 16 + 1 AS BIGINT) AS frames
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(n % 640 + 1 AS INT) AS width,
      |  CAST(3 * n % 480 + 1 AS INT) AS height,
      |  frames AS total_frames,
      |  micro AS micro_per_frame,
      |  CAST(frames * micro // 1000 AS BIGINT) AS duration_ms,
      |  ROUND(1e6 / micro, 6) AS fps
      |FROM f ORDER BY doc_id""".stripMargin

  case class Mp4Meta(doc_id: Long, mvhd_version: Int, timescale: Long,
                     duration_ticks: Long, duration_ms: Long)

  /** MP4 / ISO-BMFF sniff — a real BOX-TREE walk: the file is a
    * sequence of [size(BE32) type(4cc)] boxes (size 1 ⇒ a BE64
    * largesize follows), `moov` is a CONTAINER whose children are
    * walked recursively until `mvhd`, whose version byte decides the
    * field layout (v0: 32-bit times at +12/+16 after the full-box
    * header; v1: 64-bit at +20/+28). Returns (version, timescale,
    * durationTicks); None for a malformed tree (short box, truncated
    * payload, missing mvhd).
    */
  def sniffMp4(p: Array[Byte]): Option[(Int, Long, Long)] = {
    def be32(i: Int): Long =
      ((p(i) & 0xFFL) << 24) | ((p(i + 1) & 0xFFL) << 16) |
        ((p(i + 2) & 0xFFL) << 8) | (p(i + 3) & 0xFFL)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def tag(i: Int): String =
      if (i + 4 <= p.length) new String(p, i, 4, "US-ASCII") else ""
    def walk(from: Int, to: Int): Option[(Int, Long, Long)] = {
      var pos = from
      while (pos + 8 <= to) {
        val size0 = be32(pos)
        val typ = tag(pos + 4)
        val (size, hdr) =
          if (size0 == 1) {
            if (pos + 16 > to) return None
            (be64(pos + 8), 16)
          } else (size0, 8)
        if (size < hdr || pos + size > to) return None
        if (typ == "moov") {
          val found = walk(pos + hdr, pos + size.toInt)
          if (found.isDefined) return found
        } else if (typ == "mvhd") {
          val b = pos + hdr
          if (b >= to) return None
          val version = p(b) & 0xFF
          if (version == 0) {
            if (b + 20 > to) return None
            return Some((0, be32(b + 12), be32(b + 16)))
          } else if (version == 1) {
            if (b + 32 > to) return None
            return Some((1, be32(b + 20), be64(b + 24)))
          } else return None
        }
        pos += size.toInt
      }
      None
    }
    if (p.length >= 8 && tag(4) == "ftyp") walk(0, p.length) else None
  }

  /** Deterministic MP4 fixture: ftyp + moov(mvhd v0) + mdat(payload),
    * timescale/duration length-derived so the oracle restates them.
    */
  /** Deterministic FULL-PNG fixture: signature, IHDR, `1 + n % 4`
    * IDAT chunks (sizes/content derived from the byte length), IEND —
    * every chunk carrying its REAL CRC-32 over (type ‖ data), so the
    * q344 walk validates genuine checksums, not zeroed stubs (the q32
    * IHDR peek keeps its CRC-less minimal form).
    */
  def encodePngFull(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val w = n % 640 + 1
    val h = 3 * n % 480 + 1
    val colorType = (n % 3) match { case 0 => 0; case 1 => 2; case _ => 6 }
    val out = new java.io.ByteArrayOutputStream()
    PngSig.foreach(b => out.write(b))
    def be32(v: Long): Unit = {
      out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
      out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
    }
    def chunk(tag: String, data: Array[Byte]): Unit = {
      be32(data.length.toLong)
      val t = tag.getBytes("US-ASCII")
      out.write(t)
      out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      be32(crc.getValue)
    }
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, w); putBe32(ihdr, 4, h)
    ihdr(8) = 8; ihdr(9) = colorType.toByte // depth 8; comp/filter/interlace 0
    chunk("IHDR", ihdr)
    (0 until (1 + n % 4)).foreach { i =>
      val len = 8 + ((n + 7 * i) % 21)
      chunk("IDAT", Array.tabulate(len)(j => ((n + i * 31 + j) % 256).toByte))
    }
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** REAL chunk-list walk of a PNG byte stream: verifies the 8-byte
    * signature, then every (length, type, data, CRC) chunk with the
    * CRC recomputed over (type ‖ data), IHDR fields picked out, IDAT
    * count/bytes accumulated, terminated by IEND. None on any
    * malformation: bad signature, truncated chunk, CRC mismatch,
    * missing IHDR-first, or a stream that ends before IEND — exactly
    * the checks a decoder makes before trusting dimensions.
    */
  def sniffPngChunks(p: Array[Byte])
      : Option[(Int, Int, Int, Int, Int, Int, Long)] = {
    if (p.length < 8 || !PngSig.indices.forall(i => p(i) == PngSig(i).toByte))
      return None
    var off = 8
    var w = 0; var h = 0; var depth = 0; var color = 0
    var nChunks = 0; var nIdat = 0; var idatBytes = 0L
    var sawIhdr = false; var sawIend = false
    def be32(o: Int): Long =
      ((p(o) & 0xFFL) << 24) | ((p(o + 1) & 0xFFL) << 16) |
        ((p(o + 2) & 0xFFL) << 8) | (p(o + 3) & 0xFFL)
    while (!sawIend) {
      if (off + 12 > p.length) return None // truncated header/crc
      val len = be32(off)
      if (len > Int.MaxValue || off + 12 + len > p.length) return None
      val tag = new String(p, off + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(p, off + 4, 4 + len.toInt)
      if (crc.getValue != be32(off + 8 + len.toInt)) return None
      if (nChunks == 0 && tag != "IHDR") return None // IHDR must lead
      tag match {
        case "IHDR" =>
          if (len != 13) return None
          sawIhdr = true
          w = be32(off + 8).toInt; h = be32(off + 12).toInt
          depth = p(off + 16) & 0xFF; color = p(off + 17) & 0xFF
        case "IDAT" => nIdat += 1; idatBytes += len
        case "IEND" => if (len != 0) return None else sawIend = true
        case _ => () // ancillary chunks walk through
      }
      nChunks += 1
      off += 12 + len.toInt
    }
    if (!sawIhdr) None
    else Some((w, h, depth, color, nChunks, nIdat, idatBytes))
  }

  case class PngChunkMeta(doc_id: Long, width: Int, height: Int,
                          bit_depth: Int, color_type: Int, n_chunks: Int,
                          n_idat: Int, idat_bytes: Long, crc_ok: Boolean)

  /** q344 — PNG chunk inventory: per-doc full-PNG fixtures
    * ([[encodePngFull]], real CRCs) through the real
    * [[sniffPngChunks]] list walk — the container whose integrity
    * model is per-chunk checksums (the GIF/MP4 walks parse structure;
    * this one also VERIFIES it, the check an ingest pipeline runs
    * before trusting a crawled image). The oracle predicts every
    * field from the fixture formulas; `crc_ok` is the walk's own
    * verdict — a single flipped byte anywhere in a 20 MB stream
    * breaks the match.
    *
    * Scale: embarrassingly parallel narrow map in batched
    * mapPartitions; one small row per doc; the CRC table is
    * JVM-shared, no per-row allocation beyond the fixture itself.
    */
  def pngChunkMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val png = encodePngFull(r.payload)
        val (w, h, d, c, nc, ni, ib) = sniffPngChunks(png).getOrElse(
          throw new IllegalStateException(s"fixture failed to parse: doc ${r.doc_id}"))
        PngChunkMeta(r.doc_id, w, h, d, c, nc, ni, ib, crc_ok = true)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  val pngChunkMetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n FROM documents
      |), idat_rows AS (
      |  SELECT doc_id, n,
      |    unnest(generate_series(0, CAST(n % 4 AS BIGINT))) AS i
      |  FROM f
      |), idat AS (
      |  SELECT doc_id, COUNT(*) AS n_idat,
      |    SUM(8 + ((n + 7 * i) % 21)) AS idat_bytes
      |  FROM idat_rows GROUP BY doc_id
      |)
      |SELECT f.doc_id,
      |  CAST(f.n % 640 + 1 AS INT) AS width,
      |  CAST(3 * f.n % 480 + 1 AS INT) AS height,
      |  CAST(8 AS INT) AS bit_depth,
      |  CAST(CASE WHEN f.n % 3 = 0 THEN 0
      |            WHEN f.n % 3 = 1 THEN 2 ELSE 6 END AS INT) AS color_type,
      |  CAST(i.n_idat + 2 AS INT) AS n_chunks,
      |  CAST(i.n_idat AS INT) AS n_idat,
      |  CAST(i.idat_bytes AS BIGINT) AS idat_bytes,
      |  TRUE AS crc_ok
      |FROM f JOIN idat i USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  def encodeMp4(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val timescale = 600 + n % 400
    val duration = 100L * n + 42
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Unit = {
      out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
      out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
    }
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    be32(16); tag("ftyp"); tag("isom"); be32(0x200)
    // moov: 8 (header) + mvhd 108
    be32(8 + 108); tag("moov")
    be32(108); tag("mvhd")
    out.write(0); out.write(0); out.write(0); out.write(0) // v0 + flags
    be32(0); be32(0) // ctime, mtime
    be32(timescale); be32(duration)
    (0 until 100 - 20).foreach(_ => out.write(0)) // rate..matrix..next_track
    be32(8L + n); tag("mdat"); out.write(text)
    out.toByteArray
  }

  /** q288 — MP4 metadata pipeline: per-doc ISO-BMFF fixtures through
    * the real [[sniffMp4]] recursive box walk — the container whose
    * header fields live two levels deep in a size-framed tree, so a
    * fixed-offset peek cannot parse it. Same contract as q255/q278;
    * duration floors in integer milliseconds (exact on both engines).
    */
  def mp4Meta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val mp4 = encodeMp4(r.payload)
        val (v, ts, dur) = sniffMp4(mp4).getOrElse(
          throw new IllegalStateException(s"fixture failed to parse: doc ${r.doc_id}"))
        Mp4Meta(r.doc_id, v, ts, dur, dur * 1000L / ts)
      }
    }.toDF()
      .orderBy(col("doc_id"))
  }

  val mp4MetaSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(600 + strlen(text) % 400 AS BIGINT) AS timescale,
      |    CAST(100 * strlen(text) + 42 AS BIGINT) AS duration
      |  FROM documents
      |)
      |SELECT doc_id, 0 AS mvhd_version, timescale,
      |  duration AS duration_ticks,
      |  CAST(duration * 1000 // timescale AS BIGINT) AS duration_ms
      |FROM f ORDER BY doc_id""".stripMargin

  case class GifMeta(doc_id: Long, width: Int, height: Int,
                     n_frames: Long, delay_cs: Long, duration_cs: Long)

  /** GIF89a sniff — a REAL block-structure walk, not a fixed-offset
    * peek: logical screen dims come from the descriptor, but the
    * frame count only exists as "number of 0x2C image descriptors
    * encountered while walking extension blocks, sub-block chains and
    * image payloads to the 0x3B trailer" — so the parser walks them
    * (skipping each LZW data sub-block by its length byte) exactly as
    * a decoder would, and picks the per-frame delay out of the 0xF9
    * graphic-control extension. Returns (width, height, frames,
    * lastDelayCs); None on anything malformed (truncated chain, bad
    * signature, unknown block tag).
    */
  def sniffGif(p: Array[Byte]): Option[(Int, Int, Long, Long)] = {
    def u8(i: Int): Int = p(i) & 0xFF
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    if (p.length < 14 || !"GIF89a".indices.forall(i =>
        p(i) == "GIF89a".charAt(i).toByte)) return None
    val w = le16(6); val h = le16(8)
    val gctSize = if ((u8(10) & 0x80) != 0) 3 << ((u8(10) & 7) + 1) else 0
    var pos = 13 + gctSize
    var frames = 0L
    var delay = 0L
    def skipSubBlocks(): Boolean = {
      while (pos < p.length && u8(pos) != 0) {
        pos += 1 + u8(pos)
      }
      if (pos < p.length) { pos += 1; true } else false
    }
    while (pos < p.length) {
      u8(pos) match {
        case 0x3B => // trailer
          return if (w > 0 && h > 0) Some((w, h, frames, delay)) else None
        case 0x21 => // extension: label, then sub-block chain
          if (pos + 1 >= p.length) return None
          val label = u8(pos + 1)
          if (label == 0xF9 && pos + 5 < p.length && u8(pos + 2) == 4)
            delay = le16(pos + 4).toLong
          pos += 2
          if (!skipSubBlocks()) return None
        case 0x2C => // image descriptor
          if (pos + 10 >= p.length) return None
          val packed = u8(pos + 9)
          val lct = if ((packed & 0x80) != 0) 3 << ((packed & 7) + 1) else 0
          pos += 10 + lct + 1 // descriptor + local table + LZW min-code
          if (!skipSubBlocks()) return None
          frames += 1
        case _ => return None
      }
    }
    None // ran off the end without a trailer
  }

  /** Deterministic animated-GIF fixture: GIF89a + 2-entry global
    * palette + `frames` (graphic-control + image) pairs + trailer,
    * all length-derived so the oracle restates every field without
    * seeing the bytes. Each frame carries one 1-byte data sub-block.
    */
  def encodeGif(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val w = n % 320 + 1
    val h = 2 * n % 240 + 1
    val frames = n / 32 + 1
    val delay = n % 100 + 2
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(w & 0xFF); out.write(w >> 8)
    out.write(h & 0xFF); out.write(h >> 8)
    out.write(0x80) // GCT present, 2 entries
    out.write(0); out.write(0)
    out.write(Array[Byte](0, 0, 0, -1, -1, -1)) // 2-color palette
    (0 until frames).foreach { i =>
      out.write(0x21); out.write(0xF9); out.write(4) // GCE
      out.write(0); out.write(delay & 0xFF); out.write(delay >> 8); out.write(0)
      out.write(0) // GCE terminator
      out.write(0x2C) // image descriptor at (0,0,w,h), no LCT
      out.write(0); out.write(0); out.write(0); out.write(0)
      out.write(w & 0xFF); out.write(w >> 8)
      out.write(h & 0xFF); out.write(h >> 8)
      out.write(0)
      out.write(2) // LZW min code size
      out.write(1) // one data sub-block
      out.write(if (n > 0) text(i * 7 % n) & 0xFF else 0)
      out.write(0) // data terminator
    }
    out.write(0x3B)
    out.toByteArray
  }

  /** q278 — GIF metadata pipeline: per-doc animated-GIF fixtures
    * through the real [[sniffGif]] block walk to typed metadata —
    * the third real container family (BMP/PNG/JPEG stills, WAV/AVI
    * A/V, now the block-chained GIF whose frame count CANNOT be read
    * from a fixed offset). Same contract as q255: byte-exact encode
    * on one side, independent structural parse on the other, the
    * oracle predicts both. fps = 100/delay_cs is the one rounded
    * IEEE division.
    */
  def gifMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val gif = encodeGif(r.payload)
        val (w, h, frames, delay) = sniffGif(gif).getOrElse(
          throw new IllegalStateException(s"fixture failed to parse: doc ${r.doc_id}"))
        GifMeta(r.doc_id, w, h, frames, delay, frames * delay)
      }
    }.toDF()
      .withColumn("fps", round(lit(100.0) / col("delay_cs"), 6))
      .orderBy(col("doc_id"))
  }

  val gifMetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n,
      |    CAST(strlen(text) // 32 + 1 AS BIGINT) AS frames,
      |    CAST(strlen(text) % 100 + 2 AS BIGINT) AS delay
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(n % 320 + 1 AS INT) AS width,
      |  CAST(2 * n % 240 + 1 AS INT) AS height,
      |  frames AS n_frames,
      |  delay AS delay_cs,
      |  CAST(frames * delay AS BIGINT) AS duration_cs,
      |  ROUND(100.0 / delay, 6) AS fps
      |FROM f ORDER BY doc_id""".stripMargin

  case class DHashRow(doc_id: Long, bands: Array[Int])

  /** q251 — gradient-hash (dHash) image near-dup join: the q244
    * pipeline with the difference hash and a BAND-COUNT DIAL. With
    * `nBands` bands of 64/nBands bits, pigeonhole makes the band join
    * lossless for hamming ≤ nBands − 1 — so nBands = 8 buys a
    * hamming-≤7 lossless join at double the banding fan-out (8
    * rows/doc instead of 4), the storage↔radius trade the README
    * "Next" list named. The oracle states the banding-free all-pairs
    * relation at the default (8 bands, maxDist 7), proving the wider
    * radius loses nothing.
    *
    * Scale: identical to q244 — narrow hash kernel, (band_idx,
    * band_val) shuffle of nBands rows/doc, candidate-bounded verify.
    */
  def imageDHashDups(spark: SparkSession, dir: String,
                     maxDist: Int = 7, nBands: Int = 8): DataFrame = {
    require(64 % nBands == 0, s"nBands must divide 64, got $nBands")
    require(maxDist < nBands,
      s"banding is lossless only for maxDist < nBands, got $maxDist/$nBands")
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    val hashes = media.mapPartitions { rows =>
      rows.map { r =>
        DHashRow(r.doc_id, decodeDHashBands(encodeGrayBmp(r.payload), nBands))
      }
    }.toDF().transform(graft.Iterate.cut) // two consumers: band explode + verify join
    val bands = hashes.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_val")))
    val cand = bands.as("a").join(bands.as("b"), Seq("band_idx", "band_val"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(hashes.select(col("doc_id").as("doc_a"), col("bands").as("ba")),
        "doc_a")
      .join(hashes.select(col("doc_id").as("doc_b"), col("bands").as("bb")),
        "doc_b")
      .withColumn("hamming", expr(
        "aggregate(zip_with(ba, bb, (x, y) -> bit_count(x ^ y)), 0, (s, v) -> s + v)"))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: the dHash bits restated directly from the text bytes
    * (logical pixel (r,c) vs its wrapped right neighbor), then the
    * banding-free all-pairs hamming join — one 64-bit total per doc
    * (band packing is a Spark-side sharding detail the relation
    * doesn't see).
    */
  def imageDHashDupsSql(maxDist: Int = 7): String =
    s"""WITH px AS (
       |  SELECT doc_id, CAST(i AS INT) AS i,
       |    CASE WHEN strlen(text) = 0 THEN 0
       |      ELSE ascii(substr(text,
       |        CAST((i * 7) % strlen(text) AS INT) + 1, 1)) END AS g,
       |    CASE WHEN strlen(text) = 0 THEN 0
       |      ELSE ascii(substr(text,
       |        CAST((((i // 8) * 8 + (i % 8 + 1) % 8) * 7) % strlen(text)
       |          AS INT) + 1, 1)) END AS g_nbr
       |  FROM documents, unnest(range(0, 64)) AS t(i)
       |), bits AS (
       |  SELECT doc_id, i, CASE WHEN g < g_nbr THEN 1 ELSE 0 END AS bit
       |  FROM px
       |), hashes AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN i < 32 THEN bit * (1::BIGINT << i)
       |      ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(SUM(CASE WHEN i >= 32 THEN bit * (1::BIGINT << (i - 32))
       |      ELSE 0 END) AS BIGINT) AS hi
       |  FROM bits GROUP BY doc_id
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
       |    AS INT) AS hamming
       |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
       |  <= $maxDist
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle: the LOGICAL thumbnail restated directly from the text
    * (no BMP detour — encode→decode roundtrip fidelity is exactly
    * what's under test), then the pure all-pairs hamming join. ASCII
    * corpus: byte k of the text is ascii(substr(text, k+1, 1)).
    */
  def imageAHashDupsSql(maxDist: Int = 3): String =
    s"""WITH px AS (
       |  SELECT doc_id,
       |    CAST(i AS INT) AS i,
       |    CASE WHEN strlen(text) = 0 THEN 0
       |      ELSE ascii(substr(text,
       |        CAST((i * 7) % strlen(text) AS INT) + 1, 1)) END AS g
       |  FROM documents, unnest(range(0, 64)) AS t(i)
       |), tot AS (
       |  SELECT doc_id, SUM(g) AS total FROM px GROUP BY doc_id
       |), bands AS (
       |  SELECT px.doc_id, CAST(px.i // 16 AS INT) AS band_idx,
       |    CAST(SUM(CASE WHEN 64 * px.g > t.total
       |      THEN 1 << (px.i % 16) ELSE 0 END) AS BIGINT) AS band_val
       |  FROM px JOIN tot t ON t.doc_id = px.doc_id
       |  GROUP BY px.doc_id, px.i // 16
       |), ${hammingPairsSql(maxDist)}""".stripMargin

  /** 16×16 grayscale thumbnail fixture (the pHash kernel's input —
    * DCT on 8×8 leaves too few AC coefficients): a real 24bpp
    * bottom-up BMP, stride 48 (16·3, already 4-aligned), pixels
    * stride-7-sampled from the payload like [[encodeGrayBmp]].
    */
  def encodeGrayBmp16(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val buf = new Array[Byte](54 + 16 * 48)
    buf(0) = 'B'.toByte; buf(1) = 'M'.toByte
    putLe32(buf, 2, buf.length)
    putLe32(buf, 10, 54)
    putLe32(buf, 14, 40)
    putLe32(buf, 18, 16)
    putLe32(buf, 22, 16) // positive: bottom-up row order
    var r = 0
    while (r < 16) {
      var c = 0
      while (c < 16) {
        val logicalRow = 15 - r
        val g = if (n == 0) 0
          else text(((logicalRow * 16 + c) * 7) % n) & 0xFF
        val off = 54 + r * 48 + c * 3
        buf(off) = g.toByte; buf(off + 1) = g.toByte; buf(off + 2) = g.toByte
        c += 1
      }
      r += 1
    }
    buf
  }

  /** 256 lumas of a 16×16 BMP, top-down row-major — the 16×16 twin
    * of [[decodeLumas]] (same header parse, stride, orientation).
    */
  def decodeLumas16(payload: Array[Byte]): Array[Int] = {
    val (w, h) = sniffBmp(payload).getOrElse(
      throw new IllegalArgumentException("not a BITMAPINFOHEADER BMP"))
    require(w == 16 && math.abs(h) == 16,
      s"pHash kernel expects 16x16, got ${w}x$h")
    val off = le32(payload, 10)
    val stride = ((w * 3 + 3) / 4) * 4
    val topDown = le32(payload, 22) < 0
    val lum = new Array[Int](256)
    var rr = 0
    while (rr < 16) {
      val storedRow = if (topDown) rr else 15 - rr
      var c = 0
      while (c < 16) {
        val p = off + storedRow * stride + c * 3
        lum(rr * 16 + c) = ((payload(p) & 0xFF) + (payload(p + 1) & 0xFF) +
          (payload(p + 2) & 0xFF)) / 3
        c += 1
      }
      rr += 1
    }
    lum
  }

  /** FIXED-POINT DCT-II basis, the codec trick that makes a spectral
    * hash engine-portable: B(u,x) = round(2^14·cos(π(2x+1)u/32)) for
    * u < 8, x < 16 — every downstream product and sum is exact
    * 64-bit integer arithmetic (max |coef| ≈ 1.8e16 < 2^63), so the
    * JVM kernel and the SQL oracle agree bit-for-bit where a
    * floating DCT would drift. The classic 1/√2 normalization of the
    * u=0 basis row is deliberately dropped (it would break integer
    * exactness): u=0/v=0 AC coefficients enter the median √2 heavier
    * than textbook pHash weights them — a fixed, documented variant
    * of the scheme, identical on both engines, with the same
    * robustness character (all basis rows keep amplitude 2^14).
    */
  private[sources] val dctBasis: Array[Array[Long]] =
    Array.tabulate(8, 16) { (u, x) =>
      math.rint(16384.0 * math.cos(math.Pi * (2 * x + 1) * u / 32.0)).toLong
    }

  /** pHash (spectral hash) bands: integer 2-D DCT of the 16×16 luma
    * block, the 63 low-frequency AC coefficients (u,v < 8, (0,0)
    * dropped — the DC term is just brightness), bit i set iff
    * coefficient i exceeds the 63-coefficient MEDIAN (rank-32
    * ascending; strict, so a flat image hashes to 0). Median-of-AC
    * is what makes pHash robust to contrast/brightness rescaling
    * that flips aHash/dHash bits wholesale — the third, spectral,
    * member of the perceptual-hash family (q244 average, q251
    * gradient).
    */
  def decodePHashBands(payload: Array[Byte]): Array[Int] = {
    val lum = decodeLumas16(payload)
    // separable transform: T(v, row) = Σ_col lum(row,col)·B(v,col)
    val t = Array.ofDim[Long](8, 16)
    var v = 0
    while (v < 8) {
      var row = 0
      while (row < 16) {
        var s = 0L
        var colI = 0
        while (colI < 16) {
          s += lum(row * 16 + colI) * dctBasis(v)(colI)
          colI += 1
        }
        t(v)(row) = s
        row += 1
      }
      v += 1
    }
    val coefs = new Array[Long](63)
    var u = 0
    while (u < 8) {
      var vv = 0
      while (vv < 8) {
        if (u != 0 || vv != 0) {
          var s = 0L
          var row = 0
          while (row < 16) {
            s += t(vv)(row) * dctBasis(u)(row)
            row += 1
          }
          coefs(u * 8 + vv - 1) = s
        }
        vv += 1
      }
      u += 1
    }
    val median = coefs.sorted.apply(31) // rank 32 of 63, ascending
    packBands(i => i < 63 && coefs(i) > median, 4)
  }

  case class PHashRow(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  /** q295 — spectral-hash (pHash) image near-dup join: every
    * document's 16×16 grayscale thumbnail through the REAL BMP
    * decode + fixed-point DCT kernel ([[decodePHashBands]]), then
    * the q244 discipline — LSH band join on four 16-bit bands
    * (lossless for hamming ≤ 3 by pigeonhole) and a hamming verify.
    * Completes the perceptual-hash family: average (q244) reacts to
    * luminance, gradient (q251) to local edges, spectral to the
    * low-frequency SHAPE — production image dedup runs all three
    * because they fail on different transforms.
    *
    * Scale: identical to q244 — narrow mapPartitions hash kernel,
    * 4-rows/doc band shuffle, candidate-bounded verify.
    */
  def imagePHashDups(spark: SparkSession, dir: String,
                     maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, s"banding is lossless only for maxDist <= 3, got $maxDist")
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    val hashes = media.mapPartitions { rows =>
      rows.map { r =>
        val b = decodePHashBands(encodeGrayBmp16(r.payload))
        PHashRow(r.doc_id, b(0), b(1), b(2), b(3))
      }
    }.toDF().transform(graft.Iterate.cut) // two consumers: band explode + verify join
    bandHammingDups(hashes, maxDist)
  }

  /** Oracle twin: lumas re-derived from the payload generation (the
    * q244 convention — the BMP encode/decode round-trip is
    * unit-tested; the oracle states the hash arithmetic), basis
    * embedded as the SAME Scala-computed integer literals, and the
    * pure all-pairs hamming relation (no banding), which the driver
    * match proves lossless.
    */
  def imagePHashDupsSql(maxDist: Int = 3): String = {
    val basisRows = (for (u <- 0 until 8; x <- 0 until 16)
      yield s"($u, $x, ${dctBasis(u)(x)})").mkString(", ")
    s"""WITH basis(u, x, b) AS (VALUES $basisRows
       |), px AS (
       |  SELECT doc_id,
       |    CAST(i AS INT) AS i,
       |    CASE WHEN strlen(text) = 0 THEN 0
       |      ELSE ascii(substr(text,
       |        CAST((i * 7) % strlen(text) AS INT) + 1, 1)) END AS g
       |  FROM documents, unnest(range(0, 256)) AS t(i)
       |), t1 AS (
       |  SELECT px.doc_id, b.u AS v, CAST(px.i // 16 AS INT) AS row_i,
       |    CAST(SUM(px.g * b.b) AS BIGINT) AS t
       |  FROM px JOIN basis b ON b.x = px.i % 16
       |  GROUP BY 1, 2, 3
       |), f AS (
       |  SELECT t1.doc_id, b.u AS u, t1.v AS v,
       |    CAST(SUM(t1.t * b.b) AS BIGINT) AS coef
       |  FROM t1 JOIN basis b ON b.x = t1.row_i
       |  GROUP BY 1, 2, 3
       |), cz AS (
       |  SELECT doc_id, u, v, u * 8 + v - 1 AS bit_i, coef
       |  FROM f WHERE NOT (u = 0 AND v = 0)
       |), med AS (
       |  SELECT doc_id, MAX(CASE WHEN rn = 32 THEN coef END) AS m
       |  FROM (SELECT doc_id, coef, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY coef, u, v) AS rn FROM cz)
       |  GROUP BY doc_id
       |), bands AS (
       |  SELECT c.doc_id, CAST(c.bit_i // 16 AS INT) AS band_idx,
       |    CAST(SUM(CASE WHEN c.coef > med.m
       |      THEN 1 << (c.bit_i % 16) ELSE 0 END) AS BIGINT) AS band_val
       |  FROM cz c JOIN med USING (doc_id)
       |  GROUP BY 1, 2
       |), ${hammingPairsSql(maxDist)}""".stripMargin
  }

  /** Deterministic JPEG-with-EXIF fixture: SOI, one APP1 Exif segment
    * carrying a REAL TIFF header + IFD0 (ImageWidth 0x0100,
    * ImageLength 0x0101, Orientation 0x0112 — all SHORT/count-1),
    * `n % 3` COM segments, then SOS. Byte order alternates by payload
    * parity — II (little) for even lengths, MM (big) for odd — so the
    * walker's endianness handling is exercised on every other doc.
    */
  def encodeJpegExif(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val little = n % 2 == 0
    val width = n % 640 + 1
    val height = (2 * n) % 480 + 1
    val orient = n % 8 + 1
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xFF)
    def wbe16(v: Int): Unit = { w8(v >> 8); w8(v) }
    // TIFF block (header + IFD0 with 3 entries + next-IFD 0)
    val tiff = new Array[Byte](8 + 2 + 3 * 12 + 4)
    def t16(off: Int, v: Int): Unit =
      if (little) { tiff(off) = (v & 0xFF).toByte
        tiff(off + 1) = ((v >> 8) & 0xFF).toByte }
      else { tiff(off) = ((v >> 8) & 0xFF).toByte
        tiff(off + 1) = (v & 0xFF).toByte }
    def t32(off: Int, v: Int): Unit =
      if (little) putLe32(tiff, off, v) else putBe32(tiff, off, v)
    tiff(0) = (if (little) 'I' else 'M').toByte
    tiff(1) = tiff(0)
    t16(2, 42); t32(4, 8) // magic, IFD0 offset
    t16(8, 3) // entry count
    def entry(slot: Int, tag: Int, value: Int): Unit = {
      val o = 10 + slot * 12
      t16(o, tag); t16(o + 2, 3); t32(o + 4, 1) // SHORT, count 1
      t16(o + 8, value) // value packed in the field's first 2 bytes
    }
    entry(0, 0x0100, width); entry(1, 0x0101, height)
    entry(2, 0x0112, orient)
    t32(10 + 3 * 12, 0) // next IFD
    wbe16(0xFFD8) // SOI
    wbe16(0xFFE1); wbe16(2 + 6 + tiff.length) // APP1
    out.write("Exif".getBytes("US-ASCII")); w8(0); w8(0)
    out.write(tiff)
    (0 until n % 3).foreach { i =>
      val len = 5 + (n + i) % 7
      wbe16(0xFFFE); wbe16(2 + len) // COM
      (0 until len).foreach(j => w8((n + 31 * i + j) % 256))
    }
    wbe16(0xFFDA); wbe16(2) // SOS, then entropy data + EOI
    w8(0x12); w8(0x34); wbe16(0xFFD9)
    out.toByteArray
  }

  /** REAL JPEG marker walk + EXIF TIFF-IFD parse: verifies SOI, walks
    * every length-prefixed marker segment to SOS, and inside APP1
    * parses the TIFF header (either byte order, magic 42) and scans
    * IFD0's 12-byte entries for width/height/orientation — the
    * endianness-dependent reads a crawled-photo ingest must get right
    * before trusting any dimension. None on malformation: bad SOI,
    * truncated segment, unknown byte order, bad magic, or an IFD that
    * runs off the buffer.
    */
  def sniffJpegExif(p: Array[Byte])
      : Option[(String, Int, Int, Int, Int)] = {
    if (p.length < 4 || (p(0) & 0xFF) != 0xFF || (p(1) & 0xFF) != 0xD8)
      return None
    var off = 2
    var nSegs = 0
    var order = ""; var w = -1; var h = -1; var orient = -1
    def be16(o: Int): Int = ((p(o) & 0xFF) << 8) | (p(o + 1) & 0xFF)
    def parseTiff(t0: Int, tEnd: Int): Boolean = {
      if (t0 + 8 > tEnd) return false
      val c0 = p(t0) & 0xFF; val c1 = p(t0 + 1) & 0xFF
      val little = c0 == 'I'.toInt && c1 == 'I'.toInt
      val big = c0 == 'M'.toInt && c1 == 'M'.toInt
      if (!little && !big) return false
      def r16(o: Int): Int =
        if (little) (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8)
        else ((p(o) & 0xFF) << 8) | (p(o + 1) & 0xFF)
      def r32(o: Int): Int =
        if (little) (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8) |
          ((p(o + 2) & 0xFF) << 16) | ((p(o + 3) & 0xFF) << 24)
        else ((p(o) & 0xFF) << 24) | ((p(o + 1) & 0xFF) << 16) |
          ((p(o + 2) & 0xFF) << 8) | (p(o + 3) & 0xFF)
      if (r16(t0 + 2) != 42) return false
      val ifd = t0 + r32(t0 + 4)
      if (ifd + 2 > tEnd) return false
      val count = r16(ifd)
      if (ifd + 2 + count * 12 + 4 > tEnd) return false
      (0 until count).foreach { k =>
        val e = ifd + 2 + k * 12
        val tag = r16(e); val typ = r16(e + 2); val cnt = r32(e + 4)
        if (typ == 3 && cnt == 1) {
          val v = r16(e + 8)
          tag match {
            case 0x0100 => w = v
            case 0x0101 => h = v
            case 0x0112 => orient = v
            case _ => ()
          }
        }
      }
      order = if (little) "II" else "MM"
      true
    }
    var sawSos = false
    while (!sawSos) {
      if (off + 4 > p.length) return None
      if ((p(off) & 0xFF) != 0xFF) return None
      val code = p(off + 1) & 0xFF
      val len = be16(off + 2)
      if (len < 2 || off + 2 + len > p.length) return None
      if (code == 0xE1 && len >= 8 &&
          new String(p, off + 4, 4, "US-ASCII") == "Exif" &&
          p(off + 8) == 0 && p(off + 9) == 0) {
        if (!parseTiff(off + 10, off + 2 + len)) return None
      }
      nSegs += 1
      if (code == 0xDA) sawSos = true else off += 2 + len
    }
    if (order.isEmpty || w < 0 || h < 0 || orient < 0) None
    else Some((order, w, h, orient, nSegs))
  }

  case class JpegExifMeta(doc_id: Long, byte_order: String, width: Int,
                          height: Int, orientation: Int, n_segments: Int)

  /** q375 — JPEG/EXIF orientation pipeline: per-doc JPEG fixtures
    * ([[encodeJpegExif]] — real marker framing, real TIFF IFD in BOTH
    * byte orders) through the real [[sniffJpegExif]] walk. Orientation
    * is the one EXIF tag every image-training pipeline MUST read (a
    * rotated crawl photo trains a rotated model), and TIFF's
    * dual-endianness is the classic parser trap — half the fixtures
    * are II, half MM, so both code paths grade every run.
    *
    * Scale: embarrassingly parallel batched mapPartitions kernel, one
    * small row per doc — the q344/q288 envelope.
    */
  def jpegExifMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val jpg = encodeJpegExif(r.payload)
        val (bo, w, h, o, ns) = sniffJpegExif(jpg).getOrElse(
          throw new IllegalStateException(
            s"fixture failed to parse: doc ${r.doc_id}"))
        JpegExifMeta(r.doc_id, bo, w, h, o, ns)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  val jpegExifMetaSql: String =
    """SELECT doc_id,
      |  CASE WHEN strlen(text) % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
      |  CAST(strlen(text) % 640 + 1 AS INT) AS width,
      |  CAST((2 * strlen(text)) % 480 + 1 AS INT) AS height,
      |  CAST(strlen(text) % 8 + 1 AS INT) AS orientation,
      |  CAST(2 + strlen(text) % 3 AS INT) AS n_segments
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Deterministic STORE-only ZIP fixture: `n % 3 + 1` entries, each
    * a local file header (real CRC32 over the synthesized data) +
    * data, then the central directory and the 22-byte EOCD. No
    * compression (method 0) — the structure, offsets, and CRCs are
    * the parsing surface.
    */
  def encodeZip(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val k = n % 3 + 1
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def le32(v: Long): Unit = (0 until 4).foreach(i =>
      out.write(((v >> (8 * i)) & 0xFF).toInt))
    val entries = (0 until k).map { i =>
      val len = 10 + (n + 7 * i) % 50
      val data = Array.tabulate(len)(j => ((n + 13 * i + j) % 256).toByte)
      val crc = new java.util.zip.CRC32(); crc.update(data)
      (s"f$i.txt", data, crc.getValue)
    }
    val offsets = new Array[Int](k)
    entries.zipWithIndex.foreach { case ((name, data, crc), i) =>
      offsets(i) = out.size()
      le32(0x04034b50L); le16(20); le16(0); le16(0); le16(0); le16(0)
      le32(crc); le32(data.length.toLong); le32(data.length.toLong)
      le16(name.length); le16(0)
      out.write(name.getBytes("US-ASCII")); out.write(data)
    }
    val cdStart = out.size()
    entries.zipWithIndex.foreach { case ((name, data, crc), i) =>
      le32(0x02014b50L); le16(20); le16(20); le16(0); le16(0)
      le16(0); le16(0)
      le32(crc); le32(data.length.toLong); le32(data.length.toLong)
      le16(name.length); le16(0); le16(0); le16(0); le16(0)
      le32(0L); le32(offsets(i).toLong)
      out.write(name.getBytes("US-ASCII"))
    }
    val cdSize = out.size() - cdStart
    le32(0x06054b50L); le16(0); le16(0); le16(k); le16(k)
    le32(cdSize.toLong); le32(cdStart.toLong); le16(0)
    out.toByteArray
  }

  /** REAL ZIP walk: locates the EOCD record, walks the central
    * directory, follows each entry's offset to its local header,
    * cross-checks name/method/sizes between the two records, and
    * recomputes each entry's CRC32 over the stored bytes — the
    * integrity pass an archive-ingest source runs before trusting any
    * member. None on malformation anywhere.
    */
  def sniffZip(p: Array[Byte]): Option[(Int, Long, Boolean)] = {
    if (p.length < 22) return None
    def le16(o: Int): Int = (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8)
    def le32(o: Int): Long = (0 until 4).map(i =>
      (p(o + i) & 0xFFL) << (8 * i)).reduce(_ | _)
    val eocd = p.length - 22
    if (le32(eocd) != 0x06054b50L) return None
    val k = le16(eocd + 10)
    val cdSize = le32(eocd + 12); val cdStart = le32(eocd + 16)
    if (cdStart + cdSize != eocd) return None
    var off = cdStart.toInt
    var total = 0L
    var crcOk = true
    (0 until k).foreach { _ =>
      if (off + 46 > p.length || le32(off) != 0x02014b50L) return None
      val crc = le32(off + 16)
      val csize = le32(off + 20); val usize = le32(off + 24)
      val nameLen = le16(off + 28); val extraLen = le16(off + 30)
      val cmtLen = le16(off + 32)
      val lho = le32(off + 42).toInt
      val name = new String(p, off + 46, nameLen, "US-ASCII")
      // local header cross-check
      if (lho + 30 > p.length || le32(lho) != 0x04034b50L) return None
      if (le16(lho + 8) != 0) return None // method must be STORE
      if (le32(lho + 14) != crc || le32(lho + 18) != csize ||
          le32(lho + 22) != usize) return None
      val lNameLen = le16(lho + 26); val lExtraLen = le16(lho + 28)
      if (new String(p, lho + 30, lNameLen, "US-ASCII") != name) return None
      val dataOff = lho + 30 + lNameLen + lExtraLen
      if (dataOff + csize > p.length) return None
      val c = new java.util.zip.CRC32()
      c.update(p, dataOff, csize.toInt)
      if (c.getValue != crc) crcOk = false
      total += usize
      off += 46 + nameLen + extraLen + cmtLen
    }
    Some((k, total, crcOk))
  }

  case class ZipMeta(doc_id: Long, n_entries: Int, total_uncompressed: Long,
                     crc_ok: Boolean)

  /** q376 — ZIP archive inventory: per-doc STORE-only ZIP fixtures
    * ([[encodeZip]], real CRC32s, real central-directory offsets)
    * through the real [[sniffZip]] EOCD → central-directory → local-
    * header walk with per-member CRC verification. Training corpora
    * routinely arrive as archives; this is the source-side integrity
    * pass (count members, total bytes, checksum verdict) before any
    * member is extracted — completing the container family (image /
    * audio / video / archive).
    *
    * Scale: the q344 envelope — embarrassingly parallel batched
    * mapPartitions, one small row per doc.
    */
  def zipMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val z = encodeZip(r.payload)
        val (k, total, ok) = sniffZip(z).getOrElse(
          throw new IllegalStateException(
            s"fixture failed to parse: doc ${r.doc_id}"))
        ZipMeta(r.doc_id, k, total, ok)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  val zipMetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n FROM documents
      |), entries AS (
      |  SELECT doc_id, n,
      |    unnest(generate_series(0, CAST(n % 3 AS BIGINT))) AS i
      |  FROM f
      |)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS INT) AS n_entries,
      |  CAST(SUM(10 + (n + 7 * i) % 50) AS BIGINT) AS total_uncompressed,
      |  TRUE AS crc_ok
      |FROM entries
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Deterministic POSIX ustar fixture: `n % 4 + 1` members, each a
    * REAL 512-byte ustar header (octal size/mtime fields, the
    * space-initialized checksum recomputed exactly as tar does,
    * `ustar` magic) + data padded to the 512 boundary, closed by the
    * two zero blocks. The structure, octal arithmetic and checksum
    * are the parsing surface.
    */
  def encodeTar(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val k = n % 4 + 1
    val out = new java.io.ByteArrayOutputStream()
    (0 until k).foreach { i =>
      val len = 12 + (n + 11 * i) % 40
      val data = Array.tabulate(len)(j => ((n + 17 * i + j) % 256).toByte)
      val hdr = new Array[Byte](512)
      def putStr(off: Int, s: String): Unit =
        s.getBytes("US-ASCII").zipWithIndex.foreach { case (b, j) => hdr(off + j) = b }
      putStr(0, s"e$i.dat")
      putStr(100, "0000644")
      putStr(108, "0000000")
      putStr(116, "0000000")
      putStr(124, f"$len%011o")
      putStr(136, "00000000000")
      (148 until 156).foreach(j => hdr(j) = ' '.toByte) // checksum spaces
      hdr(156) = '0'.toByte
      putStr(257, "ustar")
      hdr(262) = 0; putStr(263, "00")
      val sum = hdr.map(_ & 0xFF).sum
      putStr(148, f"$sum%06o")
      hdr(154) = 0; hdr(155) = ' '.toByte
      out.write(hdr)
      out.write(data)
      val pad = (512 - len % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** REAL ustar walk: per 512-byte header parses the NUL-terminated
    * name, the octal size, verifies the `ustar` magic and RECOMPUTES
    * the header checksum with the checksum field blanked (the tar
    * rule), then skips ceil(size/512) data blocks; two zero blocks
    * end the archive. None on any malformation.
    */
  def sniffTar(p: Array[Byte]): Option[(Int, Long, Boolean)] = {
    var off = 0
    var k = 0; var total = 0L; var ok = true
    def isZeroBlock(o: Int): Boolean =
      (o until o + 512).forall(j => p(j) == 0)
    while (off + 512 <= p.length) {
      if (isZeroBlock(off)) {
        if (off + 1024 > p.length || !isZeroBlock(off + 512)) return None
        return Some((k, total, ok))
      }
      if (new String(p, off + 257, 5, "US-ASCII") != "ustar") return None
      val sizeStr = new String(p, off + 124, 11, "US-ASCII")
      val size = try java.lang.Long.parseLong(sizeStr.trim, 8)
        catch { case _: NumberFormatException => return None }
      val stored = try java.lang.Long.parseLong(
        new String(p, off + 148, 6, "US-ASCII"), 8)
        catch { case _: NumberFormatException => return None }
      var sum = 0L
      (0 until 512).foreach { j =>
        sum += (if (j >= 148 && j < 156) 32 else p(off + j) & 0xFF)
      }
      if (sum != stored) ok = false
      k += 1; total += size
      val blocks = ((size + 511) / 512).toInt
      off += 512 + blocks * 512
    }
    None
  }

  case class TarMeta(doc_id: Long, n_entries: Int, total_bytes: Long,
                     checksum_ok: Boolean)

  /** q491 — TAR archive inventory: per-doc ustar fixtures
    * ([[encodeTar]], real octal fields, real header checksums)
    * through the real [[sniffTar]] block walk with per-header
    * checksum verification — tarballs are how training corpora
    * actually ship (WebDataset, Common Crawl segments, HF dataset
    * shards), and this is the integrity inventory a shard-ingest
    * source runs before extracting any member. Completes the archive
    * family beside q376's ZIP (central-directory format) with the
    * streaming-friendly sequential-header format.
    *
    * Scale: the q344 envelope — embarrassingly parallel batched
    * mapPartitions, one small row per doc.
    */
  def tarMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val t = encodeTar(r.payload)
        val (k, total, ok) = sniffTar(t).getOrElse(
          throw new IllegalStateException(
            s"fixture failed to parse: doc ${r.doc_id}"))
        TarMeta(r.doc_id, k, total, ok)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  val tarMetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n FROM documents
      |), entries AS (
      |  SELECT doc_id, n,
      |    unnest(generate_series(0, CAST(n % 4 AS BIGINT))) AS i
      |  FROM f
      |)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS INT) AS n_entries,
      |  CAST(SUM(12 + (n + 11 * i) % 40) AS BIGINT) AS total_bytes,
      |  TRUE AS checksum_ok
      |FROM entries
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** MPEG-1 Layer III bitrate table (kbps), indexed 1..14 (0 = free,
    * 15 = bad — both rejected by the walker). ISO/IEC 11172-3
    * Table B.2, the column every MP3 decoder hard-codes.
    */
  private val Mp3Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
    128, 160, 192, 224, 256, 320)

  /** MPEG-1 sampling-rate table (Hz), indexed 0..2 (3 = reserved). */
  private val Mp3Rates = Array(44100, 48000, 32000)

  /** Deterministic MP3 fixture: `1 + n%4` MPEG-1 Layer III frames
    * (no CRC), frame i carrying bitrate index `1 + (n + 7i) % 14`,
    * sampling-rate index `n % 3` and padding bit `(n + i) % 2` —
    * frame length = 144·bitrate/samplerate + padding, the formula the
    * walker must reproduce from the header tables alone. Filler bytes
    * are deterministic but ignored by the parser (they are the
    * entropy-coded payload a metadata walk never reads).
    */
  def encodeMp3(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val nFrames = 1 + n % 4
    val si = n % 3
    val rate = Mp3Rates(si)
    val out = new java.io.ByteArrayOutputStream()
    (0 until nFrames).foreach { i =>
      val bi = 1 + (n + 7 * i) % 14
      val pad = (n + i) % 2
      val len = 144 * Mp3Bitrates(bi) * 1000 / rate + pad
      val frame = new Array[Byte](len)
      frame(0) = 0xFF.toByte
      frame(1) = 0xFB.toByte // sync(3) | MPEG1(11) | Layer III(01) | noCRC(1)
      frame(2) = ((bi << 4) | (si << 2) | (pad << 1)).toByte
      frame(3) = 0x00 // stereo, no emphasis
      (4 until len).foreach(j => frame(j) = ((n + i * 17 + j) % 256).toByte)
      out.write(frame)
    }
    out.toByteArray
  }

  /** REAL MP3 frame-header walk: resynchronizes on the 11-bit sync
    * word, validates version/layer/bitrate/samplerate fields against
    * the ISO tables, advances by the COMPUTED frame length
    * (144·bitrate/samplerate + padding — the part naive parsers get
    * wrong and then mis-read every later frame), and accumulates
    * frame count, byte total and sample count. None on any
    * malformation: lost sync, reserved version/layer, free/bad
    * bitrate index, reserved sampling rate, or a frame extending past
    * the stream. Returns (frames, totalBytes, sampleRate, samples).
    */
  def sniffMp3(p: Array[Byte]): Option[(Int, Long, Int, Long)] = {
    var off = 0
    var frames = 0
    var bytes = 0L
    var rate = -1
    while (off < p.length) {
      if (off + 4 > p.length) return None
      if ((p(off) & 0xFF) != 0xFF || (p(off + 1) & 0xE0) != 0xE0) return None
      val version = (p(off + 1) >> 3) & 0x3
      val layer = (p(off + 1) >> 1) & 0x3
      if (version != 3 || layer != 1) return None // MPEG-1 Layer III only
      val bi = (p(off + 2) >> 4) & 0xF
      val si = (p(off + 2) >> 2) & 0x3
      val pad = (p(off + 2) >> 1) & 0x1
      if (bi == 0 || bi == 15 || si == 3) return None
      val r = Mp3Rates(si)
      if (rate == -1) rate = r
      else if (rate != r) return None // fixtures are CBR-rate
      val len = 144 * Mp3Bitrates(bi) * 1000 / r + pad
      if (off + len > p.length) return None
      frames += 1
      bytes += len
      off += len
    }
    if (frames == 0) None else Some((frames, bytes, rate, frames * 1152L))
  }

  case class Mp3Meta(doc_id: Long, n_frames: Int, sample_rate: Int,
                     total_bytes: Long, duration_ms: Long)

  /** q504 — MP3 frame inventory: per-doc fixtures ([[encodeMp3]])
    * through the real [[sniffMp3]] sync-walk — the container whose
    * structure is not size-framed boxes (MP4) or tagged chunks (PNG)
    * but a chain of self-describing frame headers whose lengths come
    * from TWO lookup tables and a padding bit; duration only exists
    * as frames × 1152 / samplerate. Completes the audio shelf (WAV
    * header q116, PCM energy q114/q214) with the compressed-audio
    * walk every crawled-audio ingest runs first.
    *
    * Exactness: the oracle predicts every field from the fixture
    * formulas with the bitrate table restated as a CASE — frame
    * lengths and the sample→ms floor division are exact integers on
    * both engines.
    *
    * Scale: embarrassingly parallel narrow map in batched
    * mapPartitions; one small row per doc, no shuffle.
    */
  def mp3Meta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val mp3 = encodeMp3(r.payload)
        val (fr, by, rate, samples) = sniffMp3(mp3).getOrElse(
          throw new IllegalStateException(s"fixture failed to parse: doc ${r.doc_id}"))
        Mp3Meta(r.doc_id, fr, rate, by, samples * 1000L / rate)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  val mp3MetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n FROM documents
      |), frames AS (
      |  SELECT doc_id, n, unnest(generate_series(0, CAST(n % 4 AS BIGINT))) AS i
      |  FROM f
      |), sized AS (
      |  SELECT doc_id, n, i,
      |    CASE 1 + (n + 7 * i) % 14
      |      WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
      |      WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
      |      WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192
      |      WHEN 12 THEN 224 WHEN 13 THEN 256 WHEN 14 THEN 320 END AS kbps,
      |    CASE n % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
      |      ELSE 32000 END AS rate,
      |    (n + i) % 2 AS pad
      |  FROM frames
      |)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS INT) AS n_frames,
      |  CAST(MAX(rate) AS INT) AS sample_rate,
      |  CAST(SUM(144 * kbps * 1000 // rate + pad) AS BIGINT) AS total_bytes,
      |  CAST(COUNT(*) * 1152 * 1000 // MAX(rate) AS BIGINT) AS duration_ms
      |FROM sized GROUP BY doc_id, n
      |ORDER BY doc_id""".stripMargin

  /** 28-bit syncsafe integer encode (ID3v2): 4 bytes of 7 bits each,
    * high bit always clear — the format's trick to keep tag bytes
    * from faking an MPEG sync word.
    */
  private def syncsafe(v: Int): Array[Byte] = Array(
    ((v >> 21) & 0x7F).toByte, ((v >> 14) & 0x7F).toByte,
    ((v >> 7) & 0x7F).toByte, (v & 0x7F).toByte)

  private def unSyncsafe(p: Array[Byte], off: Int): Int = {
    var v = 0
    (0 until 4).foreach { i =>
      if ((p(off + i) & 0x80) != 0) return -1 // not a syncsafe byte
      v = (v << 7) | (p(off + i) & 0x7F)
    }
    v
  }

  private val Id3FrameIds = Seq("TIT2", "TPE1", "TALB")

  /** Deterministic ID3v2.4 fixture: header `ID3 04 00 flags=0
    * syncsafe(body)`, then `1 + n%3` text frames (TIT2/TPE1/TALB),
    * frame i carrying a `121 + (n + 11i) % 20`-byte payload
    * (encoding byte + ASCII) — payload sizes above 127 so the
    * syncsafe frame-size encoding genuinely differs from a plain
    * 32-bit size (the classic ID3 parser bug).
    */
  def encodeId3(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val m = 1 + n % 3
    val out = new java.io.ByteArrayOutputStream()
    val body = new java.io.ByteArrayOutputStream()
    (0 until m).foreach { i =>
      val plen = 121 + (n + 11 * i) % 20
      body.write(Id3FrameIds(i).getBytes("US-ASCII"))
      body.write(syncsafe(plen))
      body.write(0); body.write(0) // frame flags
      body.write(0) // text encoding: ISO-8859-1
      (1 until plen).foreach(j => body.write('a' + (n + i + j) % 26))
    }
    val b = body.toByteArray
    out.write("ID3".getBytes("US-ASCII"))
    out.write(4); out.write(0) // v2.4.0
    out.write(0) // flags
    out.write(syncsafe(b.length))
    out.write(b)
    out.toByteArray
  }

  case class Id3Meta(doc_id: Long, n_frames: Int, tag_body_bytes: Int,
                     payload_bytes: Long, first_id: String, last_id: String)

  /** REAL ID3v2 tag walk: magic + version check, SYNCSAFE body-size
    * decode (reject any size byte with the high bit set), then a
    * frame chain walk — 4-char [A-Z0-9] frame ID, syncsafe frame
    * size, 2 flag bytes — that must land EXACTLY on the body
    * boundary. None on any malformation: bad magic, non-syncsafe
    * size, bogus frame ID, or a frame overrunning the tag. Returns
    * (frames, bodyBytes, payloadBytes, firstId, lastId).
    */
  def sniffId3(p: Array[Byte]): Option[(Int, Int, Long, String, String)] = {
    if (p.length < 10 || p(0) != 'I' || p(1) != 'D' || p(2) != '3') return None
    if ((p(3) & 0xFF) != 4 || p(4) != 0 || p(5) != 0) return None
    val body = unSyncsafe(p, 6)
    if (body < 0 || 10 + body > p.length) return None
    var off = 10
    val end = 10 + body
    var frames = 0
    var payload = 0L
    var firstId: String = null
    var lastId: String = null
    while (off < end) {
      if (off + 10 > end) return None
      val id = new String(p, off, 4, "US-ASCII")
      if (!id.forall(ch => (ch >= 'A' && ch <= 'Z') || (ch >= '0' && ch <= '9')))
        return None
      val sz = unSyncsafe(p, off + 4)
      if (sz < 0 || off + 10 + sz > end) return None
      if (firstId == null) firstId = id
      lastId = id
      frames += 1
      payload += sz
      off += 10 + sz
    }
    if (frames == 0 || off != end) None
    else Some((frames, body, payload, firstId, lastId))
  }

  /** q513 — ID3v2 tag inventory: per-doc fixtures ([[encodeId3]])
    * through the real [[sniffId3]] frame walk — the metadata block in
    * front of nearly every crawled MP3 (q504 walks the frames BEHIND
    * it), and the format whose SYNCSAFE 7-bit size encoding is the
    * classic parser bug: read the sizes as plain 32-bit ints and
    * every frame beyond the first lands mid-payload. Fixture payload
    * sizes sit above 127 precisely so that bug cannot pass.
    *
    * Exactness: the oracle predicts frame count, body/payload byte
    * totals and first/last frame IDs from the fixture formulas —
    * exact integers and literals on both engines.
    *
    * Scale: narrow batched mapPartitions, one small row per doc.
    */
  def id3Meta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val tag = encodeId3(r.payload)
        val (fr, body, pay, fid, lid) = sniffId3(tag).getOrElse(
          throw new IllegalStateException(s"fixture failed to parse: doc ${r.doc_id}"))
        Id3Meta(r.doc_id, fr, body, pay, fid, lid)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  val id3MetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n FROM documents
      |), frames AS (
      |  SELECT doc_id, n, unnest(generate_series(0, CAST(n % 3 AS BIGINT))) AS i
      |  FROM f
      |), sized AS (
      |  SELECT doc_id, n, i, 121 + (n + 11 * i) % 20 AS plen
      |  FROM frames
      |)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS INT) AS n_frames,
      |  CAST(SUM(10 + plen) AS INT) AS tag_body_bytes,
      |  CAST(SUM(plen) AS BIGINT) AS payload_bytes,
      |  'TIT2' AS first_id,
      |  CASE MAX(i) WHEN 0 THEN 'TIT2' WHEN 1 THEN 'TPE1'
      |    ELSE 'TALB' END AS last_id
      |FROM sized GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Deterministic minimal-PDF fixture: `%PDF-1.4` header,
    * `2 + n%4` single-digit-numbered objects with
    * `10 + (n + 5i) % 30`-byte text payloads, a classic 20-byte-record
    * xref table whose offsets are the REAL byte positions of each
    * object, and a `startxref` trailer pointing at the table.
    */
  def encodePdf(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val m = 2 + n % 4
    val sb = new StringBuilder
    sb.append("%PDF-1.4\n")
    val offsets = new Array[Long](m)
    (0 until m).foreach { i =>
      offsets(i) = sb.length.toLong
      val b = 10 + (n + 5 * i) % 30
      sb.append(s"${i + 1} 0 obj\n")
      sb.append("(").append("x" * b).append(")\n")
      sb.append("endobj\n")
    }
    val xrefOff = sb.length.toLong
    sb.append("xref\n").append(s"0 ${m + 1}\n")
    sb.append("0000000000 65535 f \n")
    offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append("trailer\n").append(s"<< /Size ${m + 1} >>\n")
    sb.append("startxref\n").append(s"$xrefOff\n").append("%%EOF\n")
    sb.toString.getBytes("US-ASCII")
  }

  case class PdfMeta(doc_id: Long, n_objects: Int, xref_offset: Long,
                     obj_bytes: Long, pdf_bytes: Long)

  /** REAL PDF xref walk — the read order a conforming reader uses:
    * verify the `%PDF-` header, scan BACKWARD from `%%EOF` for
    * `startxref`, parse the byte offset, require `xref` at exactly
    * that offset, read the `0 k` subsection header, then k fixed
    * 20-byte records (the classic format trap — a 19- or 21-byte
    * record desynchronizes every later entry), and verify each
    * in-use record's 10-digit offset lands on `<num> 0 obj`. None on
    * any malformation. Returns (objects, xrefOffset, objBytes).
    */
  def sniffPdf(p: Array[Byte]): Option[(Int, Long, Long)] = {
    val s = new String(p, "US-ASCII")
    if (!s.startsWith("%PDF-")) return None
    val sx = s.lastIndexOf("startxref")
    if (sx < 0) return None
    val after = s.substring(sx + 9).trim.takeWhile(_.isDigit)
    if (after.isEmpty) return None
    val xrefOff = after.toLong
    if (xrefOff < 0 || xrefOff + 4 > p.length ||
        !s.startsWith("xref", xrefOff.toInt)) return None
    var pos = xrefOff.toInt + 5 // past "xref\n"
    val nl = s.indexOf('\n', pos)
    if (nl < 0) return None
    val header = s.substring(pos, nl).split(" ")
    if (header.length != 2 || header(0) != "0") return None
    val k = header(1).toIntOption.getOrElse(return None)
    pos = nl + 1
    var objs = 0
    var objBytes = 0L
    (0 until k).foreach { e =>
      if (pos + 20 > p.length) return None
      val rec = s.substring(pos, pos + 20)
      if (rec.length != 20 || rec.charAt(19) != '\n') return None
      val off = rec.substring(0, 10).toLong
      val kind = rec.charAt(17)
      if (e == 0) {
        if (kind != 'f') return None
      } else {
        if (kind != 'n') return None
        val expect = s"$e 0 obj"
        if (!s.startsWith(expect, off.toInt)) return None
        objs += 1
        val endIdx = s.indexOf("endobj\n", off.toInt)
        if (endIdx < 0) return None
        objBytes += endIdx + 7 - off
      }
      pos += 20
    }
    if (objs == 0) None else Some((objs, xrefOff, objBytes))
  }

  /** q516 — PDF xref inventory: per-doc minimal-PDF fixtures
    * ([[encodePdf]]) through the real [[sniffPdf]] backward walk —
    * the container read TAIL-FIRST (trailer → startxref → table →
    * objects), unlike every forward walk on this shelf, and the one
    * whose integrity model is BYTE OFFSETS: the oracle independently
    * recomputes every object's position from the fixture formulas
    * via cumulative sums, so an off-by-one anywhere in either
    * engine's byte arithmetic fails the hash. PDFs are a top-3
    * crawled-document format; this is the "is the xref sane" pass an
    * ingest pipeline runs before handing bytes to a heavy parser.
    *
    * Scale: narrow batched mapPartitions, one small row per doc.
    */
  def pdfMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val pdf = encodePdf(r.payload)
        val (objs, xo, ob) = sniffPdf(pdf).getOrElse(
          throw new IllegalStateException(s"fixture failed to parse: doc ${r.doc_id}"))
        PdfMeta(r.doc_id, objs, xo, ob, pdf.length.toLong)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  val pdfMetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n FROM documents
      |), objs AS (
      |  SELECT doc_id, n, unnest(generate_series(0, CAST(1 + n % 4 AS BIGINT))) AS i
      |  FROM f
      |), sized AS (
      |  -- object i bytes: '<i+1> 0 obj\n' (8) + '(' + b + ')\n' (b+3)
      |  --   + 'endobj\n' (7)
      |  SELECT doc_id, n, i,
      |    8 + (10 + (n + 5 * i) % 30) + 3 + 7 AS obj_len
      |  FROM objs
      |), agg AS (
      |  SELECT doc_id,
      |    CAST(COUNT(*) AS INT) AS n_objects,
      |    CAST(9 + SUM(obj_len) AS BIGINT) AS xref_offset,
      |    CAST(SUM(obj_len) AS BIGINT) AS obj_bytes
      |  FROM sized GROUP BY doc_id
      |)
      |-- tail: 'xref\n'(5) + '0 k\n'(4) + 20*(m+1) + 'trailer\n'(8)
      |--   + '<< /Size k >>\n'(14) + 'startxref\n'(10) + digits(xref)+1
      |--   + '%%EOF\n'(6)
      |SELECT doc_id, n_objects, xref_offset, obj_bytes,
      |  CAST(xref_offset + 5 + 4 + 20 * (n_objects + 1) + 8 + 14 + 10
      |    + strlen(CAST(xref_offset AS VARCHAR)) + 1 + 6 AS BIGINT) AS pdf_bytes
      |FROM agg
      |ORDER BY doc_id""".stripMargin

  /** Deterministic WebVTT fixture: a `WEBVTT` header plus
    * `1 + n%5` cues; cue i starts at `2000·i + n%1000` ms and lasts
    * `1000 + (n + 137·i) % 500` ms, timestamps rendered in the
    * spec's `HH:MM:SS.mmm` form.
    */
  def encodeVtt(text: Array[Byte]): String = {
    val n = text.length
    val nCues = 1 + n % 5
    def fmt(ms: Long): String = {
      val h = ms / 3600000; val m = (ms / 60000) % 60
      val s = (ms / 1000) % 60; val f = ms % 1000
      f"$h%02d:$m%02d:$s%02d.$f%03d"
    }
    val cues = (0 until nCues).map { i =>
      val start = 2000L * i + n % 1000
      val end = start + 1000 + (n + 137 * i) % 500
      s"${fmt(start)} --> ${fmt(end)}\ncue $i of doc"
    }
    "WEBVTT\n\n" + cues.mkString("\n\n") + "\n"
  }

  case class VttMeta(doc_id: Long, n_cues: Int, first_start_ms: Long,
                     last_end_ms: Long, total_cue_ms: Long)

  /** REAL WebVTT cue walk: requires the `WEBVTT` magic line, splits
    * the body on blank lines into cue blocks, parses each block's
    * `HH:MM:SS.mmm --> HH:MM:SS.mmm` timing line back to epoch-style
    * milliseconds, and rejects malformed blocks (missing arrow,
    * non-numeric fields, end before start). Returns
    * (cues, firstStartMs, lastEndMs, totalCueMs).
    */
  def sniffVtt(s: String): Option[(Int, Long, Long, Long)] = {
    val lines = s.split("\n", -1)
    if (lines.isEmpty || !lines(0).startsWith("WEBVTT")) return None
    val body = lines.drop(1).mkString("\n")
    val blocks = body.split("\n\n").map(_.trim).filter(_.nonEmpty)
    val Ts = """(\d{2,}):(\d{2}):(\d{2})\.(\d{3})""".r
    def ms(h: String, m: String, sec: String, f: String): Long =
      h.toLong * 3600000L + m.toLong * 60000L + sec.toLong * 1000L + f.toLong
    var n = 0; var first = -1L; var last = -1L; var tot = 0L
    blocks.foreach { b =>
      val timing = b.split("\n")(0)
      val parts = timing.split(" --> ")
      if (parts.length != 2) return None
      (parts(0).trim, parts(1).trim) match {
        case (Ts(h1, m1, s1, f1), Ts(h2, m2, s2, f2)) =>
          val a = ms(h1, m1, s1, f1); val b2 = ms(h2, m2, s2, f2)
          if (b2 < a) return None
          if (first < 0) first = a
          last = b2
          tot += b2 - a
          n += 1
        case _ => return None
      }
    }
    if (n == 0) None else Some((n, first, last, tot))
  }

  /** q507 — WebVTT cue inventory: per-doc subtitle fixtures
    * ([[encodeVtt]]) through the real [[sniffVtt]] block walk — the
    * TEXT-structured container in the shelf (binary walks cover
    * image/audio/video/archive; subtitles and captions ship as VTT
    * next to every video shard, and aligning them needs exactly this
    * cue table). Timestamp math (HH:MM:SS.mmm → ms) is the part a
    * naive split gets wrong across the minute/hour carries.
    *
    * Exactness: the oracle predicts cue count, first start, last end
    * and total cue duration from the fixture formulas — all exact
    * integer milliseconds on both engines.
    *
    * Scale: narrow batched mapPartitions, one small row per doc.
    */
  def vttMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val vtt = encodeVtt(r.payload)
        val (nc, first, last, tot) = sniffVtt(vtt).getOrElse(
          throw new IllegalStateException(s"fixture failed to parse: doc ${r.doc_id}"))
        VttMeta(r.doc_id, nc, first, last, tot)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  val vttMetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n FROM documents
      |), cues AS (
      |  SELECT doc_id, n, unnest(generate_series(0, CAST(n % 5 AS BIGINT))) AS i
      |  FROM f
      |), timed AS (
      |  SELECT doc_id, n, i,
      |    2000 * i + n % 1000 AS start_ms,
      |    2000 * i + n % 1000 + 1000 + (n + 137 * i) % 500 AS end_ms
      |  FROM cues
      |)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS INT) AS n_cues,
      |  CAST(MIN(start_ms) AS BIGINT) AS first_start_ms,
      |  CAST(MAX(end_ms) AS BIGINT) AS last_end_ms,
      |  CAST(SUM(end_ms - start_ms) AS BIGINT) AS total_cue_ms
      |FROM timed GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q536 FLAC — metadata-block walk with real bit-packing
  // ------------------------------------------------------------------

  private def put24be(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >> 16) & 0xFF); out.write((v >> 8) & 0xFF); out.write(v & 0xFF)
  }

  /** Deterministic FLAC fixture: `fLaC` magic, a REAL 34-byte
    * STREAMINFO (type 0) whose rate/channels/bps/total-samples are
    * bit-packed into the spec's 20/3/5/36-bit fields, then `1 + n%3`
    * further blocks cycling PADDING(1)/APPLICATION(2)/
    * VORBIS_COMMENT(4) with `20 + (n + 13i) % 40`-byte bodies; the
    * final block carries the last-block flag (bit 7).
    */
  def encodeFlac(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val rate = Seq(44100, 48000, 32000, 22050)(n % 4)
    val channels = 1 + n % 2
    val bps = 16
    val totalSamples = 1000L + (n.toLong * 7) % 100000L
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO, never last (extra blocks always follow)
    out.write(0x00); put24be(out, 34)
    out.write(0x10); out.write(0x00) // min blocksize 4096
    out.write(0x10); out.write(0x00) // max blocksize 4096
    put24be(out, 0); put24be(out, 0) // min/max framesize unknown
    // 64 bits: rate(20) | channels-1(3) | bps-1(5) | totalSamples(36)
    val packed = (rate.toLong << 44) | ((channels - 1).toLong << 41) |
      ((bps - 1).toLong << 36) | totalSamples
    (7 to 0 by -1).foreach(i => out.write(((packed >> (8 * i)) & 0xFF).toInt))
    (0 until 16).foreach(_ => out.write(0)) // md5: unset
    val extra = 1 + n % 3
    val types = Seq(1, 2, 4) // PADDING, APPLICATION, VORBIS_COMMENT
    (0 until extra).foreach { i =>
      val len = 20 + (n + 13 * i) % 40
      val last = if (i == extra - 1) 0x80 else 0x00
      out.write(last | types(i % 3)); put24be(out, len)
      (0 until len).foreach(j => out.write((n + i + j) % 251))
    }
    out.toByteArray
  }

  case class FlacMeta(doc_id: Long, n_blocks: Int, sample_rate: Int,
                      channels: Int, bits_per_sample: Int,
                      total_samples: Long, duration_ms: Long,
                      meta_bytes: Long)

  /** REAL FLAC metadata walk: `fLaC` magic, then block headers
    * (last-flag bit 7, 7-bit type, 24-bit big-endian length) until the
    * last-flag block; the FIRST block must be a 34-byte STREAMINFO,
    * whose 20-bit rate / 3-bit channels / 5-bit bps / 36-bit
    * total-samples fields are unpacked with real bit arithmetic.
    * None on bad magic, a non-STREAMINFO first block, a block
    * overrunning the buffer, or a missing last-flag.
    */
  def sniffFlac(p: Array[Byte]): Option[(Int, Int, Int, Int, Long, Long)] = {
    if (p.length < 42 || p(0) != 'f' || p(1) != 'L' || p(2) != 'a' || p(3) != 'C')
      return None
    var off = 4
    var blocks = 0
    var metaBytes = 0L
    var rate = -1; var channels = -1; var bps = -1; var total = -1L
    var sawLast = false
    while (!sawLast) {
      if (off + 4 > p.length) return None
      val hdr = p(off) & 0xFF
      sawLast = (hdr & 0x80) != 0
      val btype = hdr & 0x7F
      val len = ((p(off + 1) & 0xFF) << 16) | ((p(off + 2) & 0xFF) << 8) |
        (p(off + 3) & 0xFF)
      if (off + 4 + len > p.length) return None
      if (blocks == 0) {
        if (btype != 0 || len != 34) return None
        var packed = 0L
        (0 until 8).foreach(i =>
          packed = (packed << 8) | (p(off + 4 + 10 + i) & 0xFFL))
        rate = (packed >>> 44).toInt
        channels = ((packed >>> 41) & 0x7).toInt + 1
        bps = ((packed >>> 36) & 0x1F).toInt + 1
        total = packed & 0xFFFFFFFFFL
      }
      blocks += 1
      metaBytes += 4L + len
      off += 4 + len
    }
    if (rate <= 0) None else Some((blocks, rate, channels, bps, total, metaBytes))
  }

  /** q536 — FLAC metadata-block inventory: per-doc fixtures
    * ([[encodeFlac]]) through the real [[sniffFlac]] walk — the
    * lossless-audio container every crawled-music ingest meets, and
    * the shelf's only walker whose header fields do not fall on byte
    * boundaries: rate/channels/bps/total-samples pack into 20/3/5/36
    * BITS of one 64-bit word, so a byte-aligned reader cannot fake
    * this parse (the bit-arithmetic sibling of q513's syncsafe trap).
    *
    * Exactness: the oracle predicts block counts, byte totals and
    * every unpacked STREAMINFO field from the fixture formulas —
    * exact integers on both engines; duration is the exact floor
    * division samples·1000 div rate.
    *
    * Scale: narrow batched mapPartitions, one small row per doc, no
    * shuffle.
    */
  def flacMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val flac = encodeFlac(r.payload)
        val (bl, rate, ch, bps, total, mb) = sniffFlac(flac).getOrElse(
          throw new IllegalStateException(s"fixture failed to parse: doc ${r.doc_id}"))
        FlacMeta(r.doc_id, bl, rate, ch, bps, total, total * 1000L / rate, mb)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  val flacMetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n FROM documents
      |), extras AS (
      |  SELECT doc_id, n, unnest(generate_series(0, CAST(n % 3 AS BIGINT))) AS i
      |  FROM f
      |), sized AS (
      |  SELECT doc_id, n, i, 20 + (n + 13 * i) % 40 AS blen
      |  FROM extras
      |)
      |SELECT doc_id,
      |  CAST(1 + COUNT(*) AS INT) AS n_blocks,
      |  CAST(CASE n % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
      |    WHEN 2 THEN 32000 ELSE 22050 END AS INT) AS sample_rate,
      |  CAST(1 + n % 2 AS INT) AS channels,
      |  CAST(16 AS INT) AS bits_per_sample,
      |  CAST(1000 + (n * 7) % 100000 AS BIGINT) AS total_samples,
      |  CAST((1000 + (n * 7) % 100000) * 1000
      |    // (CASE n % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
      |        WHEN 2 THEN 32000 ELSE 22050 END) AS BIGINT) AS duration_ms,
      |  CAST(38 + SUM(4 + blen) AS BIGINT) AS meta_bytes
      |FROM sized GROUP BY doc_id, n
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q537 OGG — page walk with lacing-value packet reassembly
  // ------------------------------------------------------------------

  private def putLe64(out: java.io.ByteArrayOutputStream, v: Long): Unit =
    (0 until 8).foreach(i => out.write(((v >> (8 * i)) & 0xFF).toInt))

  private def putLe32o(out: java.io.ByteArrayOutputStream, v: Int): Unit =
    (0 until 4).foreach(i => out.write((v >> (8 * i)) & 0xFF))

  /** Deterministic OGG fixture: `1 + n%4` pages, page i carrying ONE
    * packet of `100 + (n + 17i) % 400` bytes as lacing values
    * (⌊p/255⌋ 255-segments + the p%255 terminator), granule
    * `960·(i+1)`, serial `n % 100000`, BOS flag on page 0, EOS on the
    * final page. CRC left zero (the fixture's one concession; a
    * production ingest verifies it with the OGG table).
    */
  def encodeOgg(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val pages = 1 + n % 4
    val serial = n % 100000
    val out = new java.io.ByteArrayOutputStream()
    (0 until pages).foreach { i =>
      val plen = 100 + (n + 17 * i) % 400
      out.write("OggS".getBytes("US-ASCII"))
      out.write(0) // version
      // BOS and EOS combine on a single-page stream
      out.write((if (i == 0) 0x02 else 0x00) |
        (if (i == pages - 1) 0x04 else 0x00))
      putLe64(out, 960L * (i + 1)) // granule position
      putLe32o(out, serial)
      putLe32o(out, i) // page sequence number
      putLe32o(out, 0) // crc (unverified in the fixture walk)
      val full = plen / 255
      val rem = plen % 255
      out.write(full + 1) // segment count
      (0 until full).foreach(_ => out.write(255))
      out.write(rem)
      (0 until plen).foreach(j => out.write((n + i + j) % 253))
    }
    out.toByteArray
  }

  case class OggMeta(doc_id: Long, n_pages: Int, n_packets: Int,
                     payload_bytes: Long, final_granule: Long, serial: Long)

  /** REAL OGG page walk: `OggS` capture pattern + version 0 at every
    * page boundary, 27-byte header parse (little-endian granule/
    * serial/sequence), segment-table lacing walk (a value < 255
    * terminates a packet), page-sequence continuity, BOS required on
    * the first page and EOS on the last. None on any malformation.
    */
  def sniffOgg(p: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = {
    var off = 0
    var pages = 0
    var packets = 0
    var payload = 0L
    var granule = -1L
    var serial = -1L
    var sawEos = false
    while (off < p.length) {
      if (sawEos) return None // trailing bytes after the EOS page
      if (off + 27 > p.length) return None
      if (p(off) != 'O' || p(off + 1) != 'g' || p(off + 2) != 'g' ||
        p(off + 3) != 'S') return None
      if (p(off + 4) != 0) return None
      val htype = p(off + 5) & 0xFF
      if (pages == 0 && (htype & 0x02) == 0) return None // first page needs BOS
      if (pages > 0 && (htype & 0x02) != 0) return None
      var g = 0L
      (0 until 8).foreach(i => g |= (p(off + 6 + i) & 0xFFL) << (8 * i))
      var ser = 0L
      (0 until 4).foreach(i => ser |= (p(off + 14 + i) & 0xFFL) << (8 * i))
      var seq = 0L
      (0 until 4).foreach(i => seq |= (p(off + 18 + i) & 0xFFL) << (8 * i))
      if (seq != pages) return None // sequence continuity
      if (serial >= 0 && ser != serial) return None
      serial = ser
      granule = g
      val nSegs = p(off + 26) & 0xFF
      if (off + 27 + nSegs > p.length) return None
      var pageBytes = 0L
      (0 until nSegs).foreach { s =>
        val lace = p(off + 27 + s) & 0xFF
        pageBytes += lace
        if (lace < 255) packets += 1
      }
      if (off + 27 + nSegs + pageBytes > p.length) return None
      payload += pageBytes
      sawEos = (htype & 0x04) != 0
      pages += 1
      off += 27 + nSegs + pageBytes.toInt
    }
    if (pages == 0 || !sawEos) None
    else Some((pages, packets, payload, granule, serial))
  }

  /** q537 — OGG page inventory: per-doc fixtures ([[encodeOgg]])
    * through the real [[sniffOgg]] walk — the streaming-audio
    * container whose framing is neither size-prefixed boxes nor
    * sync-word frames but a SEGMENT TABLE of lacing values (packets
    * reassemble across 255-byte segments; a value < 255 terminates
    * one), plus the BOS/EOS/sequence-continuity invariants a seeking
    * reader depends on. Completes the audio shelf next to WAV
    * (q116), MP3 (q504) and FLAC (q536).
    *
    * Exactness: page/packet counts, payload totals, final granule
    * and serial all come from the fixture formulas — exact integers
    * on both engines.
    *
    * Scale: narrow batched mapPartitions, one small row per doc, no
    * shuffle.
    */
  def oggMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val ogg = encodeOgg(r.payload)
        val (pg, pk, pay, gr, ser) = sniffOgg(ogg).getOrElse(
          throw new IllegalStateException(s"fixture failed to parse: doc ${r.doc_id}"))
        OggMeta(r.doc_id, pg, pk, pay, gr, ser)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  val oggMetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n FROM documents
      |), pages AS (
      |  SELECT doc_id, n, unnest(generate_series(0, CAST(n % 4 AS BIGINT))) AS i
      |  FROM f
      |), sized AS (
      |  SELECT doc_id, n, i, 100 + (n + 17 * i) % 400 AS plen
      |  FROM pages
      |)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS INT) AS n_pages,
      |  CAST(COUNT(*) AS INT) AS n_packets,
      |  CAST(SUM(plen) AS BIGINT) AS payload_bytes,
      |  CAST(960 * COUNT(*) AS BIGINT) AS final_granule,
      |  CAST(n % 100000 AS BIGINT) AS serial
      |FROM sized GROUP BY doc_id, n
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q538 EBML — variable-length-integer element walk (Matroska/WebM)
  // ------------------------------------------------------------------

  /** EBML vint SIZE encode (marker bits stripped from the value):
    * 1 byte holds 7 bits under a 1xxxxxxx marker, 2 bytes hold 14
    * under 01xxxxxx — the fixture only needs those two widths.
    */
  private def ebmlSize(v: Int): Array[Byte] =
    if (v < 0x80) Array((0x80 | v).toByte)
    else Array((0x40 | (v >> 8)).toByte, (v & 0xFF).toByte)

  /** Deterministic EBML fixture: the 4-byte EBML magic ID 0x1A45DFA3
    * with a 4-byte header body, then `1 + n%4` elements with 2-byte
    * class-B IDs cycling {0x4286, 0x42F7, 0x42F2, 0x42F3} and bodies
    * of `80 + (n + 9i) % 300` bytes (sizes straddle the 1-byte/2-byte
    * vint boundary at 128, so both widths are exercised).
    */
  def encodeEbml(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x1A); out.write(0x45); out.write(0xDF); out.write(0xA3)
    out.write(ebmlSize(4))
    (0 until 4).foreach(j => out.write((n + j) % 247))
    val ids = Seq(0x4286, 0x42F7, 0x42F2, 0x42F3)
    val m = 1 + n % 4
    (0 until m).foreach { i =>
      val id = ids(i % 4)
      out.write((id >> 8) & 0xFF); out.write(id & 0xFF)
      val len = 80 + (n + 9 * i) % 300
      out.write(ebmlSize(len))
      (0 until len).foreach(j => out.write((n + i + j) % 249))
    }
    out.toByteArray
  }

  case class EbmlMeta(doc_id: Long, n_elements: Int, payload_bytes: Long,
                      first_id: String, last_id: String)

  /** REAL EBML element walk: vint IDs are read with their marker bits
    * KEPT (class IDs — the leading-zero count of the first byte gives
    * the width), vint SIZES with marker bits STRIPPED — the format's
    * defining asymmetry, and the third variable-length-integer scheme
    * on the shelf (syncsafe q513 is fixed-width 7-bit bytes, lacing
    * q537 is unary 255-continuation; EBML encodes the width in the
    * leading zeros). Walks elements to the exact buffer end; None on
    * a zero first byte (width > 8), an element overrunning the
    * buffer, or a walk not landing on the boundary.
    */
  def sniffEbml(p: Array[Byte]): Option[(Int, Long, String, String)] = {
    def vintWidth(b: Int): Int = {
      var w = 1
      var mask = 0x80
      while (mask != 0 && (b & mask) == 0) { w += 1; mask >>= 1 }
      if (mask == 0) -1 else w
    }
    var off = 0
    var count = 0
    var payload = 0L
    var firstId: String = null
    var lastId: String = null
    while (off < p.length) {
      val idW = vintWidth(p(off) & 0xFF)
      if (idW < 0 || off + idW > p.length) return None
      var id = 0L
      (0 until idW).foreach(i => id = (id << 8) | (p(off + i) & 0xFFL))
      off += idW
      if (off >= p.length) return None
      val szW = vintWidth(p(off) & 0xFF)
      if (szW < 0 || off + szW > p.length) return None
      var sz = (p(off) & 0xFF & (0xFF >> szW)).toLong
      (1 until szW).foreach(i => sz = (sz << 8) | (p(off + i) & 0xFFL))
      off += szW
      if (off + sz > p.length) return None
      val hex = java.lang.Long.toHexString(id).toUpperCase
      if (firstId == null) firstId = hex
      lastId = hex
      count += 1
      payload += sz
      off += sz.toInt
    }
    if (count == 0 || off != p.length) None
    else Some((count, payload, firstId, lastId))
  }

  /** q538 — EBML element inventory: per-doc fixtures ([[encodeEbml]])
    * through the real [[sniffEbml]] vint walk — the Matroska/WebM
    * framing layer, i.e. the walk a crawled-video ingest runs before
    * q288's MP4-style box logic applies to the OTHER half of the
    * video crawl. The leading-zeros width encoding is the part a
    * fixed-width reader gets wrong (and the ID-keeps-marker /
    * size-strips-marker asymmetry the spec trips new parsers on).
    *
    * Exactness: element counts, payload totals and first/last class
    * IDs all come from the fixture formulas — exact integers and hex
    * literals on both engines.
    *
    * Scale: narrow batched mapPartitions, one small row per doc, no
    * shuffle.
    */
  def ebmlMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val ebml = encodeEbml(r.payload)
        val (cnt, pay, fid, lid) = sniffEbml(ebml).getOrElse(
          throw new IllegalStateException(s"fixture failed to parse: doc ${r.doc_id}"))
        EbmlMeta(r.doc_id, cnt, pay, fid, lid)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  val ebmlMetaSql: String =
    """WITH f AS (
      |  SELECT doc_id, strlen(text) AS n FROM documents
      |), els AS (
      |  SELECT doc_id, n, unnest(generate_series(0, CAST(n % 4 AS BIGINT))) AS i
      |  FROM f
      |), sized AS (
      |  SELECT doc_id, n, i, 80 + (n + 9 * i) % 300 AS blen
      |  FROM els
      |)
      |SELECT doc_id,
      |  CAST(1 + COUNT(*) AS INT) AS n_elements,
      |  CAST(4 + SUM(blen) AS BIGINT) AS payload_bytes,
      |  '1A45DFA3' AS first_id,
      |  -- the last element's index is n % 4 by construction
      |  CASE n % 4 WHEN 0 THEN '4286' WHEN 1 THEN '42F7'
      |    WHEN 2 THEN '42F2' ELSE '42F3' END AS last_id
      |FROM sized GROUP BY doc_id, n
      |ORDER BY doc_id""".stripMargin
}
