package graft.operators

import graft.{functions => gf}
import graft.functions.{c_round => round}
import graft.sources.Bytes
import graft.sources.Bytes.{Reader, damage}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}

/** Multimodal (image/audio/video) columns for the 100 TB training-data
  * pipeline: payloads are opaque `binary` columns travelling WITH their
  * typed metadata struct; decode/feature-extraction runs per-partition in
  * batch (the Scala analog of `mapInPandas` batches).
  *
  * THE STUB BOUNDARY (and what's real): this container ships no
  * image/audio libraries, so [[StubCodec]] derives deterministic fake
  * dimensions/features from the payload's md5 — clearly marked, swap-in
  * point is the single [[Codec]] function. The boundary has shrunk to
  * exactly "payloads that need an entropy coder": header metadata
  * decodes for real across 9 formats (PNG/GIF/BMP/JPEG/TIFF/WebP/WAV/
  * MP3/MP4 byte-level parsers below), and UNCOMPRESSED payloads decode
  * fully — [[parseBmpPixels]] walks every pixel byte of a 24-bit BMP,
  * [[parseWavSamples]] every sample of a 16-bit PCM WAV. Everything
  * AROUND the codec — schema, binary handling, batch shape, partition
  * sizing, metadata propagation — is real and tested, which is the part
  * that has to survive a 1000-executor run.
  *
  * Scale notes: payload columns make rows wide; keep
  * `spark.sql.files.maxPartitionBytes` low enough that a partition of
  * payloads fits executor memory, and select metadata-only projections
  * (parquet column pruning drops the bytes entirely) whenever the
  * payload isn't needed.
  */
object Multimodal {

  // ------------------------------------------------------------ metadata

  /** Typed metadata for an opaque payload: computed ONCE at ingest from
    * the bytes themselves, then carried as a struct so downstream stages
    * never re-read the binary (parquet prunes it away).
    */
  def payloadMetadata(payload: Column, modality: String): Column =
    struct(
      lit(modality).as("modality"),
      octet_length(payload).as("size_bytes"),
      md5(payload).as("checksum"))

  /** Deterministic fake image dimensions from the payload hash — the STUB
    * standing in for a real header parse. 16..1023 × 16..1023, 1/3/4
    * channels.
    */
  def stubImageDims(payload: Column): Column = {
    val h = gf.hash60(payload.cast(StringType))
    struct(
      (lit(16) + pmod(h, lit(1008))).cast(IntegerType).as("width"),
      (lit(16) + pmod(gf.hash56b(payload.cast(StringType)), lit(1008))).cast(IntegerType).as("height"),
      element_at(array(lit(1), lit(3), lit(4)), (pmod(h, lit(3)) + 1).cast(IntegerType))
        .as("channels"))
  }

  /** Resize plan: target the short side to `target` px preserving aspect
    * ratio — pure metadata arithmetic (the byte-level resample is codec
    * work); emitted as the instruction set a decode stage executes.
    */
  def resizePlan(dims: Column, target: Int): Column = {
    val w = dims.getField("width")
    val h = dims.getField("height")
    val scaleToW = struct(lit(target).cast(IntegerType).as("width"),
      round(h.cast(DoubleType) * target / w).cast(IntegerType).as("height"))
    val scaleToH = struct(round(w.cast(DoubleType) * target / h).cast(IntegerType).as("width"),
      lit(target).cast(IntegerType).as("height"))
    when(w <= h, scaleToW).otherwise(scaleToH)
  }

  /** Frame sampling for video payloads: `n` evenly spaced timestamps over
    * `durationS` seconds — one output row per (payload, frame index),
    * via sequence+posexplode (no UDF, stays in codegen). The actual frame
    * decode at each ts is codec work (stubbed checksum per frame).
    */
  def frameSample(df: DataFrame, id: Column, durationS: Column, n: Int): DataFrame =
    df.select(id.as("id"), durationS.as("duration_s"),
        posexplode(sequence(lit(0), lit(n - 1))).as(Seq("frame_idx", "_f")))
      .drop("_f")
      .withColumn("frame_ts", round(col("duration_s") * col("frame_idx") / n, 3))
      .withColumn("frame_checksum",
        md5(concat(col("id").cast(StringType), lit(":"), col("frame_idx").cast(StringType))))

  // ---------------------------------------------- batch decode plumbing

  /** One payload row entering the decode stage. */
  case class Payload(id: Long, modality: String, content: Array[Byte])

  /** One decoded feature row leaving it. */
  case class Decoded(id: Long, modality: String, width: Int, height: Int,
                     channels: Int, feature: Array[Float])

  /** A codec turns one payload into decoded features. Swap the stub for a
    * real implementation (javax.imageio, ffmpeg bindings, …) here — the
    * pipeline around it does not change.
    */
  type Codec = Payload => Decoded

  /** `sig`'s characters (as bytes) at `b[at, at + sig.length)`. */
  private def hasAt(b: Array[Byte], at: Int, sig: String): Boolean = {
    if (at < 0 || at > b.length - sig.length) return false
    var i = 0
    while (i < sig.length && b(at + i) == sig.charAt(i).toByte) i += 1
    i == sig.length
  }

  private def md5Feature(content: Array[Byte]): Array[Float] = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(content)
    (0 until 8).map(i => ((d(i) & 0xff) / 255.0f)).toArray
  }

  /** STUB codec: md5-derived dimensions + an 8-dim fake feature vector.
    * Deterministic in the payload bytes, so tests and oracles can pin it.
    */
  val StubCodec: Codec = { p =>
    val d = java.security.MessageDigest.getInstance("MD5").digest(p.content)
    Decoded(p.id, p.modality,
      width = 16 + Bytes.be16(d, 0) % 1008,
      height = 16 + Bytes.be16(d, 2) % 1008,
      channels = Array(1, 3, 4)((d(4) & 0xff) % 3),
      feature = md5Feature(p.content))
  }

  /** REAL codec for PNG payloads: byte-level header parse, no library.
    * PNG layout (the public spec): 8-byte signature
    * `89 50 4E 47 0D 0A 1A 0A`, then chunks, the first of which MUST be
    * IHDR — 4-byte big-endian length (13), "IHDR", 4-byte BE width,
    * 4-byte BE height, bit depth, color type, compression, filter,
    * interlace. Channels derive from color type: 0 grayscale→1,
    * 2 truecolor→3, 3 palette(index)→1, 4 gray+alpha→2, 6 RGBA→4.
    *
    * This is the production posture for 100 TB of image payloads:
    * dimensions/channels come from reading 26 header bytes, never from
    * decompressing pixel data. Non-PNG payloads fall back to
    * [[StubCodec]] (the sandbox ships no other codecs); the feature
    * vector stays the stub's md5 embedding in both arms, so mixed
    * corpora keep one feature space.
    */
  val PngCodec: Codec = { p =>
    val b = p.content
    val isPng = b.length >= 26 && hasAt(b, 0, PngSignature) &&
      hasAt(b, 12, "IHDR")
    if (!isPng) StubCodec(p)
    else {
      val channels = b(25) match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => 0 // corrupt color type: surface as 0, don't guess
      }
      Decoded(p.id, p.modality, width = Bytes.be32(b, 16),
        height = Bytes.be32(b, 20), channels = channels,
        feature = md5Feature(b))
    }
  }

  /** REAL codec for GIF payloads: "GIF87a"/"GIF89a" signature, then the
    * logical-screen descriptor — 2-byte LITTLE-endian width, 2-byte LE
    * height (the GIF spec is LE throughout, unlike PNG). Channels: GIF
    * pixels are palette indices, reported as 1 like PNG color type 3.
    */
  val GifCodec: Codec = { p =>
    val b = p.content
    val isGif = b.length >= 10 && hasAt(b, 0, "GIF8") &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a'
    if (!isGif) StubCodec(p)
    else Decoded(p.id, p.modality,
      width = Bytes.le16(b, 6), height = Bytes.le16(b, 8),
      channels = 1, feature = md5Feature(b))
  }

  /** REAL codec for BMP payloads: "BM" file header (14 bytes), then
    * BITMAPINFOHEADER — int32 LE width at byte 18, int32 LE height at
    * 22 (negative height = top-down rows; dimensions report |height|),
    * uint16 LE bits-per-pixel at 28 → channels = bpp/8 (8-bit palette
    * → 1, 24-bit BGR → 3, 32-bit BGRA → 4).
    */
  val BmpCodec: Codec = { p =>
    val b = p.content
    val isBmp = b.length >= 30 && hasAt(b, 0, "BM")
    if (!isBmp) StubCodec(p)
    else Decoded(p.id, p.modality,
      width = Bytes.le32(b, 18), height = math.abs(Bytes.le32(b, 22)),
      channels = math.max(1, Bytes.le16(b, 28) / 8), feature = md5Feature(b))
  }

  /** REAL codec for JPEG payloads — the first parser here that must WALK,
    * not index: JPEG dimensions live in a Start-Of-Frame segment whose
    * offset depends on every APPn/COM/quant segment before it, so the
    * codec scans the segment chain (FF marker + 2-byte BE length,
    * length includes its own 2 bytes) until SOF0/1/2 (baseline /
    * extended / progressive: FF C0/C1/C2), then reads precision(1),
    * height BE16, width BE16, component count — channels = components
    * (1 grayscale, 3 YCbCr, 4 CMYK). Standalone markers (SOI, RSTn,
    * TEM) carry no length and are stepped over; SOS/EOI mean entropy
    * data began without a SOF — corrupt, fall back to the stub, as
    * does any segment running past the end (the walk is [[jpegWalk]],
    * shared with the pixel decoder). The walk is bounded by the header
    * bytes (a few KB), never the scan data, so at 100 TB the
    * per-object cost stays header-sized.
    */
  val JpegCodec: Codec = { p =>
    val b = p.content
    var out: Option[Decoded] = None
    Bytes.total {
      jpegWalk(new Reader(b, 0, b.length)) { (m, s) =>
        if (m == 0xc0 || m == 0xc1 || m == 0xc2) {
          s.skip(1) // precision
          val height = s.be16()
          val width = s.be16()
          out = Some(Decoded(p.id, p.modality, width = width,
            height = height, channels = s.u8(), feature = md5Feature(b)))
        }
        // EOI / SOS before any SOF: no frame header
        out.isEmpty && m != 0xd9 && m != 0xda
      }
    }
    out.getOrElse(StubCodec(p))
  }

  /** REAL codec for TIFF payloads — a POINTER-CHASE, not a stride: the
    * header names the byte order ("II" little / "MM" big) and the offset
    * of the first Image File Directory; the IFD is a count plus 12-byte
    * tagged entries (tag u16, type u16, count u32, value u32 — SHORT
    * values sit left-justified in the value field). Dimensions are tags
    * 256/257; channels tag 277 (SamplesPerPixel, TIFF default 1). Both
    * byte orders are honored from the same code path. Offsets are read
    * from the file, so all reads are bounds-checked; any miss falls back
    * to the stub rather than guessing.
    */
  val TiffCodec: Codec = { p =>
    val b = p.content
    Bytes.total {
      val t = new TiffBytes(b)
      val ifd = t.long(4)
      var width = -1L; var height = -1L; var samples = 1L // TIFF default
      if (ifd + 2 <= b.length) {
        val n = t.short(ifd)
        var i = 0
        while (i < n && ifd + 2 + 12L * i + 12 <= b.length) {
          val e = ifd + 2 + 12L * i
          // SHORT (3) and LONG (4) inline values cover the dimension tags
          val v = t.short(e + 2) match {
            case 3 => t.short(e + 8).toLong
            case 4 => t.long(e + 8)
            case _ => -1L
          }
          if (v >= 0) t.short(e) match {
            case 256 => width = v
            case 257 => height = v
            case 277 => samples = v
            case _ => ()
          }
          i += 1
        }
      }
      if (width < 0 || height < 0) damage()
      Decoded(p.id, p.modality, width = width.toInt, height = height.toInt,
        channels = samples.toInt, feature = md5Feature(b))
    }.getOrElse(StubCodec(p))
  }

  /** TIFF's byte order, the one format here with both: "II" reads
    * little-endian, "MM" big-endian (TIFF 6.0 §2). Offsets are absolute
    * and read from the file, so every read is bounds-checked and a miss
    * raises [[Bytes.Damage]], as does a header without "II"/"MM" and
    * the magic 42. The header codec and the pixel decoder both read
    * through this one dispatch.
    */
  private final class TiffBytes(b: Array[Byte]) {
    private val r = new Reader(b, 0, b.length)
    private val le = hasAt(b, 0, "II")
    if (!le && !hasAt(b, 0, "MM") || short(2) != 42) damage()

    private def at(i: Long): Reader = {
      if (i < 0 || i > b.length) damage()
      r.at(i.toInt)
    }
    /** SHORT (type 3) at `i`. */
    def short(i: Long): Int = if (le) at(i).le16() else at(i).be16()
    /** LONG (type 4) at `i`, unsigned. */
    def long(i: Long): Long =
      if (le) at(i).le32u() else at(i).be32u()
  }

  /** REAL codec for WebP payloads — one container, THREE header layouts
    * (all public spec): RIFF + "WEBP", then the first chunk's fourCC
    * selects the arm. "VP8 " (lossy): 3-byte frame tag, sync
    * 9D 01 2A, then 14-bit LE width/height. "VP8L" (lossless): 0x2F
    * signature then width-1/height-1 bit-packed across 4 bytes, alpha
    * flag in bit 28. "VP8X" (extended): flag byte (alpha = 0x10), then
    * 24-bit LE canvas width-1/height-1. Channels: 3, +1 when the alpha
    * bit says so (lossy VP8 carries no alpha).
    */
  val WebPCodec: Codec = { p =>
    val b = p.content
    val isWebP = b.length >= 20 && hasAt(b, 0, "RIFF") && hasAt(b, 8, "WEBP")
    if (!isWebP) StubCodec(p)
    else if (hasAt(b, 12, "VP8 ") && b.length >= 30 &&
        (b(23) & 0xff) == 0x9D && b(24) == 0x01 && b(25) == 0x2A)
      Decoded(p.id, p.modality,
        width = Bytes.le16(b, 26) & 0x3FFF,
        height = Bytes.le16(b, 28) & 0x3FFF,
        channels = 3, feature = md5Feature(b))
    else if (hasAt(b, 12, "VP8L") && b.length >= 25 && b(20) == 0x2F) {
      val bits = Bytes.le32(b, 21) // 14-bit width-1, 14-bit height-1, alpha
      Decoded(p.id, p.modality, width = (bits & 0x3FFF) + 1,
        height = ((bits >>> 14) & 0x3FFF) + 1,
        channels = 3 + ((bits >>> 28) & 1), feature = md5Feature(b))
    } else if (hasAt(b, 12, "VP8X") && b.length >= 30)
      Decoded(p.id, p.modality,
        // 24-bit LE width-1 at 24 and height-1 at 27
        width = (Bytes.le32(b, 24) & 0xFFFFFF) + 1,
        height = (Bytes.le32(b, 26) >>> 8) + 1,
        channels = 3 + ((b(20) >> 4) & 1), feature = md5Feature(b))
    else StubCodec(p)
  }

  /** Magic-byte dispatch over the real parsers — the entry point a mixed
    * media corpus uses: each payload routes to its format's header parse;
    * unrecognized bytes fall back to [[StubCodec]] (documented sandbox
    * stand-in). Dispatch cost is a few byte compares per row, so the
    * whole decode stays scan-task-cheap at 100 TB.
    */
  val MediaCodec: Codec = { p =>
    val b = p.content
    if (b.length >= 2 && (b(0) & 0xff) == 0x89 && b(1) == 'P') PngCodec(p)
    else if (b.length >= 3 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F') GifCodec(p)
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') BmpCodec(p)
    else if (b.length >= 2 && (b(0) & 0xff) == 0xFF && (b(1) & 0xff) == 0xD8) JpegCodec(p)
    else if (b.length >= 4 && ((b(0) == 'I' && b(1) == 'I') ||
             (b(0) == 'M' && b(1) == 'M'))) TiffCodec(p)
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
             b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
             b(11) == 'P') WebPCodec(p)
    else StubCodec(p)
  }

  // ------------------------------------------------------------- audio

  /** Decoded audio metadata: everything a data pipeline needs for
    * duration filtering, resample planning, and storage accounting —
    * none of which requires touching the samples.
    */
  case class AudioMeta(id: Long, channels: Int, sampleRate: Int,
                       bitsPerSample: Int, nSamples: Long, durationMs: Long)

  /** REAL parser for WAV payloads: RIFF container ("RIFF" + chunk size +
    * "WAVE"), then the canonical fmt chunk — uint16 LE channels at byte
    * 22, uint32 LE sample rate at 24, uint16 LE bits-per-sample at 34 —
    * and the data chunk size at 40 (canonical 44-byte-header layout:
    * fmt is the first subchunk, data the second; streams with extra
    * chunks before data would need the general chunk walk).
    * nSamples = dataBytes / (channels · bits/8);
    * durationMs = ⌊nSamples · 1000 / sampleRate⌋ (integer floor — exact
    * on both engines, no float rounding to diverge).
    */
  def parseWav(id: Long, b: Array[Byte]): Option[AudioMeta] = {
    val isWav = b.length >= 44 && hasAt(b, 0, "RIFF") &&
      hasAt(b, 8, "WAVEfmt ") && hasAt(b, 36, "data")
    if (!isWav) None
    else {
      val channels = Bytes.le16(b, 22)
      val rate = Bytes.le32(b, 24)
      val bits = Bytes.le16(b, 34)
      val dataBytes = Bytes.le32u(b, 40)
      val bytesPerFrame = channels.toLong * (bits / 8)
      val n = if (bytesPerFrame == 0) 0L else dataBytes / bytesPerFrame
      Some(AudioMeta(id, channels, rate, bits, n,
        if (rate == 0) 0L else n * 1000L / rate))
    }
  }

  /** Decoded MP3 stream metadata: frame count, rate, first-frame
    * bitrate, and exact duration — from striding frame HEADERS only.
    */
  case class Mp3Meta(id: Long, nFrames: Long, sampleRate: Int,
                     bitrateKbps: Int, durationMs: Long)

  /** MPEG-1 Layer III bitrate table (kbps) by header index; 0 = free,
    * -1 = invalid. Public table from the MPEG-1 audio spec.
    */
  private val Mp3Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
    128, 160, 192, 224, 256, 320, -1)
  private val Mp3Rates = Array(44100, 48000, 32000, -1)

  /** REAL parser for MPEG-1 Layer III streams: scan to the 11-bit sync,
    * then STRIDE frames — each frame's length is computed from its OWN
    * header (144000·bitrate/rate + padding), so like WARC the only way
    * to find frame K+1 is to decode frame K's header. Returns frame
    * count, rate, first-frame bitrate, and the exact duration
    * (frames·1152 samples each). Stops at the first non-frame byte
    * after the stream (tags, truncation); None if no valid frame
    * exists. Free-bitrate and reserved-rate frames end the walk — their
    * length is not computable from the header alone.
    */
  def parseMp3(id: Long, b: Array[Byte]): Option[Mp3Meta] = {
    // a whole 4-byte header at `i`, opening with sync + MPEG1 + Layer III
    def isFrame(i: Int): Boolean = i + 4 <= b.length &&
      (b(i) & 0xff) == 0xFF && (b(i + 1) & 0xFE) == 0xFA
    var pos = 0
    while (pos + 4 <= b.length && !isFrame(pos)) pos += 1
    var frames = 0L
    var rate = -1
    var kbps = -1
    var ok = true
    while (ok && isFrame(pos)) {
      val b2 = b(pos + 2) & 0xff
      val br = Mp3Bitrates(b2 >> 4)
      val sr = Mp3Rates((b2 >> 2) & 3)
      val pad = (b2 >> 1) & 1
      if (br <= 0 || sr <= 0) ok = false
      else {
        if (frames == 0L) { rate = sr; kbps = br }
        val len = 144000 * br / sr + pad
        if (pos + len > b.length) ok = false // truncated final frame
        else { frames += 1; pos += len }
      }
    }
    if (frames == 0L) None
    else Some(Mp3Meta(id, frames, rate, kbps, frames * 1152L * 1000L / rate))
  }

  /** Audio twin of [[decodeBatches]]: per-partition header parse to
    * typed metadata; non-WAV payloads drop out (the caller logs/queues
    * them — metadata extraction must not fake numbers for bytes it
    * cannot read).
    */
  def decodeAudioBatches(payloads: Dataset[Payload]): Dataset[AudioMeta] = {
    implicit val enc = Encoders.product[AudioMeta]
    payloads.mapPartitions(_.flatMap(p => parseWav(p.id, p.content)))
  }

  /** MP3 twin of [[decodeAudioBatches]]. */
  def decodeMp3Batches(payloads: Dataset[Payload]): Dataset[Mp3Meta] = {
    implicit val enc = Encoders.product[Mp3Meta]
    payloads.mapPartitions(_.flatMap(p => parseMp3(p.id, p.content)))
  }

  // ------------------------------------------------------------- video

  /** Decoded video container metadata: duration/timescale from the movie
    * header — enough for length filtering and frame-sampling plans
    * without touching a single coded frame.
    */
  case class VideoMeta(id: Long, timescale: Long, duration: Long,
                       durationMs: Long)

  /** REAL parser for MP4/ISO-BMFF payloads: a BOX WALK (4-byte BE size
    * including the header, 4-byte type) over the top level until `moov`,
    * then over moov's children until `mvhd` — version-0 movie header:
    * version(1) + flags(3) + creation(4) + modification(4), then
    * timescale BE32 (ticks/second) and duration BE32 (ticks).
    * durationMs = duration·1000 / timescale, integer floor. The walk is
    * bounded by box sizes, so a 100 GB mdat is skipped in one stride —
    * the whole point of container metadata at 100 TB; that requires the
    * ISO 14496-12 §4.2 escapes top-level boxes over 4 GiB actually use:
    * size==1 → the real size is the 8-byte BE `largesize` after the
    * type (16-byte header), size==0 → the box runs to end-of-file (legal
    * only for the last top-level box). moov children stay 32-bit-sized
    * (moov is metadata, never near 4 GiB). Returns None for non-MP4
    * bytes, truncated boxes, or version-1 (64-bit) movie headers the
    * caller should route to a full demuxer.
    */
  def parseMp4(id: Long, b: Array[Byte]): Option[VideoMeta] = {
    val len = b.length
    val r = new Reader(b, 0, len)
    if (len < 12 || !hasAt(b, 4, "ftyp")) return None
    var i = 0 // every box starts inside b, so offsets fit an Int
    var meta: Option[VideoMeta] = None
    while (meta.isEmpty && i + 8 <= len) {
      val size32 = r.at(i).be32u()
      // §4.2 escapes: 1 = 64-bit largesize follows the type; 0 = box
      // extends to EOF. hdr = bytes before the first child/payload.
      val hdr = if (size32 == 1) 16L else 8L
      val size =
        if (size32 == 1 && i + 16 <= len) r.at(i + 8).be64()
        else if (size32 == 0) (len - i).toLong
        else size32
      if (size < hdr || i + size > len) i = len // corrupt/truncated: stop
      else {
        if (hasAt(b, i + 4, "moov")) {
          var j = i + hdr.toInt
          val end = i + size.toInt
          while (meta.isEmpty && j + 8 <= end) {
            val csize = r.at(j).be32u()
            if (csize < 8 || j + csize > end) j = end
            else if (hasAt(b, j + 4, "mvhd") && j + 28 <= end && b(j + 8) == 0) {
              val ts = r.at(j + 20).be32u()
              val dur = r.at(j + 24).be32u()
              meta = Some(VideoMeta(id, ts, dur,
                if (ts == 0) 0L else dur * 1000L / ts))
            } else j += csize.toInt
          }
        }
        i += size.toInt
      }
    }
    meta
  }

  /** Video twin of [[decodeAudioBatches]]: per-partition box walk to
    * typed container metadata; unparseable payloads drop out.
    */
  def decodeVideoBatches(payloads: Dataset[Payload]): Dataset[VideoMeta] = {
    implicit val enc = Encoders.product[VideoMeta]
    payloads.mapPartitions(_.flatMap(p => parseMp4(p.id, p.content)))
  }

  // ------------------------------------- payload decode (uncompressed)
  //
  // The StubCodec boundary existed because the sandbox ships no codec
  // libraries — but UNCOMPRESSED formats need none. These two decoders
  // cross the boundary for real: every pixel byte / PCM sample of the
  // payload is read and folded, pure byte arithmetic on the scan tasks,
  // same shape the header codecs use. The entropy-coded payloads fell
  // one by one — PNG zlib (q199), GIF LZW (q200), Y4M frames (q218),
  // JPEG baseline Huffman+DCT (q219) — so [[StubCodec]] is RETIRED as
  // a payload decoder: it survives only as the md5-derived fake-feature
  // dimension stub that q40-q42's metadata plumbing pins (the one thing
  // that is genuinely synthetic here, and says so). MP3 frame AUDIO
  // remains header-walk only (parseMp3) — the sole undecoded payload,
  // and it is labeled metadata, not decode.

  /** Per-channel statistics over a fully-decoded 24-bit uncompressed
    * BMP pixel array: channel byte sums and the image's top-left pixel.
    * The walk honors the format's physical layout — rows padded to a
    * 4-byte stride (`((3w+3)/4)·4`, the padding bytes are NOT pixels
    * and must be skipped), rows stored bottom-up when height is
    * positive, bytes in BGR order. Requirements: bpp=24, BI_RGB
    * (compression 0), positive dims, pixel array fully present at the
    * header's data offset; anything else → None.
    */
  case class BmpPixels(id: Long, width: Int, height: Int,
                       sum_b: Long, sum_g: Long, sum_r: Long,
                       tl_b: Int, tl_g: Int, tl_r: Int)

  def parseBmpPixels(id: Long, b: Array[Byte]): Option[BmpPixels] = {
    if (b.length < 54 || !hasAt(b, 0, "BM")) return None
    val off = Bytes.le32(b, 10)
    val w = Bytes.le32(b, 18)
    val h = Bytes.le32(b, 22)
    if (Bytes.le16(b, 28) != 24 || Bytes.le32(b, 30) != 0 || w <= 0 ||
      h <= 0 || off < 54) return None
    // Long: 3w overflows an Int for w >= 2^29, and the header is untrusted
    val strideL = (w * 3L + 3) / 4 * 4
    if (off + strideL * h > b.length) return None
    // the whole pixel array is inside b, so the fold reads unchecked
    val stride = strideL.toInt
    var sb = 0L; var sg = 0L; var sr = 0L
    var y = 0
    while (y < h) {
      val row = off + y * stride
      var p = row
      while (p < row + 3 * w) {
        sb += b(p) & 0xff; sg += b(p + 1) & 0xff; sr += b(p + 2) & 0xff
        p += 3
      }
      y += 1
    }
    // bottom-up storage: the IMAGE's top-left pixel is the FIRST
    // pixel of the LAST row in file order
    val tl = off + (h - 1) * stride
    Some(BmpPixels(id, w, h, sb, sg, sr,
      b(tl) & 0xff, b(tl + 1) & 0xff, b(tl + 2) & 0xff))
  }

  /** BMP-pixel twin of [[decodeBatches]]. */
  def decodeBmpPixelBatches(payloads: Dataset[Payload]): Dataset[BmpPixels] = {
    implicit val enc = Encoders.product[BmpPixels]
    payloads.mapPartitions(_.flatMap(p => parseBmpPixels(p.id, p.content)))
  }

  /** Sample statistics over a fully-decoded 16-bit mono PCM WAV data
    * chunk: count, extrema, and sum of the signed LE samples —
    * loudness/clipping/DC-offset screening without a resampler.
    * Canonical 44-byte layout (via [[parseWav]]); requires PCM
    * (audioFormat 1), mono, 16-bit, and a data chunk fully present —
    * a declared size past EOF is truncation, not data → None.
    */
  case class WavSamples(id: Long, n_samples: Long, min_amp: Int,
                        max_amp: Int, sum_amp: Long)

  def parseWavSamples(id: Long, b: Array[Byte]): Option[WavSamples] =
    parseWav(id, b).flatMap { m =>
      if (Bytes.le16(b, 20) != 1 || m.channels != 1 || m.bitsPerSample != 16) None
      else if (44L + 2L * m.nSamples > b.length) None
      else if (m.nSamples == 0) Some(WavSamples(id, 0L, 0, 0, 0L))
      else {
        val n = m.nSamples.toInt
        var mn = Int.MaxValue; var mx = Int.MinValue; var sum = 0L
        var i = 0
        while (i < n) {
          val v = Bytes.le16(b, 44 + 2 * i).toShort.toInt // signed
          if (v < mn) mn = v
          if (v > mx) mx = v
          sum += v
          i += 1
        }
        Some(WavSamples(id, n.toLong, mn, mx, sum))
      }
    }

  /** PCM-sample twin of [[decodeBatches]]. */
  def decodeWavSampleBatches(payloads: Dataset[Payload]): Dataset[WavSamples] = {
    implicit val enc = Encoders.product[WavSamples]
    payloads.mapPartitions(_.flatMap(p => parseWavSamples(p.id, p.content)))
  }

  // ---------------------------------------------------------------------
  // TRUE payload decode — G.711 companded WAV (µ-law / A-law).
  //
  // The telephony formats (ITU-T G.711): 8-bit logarithmically
  // companded samples — format code 7 (µ-law, stored complemented) or
  // 6 (A-law, stored XOR 0x55) — expanded to 13/14-bit linear by pure
  // integer arithmetic, no tables required. Call-center/voice corpora
  // arrive in exactly this shape. Unlike the canonical-layout PCM
  // parser, this one walks RIFF chunks generally (non-PCM fmt chunks
  // are 18 bytes, and writers interleave `fact`/LIST chunks before
  // `data` — javax.sound's own µ-law output does both).
  // ---------------------------------------------------------------------

  /** Per-payload G.711 sample statistics (linear domain). */
  case class G711Samples(id: Long, law: String, n_samples: Long,
                         min_amp: Int, max_amp: Int, sum_amp: Long)

  /** µ-law byte → linear (G.711 §4.2 decoder formula; bytes are stored
    * complemented): ((m·8 + 132) << e) − 132, sign from bit 7.
    * Max magnitude 32124.
    */
  private[graft] def ulawExpand(byte: Int): Int = {
    val u = ~byte & 0xff
    val e = (u >> 4) & 7
    val m = u & 0x0f
    val x = (((m << 3) + 0x84) << e) - 0x84
    if ((u & 0x80) != 0) -x else x
  }

  /** A-law byte → linear (G.711 §4.1; bytes are stored XOR 0x55):
    * segment 0 is linear (m·16 + 8), segments 1–7 double per step.
    * Max magnitude 32256.
    */
  private[graft] def alawExpand(byte: Int): Int = {
    val a = byte ^ 0x55
    val e = (a >> 4) & 7
    val m = a & 0x0f
    val x = if (e == 0) (m << 4) + 8 else ((m << 4) + 0x108) << (e - 1)
    // A-law's sign convention is INVERTED vs µ-law: MSB 1 = positive
    if ((a & 0x80) != 0) x else -x
  }

  /** Decode a G.711 WAV: general RIFF chunk walk to fmt + data, then
    * every companded byte expanded and folded. Requires mono 8-bit,
    * format 6 or 7; anything else (or a chunk running past EOF) → None.
    */
  def parseWavG711(id: Long, b: Array[Byte]): Option[G711Samples] = {
    if (!hasAt(b, 0, "RIFF") || !hasAt(b, 8, "WAVE")) return None
    var fmtCode = -1
    var channels = -1
    var bits = -1
    var dataOff = -1
    var dataLen = -1
    val walked = Bytes.total {
      val r = new Reader(b, 12, b.length)
      while ((dataOff < 0 || fmtCode < 0) && r.remaining >= 8) {
        val tag = r.pos
        r.skip(4)
        val len = r.len(r.le32u())
        val body = r.sub(len)
        if (hasAt(b, tag, "fmt ")) {
          if (body.remaining < 16) damage()
          fmtCode = body.le16()
          channels = body.le16()
          body.skip(10)
          bits = body.le16()
        } else if (hasAt(b, tag, "data")) {
          dataOff = body.pos
          dataLen = body.remaining
        }
        // RIFF chunks are word-aligned; a missing final pad byte is EOF
        if ((len & 1) == 1 && r.remaining > 0) r.skip(1)
      }
    }
    if (walked.isEmpty) return None
    if (fmtCode != 6 && fmtCode != 7) return None
    if (channels != 1 || bits != 8 || dataOff < 0) return None
    val law = if (fmtCode == 7) "ulaw" else "alaw"
    if (dataLen == 0) return Some(G711Samples(id, law, 0L, 0, 0, 0L))
    var mn = Int.MaxValue
    var mx = Int.MinValue
    var sum = 0L
    var i = dataOff
    while (i < dataOff + dataLen) {
      val v = if (fmtCode == 7) ulawExpand(b(i) & 0xff)
      else alawExpand(b(i) & 0xff)
      if (v < mn) mn = v
      if (v > mx) mx = v
      sum += v
      i += 1
    }
    Some(G711Samples(id, law, dataLen.toLong, mn, mx, sum))
  }

  /** G.711 twin of [[decodeBatches]]: zero shuffles. */
  def decodeWavG711Batches(payloads: Dataset[Payload]): Dataset[G711Samples] = {
    implicit val enc = Encoders.product[G711Samples]
    payloads.mapPartitions(_.flatMap(p => parseWavG711(p.id, p.content)))
  }

  // ---------------------------------------------------------------------
  // ID3v2 tag walk — the metadata block crawled MP3s actually START
  // with (id3.org spec): a 10-byte header whose size is a SYNCSAFE
  // 32-bit integer (7 bits per byte, so the tag can never contain a
  // false MPEG sync), then frames of 4-char ids + 32-bit sizes (plain
  // big-endian in v2.3, syncsafe again in v2.4) + 2 flag bytes. The
  // audio stream begins AFTER the tag (+10 more if the footer flag is
  // set) — the offset [[parseMp3]]'s sync scan would otherwise have to
  // discover by probing.
  // ---------------------------------------------------------------------

  /** One text frame of an ID3v2 tag, with the tag's geometry. */
  case class Id3Frame(id: Long, ver_major: Int, tag_size: Int,
                      frame_id: String, content: String,
                      audio_offset: Long)

  /** Walk an ID3v2.3/2.4 tag: header, syncsafe size, text frames
    * (T***, ISO-8859-1 or UTF-8 encodings). Non-text frames are
    * strided, not surfaced; padding ends the walk; malformation —
    * bad frame id, frame running past the tag, unsupported version
    * or an extended header — yields Nil (totality law).
    */
  def parseId3v2(id: Long, b: Array[Byte]): Seq[Id3Frame] = Bytes.total {
    val r = new Reader(b, 0, b.length)
    if (!hasAt(b, 0, "ID3")) damage()
    r.skip(3)
    val ver = r.u8()
    if (ver != 3 && ver != 4) damage()
    r.skip(1) // revision
    val flags = r.u8()
    if ((flags & 0x40) != 0) damage() // extended header: route away
    // tag-level unsynchronisation (0x80): every 0xFF,0x00 pair in the
    // tag is an escape — the frame strides below would be wrong by one
    // byte per escape. Route away rather than walk with wrong strides.
    if ((flags & 0x80) != 0) damage()
    /** 28-bit syncsafe integer: 7 bits per byte, bit 7 always clear. */
    def syncsafe(s: Reader): Int = {
      val v = s.be32()
      if ((v & 0x80808080) != 0) damage()
      (v >>> 24) << 21 | (v >> 16 & 0x7f) << 14 | (v >> 8 & 0x7f) << 7 |
        v & 0x7f
    }
    val size = syncsafe(r)
    val tag = r.sub(r.len(size))
    val audioOff = 10L + size + (if ((flags & 0x10) != 0) 10 else 0)
    val out = scala.collection.mutable.ArrayBuffer.empty[Id3Frame]
    var done = false
    while (!done && tag.remaining >= 10) {
      val p = tag.pos
      if (b(p) == 0) done = true // padding: the tag's tail is zeros
      else {
        val fid = new String(b, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
        if (!fid.forall(ch => (ch >= 'A' && ch <= 'Z') ||
          (ch >= '0' && ch <= '9'))) damage()
        tag.skip(4)
        val fsize = if (ver == 4) syncsafe(tag) else tag.be32()
        tag.skip(1) // status flags
        val fmtFlags = tag.u8()
        val body = tag.sub(tag.len(fsize))
        // Format-flag byte (p+9): a compressed / encrypted / per-frame-
        // unsynced / length-indicated frame stores TRANSFORMED bytes —
        // surfacing them as text would be silent garbage. The declared
        // size still counts the stored bytes, so the stride stays valid:
        // skip the frame, keep walking. (v2.3 %ijk00000: i=compression,
        // j=encryption, k=grouping; v2.4 %0h00kmnp: h=grouping,
        // k=compression, m=encryption, n=unsync, p=data-length-
        // indicator.) Grouping counts too: a grouped frame prepends one
        // group-id byte, so reading body[0] as the text encoding would
        // surface text shifted by one byte — silent garbage.
        val transformed =
          if (ver == 4) (fmtFlags & 0x4f) != 0 else (fmtFlags & 0xe0) != 0
        if (!transformed && fid.startsWith("T") && fsize >= 1) {
          val cs = body.u8() match {
            case 0 => "ISO-8859-1"
            case 3 => "UTF-8"
            case _ => null // UTF-16 variants: stride, don't misdecode
          }
          if (cs != null) {
            var len = body.remaining
            // text frames may be NUL-terminated; the terminator is not text
            while (len > 0 && b(body.pos + len - 1) == 0) len -= 1
            out += Id3Frame(id, ver, size, fid,
              new String(b, body.pos, len, cs), audioOff)
          }
        }
      }
    }
    out.toSeq
  }.getOrElse(Nil)

  /** ID3 twin of [[decodeBatches]]: zero shuffles. */
  def decodeId3Batches(payloads: Dataset[Payload]): Dataset[Id3Frame] = {
    implicit val enc = Encoders.product[Id3Frame]
    payloads.mapPartitions(_.flatMap(p => parseId3v2(p.id, p.content)))
  }

  // ---------------------------------------------------------------------
  // TRUE payload decode — uncompressed TIFF pixels (strip walk).
  //
  // The archival/scan format (TIFF 6.0): the header codec (q186) chases
  // the IFD for dimensions; THIS decoder goes on to the pixel data —
  // strip offsets/byte-counts arrays (inline when they fit the 4-byte
  // value field, pointed-to otherwise; SHORT or LONG typed), chunky
  // row-major samples, both byte orders, the WhiteIsZero inversion.
  // Compressed TIFFs (LZW/PackBits/JPEG-in-TIFF) route to a full stack.
  // ---------------------------------------------------------------------

  /** Per-channel sums + top-left pixel of a fully decoded TIFF.
    * Grayscale rows carry the luma in c0 and 0 in c1/c2.
    */
  case class TiffPixels(id: Long, width: Int, height: Int, channels: Int,
                        sum_c0: Long, sum_c1: Long, sum_c2: Long,
                        tl_c0: Int, tl_c1: Int, tl_c2: Int)

  /** Decode a baseline TIFF: 8-bit samples, photometric 0 (WhiteIsZero
    * — inverted), 1 (BlackIsZero) or 2 (RGB), none/LZW/PackBits
    * compression, BOTH planar configurations (1 chunky; 2 separate
    * planes — each channel's samples in their own plane-major
    * segments, predictor lag 1), in EITHER segment layout — any strip
    * segmentation (§11), or the tiled layout (§15: TileWidth/
    * TileLength tags 322/323, offsets/counts 324/325; tiles are fixed
    * tileW x tileL blocks, edge tiles PADDED to full size, so the fold
    * clips to the image bounds). None on non-8-bit samples, mixed
    * strip+tile tags, or any malformation (totality law).
    */
  def parseTiffPixels(id: Long, b: Array[Byte]): Option[TiffPixels] =
    Bytes.total(tiffPixels(id, b)).flatten

  private def tiffPixels(id: Long, b: Array[Byte]): Option[TiffPixels] = {
    val t = new TiffBytes(b)
    val ifd = t.long(4)
    val n = t.short(ifd)
    if (n <= 0 || ifd + 2 + 12L * n + 4 > b.length) return None
    // tag lookup over the sorted entry table
    def entry(tag: Int): Long = { // byte pos of the 12-byte entry, or -1
      var i = 0
      while (i < n) {
        val p = ifd + 2 + 12L * i
        if (t.short(p) == tag) return p
        i += 1
      }
      -1L
    }
    // scalar value: SHORT(3) or LONG(4), count 1, left-justified field;
    // any other shape is malformed
    def scalar(tag: Int, default: Long): Long = {
      val p = entry(tag)
      if (p < 0) return default
      if (t.long(p + 4) != 1L) damage()
      t.short(p + 2) match {
        case 3 => t.short(p + 8).toLong
        case 4 => t.long(p + 8)
        case _ => damage()
      }
    }
    // typed array: inline when it fits the 4-byte field, else pointed-to
    def array(tag: Int): Array[Long] = {
      val p = entry(tag)
      if (p < 0) return null
      val typ = t.short(p + 2)
      val cnt = t.long(p + 4)
      val size = typ match { case 3 => 2L; case 4 => 4L; case _ => return null }
      if (cnt <= 0 || cnt > (1 << 20)) return null
      val at = if (cnt * size <= 4) p + 8 else t.long(p + 8)
      if (at + cnt * size > b.length) return null
      Array.tabulate(cnt.toInt)(i =>
        if (typ == 3) t.short(at + 2L * i).toLong else t.long(at + 4L * i))
    }
    val width = scalar(256, -1L)
    val height = scalar(257, -1L)
    val compression = scalar(259, 1L)
    val photometric = scalar(262, -1L)
    val spp = scalar(277, 1L)
    val planar = scalar(284, 1L)
    val predictor = scalar(317, 1L)
    if (width <= 0 || height <= 0 || width * height > (1L << 26)) return None
    if (planar != 1 && planar != 2) return None
    // baseline none / LZW (§13) / PackBits (§9); others route away
    if (compression != 1 && compression != 5 && compression != 32773)
      return None
    if (predictor != 1 && predictor != 2) return None
    val channels = photometric match {
      case 0 | 1 => if (spp != 1) return None else 1
      case 2 => if (spp != 3) return None else 3
      case _ => return None
    }
    // planar=2 stores each channel's samples in their OWN segments
    // (plane-major); with one sample per pixel the layouts coincide
    val sepPlanes = planar == 2 && channels == 3
    val segChans = if (sepPlanes) 1 else channels
    val bits = array(258)
    if (photometric == 2) {
      if (bits == null || bits.length != 3 || bits.exists(_ != 8L)) return None
    } else if (bits != null && (bits.length != 1 || bits(0) != 8L)) return None
    val tiled = entry(322) >= 0 || entry(323) >= 0 ||
      entry(324) >= 0 || entry(325) >= 0
    // a file claiming BOTH layouts is malformed, not a choice
    if (tiled && (entry(273) >= 0 || entry(279) >= 0)) return None

    val sums = new Array[Long](3)
    val tls = new Array[Int](3)

    /** Materialize one compressed segment (strip or tile): each is an
      * independent stream of exactly `expect` decoded bytes.
      */
    def segment(off: Long, clen: Long, expect: Int): Array[Byte] = {
      if (off < 0 || clen <= 0 || off + clen > b.length) return null
      compression match {
        case 1 =>
          if (clen != expect) return null // segment size must be exact
          java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + expect)
        case 5 => tiffLzwDecode(b, off.toInt, clen.toInt, expect).orNull
        case _ => packBitsDecode(b, off.toInt, clen.toInt, expect).orNull
      }
    }

    /** Horizontal-differencing predictor: cumulative sum per segment
      * row, one lag per SAMPLE (BEFORE the WhiteIsZero inversion) —
      * lag `segChans`: interleaved channels in chunky segments, a
      * single sample stream in planar ones.
      */
    def undiff(data: Array[Byte], rows: Int, rowBytes: Int): Unit =
      if (predictor == 2) {
        var r0 = 0
        while (r0 < rows) {
          val base = r0 * rowBytes
          var i = segChans
          while (i < rowBytes) {
            data(base + i) =
              ((data(base + i) + data(base + i - segChans)) & 0xff).toByte
            i += 1
          }
          r0 += 1
        }
      }

    if (!tiled) {
      val rowsPerStrip = scalar(278, 0xffffffffL) // default: one strip
      val offsets = array(273)
      val counts = array(279)
      if (offsets == null || counts == null ||
        offsets.length != counts.length) return None
      // planar=2: plane-major ranges of StripsPerImage strips each
      val nPlanes = if (sepPlanes) 3 else 1
      if (offsets.length % nPlanes != 0) return None
      val per = offsets.length / nPlanes
      var plane = 0
      while (plane < nPlanes) {
        var row = 0L
        var s = 0
        while (s < per) {
          val rows = math.min(rowsPerStrip, height - row)
          if (rows <= 0) return None // more strips than rows
          val expect = (rows * width * segChans).toInt
          val data = segment(offsets(plane * per + s),
            counts(plane * per + s), expect)
          if (data == null) return None
          undiff(data, rows.toInt, width.toInt * segChans)
          var i = 0
          while (i < expect) {
            val raw = data(i) & 0xff
            val v = if (photometric == 0) 255 - raw else raw
            val c = if (sepPlanes) plane else i % channels
            sums(c) += v
            if (row == 0L && i < segChans) {
              if (sepPlanes) tls(plane) = v else tls(i) = v
            }
            i += 1
          }
          row += rows
          s += 1
        }
        if (row != height) return None // strips must cover exactly
        plane += 1
      }
    } else {
      val tileW = scalar(322, -1L)
      val tileL = scalar(323, -1L)
      // §15: tile dims are positive multiples of 16
      if (tileW <= 0 || tileL <= 0 ||
        tileW % 16 != 0 || tileL % 16 != 0) return None
      if (tileW * tileL * channels > (1L << 26)) return None
      val across = (width + tileW - 1) / tileW
      val down = (height + tileL - 1) / tileL
      val planeTiles = across * down
      val nPlanes = if (sepPlanes) 3 else 1
      val offsets = array(324)
      val counts = array(325)
      if (offsets == null || counts == null ||
        offsets.length != counts.length ||
        offsets.length.toLong != planeTiles * nPlanes) return None
      val expect = (tileW * tileL * segChans).toInt
      val tileRowBytes = tileW.toInt * segChans
      var t = 0
      while (t < offsets.length) {
        val plane = t / planeTiles.toInt // plane-major tile order
        val ti = t % planeTiles.toInt
        val tx = ti % across.toInt
        val ty = ti / across.toInt
        val data = segment(offsets(t), counts(t), expect)
        if (data == null) return None
        undiff(data, tileL.toInt, tileRowBytes)
        // fold with clipping: edge tiles carry padding past the image
        val xs = math.min(tileW, width - tx * tileW).toInt
        val ys = math.min(tileL, height - ty * tileL).toInt
        var r0 = 0
        while (r0 < ys) {
          var i = r0 * tileRowBytes
          val rowEnd = i + xs * segChans
          while (i < rowEnd) {
            val raw = data(i) & 0xff
            val v = if (photometric == 0) 255 - raw else raw
            val c = if (sepPlanes) plane else i % channels
            sums(c) += v
            if (ti == 0 && r0 == 0 && i < segChans) {
              if (sepPlanes) tls(plane) = v else tls(i) = v
            }
            i += 1
          }
          r0 += 1
        }
        t += 1
      }
    }
    Some(TiffPixels(id, width.toInt, height.toInt, channels,
      sums(0), sums(1), sums(2), tls(0), tls(1), tls(2)))
  }

  /** TIFF-pixel twin of [[decodeBatches]]: zero shuffles. */
  def decodeTiffPixelBatches(payloads: Dataset[Payload]): Dataset[TiffPixels] = {
    implicit val enc = Encoders.product[TiffPixels]
    payloads.mapPartitions(_.flatMap(p => parseTiffPixels(p.id, p.content)))
  }

  // ---------------------------------------------------------------------
  // TIFF compressed strips — LZW (TIFF 6.0 §13) and PackBits (§9).
  //
  // TIFF LZW differs from GIF's in every mechanical detail: bits pack
  // MSB-first (GIF: LSB-first), codes start at 9 bits (GIF: symbol
  // size + 1), Clear/EOI are fixed at 256/257, and the code width
  // grows one code EARLY — when the next free entry would be 2^w - 1,
  // not 2^w. The encoder/decoder pair below keeps the width clocks in
  // lockstep by deriving the width from the table counter at each
  // read/emit: the decoder's counter lags the encoder's by exactly one
  // add (it installs the entry for a code only when the NEXT code
  // arrives), so the encoder reads its width off `next - 1`, and off
  // `next + 1` for the final EOI (where the decoder has one add the
  // encoder never mirrored). MultimodalSpec cross-pins both directions
  // against javax.imageio's independent TIFF codec.
  // ---------------------------------------------------------------------

  /** Code width at a given table-counter value (early change). */
  private def tiffLzwWidth(n: Int): Int =
    if (n >= 2047) 12 else if (n >= 1023) 11 else if (n >= 511) 10 else 9

  /** Decode one LZW strip to exactly `expect` bytes. None on any
    * malformation: truncation before EOI, a code beyond the table,
    * output overflow/underflow.
    */
  private[graft] def tiffLzwDecode(b: Array[Byte], off: Int, len: Int,
                                       expect: Int): Option[Array[Byte]] = {
    if (off < 0 || len <= 0 || off.toLong + len > b.length) return None
    val out = new Array[Byte](expect)
    var op = 0
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var next = 258
    var bitPos = 0L
    val totalBits = len.toLong * 8
    var prev = -1
    var prevStart = -1 // previous code's expansion inside `out` (KwKwK)
    var prevLen = 0
    var done = false
    while (!done) {
      val width = tiffLzwWidth(next)
      if (bitPos + width > totalBits) return None // ran out before EOI
      var code = 0
      var i = 0
      while (i < width) {
        val bp = bitPos + i
        val byte = b(off + (bp >> 3).toInt) & 0xff
        code = (code << 1) | ((byte >> (7 - (bp & 7).toInt)) & 1)
        i += 1
      }
      bitPos += width
      if (code == 257) done = true
      else if (code == 256) {
        next = 258; prev = -1; prevStart = -1; prevLen = 0
      } else {
        val start = op
        var first = 0
        if (code < 256) {
          if (op >= expect) return None
          out(op) = code.toByte; op += 1; first = code
        } else if (code >= 258 && code < next) {
          var c = code
          var tail = 0
          while (c >= 258) { tail += 1; c = prefix(c); if (tail > 4096) return None }
          if (op + tail + 1 > expect) return None
          var w = op + tail
          c = code
          while (c >= 258) { out(w) = suffix(c); w -= 1; c = prefix(c) }
          out(w) = c.toByte
          first = c
          op += tail + 1
        } else if (code == next && prev >= 0) {
          // KwKwK: previous string + its own first byte
          if (op + prevLen + 1 > expect) return None
          System.arraycopy(out, prevStart, out, op, prevLen)
          out(op + prevLen) = out(prevStart)
          first = out(prevStart) & 0xff
          op += prevLen + 1
        } else return None
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev; suffix(next) = first.toByte; next += 1
        }
        prev = code
        prevStart = start
        prevLen = op - start
      }
    }
    if (op != expect) return None // EOI must land exactly on the strip end
    Some(out)
  }

  /** Encode one strip as TIFF LZW (the matched twin of
    * [[tiffLzwDecode]]; see the width-clock note above).
    */
  private[graft] def tiffLzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    var cur = 0
    var nbits = 0
    def put(code: Int, width: Int): Unit = {
      cur = (cur << width) | code
      nbits += width
      while (nbits >= 8) { out.write((cur >> (nbits - 8)) & 0xff); nbits -= 8 }
      cur &= (1 << nbits) - 1
    }
    val dict = new java.util.HashMap[Integer, Integer](8192)
    var next = 258
    put(256, tiffLzwWidth(next - 1)) // every strip starts with a Clear
    var prefixCode = -1
    var i = 0
    while (i < data.length) {
      val k = data(i) & 0xff
      if (prefixCode < 0) prefixCode = k
      else {
        val key = (prefixCode << 8) | k
        val hit = dict.get(key)
        if (hit != null) prefixCode = hit
        else {
          put(prefixCode, tiffLzwWidth(next - 1))
          dict.put(key, next); next += 1
          if (next >= 4094) { // keep headroom: clear before 12 bits overflow
            put(256, tiffLzwWidth(next - 1))
            dict.clear(); next = 258
          }
          prefixCode = k
        }
      }
      i += 1
    }
    if (prefixCode >= 0) put(prefixCode, tiffLzwWidth(next - 1))
    put(257, tiffLzwWidth(next)) // decoder added one entry we didn't
    if (nbits > 0) out.write((cur << (8 - nbits)) & 0xff)
    out.toByteArray
  }

  /** Decode one PackBits strip to exactly `expect` bytes. */
  private[graft] def packBitsDecode(b: Array[Byte], off: Int, len: Int,
                                        expect: Int): Option[Array[Byte]] = {
    if (off < 0 || len <= 0 || off.toLong + len > b.length) return None
    val out = new Array[Byte](expect)
    var p = off
    val end = off + len
    var op = 0
    while (op < expect) {
      if (p >= end) return None
      val n = b(p) // SIGNED control byte
      p += 1
      if (n >= 0) { // n+1 literal bytes follow
        val cnt = n + 1
        if (p + cnt > end || op + cnt > expect) return None
        System.arraycopy(b, p, out, op, cnt)
        p += cnt; op += cnt
      } else if (n != -128) { // 1-n copies of the next byte (-128: noop)
        val cnt = 1 - n
        if (p >= end || op + cnt > expect) return None
        java.util.Arrays.fill(out, op, op + cnt, b(p))
        p += 1; op += cnt
      }
    }
    if (p != end) return None // declared strip bytes must be consumed
    Some(out)
  }

  /** Encode one row as PackBits (runs ≥ 2 become RLE packets; literals
    * break before any 2-byte repeat). Rows encode independently, as the
    * spec prescribes — the strip is their concatenation.
    */
  private[graft] def packBitsEncodeRow(row: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(row.length + 8)
    var i = 0
    val n = row.length
    while (i < n) {
      var run = 1
      while (i + run < n && run < 128 && row(i + run) == row(i)) run += 1
      if (run >= 2) {
        out.write(1 - run) // -(run-1) as the signed control byte
        out.write(row(i))
        i += run
      } else {
        var lit = 1
        while (i + lit < n && lit < 128 &&
          !(i + lit + 1 < n && row(i + lit) == row(i + lit + 1))) lit += 1
        out.write(lit - 1)
        out.write(row, i, lit)
        i += lit
      }
    }
    out.toByteArray
  }

  /** Write a little-endian TIFF with compressed strips: `compression`
    * 5 (LZW, horizontal-differencing predictor applied) or 32773
    * (PackBits, rows packed independently). Two strips (rows split at
    * ceil(h/2)), chunky RGB (channels=3, photometric 2) or grayscale
    * (channels=1, photometric 1) — the layout [[parseTiffPixels]]
    * walks back.
    */
  def encodeTiffCompressed(w: Int, h: Int, channels: Int,
                           pix: (Int, Int, Int) => Int,
                           compression: Int,
                           planar: Int = 1): Array[Byte] = {
    require(compression == 5 || compression == 32773, "LZW or PackBits")
    val img = TiffImage(w, h, channels, pix, compression, planar)
    val r1 = (h + 1) / 2 // strip 0 rows
    val strips = for (p <- img.planes; (y0, rows) <- Seq((0, r1), (r1, h - r1))
                      if rows > 0) yield img.segment(p, 0, y0, w, rows, 0)
    img.file(strips, Seq(278 -> r1), 273, 279)
  }

  /** Write a little-endian TILED TIFF (§15): fixed `tileW x tileL`
    * tiles (multiples of 16), edge tiles padded to full size with
    * zeros, row-major tile order, chunky RGB or grayscale.
    * `compression` 1 (none), 5 (LZW, horizontal-differencing predictor
    * applied per tile row) or 32773 (PackBits, tile rows packed
    * independently) — the layout [[parseTiffPixels]] clips back.
    */
  def encodeTiffTiled(w: Int, h: Int, channels: Int,
                      pix: (Int, Int, Int) => Int, compression: Int,
                      tileW: Int = 16, tileL: Int = 16,
                      pad: Int = 0, planar: Int = 1): Array[Byte] = {
    require(compression == 1 || compression == 5 || compression == 32773,
      "none, LZW or PackBits")
    require(tileW > 0 && tileL > 0 && tileW % 16 == 0 && tileL % 16 == 0,
      "tile dims are positive multiples of 16")
    val img = TiffImage(w, h, channels, pix, compression, planar)
    // §15 leaves edge-tile padding content UNDEFINED — writing a
    // caller-visible nonzero pad makes a decoder that forgets to
    // clip produce wrong sums instead of silently passing
    val tiles = for (p <- img.planes; ty <- 0 until (h + tileL - 1) / tileL;
                     tx <- 0 until (w + tileW - 1) / tileW)
      yield img.segment(p, tx * tileW, ty * tileL, tileW, tileL, pad)
    img.file(tiles, Seq(322 -> tileW, 323 -> tileL), 324, 325)
  }

  /** What the two TIFF writers share: segment encoding and the file
    * layout around the segments.
    */
  private final case class TiffImage(w: Int, h: Int, channels: Int,
                                     pix: (Int, Int, Int) => Int,
                                     compression: Int, planar: Int) {
    require(w > 0 && h > 0, "positive dims")
    require(channels == 1 || channels == 3, "gray or RGB")
    require(planar == 1 || (planar == 2 && channels == 3),
      "planar=2 is an RGB layout")
    private val segChans = if (planar == 2) 1 else channels
    /** Plane-major segment order; -1 is the one chunky plane. */
    val planes: Seq[Int] = if (planar == 2) Seq(0, 1, 2) else Seq(-1)

    /** One encoded segment: the `segW x segH` block at (`sx`, `sy`) of
      * `plane`, `pad` past the image edge. LZW applies the
      * horizontal-differencing predictor first; PackBits packs each
      * row on its own.
      */
    def segment(plane: Int, sx: Int, sy: Int, segW: Int, segH: Int,
                pad: Int): Array[Byte] = {
      val rowBytes = segW * segChans
      val raw = Array.fill[Byte](rowBytes * segH)((pad & 0xff).toByte)
      for (r <- 0 until segH; x0 <- 0 until segW; c <- 0 until segChans) {
        val x = sx + x0
        val y = sy + r
        if (x < w && y < h)
          raw(r * rowBytes + x0 * segChans + c) =
            (pix(if (plane < 0) c else plane, x, y) & 0xff).toByte
      }
      compression match {
        case 1 => raw
        case 5 =>
          // difference right-to-left, lag segChans
          for (r <- 0 until segH; i <- (rowBytes - 1) until (segChans - 1) by -1) {
            val base = r * rowBytes
            raw(base + i) =
              ((raw(base + i) - raw(base + i - segChans)) & 0xff).toByte
          }
          tiffLzwEncode(raw)
        case _ =>
          val bos = new java.io.ByteArrayOutputStream()
          for (r <- 0 until segH)
            bos.write(packBitsEncodeRow(java.util.Arrays.copyOfRange(
              raw, r * rowBytes, (r + 1) * rowBytes)))
          bos.toByteArray
      }
    }

    /** The file: header(8) | segments (padded even) | IFD | value
      * arrays (segment offsets and counts when there are several, then
      * RGB's bits-per-sample). `layout` holds the layout's own SHORT
      * tags; `offTag`/`countTag` name its offsets/byte-counts pair.
      */
    def file(segs: Seq[Array[Byte]], layout: Seq[(Int, Int)],
             offTag: Int, countTag: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val segOff = segs.scanLeft(8L)(_ + _.length)
      val ifdAt = segOff.last + segOff.last % 2 // IFD on a word boundary
      val n = segs.length
      val predictor = compression == 5
      val nEntries = 9 + layout.length + (if (predictor) 1 else 0)
      val arrAt = ifdAt + 2 + 12L * nEntries + 4
      val bitsAt = arrAt + (if (n > 1) 8L * n else 0L)
      val entries = (Seq( // (tag, type, count, value)
        (256, 3, 1, w.toLong), (257, 3, 1, h.toLong),
        if (channels == 3) (258, 3, 3, bitsAt) else (258, 3, 1, 8L),
        (259, 3, 1, compression.toLong),
        (262, 3, 1, if (channels == 3) 2L else 1L), // photometric
        (offTag, 4, n, if (n == 1) segOff(0) else arrAt),
        (277, 3, 1, channels.toLong),
        (countTag, 4, n, if (n == 1) segs(0).length.toLong else arrAt + 4L * n),
        (284, 3, 1, planar.toLong)) ++
        (if (predictor) Seq((317, 3, 1, 2L)) else Nil) ++
        layout.map { case (tag, v) => (tag, 3, 1, v.toLong) }).sortBy(_._1)
      out.write('I'); out.write('I'); Bytes.putLe16(out, 42)
      Bytes.putLe32(out, ifdAt.toInt)
      segs.foreach(out.write)
      if (ifdAt > segOff.last) out.write(0)
      Bytes.putLe16(out, nEntries)
      for ((tag, typ, cnt, v) <- entries) {
        Bytes.putLe16(out, tag); Bytes.putLe16(out, typ)
        Bytes.putLe32(out, cnt)
        if (typ == 3 && cnt == 1) { Bytes.putLe16(out, v.toInt); Bytes.putLe16(out, 0) }
        else Bytes.putLe32(out, v.toInt)
      }
      Bytes.putLe32(out, 0) // next IFD
      if (n > 1) {
        segOff.init.foreach(o => Bytes.putLe32(out, o.toInt))
        segs.foreach(s => Bytes.putLe32(out, s.length))
      }
      if (channels == 3) Seq(8, 8, 8).foreach(Bytes.putLe16(out, _))
      out.toByteArray
    }
  }

  // ---------------------------------------------------------------------
  // TRUE payload decode — Y4M video, real frame-plane walk.
  //
  // YUV4MPEG2 is the uncompressed video interchange format (ffmpeg's
  // `yuv4mpeg` muxer): an ASCII parameter header, then per frame a
  // `FRAME` marker line followed by raw planar YCbCr bytes. Like BMP and
  // PCM it needs no entropy coder, so the video stub boundary does not
  // apply: every sampled frame's luma plane is read byte-for-byte. What
  // makes it a REAL decoder rather than a fixed-offset slice is the
  // stride arithmetic: the chroma subsampling tag changes the frame's
  // byte size (mono = w·h, 4:2:0 = w·h·3/2), and one mis-stride desyncs
  // every later FRAME marker.

  /** Statistics for one SAMPLED frame of a decoded Y4M payload: luma
    * byte sum + top-left luma (the frame-screening signal), with the
    * stream's full frame count so sampling coverage is visible.
    */
  case class Y4mFrame(id: Long, width: Int, height: Int, n_frames: Int,
                      frame_idx: Int, sum_luma: Long, tl_luma: Int)

  /** Encode a Y4M stream: `YUV4MPEG2 W<w> H<h> F25:1 Ip A1:1 C<tag>\n`
    * then per frame `FRAME\n` + the Y plane (row-major luma bytes) and,
    * for 4:2:0, quarter-size Cb and Cr planes. `chroma420=false` writes
    * `Cmono` (luma-only — y4m's grayscale form).
    */
  def encodeY4m(w: Int, h: Int, frames: Int,
                luma: (Int, Int, Int) => Int,
                chroma: (Int, Int, Int) => Int,
                chroma420: Boolean): Array[Byte] = {
    require(w > 0 && h > 0 && frames >= 0, s"bad y4m geometry ${w}x$h")
    require(!chroma420 || (w % 2 == 0 && h % 2 == 0),
      s"4:2:0 needs even dims, got ${w}x$h")
    val out = new java.io.ByteArrayOutputStream(
      64 + frames * (6 + w * h * (if (chroma420) 3 else 2) / 2))
    val tag = if (chroma420) "C420jpeg" else "Cmono"
    out.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 $tag\n".getBytes("US-ASCII"))
    var f = 0
    while (f < frames) {
      out.write("FRAME\n".getBytes("US-ASCII"))
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out.write(luma(x, y, f) & 0xff); x += 1 }
        y += 1
      }
      if (chroma420) {
        var plane = 0
        while (plane < 2) { // Cb then Cr, quarter size
          var cy = 0
          while (cy < h / 2) {
            var cx = 0
            while (cx < w / 2) {
              out.write(chroma(cx, cy, f + plane) & 0xff); cx += 1
            }
            cy += 1
          }
          plane += 1
        }
      }
      f += 1
    }
    out.toByteArray
  }

  /** Decode a Y4M stream, keeping every `step`-th frame's luma stats
    * (the frame-sampling pattern a vision-data pipeline runs: screen a
    * few frames per clip, never decode all of them — though the WALK
    * must still stride over every frame to find the sampled ones).
    * Supported chroma tags: `mono` and the `420*` family (jpeg/mpeg2/
    * paldv siting variants — same plane layout, different filter
    * semantics that don't affect byte geometry). Other samplings
    * (422/444) → None: route to a full demuxer. Missing C tag defaults
    * to 4:2:0 per the y4m convention. Malformed header, non-positive
    * dims, a FRAME marker that isn't one, or a truncated final frame →
    * None (a video file cut mid-frame is damage, not data).
    */
  def parseY4mFrames(id: Long, b: Array[Byte], step: Int): Option[Seq[Y4mFrame]] = {
    require(step >= 1, s"frame-sampling step must be >= 1, got $step")
    val magic = "YUV4MPEG2 "
    if (b.length < magic.length + 5 || !hasAt(b, 0, magic)) None
    else {
      var nl = magic.length
      while (nl < b.length && b(nl) != '\n') nl += 1
      if (nl >= b.length) None
      else {
        val params = new String(b, magic.length, nl - magic.length,
          java.nio.charset.StandardCharsets.US_ASCII).split(' ')
        def tagVal(t: Char): Option[String] =
          params.find(p => p.nonEmpty && p.head == t).map(_.tail)
        val wOpt = tagVal('W').flatMap(_.toIntOption)
        val hOpt = tagVal('H').flatMap(_.toIntOption)
        val ctag = tagVal('C').getOrElse("420jpeg")
        (wOpt, hOpt) match {
          case (Some(w), Some(h)) if w > 0 && h > 0 &&
            (ctag == "mono" || ctag.startsWith("420")) =>
            val mono = ctag == "mono"
            // Frame size in Long: header-declared dims are untrusted, and
            // e.g. W=H=46341 overflows Int to a NEGATIVE frameBytes —
            // the truncation check would then pass and pos stride
            // backward into a negative-index probe. Any frame larger
            // than the blob is damage by definition, so reject up front.
            val frameBytesL =
              if (mono) w.toLong * h else w.toLong * h * 3 / 2
            if (!mono && (w % 2 != 0 || h % 2 != 0)) None
            else if (frameBytesL > b.length) None
            else {
              val frameBytes = frameBytesL.toInt
              val acc = scala.collection.mutable.ArrayBuffer
                .empty[(Int, Long, Int)] // (frame_idx, sum, tl)
              var pos = nl + 1
              var f = 0
              var bad = false
              while (!bad && pos < b.length) {
                // FRAME marker line (may carry params up to \n)
                if (!hasAt(b, pos, "FRAME")) bad = true
                else {
                  var e = pos + 5
                  while (e < b.length && b(e) != '\n') e += 1
                  val data = e + 1
                  if (e >= b.length || data + frameBytes > b.length) bad = true
                  else {
                    if (f % step == 0) {
                      var sum = 0L
                      var i = 0
                      while (i < w * h) { sum += (b(data + i) & 0xff); i += 1 }
                      acc += ((f, sum, b(data) & 0xff))
                    }
                    pos = data + frameBytes // chroma planes strided, not read
                    f += 1
                  }
                }
              }
              if (bad) None
              else Some(acc.toSeq.map { case (fi, sum, tl) =>
                Y4mFrame(id, w, h, f, fi, sum, tl)
              })
            }
          case _ => None
        }
      }
    }
  }

  /** Frame-sampling twin of [[decodeBatches]] for Y4M payloads: one
    * output row per sampled frame, zero shuffles, damage observable at
    * the caller (a None payload yields no rows for its id — pair with
    * the count posture of [[decodeGifPixelBatches]] when loss must be
    * quantified).
    */
  def decodeY4mFrameBatches(payloads: Dataset[Payload],
                            step: Int): Dataset[Y4mFrame] = {
    implicit val enc = Encoders.product[Y4mFrame]
    payloads.mapPartitions(_.flatMap(p =>
      parseY4mFrames(p.id, p.content, step).toSeq.flatten))
  }

  // ---------------------------------------------------------------------
  // TRUE payload decode #3 — 8-bit truecolor PNG, full pixel walk.
  //
  // PNG's pixel payload is DEFLATE (RFC 1950/1951) over per-row filtered
  // scanlines — and unlike JPEG's DCT or MP3's MDCT, both halves need
  // nothing past the JVM: `java.util.zip.Inflater` is canonical zlib and
  // the five §9 filters are integer arithmetic. So the "needs an entropy
  // coder" stub boundary does NOT apply here: [[parsePngPixels]] decodes
  // a compressed image format completely — chunk walk with CRC-32
  // verification, IDAT concatenation (the spec allows any split), one
  // zlib inflate (Adler-32 checked by the JDK), then per-row reversal of
  // all five filter types (None/Sub/Up/Average/Paeth) — and folds every
  // reconstructed pixel into per-channel sums plus the top-left pixel.
  //
  // [[encodePngRgb]] is the matching minimal writer: it APPLIES a
  // caller-chosen filter to each row before deflating, so round-trip
  // tests exercise every unfilter path, and its output is a spec-valid
  // PNG (MultimodalSpec pins per-pixel equality against javax.imageio's
  // independent decoder). Together they make image payloads a two-way
  // street: the engine can both read and WRITE the format.
  //
  // Scope: color type 2 (truecolor RGB) at depth 8, color type 0
  // (grayscale) at depth 8, and color type 3 (PALETTED — the icon /
  // legacy-web layout) at depths 1/2/4/8 with MSB-first packed indices
  // resolved through the CRC-checked PLTE chunk; interlace 0 OR Adam7
  // (§8.2 — each of the seven passes unfilters as an independent
  // image; the deflate stream is their concatenation). Together the
  // dominant layouts in web-crawled PNGs. Anything else → None
  // (callers fall back to the header-only path). Pixel-count cap 2^26
  // (a 192 MB reconstruction buffer) bounds what one adversarial header
  // can make a task allocate; legitimate larger images belong on the
  // header-only path anyway.
  // ---------------------------------------------------------------------

  /** Full-decode result: per-channel sums over every pixel + the
    * top-left pixel (PNG rows are stored TOP-DOWN — the opposite of
    * BMP's bottom-up order pinned in [[parseBmpPixels]]).
    */
  case class PngPixels(id: Long, width: Int, height: Int,
                       sum_r: Long, sum_g: Long, sum_b: Long,
                       tl_r: Int, tl_g: Int, tl_b: Int)

  /** PNG §9 Paeth predictor: the neighbor (left, up, up-left) closest
    * to the linear estimate left+up-upleft; ties break left, up, upleft.
    */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Adam7 pass geometry (PNG §8.2): (x0, y0, dx, dy) per pass. Pass
    * dimensions for a w×h image follow as ceil((w−x0)/dx) etc.; empty
    * passes contribute no scanlines at all.
    */
  private val adam7: Seq[(Int, Int, Int, Int)] = Seq(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** One independently filtered sub-image: pixel (i, j) of the pass is
    * image pixel (x0 + i·dx, y0 + j·dy), and the pass is `w × h`.
    */
  private final case class PngPass(x0: Int, y0: Int, dx: Int, dy: Int,
                                   w: Int, h: Int)

  /** The passes a w×h image deflates as: the whole frame when not
    * interlaced, the non-empty Adam7 passes otherwise. Shared by
    * encoder and decoder — the geometry cannot drift between them.
    */
  private def pngPasses(w: Int, h: Int, interlaced: Boolean): Seq[PngPass] =
    (if (interlaced) adam7 else Seq((0, 0, 1, 1))).map { case (x0, y0, dx, dy) =>
      PngPass(x0, y0, dx, dy, math.max(0, (w - x0 + dx - 1) / dx),
        math.max(0, (h - y0 + dy - 1) / dy))
    }.filter(p => p.w > 0 && p.h > 0)

  private val PngSignature = "\u0089PNG\r\n\u001a\n"

  /** Minimal spec-valid PNG writer for 8-bit RGB: `pixel(x, y)` supplies
    * (r, g, b), `filterOfRow(y)` picks the §9 filter type (0–4) applied
    * to that scanline before the single zlib-deflate. One IHDR, one
    * IDAT, one IEND, each with its CRC-32. With `interlaced` the seven
    * Adam7 passes are each filtered as an INDEPENDENT image (filter
    * chooser fed the pass-row index) and deflated as one stream, per
    * §8.2 — the progressive-rendering layout early web PNGs shipped in.
    */
  def encodePngRgb(width: Int, height: Int,
                   pixel: (Int, Int) => (Int, Int, Int),
                   filterOfRow: Int => Int,
                   interlaced: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0, "encodePngRgb: dims must be positive")
    writePng(width, height, 8, 2, null, interlaced, filterOfRow) {
      (cur, i, x, y) =>
        val (r, g, b) = pixel(x, y)
        cur(i * 3) = r & 0xff; cur(i * 3 + 1) = g & 0xff
        cur(i * 3 + 2) = b & 0xff
    }
  }

  /** Minimal spec-valid PALETTED PNG writer (color type 3): `palette`
    * is 3 bytes per entry, `indexOf(x, y)` supplies the palette index,
    * `depth` ∈ {1,2,4,8} packs indices MSB-first with byte-padded rows
    * (§7.2), `filterOfRow` picks the §9 filter (lag 1 byte). With
    * `interlaced`, the Adam7 passes are each filtered independently —
    * the same geometry sharing as [[encodePngRgb]].
    */
  def encodePngPaletted(width: Int, height: Int, palette: Array[Byte],
                        indexOf: (Int, Int) => Int,
                        filterOfRow: Int => Int, depth: Int,
                        interlaced: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0, "dims must be positive")
    require(palette.length % 3 == 0 && palette.length >= 3 &&
      palette.length <= 768, "palette is 1..256 RGB entries")
    require(depth == 1 || depth == 2 || depth == 4 || depth == 8,
      "paletted depths are 1/2/4/8")
    val nPal = palette.length / 3
    require(nPal <= (1 << depth), "palette must fit the depth")
    writePng(width, height, depth, 3, palette, interlaced, filterOfRow) {
      (cur, i, x, y) =>
        val v = indexOf(x, y)
        require(v >= 0 && v < nPal, "index beyond palette")
        val bit = i * depth
        cur(bit >> 3) |= v << (8 - depth - (bit & 7))
    }
  }

  /** The writer both PNG encoders share. Each pass row starts zeroed
    * and `put(cur, i, x, y)` packs pass pixel `i`, image pixel (x, y),
    * into it; the row is then filtered with `filterOfRow(pass row)` at
    * the §9 lag of ceil(bits per pixel / 8) bytes. The filtered stream
    * is deflated once and framed as signature, IHDR, [PLTE,] IDAT and
    * IEND, each chunk with its CRC-32.
    */
  private def writePng(width: Int, height: Int, depth: Int, color: Int,
                       plte: Array[Byte], interlaced: Boolean,
                       filterOfRow: Int => Int)
                      (put: (Array[Int], Int, Int, Int) => Unit): Array[Byte] = {
    val bitsPerPixel = if (color == 2) 3 * depth else depth
    val lag = math.max(1, bitsPerPixel / 8)
    val rawOut = new java.io.ByteArrayOutputStream()
    for (p <- pngPasses(width, height, interlaced)) {
      // prev resets per pass: §8.2 filters each pass as its own image
      val rowLen = (p.w * bitsPerPixel + 7) / 8
      val prev = new Array[Int](rowLen)
      val cur = new Array[Int](rowLen)
      var y = 0
      while (y < p.h) {
        java.util.Arrays.fill(cur, 0)
        var x = 0
        while (x < p.w) { put(cur, x, p.x0 + x * p.dx, p.y0 + y * p.dy); x += 1 }
        // floorMod: a negative callback value must still land in 0..4
        // (JVM `%` keeps the sign and would blow up the match below)
        val ft = Math.floorMod(filterOfRow(y), 5)
        rawOut.write(ft)
        var i = 0
        while (i < rowLen) {
          val left = if (i >= lag) cur(i - lag) else 0
          val up = prev(i)
          val upLeft = if (i >= lag) prev(i - lag) else 0
          val f = ft match {
            case 0 => cur(i)
            case 1 => cur(i) - left
            case 2 => cur(i) - up
            case 3 => cur(i) - (left + up) / 2
            case 4 => cur(i) - paeth(left, up, upLeft)
          }
          rawOut.write(f & 0xff)
          i += 1
        }
        System.arraycopy(cur, 0, prev, 0, rowLen)
        y += 1
      }
    }
    val raw = rawOut.toByteArray
    // zlib-deflate the filtered stream (Deflater's default wrapper IS
    // RFC 1950 zlib, Adler-32 trailer included)
    val deflater = new java.util.zip.Deflater(6)
    deflater.setInput(raw); deflater.finish()
    val zBuf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) zBuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val out = new java.io.ByteArrayOutputStream(zBuf.size() + 64)
    out.write(PngSignature.getBytes("ISO-8859-1"))
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      Bytes.putBe32(out, data.length)
      val t = ctype.getBytes("US-ASCII")
      out.write(t); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      Bytes.putBe32(out, crc.getValue.toInt)
    }
    val ihdr = new java.io.ByteArrayOutputStream(13)
    Bytes.putBe32(ihdr, width); Bytes.putBe32(ihdr, height)
    ihdr.write(depth); ihdr.write(color)
    ihdr.write(0); ihdr.write(0) // deflate, adaptive filtering
    ihdr.write(if (interlaced) 1 else 0)
    chunk("IHDR", ihdr.toByteArray)
    if (plte != null) chunk("PLTE", plte)
    chunk("IDAT", zBuf.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Complete decode of a truecolor / grayscale / PALETTED PNG (see
    * the section doc for scope). Every failure mode — bad signature,
    * short/overlong chunk, CRC mismatch, unsupported IHDR, a missing
    * or malformed PLTE, an index past the palette, truncated or
    * oversized inflate, unknown filter type, missing IDAT/IEND —
    * returns None, keeping the byte-walk totality law.
    */
  def parsePngPixels(id: Long, b: Array[Byte]): Option[PngPixels] =
    Bytes.total(pngPixels(id, b)).flatten

  private def pngPixels(id: Long, b: Array[Byte]): Option[PngPixels] = {
    if (!hasAt(b, 0, PngSignature)) return None
    // ---- chunk walk (CRC-verified) -----------------------------------
    val r = new Reader(b, 8, b.length)
    var w = 0; var h = 0
    var depth = 0; var color = -1
    var interlaced = false
    var sawIhdr = false; var sawIend = false
    var plte: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    while (!sawIend) {
      val clen = r.be32u()
      val typeAt = r.pos
      r.skip(4)
      val data = r.sub(r.len(clen))
      val crc = new java.util.zip.CRC32()
      crc.update(b, typeAt, 4 + data.remaining)
      if (crc.getValue != r.be32u()) return None
      val ctype = new String(b, typeAt, 4, "US-ASCII")
      if (!sawIhdr) {
        if (ctype != "IHDR" || clen != 13) return None
        w = data.be32(); h = data.be32()
        depth = data.u8(); color = data.u8()
        val comp = data.u8(); val filt = data.u8(); val interlace = data.u8()
        val okLayout = (color == 2 && depth == 8) ||
          (color == 0 && depth == 8) ||
          (color == 3 && (depth == 1 || depth == 2 || depth == 4 ||
            depth == 8))
        if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26) ||
          !okLayout || comp != 0 || filt != 0 || interlace > 1) return None
        interlaced = interlace == 1
        sawIhdr = true
      } else ctype match {
        case "PLTE" =>
          // §11.2.3: before IDAT, 1..256 entries of 3 bytes, at most one
          if (plte != null || idat.size() > 0) return None
          if (clen == 0 || clen % 3 != 0 || clen > 768) return None
          plte = data.bytes(data.remaining)
        case "IDAT" =>
          if (color == 3 && plte == null) return None // indices need it
          idat.write(b, data.pos, data.remaining)
        case "IEND" => if (clen != 0) return None else sawIend = true
        case _ => () // ancillary chunks (tEXt, pHYs, …) are skippable
      }
    }
    if (idat.size() == 0) return None
    // ---- inflate (JDK zlib; Adler-32 verified by Inflater) -----------
    // Adam7 deflates the passes' independent scanline sets as ONE
    // stream, so the expected size is the sum over non-empty passes.
    // Scanline bytes: truecolor 3/pixel; gray 1/pixel; paletted
    // depth-bit indices packed MSB-first, rows padded to the byte.
    def rowBytesOf(pw: Int): Int =
      if (color == 2) pw * 3
      else if (color == 0) pw
      else (pw * depth + 7) / 8
    val passes = pngPasses(w, h, interlaced)
    val expect = passes.map(p => p.h * (1 + rowBytesOf(p.w))).sum
    val raw = new Array[Byte](expect)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val got = try {
      var off = 0
      var stalled = false
      while (off < expect && !inflater.finished() && !stalled) {
        val n = inflater.inflate(raw, off, expect - off)
        // n==0 while unfinished = no forward progress possible (input
        // exhausted / preset-dictionary demand): treat as truncation
        if (n == 0 && !inflater.finished()) stalled = true
        off += n
      }
      // a spare byte probes for EXTRA data past the expected scanlines
      if (off == expect && !inflater.finished() &&
        inflater.inflate(new Array[Byte](1)) > 0) -1 else off
    } catch { case _: java.util.zip.DataFormatException => -1 }
    finally inflater.end()
    if (got != expect) return None
    // ---- unfilter + fold, per pass (each pass is an independent
    // filtered image: §8.2). Channel sums are placement-independent,
    // and the image's (0,0) is always the FIRST pass's first pixel, so
    // no full-raster reassembly is needed for this fold.
    // §9: the filter lag is ceil(bits-per-pixel / 8) — 3 for
    // truecolor, 1 for grayscale and ALL paletted depths.
    val bpp = if (color == 2) 3 else 1
    val nPal = if (plte == null) 0 else plte.length / 3
    var sr = 0L; var sg = 0L; var sb = 0L
    var tlR = 0; var tlG = 0; var tlB = 0
    var base = 0
    var pi = 0
    while (pi < passes.length) {
      val pw = passes(pi).w
      val ph = passes(pi).h
      val rowLen = rowBytesOf(pw)
      val prev = new Array[Int](rowLen)
      val cur = new Array[Int](rowLen)
      var y = 0
      while (y < ph) {
        val ft = raw(base) & 0xff
        if (ft > 4) return None
        var i = 0
        while (i < rowLen) {
          val f = raw(base + 1 + i) & 0xff
          val left = if (i >= bpp) cur(i - bpp) else 0
          val up = prev(i)
          val upLeft = if (i >= bpp) prev(i - bpp) else 0
          cur(i) = (ft match {
            case 0 => f
            case 1 => f + left
            case 2 => f + up
            case 3 => f + (left + up) / 2
            case 4 => f + paeth(left, up, upLeft)
          }) & 0xff
          i += 1
        }
        var x = 0
        while (x < pw) {
          var r = 0; var g = 0; var bl = 0
          if (color == 2) {
            r = cur(3 * x); g = cur(3 * x + 1); bl = cur(3 * x + 2)
          } else if (color == 0) {
            r = cur(x); g = r; bl = r
          } else {
            val idx =
              if (depth == 8) cur(x)
              else {
                val bit = x * depth
                (cur(bit >> 3) >> (8 - depth - (bit & 7))) &
                  ((1 << depth) - 1)
              }
            if (idx >= nPal) return None // index past the palette
            r = plte(3 * idx) & 0xff
            g = plte(3 * idx + 1) & 0xff
            bl = plte(3 * idx + 2) & 0xff
          }
          sr += r; sg += g; sb += bl
          if (pi == 0 && y == 0 && x == 0) { tlR = r; tlG = g; tlB = bl }
          x += 1
        }
        System.arraycopy(cur, 0, prev, 0, rowLen)
        base += 1 + rowLen
        y += 1
      }
      pi += 1
    }
    Some(PngPixels(id, w, h, sr, sg, sb, tlR, tlG, tlB))
  }

  /** Total per-payload decode outcome: one row per input payload, never
    * fewer — `decode_ok=false` carries the id of an undecodable payload
    * so a curation pipeline can quarantine or count it instead of
    * silently losing the document (the round-7 failure mode: a 0.4% GIF
    * drop was only visible because an oracle counted rows).
    */
  case class PngDecodeRow(id: Long, decode_ok: Boolean, px: Option[PngPixels])

  /** Total PNG-pixel decode: every payload yields a row; failures are
    * flagged, not dropped. The quarantine-friendly entry point.
    */
  def decodePngPixelsTotal(payloads: Dataset[Payload]): Dataset[PngDecodeRow] = {
    implicit val enc = Encoders.product[PngDecodeRow]
    payloads.mapPartitions(_.map { p =>
      val r = parsePngPixels(p.id, p.content)
      PngDecodeRow(p.id, r.isDefined, r)
    })
  }

  /** PNG-pixel twin of [[decodeBatches]]. Undecodable payloads are
    * excluded from the result but COUNTED into `drops` (a driver-visible
    * accumulator, also shown in the Spark UI) — never silently vanished.
    */
  def decodePngPixelBatches(payloads: Dataset[Payload],
                            drops: org.apache.spark.util.LongAccumulator)
      : Dataset[PngPixels] = {
    implicit val enc = Encoders.product[PngPixels]
    payloads.mapPartitions(_.flatMap { p =>
      val r = parsePngPixels(p.id, p.content)
      if (r.isEmpty) drops.add(1L)
      r
    })
  }

  /** Convenience overload: registers its own named drop accumulator
    * (`graft.png_pixel_decode_drops` in the Spark UI).
    */
  def decodePngPixelBatches(payloads: Dataset[Payload]): Dataset[PngPixels] =
    decodePngPixelBatches(payloads,
      payloads.sparkSession.sparkContext.longAccumulator("graft.png_pixel_decode_drops"))

  // ---------------------------------------------------------------------
  // TRUE payload decode #4 — GIF, full LZW pixel walk.
  //
  // GIF's entropy coder is LZW (GIF89a spec appendix F): variable-width
  // codes 3–12 bits, LSB-first bit packing across ≤255-byte sub-blocks,
  // a dictionary rebuilt from clear codes as it decodes. No JDK class
  // implements it — [[parseGifPixels]] is the complete decoder in plain
  // integer arithmetic: screen/image descriptor walk, global or local
  // color table, extension skip, then the LZW stream expanded index by
  // index and mapped through the palette into per-channel sums + the
  // top-left pixel. [[encodeGifRgb]] is the matching true LZW COMPRESSOR
  // (hash-dict, width growth at 2^codeSize, clear-on-full-dict), so
  // round-trips exercise dictionary growth and width transitions, and
  // MultimodalSpec pins per-pixel equality against javax.imageio's
  // independent GIF decoder.
  //
  // Scope: single frame, no interlace (Adam-less raster order), palette
  // from the global table unless the frame carries a local one. The
  // same 2^26 pixel-count cap as PNG bounds adversarial allocation.
  // ---------------------------------------------------------------------

  /** GIF full-decode result (raster is top-down, like PNG). */
  case class GifPixels(id: Long, width: Int, height: Int,
                       sum_r: Long, sum_g: Long, sum_b: Long,
                       tl_r: Int, tl_g: Int, tl_b: Int)

  /** Minimal spec-valid GIF89a writer: `palette` (≤256 RGB triples),
    * `index(x, y)` picks each pixel's palette slot, output carries one
    * global color table and one full-frame image compressed with true
    * LZW (not the uncompressed-literal trick — dictionary entries are
    * built and emitted, so decoders walk their growth path).
    */
  def encodeGifRgb(width: Int, height: Int,
                   palette: Array[(Int, Int, Int)],
                   index: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0, "encodeGifRgb: dims must be positive")
    require(palette.nonEmpty && palette.length <= 256, "palette size 1..256")
    // color-table size is the smallest power of two ≥ palette, min 4
    var gctBits = 2
    while ((1 << gctBits) < palette.length) gctBits += 1
    val gctSize = 1 << gctBits
    // LZW minimum code size must cover the root indices (spec: ≥ 2)
    val minCode = gctBits
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = Bytes.putLe16(out, v)
    out.write("GIF89a".getBytes("US-ASCII"))
    w16(width); w16(height)
    w8(0x80 | 0x70 | (gctBits - 1)) // GCT present, 8-bit color res, size
    w8(0); w8(0)                    // background index, aspect
    var i = 0
    while (i < gctSize) {
      val (r, g, b) = if (i < palette.length) palette(i) else (0, 0, 0)
      w8(r); w8(g); w8(b)
      i += 1
    }
    w8(0x2c); w16(0); w16(0); w16(width); w16(height); w8(0) // image descriptor
    w8(minCode)
    // ---- true LZW compress (LSB-first variable-width codes) ----------
    val clearCode = 1 << minCode
    val endCode = clearCode + 1
    val lzw = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitLen = 0
    var codeSize = minCode + 1
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitLen; bitLen += codeSize
      while (bitLen >= 8) { lzw.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitLen -= 8 }
    }
    // dict maps (prefixCode << 8 | nextIndex) → code; roots are implicit
    var dict = new java.util.HashMap[Integer, Integer]()
    var next = endCode + 1
    emit(clearCode)
    var prefix = -1
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val k = index(x, y)
        require(k >= 0 && k < palette.length, s"index($x,$y)=$k out of palette")
        if (prefix < 0) prefix = k
        else {
          val key = Integer.valueOf((prefix << 8) | k)
          val hit = dict.get(key)
          if (hit != null) prefix = hit.intValue()
          else {
            emit(prefix)
            if (next < 4096) {
              dict.put(key, Integer.valueOf(next))
              next += 1
              // width grows ONE ENTRY LATER than the decoder's
              // next==2^size rule: the decoder's dictionary trails the
              // encoder's by one entry at read time (it adds the entry
              // for code k only after reading code k+1), so the
              // schedules meet on the wire (giflib: ++RunningCode >
              // MaxCode1)
              if (next > (1 << codeSize) && codeSize < 12) codeSize += 1
            } else { // dictionary full: clear and restart
              emit(clearCode)
              dict = new java.util.HashMap[Integer, Integer]()
              next = endCode + 1
              codeSize = minCode + 1
            }
            prefix = k
          }
        }
        x += 1
      }
      y += 1
    }
    if (prefix >= 0) {
      emit(prefix)
      // The FINAL data code needs the same post-emit bookkeeping as every
      // in-loop emit: the decoder will add a dictionary entry after
      // reading it and widen when nextFree hits 2^codeSize, so endCode
      // must be written at that post-add width (giflib's encoder bumps
      // RunningCode on every output, including the last, for the same
      // reason). Round 7 omitted this, so shapes whose final add landed
      // exactly on a width boundary (e.g. 22x17 over the 64-color
      // corpus palette) desynced the reader on the engine's own output.
      if (next < 4096) {
        next += 1
        if (next > (1 << codeSize) && codeSize < 12) codeSize += 1
      }
    }
    emit(endCode)
    if (bitLen > 0) lzw.write((bitBuf & 0xff).toInt)
    // ---- ≤255-byte sub-blocks + terminator ---------------------------
    val z = lzw.toByteArray
    var off = 0
    while (off < z.length) {
      val n = math.min(255, z.length - off)
      w8(n); out.write(z, off, n); off += n
    }
    w8(0); w8(0x3b) // block terminator + trailer
    out.toByteArray
  }

  /** Complete single-frame GIF decode (scope in the section doc). Any
    * malformation — bad signature, missing color table, truncated
    * sub-blocks, out-of-range or premature LZW code, pixel overflow or
    * shortfall — returns None (byte-walk totality law).
    */
  def parseGifPixels(id: Long, b: Array[Byte]): Option[GifPixels] =
    Bytes.total(gifPixels(id, b)).flatten

  private def gifPixels(id: Long, b: Array[Byte]): Option[GifPixels] = {
    if (!hasAt(b, 0, "GIF87a") && !hasAt(b, 0, "GIF89a")) return None
    val r = new Reader(b, 10, b.length)
    val packed = r.u8()
    r.skip(2) // background index, aspect
    var gctOff = -1; var gctBits0 = 0
    if ((packed & 0x80) != 0) {
      gctBits0 = (packed & 0x07) + 1
      gctOff = r.pos
      r.skip(3 * (1 << gctBits0))
    }
    // ---- block walk to the first image descriptor --------------------
    var w = -1; var h = -1; var lctOff = -1; var lctBits = 0
    while (w < 0) {
      r.u8() match {
        case 0x21 => // extension: label, then sub-blocks to a 0 terminator
          r.skip(1)
          var n = r.u8()
          while (n > 0) { r.skip(n); n = r.u8() }
        case 0x2c =>
          r.skip(4) // left, top
          w = r.le16(); h = r.le16()
          val ip = r.u8()
          if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return None
          if ((ip & 0x80) != 0) {
            lctBits = (ip & 0x07) + 1
            lctOff = r.pos
            r.skip(3 * (1 << lctBits))
          }
        case _ => return None // trailer before any image, or garbage
      }
    }
    // NOTE interlaced frames (descriptor bit 0x40 — javax.imageio writes
    // them by DEFAULT) need no special handling HERE: interlacing
    // permutes row order only, channel sums are order-invariant, and
    // interlace pass 1 starts at row 0, so the first emitted pixel is
    // the true top-left in both orders. A variant returning per-ROW
    // stats would have to de-permute.
    val (palOff, palBits) = if (lctOff >= 0) (lctOff, lctBits) else (gctOff, gctBits0)
    if (palOff < 0) return None // no color table at all
    val palN = 1 << palBits // the walk above skipped it: it is inside b
    // ---- LZW expand ---------------------------------------------------
    val minCode = r.u8()
    if (minCode < 2 || minCode > 8) return None
    val clearCode = 1 << minCode
    val endCode = clearCode + 1
    // concatenate the data sub-blocks
    val z = new java.io.ByteArrayOutputStream()
    var n = r.u8()
    while (n > 0) {
      val at = r.pos
      r.skip(n)
      z.write(b, at, n)
      n = r.u8()
    }
    val zb = z.toByteArray
    // dictionary as prefix-chain arrays: entry = (prefix code, tail index)
    val prefixOf = new Array[Int](4096)
    val tailOf = new Array[Int](4096)
    val nPixels = w * h
    val total = nPixels.toLong
    var sr = 0L; var sg = 0L; var sb = 0L
    var tlR = -1; var tlG = 0; var tlB = 0
    var emitted = 0L
    def pal(ix: Int): Int = // packed rgb, -1 if out of palette
      if (ix < 0 || ix >= palN) -1
      else (b(palOff + 3 * ix) & 0xff) << 16 |
        (b(palOff + 3 * ix + 1) & 0xff) << 8 | b(palOff + 3 * ix + 2) & 0xff
    // emit one root index through the palette into the sums
    def fold(ix: Int): Boolean = {
      val rgb = pal(ix)
      if (rgb < 0 || emitted >= total) false
      else {
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val bl = rgb & 0xff
        if (tlR < 0) { tlR = r; tlG = g; tlB = bl }
        sr += r; sg += g; sb += bl; emitted += 1
        true
      }
    }
    // expand a code's index string in raster order (walk the prefix
    // chain into a scratch buffer, then fold forward)
    val scratch = new Array[Int](4096)
    def expand(code: Int, nextFree: Int): Int = { // returns first index, or -1
      var c = code; var depth = 0
      while (c >= clearCode + 2) {
        if (c >= nextFree || depth >= 4096) return -1
        scratch(depth) = tailOf(c); depth += 1; c = prefixOf(c)
      }
      if (c >= clearCode) return -1 // clear/end inside a chain
      if (!fold(c)) return -1
      var i = depth - 1
      while (i >= 0) { if (!fold(scratch(i))) return -1; i -= 1 }
      c
    }
    var bitPos = 0
    var codeSize = minCode + 1
    var nextFree = endCode + 1
    var prev = -1
    var done = false
    def readCode(): Int = {
      if (bitPos + codeSize > zb.length * 8) -1
      else {
        var v = 0; var got = 0
        while (got < codeSize) {
          val byt = zb(bitPos >> 3) & 0xff
          v |= ((byt >> (bitPos & 7)) & 1) << got
          bitPos += 1; got += 1
        }
        v
      }
    }
    while (!done) {
      val code = readCode()
      if (code < 0) {
        // Out of bits. If every pixel is already emitted this is the
        // "late-change" encoder variant (endCode written at the
        // pre-final-add width, so it sits in fewer bits than we now
        // read) or a missing terminator — both decoded leniently by
        // mainstream readers (ImageIO included) because the image is
        // complete. Anything short of a full frame is real truncation.
        if (emitted == total) done = true else return None
      } else
      if (code == clearCode) {
        codeSize = minCode + 1; nextFree = endCode + 1; prev = -1
      } else if (code == endCode) {
        done = true
      } else if (prev < 0) {
        if (code >= clearCode) return None // first code must be a root
        if (!fold(code)) return None
        prev = code
      } else {
        var firstIdx = -1
        if (code < nextFree) {
          firstIdx = expand(code, nextFree)
          if (firstIdx < 0) return None
        } else if (code == nextFree && nextFree < 4096) {
          // the KwKwK case: string = prev's expansion + its first index
          val pf = firstIndexOf(prev, clearCode, prefixOf)
          if (pf < 0) return None
          prefixOf(nextFree) = prev; tailOf(nextFree) = pf
          firstIdx = expand(code, nextFree + 1)
          if (firstIdx < 0) return None
          // entry was added as part of decoding; skip the normal add
          nextFree += 1
          if (nextFree == (1 << codeSize) && codeSize < 12) codeSize += 1
          prev = code
          if (emitted > total) return None
          // continue without the standard add below
          firstIdx = -2
        } else return None
        if (firstIdx != -2) {
          if (nextFree < 4096) {
            prefixOf(nextFree) = prev; tailOf(nextFree) = firstIdx
            nextFree += 1
            if (nextFree == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
          prev = code
        }
        if (emitted > total) return None
      }
    }
    if (emitted != total) return None
    Some(GifPixels(id, w, h, sr, sg, sb, tlR, tlG, tlB))
  }

  /** First root index of a code's expansion (walk the prefix chain). */
  private def firstIndexOf(code: Int, clearCode: Int, prefixOf: Array[Int]): Int = {
    var c = code; var depth = 0
    while (c >= clearCode + 2 && depth < 4096) { c = prefixOf(c); depth += 1 }
    if (c < clearCode) c else -1
  }

  /** Total GIF-pixel decode outcome (see [[PngDecodeRow]]). */
  case class GifDecodeRow(id: Long, decode_ok: Boolean, px: Option[GifPixels])

  /** Total GIF-pixel decode: every payload yields a row; failures are
    * flagged, not dropped.
    */
  def decodeGifPixelsTotal(payloads: Dataset[Payload]): Dataset[GifDecodeRow] = {
    implicit val enc = Encoders.product[GifDecodeRow]
    payloads.mapPartitions(_.map { p =>
      val r = parseGifPixels(p.id, p.content)
      GifDecodeRow(p.id, r.isDefined, r)
    })
  }

  /** GIF-pixel twin of [[decodeBatches]]. Undecodable payloads are
    * excluded from the result but COUNTED into `drops` — never silently
    * vanished (the round-7 lesson: `flatMap(Option)` hid a 2-document
    * LZW loss until an oracle counted rows).
    */
  def decodeGifPixelBatches(payloads: Dataset[Payload],
                            drops: org.apache.spark.util.LongAccumulator)
      : Dataset[GifPixels] = {
    implicit val enc = Encoders.product[GifPixels]
    payloads.mapPartitions(_.flatMap { p =>
      val r = parseGifPixels(p.id, p.content)
      if (r.isEmpty) drops.add(1L)
      r
    })
  }

  /** Convenience overload: registers its own named drop accumulator
    * (`graft.gif_pixel_decode_drops` in the Spark UI).
    */
  def decodeGifPixelBatches(payloads: Dataset[Payload]): Dataset[GifPixels] =
    decodeGifPixelBatches(payloads,
      payloads.sparkSession.sparkContext.longAccumulator("graft.gif_pixel_decode_drops"))

  // ---------------------------------------------------------------------
  // TRUE payload decode #7 — JPEG baseline, the LAST stub-codec boundary.
  //
  // Baseline sequential DCT per ITU-T T.81: 8×8 blocks, level shift,
  // forward DCT, quantization against the Annex K example tables,
  // zigzag, DC-differential + AC run-length Huffman coding with the
  // Annex K "typical" tables, 0xFF byte stuffing. [[encodeJpegBaseline]]
  // is the matching ENCODER (fixed known tables, emitted as real
  // DQT/DHT segments — the decoder reads them back from the stream, it
  // never assumes them); [[parseJpegPixels]] is the complete DECODER:
  // marker walk → DQT/DHT/SOF0/SOS parse → canonical Huffman entropy
  // decode (T.81 Annex F mincode/maxcode/valptr) → dequantize → IDCT →
  // level shift + clamp → per-component sums. The q179 segment walk
  // reads only the frame header; THIS is the payload decode behind it.
  //
  // Scope: baseline (SOF0), 8-bit precision, 1 or 3 components with
  // per-axis sampling factors 1 or 2 — 4:4:4, 4:2:2 AND 4:2:0 (the
  // libjpeg/ImageIO color default), decoded with the full interleaved
  // MCU structure (T.81 A.2.3: compH×compV data units per component
  // per MCU) — a single scan, WITH restart intervals (DRI + cycling
  // RSTm markers: byte-align, verify the modulo-8 sequence, reset DC
  // predictors — the camera-JPEG resilience feature), no progressive/
  // hierarchical modes. Anything else → None (route to a full stack);
  // malformation — truncated entropy stream, a marker mid-scan, a
  // missing table, bad lengths — also → None, never a partial sum. The
  // 2^26 pixel-count cap bounds adversarial allocation (PNG/GIF law).
  //
  // Cross-pinned two ways in MultimodalSpec against javax.imageio's
  // INDEPENDENT libjpeg-derived codec (tolerance ±1 per pixel: T.81
  // does not mandate a bit-exact IDCT), and corpus-pinned exactly by
  // the q219 fixture, whose Python derivation re-implements the DCT
  // chain from the spec formulas with no JPEG library in the loop.
  // ---------------------------------------------------------------------

  /** JPEG full-decode result. Components are the ENCODED planes (Y or
    * Y/Cb/Cr) — per-component sums, not RGB: the decode chain under
    * test is entropy+DCT, and color conversion would only add a second
    * rounding surface on top of it. Each component folds over its OWN
    * resolution (subsampled chroma sums cover `ceil(w/2) × ceil(h/2)`
    * values for 4:2:0 — see [[JpegRaster]]). Grayscale rows carry 0 in
    * c1/c2.
    */
  case class JpegPixels(id: Long, width: Int, height: Int,
                        n_components: Int, sum_c0: Long, sum_c1: Long,
                        sum_c2: Long, tl_c0: Int, tl_c1: Int, tl_c2: Int)

  /** Zigzag scan order (T.81 Figure A.6): position k in the scan ↦
    * natural raster index u*8+v... stored as zz(k) = natural index.
    */
  private[operators] val jpegZigzag: Array[Int] = {
    val zz = new Array[Int](64)
    var k = 0
    var s = 0
    while (s < 15) { // anti-diagonals
      val range = (math.max(0, s - 7) to math.min(7, s))
      val diag = if (s % 2 == 0) range.reverse else range // even diags go up
      diag.foreach { y => zz(k) = y * 8 + (s - y); k += 1 }
      s += 1
    }
    zz
  }

  /** Annex K Table K.1 (luminance) / K.2 (chrominance) quantization
    * tables, natural (raster) order.
    */
  private[operators] val jpegQLuma: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  private[operators] val jpegQChroma: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** One Huffman table spec: `bits(i)` = number of codes of length i+1
    * (16 entries), `vals` = symbols in canonical order.
    */
  private[operators] case class JpegHuffTable(bits: Array[Int], vals: Array[Int]) {
    require(bits.length == 16 && bits.sum == vals.length,
      s"Huffman spec mismatch: ${bits.sum} codes for ${vals.length} symbols")
  }

  // Annex K.3 "typical" Huffman tables. The decoder never assumes these
  // — it reads DHT segments — but the encoder pins them so the fixture
  // can reproduce exact code lengths (and therefore exact byte sizes).
  private[operators] val jpegDcLuma = JpegHuffTable(
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    (0 to 11).toArray)

  private[operators] val jpegDcChroma = JpegHuffTable(
    Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    (0 to 11).toArray)

  private[operators] val jpegAcLuma = JpegHuffTable(
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d),
    Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
      0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
      0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
      0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
      0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
      0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
      0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
      0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
      0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
      0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
      0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
      0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
      0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
      0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
      0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
      0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
      0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
      0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
      0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
      0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
      0xf9, 0xfa))

  private[operators] val jpegAcChroma = JpegHuffTable(
    Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    Array(
      0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
      0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
      0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
      0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
      0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
      0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
      0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
      0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
      0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
      0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
      0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
      0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
      0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
      0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
      0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
      0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
      0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
      0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
      0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
      0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
      0xf9, 0xfa))

  /** Orthonormal 1-D DCT basis, `dctC(u·8 + x) = c(u)/2 · cos((2x+1)uπ/16)`
    * (c(0)=1/√2, else 1). Forward 2-D DCT = C·s·Cᵀ; inverse = Cᵀ·S·C —
    * exactly T.81 A.3.3's definition. Shared by encoder and decoder;
    * the Python fixture builds the same matrix from the same formula.
    */
  private lazy val dctC: Array[Double] = Array.tabulate(64) { i =>
    val u = i / 8
    val cu = if (u == 0) math.sqrt(0.125) else 0.5
    cu * math.cos((2 * (i % 8) + 1) * u * math.Pi / 16)
  }

  /** Canonical code assignment (T.81 Annex C): symbols get consecutive
    * codes within each length, code doubles at each length step.
    * Returns sym → (code, length).
    */
  private def jpegHuffCodes(t: JpegHuffTable): Array[(Int, Int)] = {
    // dense by symbol value (symbols are ≤ 0xff)
    val codes = Array.fill(256)((-1, -1))
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < t.bits(len - 1)) {
        codes(t.vals(k)) = (code, len)
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    codes
  }

  /** Magnitude category (T.81 F.1.2.1): bit length of |v|, 0 for v=0. */
  private def jpegSsss(v: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** What the two JPEG encoders share: the headers, the forward DCT
    * and the entropy-coded segment writer — MSB-first bits with 0xFF
    * byte stuffing (F.1.2.3), 1-bit padding to the byte, and the DC
    * difference and AC run-length codings (F.1.2.1–F.1.2.2) over the
    * Annex K tables, table set 0 for luma and 1 for chroma.
    */
  private final class JpegOut(pixel: (Int, Int, Int) => Int) {
    val out = new java.io.ByteArrayOutputStream(1024)
    private var bitBuf = 0L
    private var bitCnt = 0
    private val dcCodes = Array(jpegHuffCodes(jpegDcLuma), jpegHuffCodes(jpegDcChroma))
    private val acCodes = Array(jpegHuffCodes(jpegAcLuma), jpegHuffCodes(jpegAcChroma))
    private val block = new Array[Double](64)
    private val tmp = new Array[Double](64)

    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = Bytes.putBe16(out, v)
    def marker(m: Int): Unit = { w8(0xff); w8(m) }

    /** SOI, JFIF APP0, DQT, the frame header `sof` (0xC0 baseline,
      * 0xC2 progressive; luma sampled `hs × vs`, chroma 1×1) and DHT.
      */
    def headers(sof: Int, w: Int, h: Int, nComp: Int, hs: Int, vs: Int): Unit = {
      marker(0xd8) // SOI
      marker(0xe0) // APP0 / JFIF
      w16(16); out.write("JFIF".getBytes("US-ASCII")); w8(0)
      w8(1); w8(1) // version 1.1
      w8(0); w16(1); w16(1) // aspect-ratio units, 1:1
      w8(0); w8(0) // no thumbnail
      val qtabs = if (nComp == 1) Seq(jpegQLuma) else Seq(jpegQLuma, jpegQChroma)
      marker(0xdb) // DQT: all tables in one segment, zigzag order
      w16(2 + 65 * qtabs.length)
      qtabs.zipWithIndex.foreach { case (q, id) =>
        w8(id) // 8-bit precision (high nibble 0) + table id
        jpegZigzag.foreach(n => w8(q(n)))
      }
      marker(sof)
      w16(8 + 3 * nComp)
      w8(8); w16(h); w16(w); w8(nComp) // precision, LINES first, then width
      for (c <- 0 until nComp) {
        w8(c + 1) // component id
        w8(if (c == 0) hs << 4 | vs else 0x11) // sampling factors
        w8(if (c == 0) 0 else 1) // quant table
      }
      val huffs = // (class, id, table)
        if (nComp == 1) Seq((0, 0, jpegDcLuma), (1, 0, jpegAcLuma))
        else Seq((0, 0, jpegDcLuma), (1, 0, jpegAcLuma),
          (0, 1, jpegDcChroma), (1, 1, jpegAcChroma))
      marker(0xc4) // DHT: all tables in one segment
      w16(2 + huffs.map(17 + _._3.vals.length).sum)
      huffs.foreach { case (cls, id, t) =>
        w8(cls << 4 | id)
        t.bits.foreach(w8)
        t.vals.foreach(w8)
      }
    }

    /** One 8×8 data unit of component `c` at block coords (bx, by) on
      * that component's OWN grid, clamped to (cw, ch) — edge-replicated
      * — level-shifted, transformed and quantized into `coef(base ..
      * base + 63)` in natural order.
      */
    def fdct(c: Int, bx: Int, by: Int, cw: Int, ch: Int,
             coef: Array[Int], base: Int): Unit = {
      val q = if (c == 0) jpegQLuma else jpegQChroma
      // row-major [v/y][u/x] — the orientation the zigzag sequence and
      // DQT tables are defined in (natural index n = v*8 + u)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val px = math.min(bx * 8 + x, cw - 1)
          val py = math.min(by * 8 + y, ch - 1)
          block(y * 8 + x) = (pixel(c, px, py) & 0xff) - 128.0
          x += 1
        }
        y += 1
      }
      // tmp = C·s (over y), S = tmp·Cᵀ (over x)
      var v = 0
      while (v < 8) {
        var x = 0
        while (x < 8) {
          var s = 0.0
          var yy = 0
          while (yy < 8) { s += dctC(v * 8 + yy) * block(yy * 8 + x); yy += 1 }
          tmp(v * 8 + x) = s
          x += 1
        }
        v += 1
      }
      v = 0
      while (v < 8) {
        var uu = 0
        while (uu < 8) {
          var s = 0.0
          var x = 0
          while (x < 8) { s += tmp(v * 8 + x) * dctC(uu * 8 + x); x += 1 }
          // quantize: floor(S/Q + 0.5) — the fixture mirrors this
          coef(base + v * 8 + uu) = math.floor(s / q(v * 8 + uu) + 0.5).toInt
          uu += 1
        }
        v += 1
      }
    }

    def putBits(code: Int, len: Int): Unit = {
      bitBuf = (bitBuf << len) | (code & ((1L << len) - 1))
      bitCnt += len
      while (bitCnt >= 8) {
        val byte = ((bitBuf >> (bitCnt - 8)) & 0xff).toInt
        w8(byte)
        if (byte == 0xff) w8(0) // byte stuffing
        bitCnt -= 8
      }
    }

    /** Pad to the byte with 1-bits (before a marker). */
    def flush(): Unit = if (bitCnt > 0) putBits((1 << (8 - bitCnt)) - 1, 8 - bitCnt)

    /** A DC difference: category code, then the magnitude bits. */
    def dc(diff: Int, c: Int): Unit = {
      val s0 = jpegSsss(diff)
      val (code, len) = dcCodes(if (c == 0) 0 else 1)(s0)
      putBits(code, len)
      if (s0 > 0) putBits(if (diff >= 0) diff else diff + (1 << s0) - 1, s0)
    }

    /** The AC band 1–63 of the block at `coef(base)`: (run, size)
      * symbols, ZRL for 16-zero runs, EOB when zeros end the block.
      */
    def acBand(coef: Array[Int], base: Int, c: Int): Unit = {
      val codes = acCodes(if (c == 0) 0 else 1)
      var run = 0
      var k = 1
      while (k < 64) {
        val v = coef(base + jpegZigzag(k))
        if (v == 0) run += 1
        else {
          while (run > 15) {
            val (zc, zl) = codes(0xf0); putBits(zc, zl); run -= 16
          }
          val s = jpegSsss(v)
          val (ac, al) = codes(run << 4 | s)
          putBits(ac, al)
          putBits(if (v >= 0) v else v + (1 << s) - 1, s)
          run = 0
        }
        k += 1
      }
      if (run > 0) {
        val (ec, el) = codes(0x00); putBits(ec, el)
      }
    }
  }

  /** Baseline JFIF encoder. `pixel(c, x, y)` supplies component `c`'s
    * sample (0–255) — for `nComp=1` a luma plane, for `nComp=3` the
    * Y/Cb/Cr planes directly (no RGB conversion — see [[JpegPixels]]).
    * With `chroma420` the chroma accessors are sampled on the
    * HALF-RESOLUTION grid (`ceil(w/2) × ceil(h/2)`) and Y carries 2×2
    * sampling factors — the libjpeg/ImageIO color default, with the
    * interleaved 4-Y+Cb+Cr MCU structure; `chroma422` halves only
    * HORIZONTALLY (Y 2×1, the broadcast-video convention, 2-Y+Cb+Cr
    * MCUs, chroma on `ceil(w/2) × h`). Dims need not be
    * block-aligned: edge samples are replicated into the partial
    * blocks (the standard encoder posture — replication keeps the
    * padded block's spectrum tame).
    */
  def encodeJpegBaseline(w: Int, h: Int, nComp: Int,
                         pixel: (Int, Int, Int) => Int,
                         chroma420: Boolean = false,
                         restartInterval: Int = 0,
                         chroma422: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, s"bad jpeg geometry ${w}x$h")
    require(nComp == 1 || nComp == 3, s"baseline encoder: 1 or 3 components, got $nComp")
    require((!chroma420 && !chroma422) || nComp == 3,
      "subsampling needs the 3-component layout")
    require(!(chroma420 && chroma422), "pick one subsampling mode")
    require(restartInterval >= 0 && restartInterval <= 0xffff,
      s"restart interval out of the 16-bit field: $restartInterval")
    // Y sampling factors: 2×2 for 4:2:0, 2×1 for 4:2:2, 1×1 otherwise
    val hs = if (chroma420 || chroma422) 2 else 1
    val vs = if (chroma420) 2 else 1
    val o = new JpegOut(pixel)
    o.headers(0xc0, w, h, nComp, hs, vs)
    if (restartInterval > 0) {
      o.marker(0xdd) // DRI: restart every N MCUs
      o.w16(4); o.w16(restartInterval)
    }
    o.marker(0xda) // SOS
    o.w16(6 + 2 * nComp)
    o.w8(nComp)
    for (c <- 0 until nComp) {
      o.w8(c + 1)
      o.w8(if (c == 0) 0x00 else 0x11) // DC/AC table ids
    }
    o.w8(0); o.w8(63); o.w8(0) // full spectral selection, no approximation

    // ---- entropy-coded data --------------------------------------------
    val blk = new Array[Int](64)
    val pred = new Array[Int](nComp)
    def emitBlock(c: Int, bx: Int, by: Int, cw: Int, ch: Int): Unit = {
      o.fdct(c, bx, by, cw, ch, blk, 0)
      o.dc(blk(0) - pred(c), c)
      pred(c) = blk(0)
      o.acBand(blk, 0, c)
    }
    // interleaved MCU: hs×vs Y blocks, then Cb, then Cr on their
    // subsampled grids. (1,1) degenerates to one block per component.
    val cw = (w + hs - 1) / hs
    val ch = (h + vs - 1) / vs
    val mcuCols = (w + 8 * hs - 1) / (8 * hs)
    val mcuRows = (h + 8 * vs - 1) / (8 * vs)
    var mcusDone = 0
    var rstN = 0
    var my = 0
    while (my < mcuRows) {
      var mx = 0
      while (mx < mcuCols) {
        var v = 0
        while (v < vs) {
          var u = 0
          while (u < hs) {
            emitBlock(0, mx * hs + u, my * vs + v, w, h)
            u += 1
          }
          v += 1
        }
        var c = 1
        while (c < nComp) {
          emitBlock(c, mx, my, cw, ch)
          c += 1
        }
        // After every `restartInterval` MCUs (never after the last):
        // byte-align with 1-bits, emit the cycling RSTm marker, reset
        // every DC predictor (T.81 F.1.2.2.1 / E.1.4).
        mcusDone += 1
        if (restartInterval > 0 && mcusDone % restartInterval == 0 &&
          mcusDone < mcuCols * mcuRows) {
          o.flush()
          o.marker(0xd0 + (rstN % 8))
          rstN += 1
          java.util.Arrays.fill(pred, 0)
        }
        mx += 1
      }
      my += 1
    }
    o.flush()
    o.marker(0xd9) // EOI
    o.out.toByteArray
  }

  /** PROGRESSIVE encoder (SOF2), spectral-selection script: one
    * interleaved DC scan, then one full AC-band (1–63) scan per
    * component — the simplest legal progression (no successive
    * approximation; per-block EOB0 terminators, which ARE EOBn runs of
    * length one). Quantized coefficients are IDENTICAL to what
    * [[encodeJpegBaseline]] produces for the same pixels — progressive
    * is a re-PACKAGING of the same data across scans, so the decoded
    * image (and the fixture's predicted sums) match the baseline
    * encoding exactly. Layouts: 4:4:4 / grayscale, or 4:2:0 with
    * `chroma420`.
    */
  def encodeJpegProgressive(w: Int, h: Int, nComp: Int,
                            pixel: (Int, Int, Int) => Int,
                            chroma420: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, s"bad jpeg geometry ${w}x$h")
    require(nComp == 1 || nComp == 3, s"1 or 3 components, got $nComp")
    require(!chroma420 || nComp == 3, "4:2:0 needs the 3-component layout")
    val o = new JpegOut(pixel)

    // ---- geometry + quantized coefficients (one pass, reused by all
    // scans — the multi-scan structure repackages, never recomputes) ----
    val hMax = if (chroma420) 2 else 1
    val vMax = hMax
    val mcuCols = (w + 8 * hMax - 1) / (8 * hMax)
    val mcuRows = (h + 8 * vMax - 1) / (8 * vMax)
    val cH = Array.tabulate(nComp)(c => if (chroma420 && c > 0) 1 else hMax)
    val cV = cH
    val blocksW = Array.tabulate(nComp)(c => mcuCols * cH(c))
    val blocksH = Array.tabulate(nComp)(c => mcuRows * cV(c))
    val cWpx = Array.tabulate(nComp)(c => (w * cH(c) + hMax - 1) / hMax)
    val cHpx = Array.tabulate(nComp)(c => (h * cV(c) + vMax - 1) / vMax)
    val npW = Array.tabulate(nComp)(c => (cWpx(c) + 7) / 8)
    val npH = Array.tabulate(nComp)(c => (cHpx(c) + 7) / 8)
    val coefs = Array.tabulate(nComp) { c =>
      val arr = new Array[Int](blocksW(c) * blocksH(c) * 64)
      for (br <- 0 until blocksH(c); bc <- 0 until blocksW(c))
        o.fdct(c, bc, br, cWpx(c), cHpx(c), arr, (br * blocksW(c) + bc) * 64)
      arr
    }
    o.headers(0xc2, w, h, nComp, hMax, vMax)

    // DC scan: all components interleaved (non-interleaved when gray)
    o.marker(0xda)
    o.w16(6 + 2 * nComp)
    o.w8(nComp)
    for (c <- 0 until nComp) { o.w8(c + 1); o.w8(if (c == 0) 0x00 else 0x10) }
    o.w8(0); o.w8(0); o.w8(0) // Ss=0 Se=0 Ah/Al=0
    val pred = new Array[Int](nComp)
    for (my <- 0 until mcuRows; mx <- 0 until mcuCols; c <- 0 until nComp;
         dv <- 0 until cV(c); du <- 0 until cH(c)) {
      val dc = coefs(c)(((my * cV(c) + dv) * blocksW(c) + mx * cH(c) + du) * 64)
      o.dc(dc - pred(c), c)
      pred(c) = dc
    }
    o.flush()

    // AC scans: the full 1–63 band per component, non-interleaved
    for (c <- 0 until nComp) {
      o.marker(0xda)
      o.w16(8)
      o.w8(1); o.w8(c + 1); o.w8(if (c == 0) 0x00 else 0x01)
      o.w8(1); o.w8(63); o.w8(0) // Ss=1 Se=63 Ah/Al=0
      for (br <- 0 until npH(c); bc <- 0 until npW(c))
        o.acBand(coefs(c), (br * blocksW(c) + bc) * 64, c) // EOB0: run of one
      o.flush()
    }
    o.marker(0xd9)
    o.out.toByteArray
  }

  /** Full baseline decode — see the section comment for scope. None on
    * anything outside it or on malformation; never a partial sum.
    */
  def parseJpegPixels(id: Long, b: Array[Byte]): Option[JpegPixels] =
    decodeJpegPlanes(b).map { r =>
      val sums = new Array[Long](3)
      val tls = new Array[Int](3)
      var c = 0
      while (c < r.nComp) {
        val plane = r.planes(c)
        var s = 0L
        var y = 0
        while (y < r.compH(c)) {
          var x = 0
          val row = y * r.strides(c)
          while (x < r.compW(c)) { s += plane(row + x) & 0xff; x += 1 }
          y += 1
        }
        sums(c) = s
        tls(c) = plane(0) & 0xff
        c += 1
      }
      JpegPixels(id, r.width, r.height, r.nComp, sums(0), sums(1), sums(2),
        tls(0), tls(1), tls(2))
    }

  /** Canonical Huffman decoder tables (T.81 Annex F mincode/maxcode/
    * valptr).
    */
  private final case class JpegHuffDec(minCode: Array[Int],
      maxCode: Array[Int], valPtr: Array[Int], vals: Array[Int])

  private def jpegDecTable(t: JpegHuffTable): JpegHuffDec = {
    val minC = new Array[Int](17)
    val maxC = Array.fill(17)(-1)
    val vp = new Array[Int](17)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      if (t.bits(len - 1) > 0) {
        vp(len) = k
        minC(len) = code
        code += t.bits(len - 1)
        k += t.bits(len - 1)
        maxC(len) = code - 1
      }
      code <<= 1
      len += 1
    }
    JpegHuffDec(minC, maxC, vp, t.vals)
  }

  /** Entropy bit reader with 0xFF-stuffing removal (F.1.2.3 inverse):
    * MSB-first bits; a stuffed FF 00 yields the FF data byte; any other
    * marker mid-read, or the end of `b`, flags `broken`.
    */
  private final class JpegBits(b: Array[Byte], var pos: Int) {
    var broken = false
    private var bitBuf = 0
    private var bitCnt = 0
    def nextBit(): Int = {
      if (bitCnt == 0) {
        if (pos >= b.length) { broken = true; return 0 }
        val byte = b(pos) & 0xff
        pos += 1
        if (byte == 0xff) {
          if (pos < b.length && b(pos) == 0) pos += 1 // stuffed 0xFF data byte
          else { broken = true; return 0 } // a marker mid-scan
        }
        bitBuf = byte
        bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def decodeSym(t: JpegHuffDec): Int = {
      var code = nextBit()
      var len = 1
      while (!broken && (t.maxCode(len) < 0 || code > t.maxCode(len))) {
        code = code << 1 | nextBit()
        len += 1
        if (len > 16) { broken = true; return -1 }
      }
      if (broken) -1
      else t.vals(t.valPtr(len) + code - t.minCode(len))
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = v << 1 | nextBit(); i += 1 }
      v
    }
    def receiveExtend(ssss: Int): Int = {
      if (ssss == 0) return 0
      val v = receive(ssss)
      if (v < (1 << (ssss - 1))) v - (1 << ssss) + 1 else v
    }
    /** Byte-align and consume the expected cycling RSTm; false on a
      * missing or out-of-sequence marker.
      */
    def expectRst(n: Int): Boolean = {
      bitCnt = 0
      if (pos + 1 < b.length && (b(pos) & 0xff) == 0xff &&
        (b(pos + 1) & 0xff) == 0xd0 + (n % 8)) {
        pos += 2; true
      } else false
    }
  }

  /** Decoded component planes. Each plane is block-padded to
    * `strides(c) × (MCU rows × compV(c) × 8)`; the valid region is
    * `compW(c) × compH(c)` — FULL image resolution for components at
    * the maximum sampling factors, subsampled for the rest (e.g. 4:2:0
    * chroma is `ceil(w/2) × ceil(h/2)`). Sums in [[JpegPixels]] fold
    * each component over its OWN valid region.
    */
  private[graft] case class JpegRaster(width: Int, height: Int, nComp: Int,
      compW: Array[Int], compH: Array[Int], strides: Array[Int],
      planes: Array[Array[Byte]])

  /** The JPEG marker walk (T.81 B.1.1), shared by [[JpegCodec]] and the
    * pixel decoder: SOI, then segments, each an FF (more FF fill bytes
    * allowed) + a marker byte and, except for the standalone markers
    * TEM, RSTn, SOI and EOI, a BE16 length that counts itself.
    * `seg(marker, body)` sees each segment in order, with a Reader over
    * its body (empty when standalone), and returns whether to go on; it
    * may move `r`, as a scan does past its entropy-coded data. Running
    * off the end, a length under 2 or a non-FF byte where a marker must
    * start raises [[Bytes.Damage]].
    */
  private def jpegWalk(r: Reader)(seg: (Int, Reader) => Boolean): Unit = {
    if (r.u8() != 0xff || r.u8() != 0xd8) damage() // SOI
    var go = true
    while (go) {
      if (r.u8() != 0xff) damage()
      var m = r.u8()
      while (m == 0xff) m = r.u8() // fill bytes
      val standalone = m == 0x01 || (m >= 0xd0 && m <= 0xd9)
      val len = if (standalone) 2 else r.be16()
      if (len < 2) damage()
      go = seg(m, r.sub(len - 2))
    }
  }

  /** Table state a scan reads: quantization tables (natural order) and
    * Huffman decoders in slots 0–3, and the restart interval. DQT, DHT
    * and DRI segments update it where the walk meets them, so a scan
    * uses the tables defined before it.
    */
  private final class JpegTables {
    val qt = new Array[Array[Int]](4)
    val dc = new Array[JpegHuffDec](4)
    val ac = new Array[JpegHuffDec](4)
    var restartInterval = 0

    /** DQT: one or more 8-bit tables (Pq = 0), zigzag order. */
    def dqt(s: Reader): Unit = while (s.remaining > 0) {
      val pt = s.u8()
      if ((pt >> 4) != 0 || (pt & 0x0f) > 3) damage()
      val tab = new Array[Int](64)
      var k = 0
      while (k < 64) { tab(jpegZigzag(k)) = s.u8(); k += 1 }
      qt(pt & 0x0f) = tab
    }

    /** DHT: one or more tables, 16 code-length counts then symbols. */
    def dht(s: Reader): Unit = while (s.remaining > 0) {
      val x = s.u8()
      if ((x >> 4) > 1 || (x & 0x0f) > 3) damage()
      val bits = Array.fill(16)(s.u8())
      val n = bits.sum
      if (n > 256) damage()
      val t = jpegDecTable(JpegHuffTable(bits, Array.fill(n)(s.u8())))
      if ((x >> 4) == 0) dc(x & 0x0f) = t else ac(x & 0x0f) = t
    }

    /** DRI: restart interval in MCUs (0 disables). */
    def dri(s: Reader): Unit = {
      if (s.remaining != 2) damage()
      restartInterval = s.be16()
    }
  }

  /** One frame being decoded: the frame header (SOF0 baseline or SOF2
    * progressive, B.2.2) read from `s`, the geometry derived from it,
    * and the component planes. Scope rails: 8-bit precision, 1 or 3
    * components, sampling factors 1 or 2 per axis, the 2^26 pixel cap;
    * anything else raises [[Bytes.Damage]]. A progressive frame also
    * holds every block's coefficients until EOI.
    */
  private final class JpegFrame(s: Reader, val progressive: Boolean) {
    if (s.u8() != 8) damage() // precision
    val height = s.be16()
    val width = s.be16()
    val nComp = s.u8()
    if (width <= 0 || height <= 0) damage()
    if (width.toLong * height > (1L << 26)) damage() // alloc cap
    if ((nComp != 1 && nComp != 3) || s.remaining != 3 * nComp) damage()
    private val compH = new Array[Int](nComp)
    private val compV = new Array[Int](nComp)
    private val compQ = new Array[Int](nComp)
    for (c <- 0 until nComp) {
      s.skip(1) // component id: the scans name components in frame order
      val hv = s.u8()
      compH(c) = hv >> 4
      compV(c) = hv & 0x0f
      // sampling factors 1 or 2 per axis cover 4:4:4, 4:2:2 and 4:2:0
      // — everything the web's encoders emit; exotic ratios route to a
      // full stack
      if (compH(c) < 1 || compH(c) > 2 || compV(c) < 1 || compV(c) > 2)
        damage()
      compQ(c) = s.u8()
      if (compQ(c) > 3) damage()
    }
    if (nComp == 1 && (compH(0) != 1 || compV(0) != 1)) damage()

    // Interleaved MCU structure (T.81 A.2.3): per MCU, component c
    // contributes compH(c)×compV(c) data units on ITS OWN grid; the MCU
    // grid is sized by the maximum sampling factors.
    private val hMax = compH.max
    private val vMax = compV.max
    private val mcuCols = (width + 8 * hMax - 1) / (8 * hMax)
    private val mcuRows = (height + 8 * vMax - 1) / (8 * vMax)
    private val blocksW = Array.tabulate(nComp)(c => mcuCols * compH(c))
    private val blocksH = Array.tabulate(nComp)(c => mcuRows * compV(c))
    private val compWpx = Array.tabulate(nComp)(c =>
      (width * compH(c) + hMax - 1) / hMax)
    private val compHpx = Array.tabulate(nComp)(c =>
      (height * compV(c) + vMax - 1) / vMax)
    // a single-component scan covers only the blocks holding samples
    private val npW = compWpx.map(p => (p + 7) / 8)
    private val npH = compHpx.map(p => (p + 7) / 8)
    private val strides = blocksW.map(_ * 8)
    private lazy val planes = Array.tabulate(nComp)(c =>
      new Array[Byte](strides(c) * blocksH(c) * 8))
    private val coefs =
      if (progressive) Array.tabulate(nComp)(c =>
        new Array[Int](blocksW(c) * blocksH(c) * 64))
      else null
    private val dcDone = new Array[Boolean](nComp)
    private val coef = new Array[Double](64)
    private val tmp = new Array[Double](64)

    /** Dequantize the block at `blk(base)` (natural order), inverse-DCT
      * it, level-shift, round and clamp it into component `c`'s plane
      * at block (bx, by).
      */
    private def idct(c: Int, blk: Array[Int], base: Int, q: Array[Int],
                     bx: Int, by: Int): Unit = {
      var n = 0
      while (n < 64) { coef(n) = blk(base + n).toDouble * q(n); n += 1 }
      // tmp = Cᵀ·S (over v), out = tmp·C (over u)
      var y = 0
      while (y < 8) {
        var uu = 0
        while (uu < 8) {
          var s = 0.0
          var vv = 0
          while (vv < 8) { s += dctC(vv * 8 + y) * coef(vv * 8 + uu); vv += 1 }
          tmp(y * 8 + uu) = s
          uu += 1
        }
        y += 1
      }
      val plane = planes(c)
      val stride = strides(c)
      y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var s = 0.0
          var uu = 0
          while (uu < 8) { s += tmp(y * 8 + uu) * dctC(uu * 8 + x); uu += 1 }
          val px = math.floor(s + 128.5).toInt // round(s+128)
          val clamped = if (px < 0) 0 else if (px > 255) 255 else px
          plane((by * 8 + y) * stride + bx * 8 + x) = clamped.toByte
          x += 1
        }
        y += 1
      }
    }

    /** Decode one scan — header (B.2.3) in `s`, entropy-coded data
      * from `s.end` in `b` — and return the position after it. A
      * baseline frame's one scan is sequential: every component
      * interleaved, the whole band, each block straight through the
      * IDCT into its plane. A progressive scan (G.1.2) plays into the
      * coefficient buffers: DC first/refine over the interleaved MCU
      * grid or one component's block grid, AC first/refine (the
      * correction-bit walk of G.7) for one component only, where EOBn
      * runs span blocks. Restart markers (E.1.4) reset the DC
      * predictors and the EOB run.
      */
    def scan(b: Array[Byte], s: Reader, t: JpegTables): Int = {
      val ns = s.u8()
      if (ns < 1 || ns > nComp || s.remaining != 2 * ns + 3) damage()
      val comp = new Array[Int](ns)
      val dcSel = new Array[Int](ns)
      val acSel = new Array[Int](ns)
      for (i <- 0 until ns) {
        comp(i) = s.u8() - 1
        if (comp(i) < 0 || comp(i) >= nComp) damage()
        val sel = s.u8()
        dcSel(i) = sel >> 4
        acSel(i) = sel & 0x0f
        // Td/Ta are 4-bit fields but only 0–3 name a table slot; a
        // forged selector must fail closed, not index out of bounds
        if (dcSel(i) > 3 || acSel(i) > 3) damage()
      }
      val ss = s.u8()
      val se = s.u8()
      val ahal = s.u8() // successive approximation: high and low bit
      val al = ahal & 0x0f
      val refine = (ahal >> 4) != 0
      if (!progressive) {
        // one interleaved scan, full spectral selection, no successive
        // approximation; referenced tables must exist
        if (ns != nComp || (0 until ns).exists(i => comp(i) != i) ||
          ss != 0 || se != 63 || ahal != 0) damage()
        for (i <- 0 until ns)
          if (t.qt(compQ(i)) == null || t.dc(dcSel(i)) == null ||
            t.ac(acSel(i)) == null) damage()
      } else if (ss == 0) {
        if (se != 0) damage() // a DC scan covers the DC band only
        if (!refine && dcSel.exists(t.dc(_) == null)) damage()
      } else if (ns != 1 || ss > se || se > 63 || t.ac(acSel(0)) == null)
        damage() // AC scans: one component (B.2.3)
      val bits = new JpegBits(b, s.end)
      val pred = new Array[Int](nComp)
      var eobrun = 0
      val p1 = 1 << al
      val blk = new Array[Int](64)

      def dcFirst(i: Int, arr: Array[Int], base: Int): Boolean = {
        val s0 = bits.decodeSym(t.dc(dcSel(i)))
        if (bits.broken || s0 < 0 || s0 > 11) return false
        pred(comp(i)) += bits.receiveExtend(s0)
        arr(base) = pred(comp(i)) << al
        true
      }

      /** Sequential AC: (run, size) symbols until EOB, ZRL skips 16. */
      def acSequential(dec: JpegHuffDec, arr: Array[Int], base: Int): Boolean = {
        var k = 1
        while (k < 64) {
          val rs = bits.decodeSym(dec)
          if (rs < 0) return false
          else if (rs == 0x00) k = 64 // EOB
          else if (rs == 0xf0) k += 16 // ZRL
          else {
            k += rs >> 4
            if (k > 63) return false
            arr(base + jpegZigzag(k)) = bits.receiveExtend(rs & 0x0f)
            k += 1
          }
        }
        true
      }

      def acFirst(dec: JpegHuffDec, arr: Array[Int], base: Int): Boolean = {
        if (eobrun > 0) { eobrun -= 1; return true }
        var k = ss
        var stop = false
        while (k <= se && !stop && !bits.broken) {
          val rs = bits.decodeSym(dec)
          if (rs < 0) return false
          val r = rs >> 4
          val sz = rs & 0x0f
          if (sz != 0) {
            k += r
            if (k > se) return false
            arr(base + jpegZigzag(k)) = bits.receiveExtend(sz) << al
            k += 1
          } else if (r == 15) k += 16 // ZRL
          else {
            // EOBn: run of (1<<r)+bits blocks INCLUDING this one
            eobrun = (1 << r) - 1 + (if (r > 0) bits.receive(r) else 0)
            stop = true
          }
        }
        true
      }

      def acRefine(dec: JpegHuffDec, arr: Array[Int], base: Int): Boolean = {
        var k = ss
        if (eobrun == 0) {
          var stop = false
          while (k <= se && !stop && !bits.broken) {
            val rs = bits.decodeSym(dec)
            if (rs < 0) return false
            var r = rs >> 4
            val sz = rs & 0x0f
            var newVal = 0
            if (sz != 0) {
              if (sz != 1) return false // refinement magnitude is ±1
              newVal = if (bits.nextBit() == 1) p1 else -p1
            } else if (r != 15) {
              eobrun = (1 << r) + (if (r > 0) bits.receive(r) else 0)
              stop = true // rest of this block joins the EOB sweep
            }
            // advance over r zero-HISTORY coefficients, emitting a
            // correction bit for every nonzero one passed (G.7)
            if (!stop) {
              var placed = false
              while (k <= se && !placed && !bits.broken) {
                val z = base + jpegZigzag(k)
                if (arr(z) != 0) {
                  if (bits.nextBit() == 1 && (math.abs(arr(z)) & p1) == 0)
                    arr(z) += (if (arr(z) >= 0) p1 else -p1)
                } else {
                  if (r == 0) {
                    if (newVal != 0) arr(z) = newVal
                    placed = true
                  } else r -= 1
                }
                k += 1
              }
              if (!placed && newVal != 0) return false // ran off the band
            }
          }
        }
        if (eobrun > 0 && !bits.broken) {
          // EOB-run blocks still carry correction bits for their
          // existing nonzero coefficients
          while (k <= se && !bits.broken) {
            val z = base + jpegZigzag(k)
            if (arr(z) != 0) {
              if (bits.nextBit() == 1 && (math.abs(arr(z)) & p1) == 0)
                arr(z) += (if (arr(z) >= 0) p1 else -p1)
            }
            k += 1
          }
          eobrun -= 1
        }
        true
      }

      /** One data unit of scan component `i` at block (bx, by). */
      def unit(i: Int, bx: Int, by: Int): Boolean = {
        val c = comp(i)
        val ok =
          if (!progressive) {
            java.util.Arrays.fill(blk, 0)
            val done = dcFirst(i, blk, 0) &&
              acSequential(t.ac(acSel(i)), blk, 0) && !bits.broken
            if (done) idct(c, blk, 0, t.qt(compQ(c)), bx, by)
            done
          } else {
            val base = (by * blocksW(c) + bx) * 64
            if (ss == 0) {
              if (!refine) dcFirst(i, coefs(c), base)
              else {
                if (bits.nextBit() == 1) coefs(c)(base) |= 1 << al
                true
              }
            } else if (!refine) acFirst(t.ac(acSel(0)), coefs(c), base)
            else acRefine(t.ac(acSel(0)), coefs(c), base)
          }
        ok && !bits.broken
      }

      var rstN = 0
      var unitsDone = 0
      /** After each MCU (each block in a one-component scan). */
      def restart(total: Int): Boolean = {
        unitsDone += 1
        val ri = t.restartInterval
        if (ri > 0 && unitsDone % ri == 0 && unitsDone < total) {
          if (!bits.expectRst(rstN)) return false
          rstN += 1
          java.util.Arrays.fill(pred, 0)
          eobrun = 0
        }
        true
      }

      if (ns > 1) {
        var my = 0
        while (my < mcuRows) {
          var mx = 0
          while (mx < mcuCols) {
            var i = 0
            while (i < ns) {
              val c = comp(i)
              var dv = 0
              while (dv < compV(c)) {
                var du = 0
                while (du < compH(c)) {
                  if (!unit(i, mx * compH(c) + du, my * compV(c) + dv))
                    damage()
                  du += 1
                }
                dv += 1
              }
              i += 1
            }
            if (!restart(mcuCols * mcuRows)) damage()
            mx += 1
          }
          my += 1
        }
      } else {
        val c = comp(0)
        var by = 0
        while (by < npH(c)) {
          var bx = 0
          while (bx < npW(c)) {
            if (!unit(0, bx, by) || !restart(npW(c) * npH(c))) damage()
            bx += 1
          }
          by += 1
        }
      }
      if (ss == 0 && !refine) comp.foreach(dcDone(_) = true)
      bits.pos
    }

    /** The decoded planes, once a baseline scan or every progressive
      * scan is in: a progression that never delivered some component's
      * DC is damage.
      */
    def raster(t: JpegTables): JpegRaster = {
      if (!dcDone.forall(identity)) damage()
      if (progressive) {
        // dequantize → IDCT → clamp every block into its plane
        for (c <- 0 until nComp) {
          val q = t.qt(compQ(c))
          if (q == null) damage()
          for (by <- 0 until blocksH(c); bx <- 0 until blocksW(c))
            idct(c, coefs(c), (by * blocksW(c) + bx) * 64, q, bx, by)
        }
      }
      JpegRaster(width, height, nComp, compWpx, compHpx, strides, planes)
    }
  }

  /** The raster-level decode behind [[parseJpegPixels]] — exposed to the
    * spec for per-pixel cross-pinning against javax.imageio. One marker
    * walk: the frame header picks the mode (SOF0 baseline: one
    * sequential scan, then EOI right after it; SOF2 progressive: scans
    * and table segments until EOI, then reconstruction). Any other
    * frame type, a second frame header or any other malformation →
    * None.
    */
  private[graft] def decodeJpegPlanes(b: Array[Byte]): Option[JpegRaster] =
    Bytes.total {
      val t = new JpegTables
      var f: JpegFrame = null
      var out: JpegRaster = null
      val r = new Reader(b, 0, b.length)
      jpegWalk(r) { (m, s) =>
        m match {
          case 0xc0 | 0xc2 =>
            if (f != null) damage()
            f = new JpegFrame(s, m == 0xc2)
          case 0xdb => t.dqt(s)
          case 0xc4 => t.dht(s)
          case 0xdd => t.dri(s)
          case 0xda =>
            if (f == null) damage()
            r.at(f.scan(b, s, t))
            // after a baseline frame's one scan: only pad bits, then
            // EOI (trailing garbage after it is tolerated, as real
            // writers emit exactly it)
            if (!f.progressive) {
              if (r.u8() != 0xff || r.u8() != 0xd9) damage()
              out = f.raster(t)
            }
          case 0xd9 =>
            if (f == null || !f.progressive) damage()
            out = f.raster(t)
          case mm if (mm >= 0xe0 && mm <= 0xef) || mm == 0xfe => () // APPn, COM
          case _ => damage() // other frame modes, stray markers
        }
        out == null
      }
      out
    }

  /** Batch decode: per-partition iteration (one codec instance per
    * partition, amortized setup — the Scala analog of a `mapInPandas`
    * batch loop). Input partitioning is preserved; repartition by
    * byte-size upstream if payload sizes are skewed.
    */
  def decodeBatches(payloads: Dataset[Payload], codec: Codec = StubCodec): Dataset[Decoded] = {
    implicit val enc = Encoders.product[Decoded]
    payloads.mapPartitions { it =>
      // per-partition setup would open the codec once here
      it.map(codec)
    }
  }
}
