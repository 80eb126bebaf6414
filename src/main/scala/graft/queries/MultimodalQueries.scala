package graft.queries

import graft.Engine
import graft.{functions => gf}
import graft.operators.Multimodal
import graft.functions.{c_round => round}
import org.apache.spark.sql.functions._

/** Multimodal-column coverage over `documents` used as the payload
  * corpus: text bytes stand in for opaque media payloads (the container
  * ships no codecs — see [[graft.operators.Multimodal]] for what is
  * stubbed vs real). Everything here is binary-typed on the Spark side
  * and reproduced by DuckDB over the same bytes.
  */
/** Deterministic media-payload generator shared by q199/q200 and the
  * fixture script (`scripts/make_media_fixture.py` REIMPLEMENTS this
  * derivation in Python — the two must stay in lockstep; the derivation
  * is pinned by the fixture-backed oracles). Seeds are the engine's
  * standard md5 splits (hash60 = hex[0,15), hash56 = hex[15,29)) so the
  * oracle can join on `md5(text)`.
  */
private[queries] object MediaGen {
  def seeds(text: String): (Long, Long) = {
    // (hash60, hash56) of the text from ONE thread-local digest
    // (Md5Hashes' pinned identities, ShardSinkSpec pins the pair
    // against the hex-parse spelling): this runs once per ROW in every
    // media query, and both values are slices of the same 16-byte md5
    // — r18's spelling digested the same bytes twice for the pair; the
    // media fixture oracles pin the resulting bytes end-to-end
    graft.expressions.Md5Hashes.hash60And56Bytes(text.getBytes("UTF-8"))
  }

  /** 2–16 × 5–12 truecolor PNG; height ≥5 puts ALL FIVE §9 filter types
    * (y % 5) in every single image, so the corpus exercises every
    * unfilter path, not just the easy ones.
    */
  def pngFor(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val w = (2 + s1 % 15).toInt
    val h = (5 + s2 % 8).toInt
    graft.operators.Multimodal.encodePngRgb(w, h, (x, y) => (
      ((s1 + 7L * y + 11L * x) % 256).toInt,
      ((s2 + 13L * y + 3L * x + 101) % 256).toInt,
      ((s1 + s2 + 5L * y + 17L * x + 202) % 256).toInt), y => y % 5)
  }

  /** Adam7-interlaced twin of [[pngFor]]: identical pixel derivation,
    * the §8.2 seven-pass layout — so its decoded sums must equal the
    * SAME fixture row q199 joins, while the byte stream exercises the
    * pass-geometry arithmetic (several passes are empty or partial at
    * these dims).
    */
  def pngInterlacedFor(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val w = (2 + s1 % 15).toInt
    val h = (5 + s2 % 8).toInt
    graft.operators.Multimodal.encodePngRgb(w, h, (x, y) => (
      ((s1 + 7L * y + 11L * x) % 256).toInt,
      ((s2 + 13L * y + 3L * x + 101) % 256).toInt,
      ((s1 + s2 + 5L * y + 17L * x + 202) % 256).toInt), y => y % 5,
      interlaced = true)
  }

  /** Paletted PNG (color type 3 — the icon / legacy-web layout):
    * depth cycles 1/2/4/8 by seed with a FULL 2^depth palette, indices
    * packed MSB-first into sub-byte rows, palette colors direct affine
    * functions of the entry index and the seeds (so the oracle
    * recomputes resolved channel sums without parsing bytes), all five
    * §9 filters in every image, and odd seeds Adam7-interlace — sums
    * are placement-independent so one oracle covers both layouts.
    */
  def pngPalettedFor(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val depth = Array(1, 2, 4, 8)((s1 % 4).toInt)
    val nPal = 1 << depth
    val w = (3 + s1 % 6).toInt
    val h = (2 + s2 % 5).toInt
    val palette = new Array[Byte](nPal * 3)
    var j = 0
    while (j < nPal) {
      palette(3 * j) = ((j * 37L + s1) % 256).toByte
      palette(3 * j + 1) = ((j * 59L + s2) % 256).toByte
      palette(3 * j + 2) = ((j * 83L + s1 + s2) % 256).toByte
      j += 1
    }
    graft.operators.Multimodal.encodePngPaletted(w, h, palette,
      (x, y) => ((s2 + 3L * x + 7L * y) % nPal).toInt,
      y => y % 5, depth, interlaced = s2 % 2 == 1)
  }

  /** 4–11 × 3–8 chunky RGB TIFF with LZW strips + the horizontal-
    * differencing predictor (the scanned-document archive layout):
    * x/4-grouped ramps give the dictionary real strings to grow on.
    */
  def tiffLzwFor(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val w = (4 + s1 % 8).toInt
    val h = (3 + s2 % 6).toInt
    graft.operators.Multimodal.encodeTiffCompressed(w, h, 3,
      (c, x, y) =>
        ((s1 + (x / 4) * 5L + y * 11L + c * 17L) % 256).toInt, 5)
  }

  /** PackBits twin (the fax/scanner RLE layout): x/6-grouped ramps put
    * real runs in every row. Dims swap the seed roles so the two TIFF
    * corpora differ per document.
    */
  def tiffPackBitsFor(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val w = (4 + s2 % 8).toInt
    val h = (3 + s1 % 6).toInt
    graft.operators.Multimodal.encodeTiffCompressed(w, h, 3,
      (c, x, y) =>
        ((s2 + (x / 6) * 31L + y * 7L + c * 13L) % 256).toInt, 32773)
  }

  /** PLANAR (PlanarConfiguration=2) RGB TIFF: each channel's samples
    * in their OWN plane-major segments, predictor lag 1. The seed
    * cycles the SEGMENT GEOMETRY too — half the corpus planar strips
    * (LZW / PackBits), half planar 16×16 tiles (none/LZW/PackBits,
    * nonzero padding) — so one corpus covers the full planar matrix.
    */
  def tiffPlanarFor(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val px = (c: Int, x: Int, y: Int) =>
      ((s2 + (x / 4) * 13L + y * 9L + c * 41L) % 256).toInt
    if (s1 % 2 == 0) {
      val w = (5 + s1 % 10).toInt
      val h = (4 + s2 % 7).toInt
      graft.operators.Multimodal.encodeTiffCompressed(w, h, 3, px,
        if (s1 % 4 == 0) 5 else 32773, planar = 2)
    } else {
      val w = (17 + s1 % 24).toInt
      val h = (17 + s2 % 18).toInt
      val comp = (s1 % 3) match {
        case 0 => 1
        case 1 => 5
        case _ => 32773
      }
      graft.operators.Multimodal.encodeTiffTiled(w, h, 3, px, comp,
        pad = ((s1 % 255) + 1).toInt, planar = 2)
    }
  }

  /** 17–48 × 17–40 TILED RGB TIFF (the GIS/medical layout, §15): 16×16
    * tiles, so every image has 2–3 tiles per axis and most have PARTIAL
    * edge tiles whose padding is a seed-dependent NONZERO byte — a
    * decoder that forgets to clip folds the padding into its sums and
    * fails the oracle. Compression cycles none/LZW/PackBits by seed so
    * all three tile codecs ride the same corpus.
    */
  def tiffTiledFor(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val w = (17 + s1 % 32).toInt
    val h = (17 + s2 % 24).toInt
    val compression = (s1 % 3) match {
      case 0 => 1
      case 1 => 5
      case _ => 32773
    }
    graft.operators.Multimodal.encodeTiffTiled(w, h, 3,
      (c, x, y) =>
        ((s1 + (x / 5) * 9L + y * 3L + c * 29L) % 256).toInt,
      compression, pad = ((s2 % 255) + 1).toInt)
  }

  /** 64-color palette shared by every generated GIF. */
  val gifPalette: Array[(Int, Int, Int)] = Array.tabulate(64)(i =>
    ((i * 4 + 1) % 256, (i * 7 + 3) % 256, (i * 13 + 5) % 256))

  /** 8–32 × 8–24 GIF (up to 768 px): big enough that the LZW dictionary
    * grows through 7→8→9-bit code widths on real corpus rows, not only
    * in the unit specs.
    */
  def gifFor(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val w = (8 + s1 % 25).toInt
    val h = (8 + s2 % 17).toInt
    graft.operators.Multimodal.encodeGifRgb(w, h, gifPalette,
      (x, y) => ((s1 + 7L * y + 11L * x) % 64).toInt)
  }

  /** 8–24 × 8–20 baseline JPEG; even-s1 docs are 3-component 4:4:4
    * (Y/Cb/Cr planes generated directly), odd-s1 docs grayscale, so one
    * corpus carries both interleave shapes AND both partial-block
    * geometries (dims are rarely multiples of 8 → edge-replicated pad
    * blocks on most rows). The linear-ramp-mod-256 formulas wrap inside
    * most blocks, putting real high-frequency content through the AC
    * Huffman paths, while blocks without a wrap quantize to sparse
    * spectra that exercise the run-length/EOB paths.
    */
  def jpegFor(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val w = (8 + s1 % 17).toInt
    val h = (8 + s2 % 13).toInt
    val nComp = if (s1 % 2 == 0) 3 else 1
    graft.operators.Multimodal.encodeJpegBaseline(w, h, nComp,
      (c, x, y) =>
        ((s2 + (7L + 5L * c) * y + (11L + 2L * c) * x + 31L * c) % 256).toInt)
  }

  /** The 4:2:0 twin of [[jpegFor]]: always 3-component color with Y at
    * 2×2 sampling and chroma generated DIRECTLY on the half-resolution
    * grid — the interleaved 4-Y+Cb+Cr MCU layout the web's baseline
    * encoders default to. Same dims range; non-16-aligned dims give
    * partial MCUs on most rows.
    */
  def jpeg420For(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val w = (8 + s1 % 17).toInt
    val h = (8 + s2 % 13).toInt
    graft.operators.Multimodal.encodeJpegBaseline(w, h, 3,
      (c, x, y) =>
        ((s2 + (7L + 5L * c) * y + (11L + 2L * c) * x + 31L * c) % 256).toInt,
      chroma420 = true)
  }

  /** Restart-marked twin: always 3-component color (even-s1 docs
    * 4:2:0, odd-s1 4:4:4) with a 1–4-MCU restart interval, so RSTm
    * cycling and DC-predictor resets land mid-image on nearly every
    * row — the camera-JPEG resilience layout.
    */
  def jpegRstFor(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val w = (8 + s1 % 17).toInt
    val h = (8 + s2 % 13).toInt
    graft.operators.Multimodal.encodeJpegBaseline(w, h, 3,
      (c, x, y) =>
        ((s2 + (7L + 5L * c) * y + (11L + 2L * c) * x + 31L * c) % 256).toInt,
      chroma420 = s1 % 2 == 0, restartInterval = (1 + s1 % 4).toInt)
  }

  /** Progressive (SOF2) twin of [[jpegRstFor]]'s corpus mix: 3-component
    * color, even-s1 docs 4:2:0, odd-s1 4:4:4, spectral-selection scans
    * (interleaved DC, then the 1–63 AC band per component). Quantized
    * coefficients are identical to the baseline packaging, so decoded
    * sums match [[jpeg420For]]/[[jpegFor]]-style predictions while the
    * byte stream exercises the multi-scan machinery.
    */
  def jpegProgFor(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val w = (8 + s1 % 17).toInt
    val h = (8 + s2 % 13).toInt
    graft.operators.Multimodal.encodeJpegProgressive(w, h, 3,
      (c, x, y) =>
        ((s2 + (7L + 5L * c) * y + (11L + 2L * c) * x + 31L * c) % 256).toInt,
      chroma420 = s1 % 2 == 0)
  }

  /** 4–14 × 4–10 (even) Y4M clip, 3–10 frames. Even-s1 docs carry full
    * 4:2:0 chroma planes (which the luma walk must STRIDE over — a
    * mis-stride desyncs every later FRAME marker); odd-s1 docs are
    * `Cmono`, so both plane geometries exist in one corpus.
    */
  def y4mFor(text: String): Array[Byte] = {
    val (s1, s2) = seeds(text)
    val w = 2 * (2 + s1 % 6).toInt
    val h = 2 * (2 + s2 % 4).toInt
    val frames = (3 + s1 % 8).toInt
    graft.operators.Multimodal.encodeY4m(w, h, frames,
      (x, y, f) => ((s2 + 3L * x + 5L * y + 11L * f) % 256).toInt,
      (cx, cy, fp) => ((s1 + cx + cy + fp) % 256).toInt,
      chroma420 = s1 % 2 == 0)
  }
}

object MultimodalQueries {

  import OracleSql.{sqlHash56, sqlHash60}

  // hex-string byte builders for the in-query media fixtures (testdata
  // ships no binary media column, so each query constructs well-formed
  // header bytes from document hashes, then parses them BACK out of the
  // raw bytes with the real codecs — see q174's rationale). Shared with
  // the other byte-walk queries via [[HexBytes]].
  import HexBytes.{hexByte, le16, le32, be32, sqlLe16, sqlLe32, sqlByte,
    sqlLe16At, sqlLe32At, sqlBe32At, sqlU8x, sqlU16x, sqlU32x,
    sqlLe16x, sqlLe32x}

  val defs: Seq[(String, QueryDef)] = Seq(

    // Payload ingest: binary column + typed metadata struct (modality,
    // size, checksum) + stub-decoded dimensions. Metadata is computed
    // once here; downstream projections never touch the bytes again.
    "q40_payload_metadata" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
          .withColumn("payload", encode(col("text"), "UTF-8"))
        val dims = Multimodal.stubImageDims(col("payload"))
        d.select(col("doc_id"),
          Multimodal.payloadMetadata(col("payload"), "image").as("meta"),
          dims.as("dims"))
          .select(col("doc_id"),
            col("meta.modality").as("modality"),
            col("meta.size_bytes").cast("long").as("size_bytes"),
            col("meta.checksum").as("checksum"),
            col("dims.width").as("width"),
            col("dims.height").as("height"),
            col("dims.channels").as("channels"))
      },
      oracle = Some(s"""
        SELECT doc_id,
               'image' AS modality,
               octet_length(encode(text)) AS size_bytes,
               md5(text) AS checksum,
               CAST(16 + ${sqlHash60("text")} % 1008 AS INTEGER) AS width,
               CAST(16 + ${sqlHash56("text")} % 1008 AS INTEGER) AS height,
               CAST([1, 3, 4][CAST(${sqlHash60("text")} % 3 AS INTEGER) + 1] AS INTEGER) AS channels
        FROM documents"""),
      headline = true),

    // Resize planning: aspect-preserving short-side-to-224 metadata
    // arithmetic over the stub-decoded dimensions.
    "q41_resize_plan" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
          .withColumn("payload", encode(col("text"), "UTF-8"))
          .withColumn("dims", Multimodal.stubImageDims(col("payload")))
        d.select(col("doc_id"),
          col("dims.width").as("width"), col("dims.height").as("height"),
          Multimodal.resizePlan(col("dims"), 224).as("r"))
          .select(col("doc_id"), col("width"), col("height"),
            col("r.width").as("out_width"), col("r.height").as("out_height"))
      },
      oracle = Some(s"""
        WITH dims AS (
          SELECT doc_id,
                 CAST(16 + ${sqlHash60("text")} % 1008 AS INTEGER) AS width,
                 CAST(16 + ${sqlHash56("text")} % 1008 AS INTEGER) AS height
          FROM documents)
        SELECT doc_id, width, height,
               CAST(CASE WHEN width <= height THEN 224
                    ELSE round(width * 224.0 / height) END AS INTEGER) AS out_width,
               CAST(CASE WHEN width <= height THEN round(height * 224.0 / width)
                    ELSE 224 END AS INTEGER) AS out_height
        FROM dims""")),

    // Video frame sampling: 4 evenly spaced frame timestamps per payload
    // via sequence+posexplode — row explosion without a UDF.
    "q42_frame_sample" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
          .withColumn("duration_s", (lit(1) + pmod(col("n_chars"), lit(120))).cast("double"))
        Multimodal.frameSample(d, col("doc_id"), col("duration_s"), n = 4)
          .withColumnRenamed("id", "doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               CAST(1 + n_chars % 120 AS DOUBLE) AS duration_s,
               CAST(f AS INTEGER) AS frame_idx,
               round((1 + n_chars % 120) * f / 4.0, 3) AS frame_ts,
               md5(doc_id::VARCHAR || ':' || f::VARCHAR) AS frame_checksum
        FROM documents, generate_series(0, 3) AS t(f)"""),
      headline = false),

    // REAL PNG header decode through the production decode path: each
    // document deterministically yields a well-formed PNG signature+IHDR
    // byte string (width/height/color-type derived from the text hash),
    // and Multimodal.PngCodec parses the DIMENSIONS BACK OUT OF THE RAW
    // BYTES via decodeBatches — the per-partition batch plumbing a real
    // image corpus rides. The oracle rebuilds the identical bytes in
    // DuckDB and parses them with substring/hex arithmetic, so both
    // engines go bytes → dims; neither shortcuts from the generator
    // params. (Construction is in-query because testdata ships no binary
    // image column; the codec itself never sees the generator params.)
    "q174_png_header" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val hx8 = (c: org.apache.spark.sql.Column) => lpad(hex(c.cast("long")), 8, "0")
        val w = lit(16) + pmod(gf.hash60(col("text")), lit(1000))
        val h = lit(16) + pmod(gf.hash56b(col("text")), lit(1000))
        val colorType = element_at(
          array(lit(0), lit(2), lit(3), lit(4), lit(6)),
          (pmod(gf.hash60(col("text")), lit(5)) + 1).cast("int"))
        val png = unhex(concat(
          lit("89504E470D0A1A0A"), // signature
          lit("0000000D49484452"), // IHDR length=13 + type
          hx8(w), hx8(h),          // width, height (4-byte BE each)
          lit("08"), lpad(hex(colorType.cast("long")), 2, "0"),
          lit("000000")))          // bit depth 8; compression/filter/interlace
        val payloads = Engine.table(s, dir, "documents")
          .select(col("doc_id").as("id"), lit("image").as("modality"),
            png.as("content")).as[Multimodal.Payload]
        Multimodal.decodeBatches(payloads, Multimodal.PngCodec).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("channels"))
      },
      oracle = Some(s"""
        WITH p AS (
          SELECT doc_id, concat(
              '89504E470D0A1A0A', '0000000D49484452',
              lpad(hex(16 + ${sqlHash60("text")} % 1000), 8, '0'),
              lpad(hex(16 + ${sqlHash56("text")} % 1000), 8, '0'),
              '08',
              lpad(hex([0, 2, 3, 4, 6][CAST(${sqlHash60("text")} % 5 AS INTEGER) + 1]), 2, '0'),
              '000000') AS png_hex
          FROM documents),
        b AS ( -- round-trip through BLOB so the oracle parses BYTES, not its own hex
          SELECT doc_id, hex(from_hex(png_hex)) AS hx FROM p)
        SELECT doc_id,
               CAST(CAST(concat('0x', substr(hx, 33, 8)) AS BIGINT) AS INTEGER) AS width,
               CAST(CAST(concat('0x', substr(hx, 41, 8)) AS BIGINT) AS INTEGER) AS height,
               CAST(CASE CAST(concat('0x', substr(hx, 51, 2)) AS BIGINT)
                    WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1
                    WHEN 4 THEN 2 WHEN 6 THEN 4 END AS INTEGER) AS channels
        FROM b"""),
      headline = false),

    // Mixed-format media corpus: each document becomes a PNG (big-endian
    // dims), GIF (little-endian), or BMP (LE int32 + bpp-derived
    // channels) header, and Multimodal.MediaCodec routes each payload by
    // its MAGIC BYTES to the right parser — the dispatch a real crawl's
    // media bucket needs, since format arrives mixed and mislabeled. The
    // oracle rebuilds the same bytes and parses them per-format with the
    // matching endianness.
    "q175_media_dims" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val fmt = pmod(gf.hash60(col("text")), lit(3)) // 0 png, 1 gif, 2 bmp
        val w = lit(16) + pmod(gf.hash60(col("text")), lit(1000))
        val h = lit(16) + pmod(gf.hash56b(col("text")), lit(1000))
        val bpp = element_at(array(lit(8), lit(24), lit(32)),
          (pmod(gf.hash56b(col("text")), lit(3)) + 1).cast("int"))
        val png = concat(lit("89504E470D0A1A0A0000000D49484452"),
          be32(w), be32(h), lit("0802000000")) // bit depth 8, truecolor
        val gif = concat(lit("474946383961"), le16(w), le16(h), lit("000000"))
        val bmp = concat(lit("424D"), lit("00000000"), lit("00000000"),
          lit("36000000"), lit("28000000"), le32(w), le32(h), lit("0100"),
          le16(bpp))
        val payloads = Engine.table(s, dir, "documents")
          .select(col("doc_id").as("id"),
            element_at(array(lit("png"), lit("gif"), lit("bmp")),
              (fmt + 1).cast("int")).as("modality"),
            unhex(when(fmt === 0, png).when(fmt === 1, gif).otherwise(bmp))
              .as("content")).as[Multimodal.Payload]
        Multimodal.decodeBatches(payloads, Multimodal.MediaCodec).toDF()
          .select(col("id").as("doc_id"), col("modality").as("fmt"),
            col("width"), col("height"), col("channels"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 CAST(${sqlHash60("text")} % 3 AS INTEGER) AS fmt_i,
                 16 + ${sqlHash60("text")} % 1000 AS w,
                 16 + ${sqlHash56("text")} % 1000 AS h,
                 [8, 24, 32][CAST(${sqlHash56("text")} % 3 AS INTEGER) + 1] AS bpp
          FROM documents),
        p AS (
          SELECT doc_id, fmt_i,
                 CASE fmt_i
                   WHEN 0 THEN concat('89504E470D0A1A0A0000000D49484452',
                     lpad(hex(w), 8, '0'), lpad(hex(h), 8, '0'), '0802000000')
                   WHEN 1 THEN concat('474946383961',
                     ${sqlLe16("w")}, ${sqlLe16("h")}, '000000')
                   ELSE concat('424D', '00000000', '00000000', '36000000',
                     '28000000', ${sqlLe32("w")}, ${sqlLe32("h")}, '0100',
                     ${sqlLe16("bpp")})
                 END AS media_hex
          FROM g),
        b AS (SELECT doc_id, fmt_i, hex(from_hex(media_hex)) AS hx FROM p)
        SELECT doc_id,
               ['png', 'gif', 'bmp'][fmt_i + 1] AS fmt,
               CAST(CASE fmt_i WHEN 0 THEN ${sqlBe32At(16)}
                    WHEN 1 THEN ${sqlLe16At(6)}
                    ELSE ${sqlLe32At(18)} END AS INTEGER) AS width,
               CAST(CASE fmt_i WHEN 0 THEN ${sqlBe32At(20)}
                    WHEN 1 THEN ${sqlLe16At(8)}
                    ELSE ${sqlLe32At(22)} END AS INTEGER) AS height,
               CAST(CASE fmt_i WHEN 0 THEN 3 -- color type 2 parsed in q174
                    WHEN 1 THEN 1
                    ELSE ${sqlLe16At(28)} // 8 END AS INTEGER) AS channels
        FROM b"""),
      headline = false),

    // WAV/RIFF audio metadata: canonical 44-byte header (RIFF + fmt +
    // data chunks) built from document hashes, parsed back byte-level by
    // Multimodal.parseWav through the typed decodeAudioBatches path —
    // channels/rate/bits from the fmt chunk, sample count from the data
    // size, duration as exact integer floor millis. The audio analog of
    // q174: duration filtering and resample planning at 100 TB read 44
    // bytes per object, never the samples.
    "q176_wav_header" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val sr = element_at(array(lit(8000), lit(16000), lit(22050),
          lit(44100), lit(48000)),
          (pmod(gf.hash60(col("text")), lit(5)) + 1).cast("int"))
        val ch = (lit(1) + pmod(gf.hash56b(col("text")), lit(2))).cast("long")
        val bits = element_at(array(lit(8), lit(16), lit(24)),
          (pmod(gf.hash60(col("text")), lit(3)) + 1).cast("int"))
        // bytes/sample as its own integer pick (same index as `bits`):
        // Spark's `/` on longs is double division, and exact-integer hex
        // construction must never route through floats
        val bytesPerSample = element_at(array(lit(1L), lit(2L), lit(3L)),
          (pmod(gf.hash60(col("text")), lit(3)) + 1).cast("int"))
        val n = lit(1) + pmod(gf.hash56b(col("text")), lit(48000))
        val frameBytes = ch * bytesPerSample
        val dataBytes = n.cast("long") * frameBytes
        val wav = concat(
          lit("52494646"), le32(dataBytes + lit(36L)), lit("57415645"),
          lit("666D7420"), lit("10000000"), lit("0100"),
          le16(ch), le32(sr), le32(sr.cast("long") * frameBytes),
          le16(frameBytes), le16(bits),
          lit("64617461"), le32(dataBytes))
        val payloads = Engine.table(s, dir, "documents")
          .select(col("doc_id").as("id"), lit("audio").as("modality"),
            unhex(wav).as("content")).as[Multimodal.Payload]
        Multimodal.decodeAudioBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("channels"),
            col("sampleRate").as("sample_rate"),
            col("bitsPerSample").as("bits"),
            col("nSamples").as("n_samples"),
            col("durationMs").as("duration_ms"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 [8000, 16000, 22050, 44100, 48000][CAST(${sqlHash60("text")} % 5 AS INTEGER) + 1] AS sr,
                 1 + ${sqlHash56("text")} % 2 AS ch,
                 [8, 16, 24][CAST(${sqlHash60("text")} % 3 AS INTEGER) + 1] AS bits,
                 1 + ${sqlHash56("text")} % 48000 AS n
          FROM documents),
        p AS (
          SELECT doc_id, concat(
              '52494646', ${sqlLe32("n * (ch * bits // 8) + 36")}, '57415645',
              '666D7420', '10000000', '0100',
              ${sqlLe16("ch")}, ${sqlLe32("sr")},
              ${sqlLe32("sr * (ch * bits // 8)")},
              ${sqlLe16("ch * bits // 8")}, ${sqlLe16("bits")},
              '64617461', ${sqlLe32("n * (ch * bits // 8)")}) AS wav_hex
          FROM g),
        b AS (SELECT doc_id, hex(from_hex(wav_hex)) AS hx FROM p),
        parsed AS (
          SELECT doc_id,
                 ${sqlLe16At(22)} AS ch, ${sqlLe32At(24)} AS sr,
                 ${sqlLe16At(34)} AS bits, ${sqlLe32At(40)} AS data_bytes
          FROM b)
        SELECT doc_id,
               CAST(ch AS INTEGER) AS channels,
               CAST(sr AS INTEGER) AS sample_rate,
               CAST(bits AS INTEGER) AS bits,
               CAST(data_bytes // (ch * bits // 8) AS BIGINT) AS n_samples,
               CAST((data_bytes // (ch * bits // 8)) * 1000 // sr AS BIGINT) AS duration_ms
        FROM parsed""")),

    // JPEG frame header via a real SEGMENT WALK: unlike PNG/GIF/BMP/WAV,
    // JPEG dims sit at a VARIABLE offset — behind however many APPn/COM
    // segments the encoder emitted. Each document builds a JPEG with a
    // hash-length COM filler and (half the time) a second APP0 filler
    // before a SOF0-or-SOF2 frame header, so Multimodal.JpegCodec must
    // actually chain length fields to find the dims; the oracle walks
    // the same bytes with a recursive CTE (pos -> pos + 2 + len@pos+2
    // until a SOF marker). Fixed-offset shortcuts fail this query by
    // construction.
    "q179_jpeg_header" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val be16h = (c: org.apache.spark.sql.Column) =>
          lpad(hex(c.cast("long")), 4, "0")
        val d = Engine.table(s, dir, "documents")
          .withColumn("pad1", pmod(gf.hash60(col("text")), lit(64)).cast("int"))
          .withColumn("pad2", pmod(gf.hash56b(col("text")), lit(32)).cast("int"))
          .withColumn("nci", (pmod(gf.hash56b(col("text")), lit(3)) + 1).cast("int"))
          .withColumn("w", lit(16) + pmod(gf.hash60(col("text")), lit(1000)))
          .withColumn("h", lit(16) + pmod(gf.hash56b(col("text")), lit(1000)))
        val sof = concat(lit("FF"),
          element_at(array(lit("C0"), lit("C2")),
            (pmod(gf.hash60(col("text")), lit(2)) + 1).cast("int")),
          element_at(array(lit("000B"), lit("0011"), lit("0014")), col("nci")),
          lit("08"), be16h(col("h")), be16h(col("w")),
          element_at(array(lit("01"), lit("03"), lit("04")), col("nci")),
          element_at(array(lit("011100"), lit("011100021100031100"),
            lit("011100021100031100041100")), col("nci")))
        val jhex = concat(lit("FFD8"),
          lit("FFFE"), be16h(col("pad1") + 2), expr("repeat('00', pad1)"),
          when(pmod(gf.hash56b(col("text")), lit(2)) === 1,
            concat(lit("FFE0"), be16h(col("pad2") + 2),
              expr("repeat('00', pad2)"))).otherwise(lit("")),
          sof)
        val payloads = d.select(col("doc_id").as("id"),
          lit("image").as("modality"), unhex(jhex).as("content"))
          .as[Multimodal.Payload]
        Multimodal.decodeBatches(payloads, Multimodal.MediaCodec).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("channels"))
      },
      oracle = Some(s"""
        WITH RECURSIVE g AS (
          SELECT doc_id,
                 CAST(${sqlHash60("text")} % 64 AS INTEGER) AS pad1,
                 CAST(${sqlHash56("text")} % 32 AS INTEGER) AS pad2,
                 ${sqlHash56("text")} % 2 = 1 AS has2,
                 CAST(${sqlHash56("text")} % 3 AS INTEGER) + 1 AS nci,
                 16 + ${sqlHash60("text")} % 1000 AS w,
                 16 + ${sqlHash56("text")} % 1000 AS h,
                 CAST(${sqlHash60("text")} % 2 AS INTEGER) AS mki
          FROM documents),
        p AS (
          SELECT doc_id, concat('FFD8',
              'FFFE', lpad(hex(pad1 + 2), 4, '0'), repeat('00', pad1),
              CASE WHEN has2 THEN concat('FFE0', lpad(hex(pad2 + 2), 4, '0'),
                   repeat('00', pad2)) ELSE '' END,
              'FF', ['C0', 'C2'][mki + 1],
              ['000B', '0011', '0014'][nci], '08',
              lpad(hex(h), 4, '0'), lpad(hex(w), 4, '0'),
              ['01', '03', '04'][nci],
              ['011100', '011100021100031100',
               '011100021100031100041100'][nci]) AS jhex
          FROM g),
        b AS (SELECT doc_id, hex(from_hex(jhex)) AS hx FROM p),
        walk AS (
          SELECT doc_id, hx, 2 AS pos FROM b
          UNION ALL
          SELECT doc_id, hx,
                 CAST(pos + 2 + CAST(concat('0x', substr(hx, 2*pos + 5, 4)) AS BIGINT) AS INTEGER)
          FROM walk
          WHERE CAST(concat('0x', substr(hx, 2*pos + 3, 2)) AS BIGINT) NOT IN (192, 193, 194)
            AND 2*pos + 3 <= length(hx))
        SELECT doc_id,
               CAST(CAST(concat('0x', substr(hx, 2*pos + 15, 4)) AS BIGINT) AS INTEGER) AS width,
               CAST(CAST(concat('0x', substr(hx, 2*pos + 11, 4)) AS BIGINT) AS INTEGER) AS height,
               CAST(CAST(concat('0x', substr(hx, 2*pos + 19, 2)) AS BIGINT) AS INTEGER) AS channels
        FROM walk
        WHERE CAST(concat('0x', substr(hx, 2*pos + 3, 2)) AS BIGINT) IN (192, 193, 194)"""),
      headline = false),

    // MP4/ISO-BMFF movie header via a real BOX WALK: duration and
    // timescale live in moov>mvhd, behind a variable-size `free` box and
    // a variable-size `udta` child, so Multimodal.parseMp4 strides
    // top-level boxes by their OWN size fields (a 100 GB mdat skips in
    // one stride), then moov's children. The oracle drives the same
    // walk from bytes: it READS each size field out of the hex to
    // compute the next offset — never from the generator params.
    "q180_mp4_header" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val d = Engine.table(s, dir, "documents")
          .withColumn("pad1", pmod(gf.hash60(col("text")), lit(64)).cast("int"))
          .withColumn("pad2", pmod(gf.hash56b(col("text")), lit(48)).cast("int"))
          .withColumn("ts", element_at(
            array(lit(600L), lit(1000L), lit(25L), lit(48000L), lit(90000L)),
            (pmod(gf.hash60(col("text")), lit(5)) + 1).cast("int")))
          .withColumn("dur", pmod(gf.hash56b(col("text")), lit(10000000L)))
        val mvhd = concat(be32(lit(36)), lit("6D766864"), lit("00000000"),
          lit("00000000"), lit("00000000"), be32(col("ts")), be32(col("dur")),
          lit("0000000000000000"))
        val mhex = concat(
          lit("00000010"), lit("66747970"), lit("69736F6D"), lit("00000200"),
          be32(col("pad1") + 8), lit("66726565"), expr("repeat('00', pad1)"),
          be32(col("pad2") + lit(8) + lit(8) + lit(36)), lit("6D6F6F76"),
          be32(col("pad2") + 8), lit("75647461"), expr("repeat('00', pad2)"),
          mvhd)
        val payloads = d.select(col("doc_id").as("id"),
          lit("video").as("modality"), unhex(mhex).as("content"))
          .as[Multimodal.Payload]
        Multimodal.decodeVideoBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("timescale"), col("duration"),
            col("durationMs").as("duration_ms"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 CAST(${sqlHash60("text")} % 64 AS INTEGER) AS pad1,
                 CAST(${sqlHash56("text")} % 48 AS INTEGER) AS pad2,
                 [600, 1000, 25, 48000, 90000][CAST(${sqlHash60("text")} % 5 AS INTEGER) + 1] AS ts,
                 ${sqlHash56("text")} % 10000000 AS dur
          FROM documents),
        p AS (
          SELECT doc_id, concat(
              '00000010', '66747970', '69736F6D', '00000200',
              lpad(hex(pad1 + 8), 8, '0'), '66726565', repeat('00', pad1),
              lpad(hex(pad2 + 52), 8, '0'), '6D6F6F76',
              lpad(hex(pad2 + 8), 8, '0'), '75647461', repeat('00', pad2),
              lpad(hex(36), 8, '0'), '6D766864', '00000000', '00000000',
              '00000000', lpad(hex(ts), 8, '0'), lpad(hex(dur), 8, '0'),
              '0000000000000000') AS mhex
          FROM g),
        b AS (SELECT doc_id, hex(from_hex(mhex)) AS hx FROM p),
        w1 AS (
          SELECT doc_id, hx,
                 16 + CAST(concat('0x', substr(hx, 33, 8)) AS BIGINT) AS moov_off
          FROM b),
        w2 AS (
          SELECT doc_id, hx, moov_off + 8 +
                 CAST(concat('0x', substr(hx, 2*(moov_off + 8) + 1, 8)) AS BIGINT) AS mvhd_off
          FROM w1)
        SELECT doc_id,
               CAST(concat('0x', substr(hx, 2*(mvhd_off + 20) + 1, 8)) AS BIGINT) AS timescale,
               CAST(concat('0x', substr(hx, 2*(mvhd_off + 24) + 1, 8)) AS BIGINT) AS duration,
               CAST(CAST(concat('0x', substr(hx, 2*(mvhd_off + 24) + 1, 8)) AS BIGINT) * 1000
                    // CAST(concat('0x', substr(hx, 2*(mvhd_off + 20) + 1, 8)) AS BIGINT) AS BIGINT) AS duration_ms
        FROM w2"""),
      headline = false),

    // TIFF image header via a POINTER-CHASE (the scanned-document
    // corpus format): the header names the byte order (II little / MM
    // big) and the first-IFD offset; the IFD is a count plus 12-byte
    // tagged entries whose width/height/SamplesPerPixel values
    // Multimodal.TiffCodec extracts honoring EITHER endianness from one
    // code path. Half the corpus is built little-endian, half
    // big-endian, so both arms execute. The oracle chases the same
    // pointers: byte order from bytes 0-1, IFD offset from bytes 4-7,
    // entry count from the IFD, tags from a bounded series join — every
    // offset READ from the hex, endianness switched per row.
    "q186_tiff_header" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val be16h = (c: org.apache.spark.sql.Column) =>
          lpad(hex(c.cast("long")), 4, "0")
        val isLE = pmod(gf.hash60(col("text")), lit(2)) === 0
        val w = lit(16) + pmod(gf.hash60(col("text")), lit(1000))
        val h = lit(16) + pmod(gf.hash56b(col("text")), lit(1000))
        val ch = element_at(array(lit(1), lit(3), lit(4)),
          (pmod(gf.hash56b(col("text")), lit(3)) + 1).cast("int"))
        val ii = concat(lit("49492A00"), lit("08000000"), lit("0300"),
          le16(lit(256)), le16(lit(4)), le32(lit(1)), le32(w),
          le16(lit(257)), le16(lit(4)), le32(lit(1)), le32(h),
          le16(lit(277)), le16(lit(3)), le32(lit(1)), le16(ch), lit("0000"),
          lit("00000000"))
        val mm = concat(lit("4D4D002A"), lit("00000008"), lit("0003"),
          be16h(lit(256)), be16h(lit(4)), be32(lit(1)), be32(w),
          be16h(lit(257)), be16h(lit(4)), be32(lit(1)), be32(h),
          be16h(lit(277)), be16h(lit(3)), be32(lit(1)), be16h(ch), lit("0000"),
          lit("00000000"))
        val payloads = Engine.table(s, dir, "documents")
          .select(col("doc_id").as("id"), lit("image").as("modality"),
            unhex(when(isLE, ii).otherwise(mm)).as("content"))
          .as[Multimodal.Payload]
        Multimodal.decodeBatches(payloads, Multimodal.MediaCodec).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("channels"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 ${sqlHash60("text")} % 2 = 0 AS is_le,
                 16 + ${sqlHash60("text")} % 1000 AS w,
                 16 + ${sqlHash56("text")} % 1000 AS h,
                 [1, 3, 4][CAST(${sqlHash56("text")} % 3 AS INTEGER) + 1] AS ch
          FROM documents),
        p AS (
          SELECT doc_id, CASE WHEN is_le THEN concat(
              '49492A00', '08000000', '0300',
              ${sqlLe16("256")}, ${sqlLe16("4")}, ${sqlLe32("1")}, ${sqlLe32("w")},
              ${sqlLe16("257")}, ${sqlLe16("4")}, ${sqlLe32("1")}, ${sqlLe32("h")},
              ${sqlLe16("277")}, ${sqlLe16("3")}, ${sqlLe32("1")}, ${sqlLe16("ch")},
              '0000', '00000000')
            ELSE concat(
              '4D4D002A', '00000008', '0003',
              lpad(hex(256), 4, '0'), lpad(hex(4), 4, '0'),
              lpad(hex(1), 8, '0'), lpad(hex(w), 8, '0'),
              lpad(hex(257), 4, '0'), lpad(hex(4), 4, '0'),
              lpad(hex(1), 8, '0'), lpad(hex(h), 8, '0'),
              lpad(hex(277), 4, '0'), lpad(hex(3), 4, '0'),
              lpad(hex(1), 8, '0'), lpad(hex(ch), 4, '0'),
              '0000', '00000000') END AS thex
          FROM g),
        b AS (SELECT doc_id, hex(from_hex(thex)) AS hx FROM p),
        hdr AS (SELECT doc_id, hx, substr(hx, 1, 4) = '4949' AS le FROM b),
        w1 AS (SELECT doc_id, hx, le, ${sqlU32x("4", "le")} AS ifd FROM hdr),
        w2 AS (SELECT doc_id, hx, le, ifd, ${sqlU16x("ifd", "le")} AS n FROM w1),
        e AS (
          SELECT doc_id, hx, le, ifd + 2 + 12*(s.i - 1) AS eoff
          FROM w2 JOIN generate_series(1, 8) AS s(i) ON s.i <= n),
        tagged AS (
          SELECT doc_id, hx, le, eoff,
                 ${sqlU16x("eoff", "le")} AS tag,
                 ${sqlU16x("eoff + 2", "le")} AS typ
          FROM e),
        vals AS (
          SELECT doc_id, tag,
                 CASE WHEN typ = 3 THEN ${sqlU16x("eoff + 8", "le")}
                      WHEN typ = 4 THEN ${sqlU32x("eoff + 8", "le")} END AS v
          FROM tagged)
        SELECT doc_id,
               CAST(max(CASE WHEN tag = 256 THEN v END) AS INTEGER) AS width,
               CAST(max(CASE WHEN tag = 257 THEN v END) AS INTEGER) AS height,
               CAST(coalesce(max(CASE WHEN tag = 277 THEN v END), 1) AS INTEGER) AS channels
        FROM vals GROUP BY doc_id"""),
      headline = false),

    // MP3 frame walk: like WARC, frame K+1 is only reachable through
    // frame K's header — length = 144000·bitrate/rate + padding, with
    // bitrate/rate read from PUBLIC MPEG-1 tables per frame and the
    // padding bit varying frame to frame. Each document becomes a
    // 1–8-frame stream; Multimodal.parseMp3 strides it to an exact
    // frame count and duration (1152 samples/frame). The oracle walks
    // the same bytes with a recursive CTE doing the same table lookups.
    "q191_mp3_frames" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val brTab = array(Seq(32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
          192, 224, 256, 320).map(lit): _*)
        val d = Engine.table(s, dir, "documents")
          .withColumn("h56", gf.hash56b(col("text")))
          .withColumn("sidx", pmod(gf.hash60(col("text")), lit(3)).cast("int"))
          .withColumn("bidx", (lit(1) + pmod(col("h56"), lit(14))).cast("int"))
          .withColumn("nf", (lit(1) + pmod(gf.hash60(col("text")), lit(8))).cast("int"))
          .withColumn("sr", element_at(array(lit(44100), lit(48000), lit(32000)),
            col("sidx") + 1))
          .withColumn("br", element_at(brTab, col("bidx")))
        val frames = d
          .select(col("doc_id"), col("h56"), col("sidx"), col("bidx"),
            col("sr"), col("br"), explode(sequence(lit(1), col("nf"))).as("i"))
          .withColumn("pad", pmod(col("h56") + col("i"), lit(2)).cast("int"))
        val framed = frames
          .withColumn("flen", (col("br") * 144000 / col("sr")).cast("int") + col("pad"))
          .withColumn("b2", col("bidx") * 16 + col("sidx") * 4 + col("pad") * 2)
          .withColumn("fhex", concat(lit("FFFB"),
            lpad(hex(col("b2").cast("long")), 2, "0"), lit("00"),
            expr("repeat('00', flen - 4)")))
        val payloads = framed
          .groupBy(col("doc_id"))
          .agg(concat_ws("", transform(
            array_sort(collect_list(struct(col("i"), col("fhex")))),
            x => x.getField("fhex"))).as("mhex"))
          .select(col("doc_id").as("id"), lit("audio").as("modality"),
            unhex(col("mhex")).as("content")).as[Multimodal.Payload]
        Multimodal.decodeMp3Batches(payloads).toDF()
          .select(col("id").as("doc_id"), col("nFrames").as("n_frames"),
            col("sampleRate").as("sample_rate"),
            col("bitrateKbps").as("bitrate_kbps"),
            col("durationMs").as("duration_ms"))
      },
      oracle = Some(s"""
        WITH RECURSIVE g AS (
          SELECT doc_id,
                 CAST(${sqlHash60("text")} % 3 AS INT) AS sidx,
                 CAST(1 + ${sqlHash56("text")} % 14 AS INT) AS bidx,
                 CAST(1 + ${sqlHash60("text")} % 8 AS INT) AS nf,
                 ${sqlHash56("text")} AS h56
          FROM documents),
        g2 AS (
          SELECT doc_id, sidx, bidx, nf, h56,
                 [44100, 48000, 32000][sidx + 1] AS sr,
                 [32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                  192, 224, 256, 320][bidx] AS br
          FROM g),
        frames AS (
          SELECT doc_id, sidx, bidx, sr, br, s.i,
                 CAST((h56 + s.i) % 2 AS INT) AS pad
          FROM g2 JOIN generate_series(1, 8) AS s(i) ON s.i <= nf),
        fhex AS (
          SELECT doc_id, i, concat('FFFB',
                 lpad(hex(bidx * 16 + sidx * 4 + pad * 2), 2, '0'), '00',
                 repeat('00', 144000 * br // sr + pad - 4)) AS fh
          FROM frames),
        p AS (
          SELECT doc_id, string_agg(fh, '' ORDER BY i) AS mhex
          FROM fhex GROUP BY doc_id),
        b AS (SELECT doc_id, hex(from_hex(mhex)) AS hx FROM p),
        walk AS (
          SELECT doc_id, hx, 0 AS pos, 0 AS n, -1 AS rate, -1 AS kbps
          FROM b
          UNION ALL
          SELECT doc_id, hx,
                 CAST(pos + 144000 *
                   [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                    192, 224, 256, 320, 0][CAST(b2 // 16 AS INT) + 1]
                   // [44100, 48000, 32000, 1][CAST((b2 // 4) % 4 AS INT) + 1]
                   + (b2 // 2) % 2 AS INT),
                 n + 1,
                 CAST(CASE WHEN n = 0
                   THEN [44100, 48000, 32000, 1][CAST((b2 // 4) % 4 AS INT) + 1]
                   ELSE rate END AS INT),
                 CAST(CASE WHEN n = 0
                   THEN [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                         192, 224, 256, 320, 0][CAST(b2 // 16 AS INT) + 1]
                   ELSE kbps END AS INT)
          FROM (
            -- TRY_CAST: the terminal step reads past the hex (empty
            -- substr) and must yield NULL, not a cast error
            SELECT doc_id, hx, pos, n, rate, kbps,
                   TRY_CAST(concat('0x', substr(hx, 2*pos + 5, 2)) AS BIGINT) AS b2,
                   TRY_CAST(concat('0x', substr(hx, 2*pos + 3, 2)) AS BIGINT) AS b1
            FROM walk) t
          WHERE substr(hx, 2*pos + 1, 2) = 'FF' AND b1 IN (250, 251)
            AND b2 IS NOT NULL)
        SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
               rate AS sample_rate, kbps AS bitrate_kbps,
               CAST(n * 1152 * 1000 // rate AS BIGINT) AS duration_ms
        FROM walk
        WHERE n > 0
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY n DESC) = 1"""),
      headline = false),

    // WebP — one container, THREE header layouts, all exercised: a third
    // of the corpus is lossy VP8 (sync + 14-bit LE dims), a third
    // lossless VP8L (dims-1 BIT-PACKED across 4 bytes + alpha flag), a
    // third extended VP8X (24-bit LE canvas dims-1 + alpha flag).
    // Multimodal.WebPCodec routes on the chunk fourCC READ FROM THE
    // BYTES; the oracle reads the same fourCC and unpacks the same bit
    // fields. The dominant modern crawl image format, and the only
    // codec here whose dims are not byte-aligned.
    "q192_webp_dims" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val le24 = (c: org.apache.spark.sql.Column) =>
          concat(hexByte(c), hexByte(shiftright(c.cast("long"), 8)),
            hexByte(shiftright(c.cast("long"), 16)))
        val v = pmod(gf.hash60(col("text")), lit(3))
        val w = (lit(16) + pmod(gf.hash60(col("text")), lit(1000))).cast("long")
        val h = (lit(16) + pmod(gf.hash56b(col("text")), lit(1000))).cast("long")
        val alpha = pmod(gf.hash56b(col("text")), lit(2)).cast("long")
        val w1 = w - 1
        val h1 = h - 1
        val vp8 = concat(lit("56503820"), le32(lit(10)), lit("000000"),
          lit("9D012A"), le16(w), le16(h))
        val b1 = shiftright(w1, 8).bitwiseAND(lit(0x3FL)) +
          h1.bitwiseAND(lit(3L)) * 64
        val b3 = shiftright(h1, 10).bitwiseAND(lit(0xFL)) + alpha * 16
        val vp8l = concat(lit("5650384C"), le32(lit(5)), lit("2F"),
          hexByte(w1), hexByte(b1), hexByte(shiftright(h1, 2)), hexByte(b3))
        val vp8x = concat(lit("56503858"), le32(lit(10)),
          when(alpha === 1, lit("10")).otherwise(lit("00")), lit("000000"),
          le24(w1), le24(h1))
        val whex = concat(lit("52494646"),
          le32(when(v === 1, lit(17)).otherwise(lit(22))), lit("57454250"),
          when(v === 0, vp8).when(v === 1, vp8l).otherwise(vp8x))
        val payloads = Engine.table(s, dir, "documents")
          .select(col("doc_id").as("id"), lit("image").as("modality"),
            unhex(whex).as("content")).as[Multimodal.Payload]
        Multimodal.decodeBatches(payloads, Multimodal.MediaCodec).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("channels"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 CAST(${sqlHash60("text")} % 3 AS INT) AS v,
                 16 + ${sqlHash60("text")} % 1000 AS w,
                 16 + ${sqlHash56("text")} % 1000 AS h,
                 CAST(${sqlHash56("text")} % 2 AS INT) AS alpha
          FROM documents),
        p AS (
          SELECT doc_id, concat('52494646',
              CASE WHEN v = 1 THEN ${sqlLe32("17")} ELSE ${sqlLe32("22")} END,
              '57454250',
              CASE v
                WHEN 0 THEN concat('56503820', ${sqlLe32("10")}, '000000',
                  '9D012A', ${sqlLe16("w")}, ${sqlLe16("h")})
                WHEN 1 THEN concat('5650384C', ${sqlLe32("5")}, '2F',
                  lpad(hex((w - 1) % 256), 2, '0'),
                  lpad(hex(((w - 1) // 256) % 64 + ((h - 1) % 4) * 64), 2, '0'),
                  lpad(hex(((h - 1) // 4) % 256), 2, '0'),
                  lpad(hex(((h - 1) // 1024) % 16 + alpha * 16), 2, '0'))
                ELSE concat('56503858', ${sqlLe32("10")},
                  CASE WHEN alpha = 1 THEN '10' ELSE '00' END, '000000',
                  concat(lpad(hex((w - 1) % 256), 2, '0'),
                         lpad(hex(((w - 1) // 256) % 256), 2, '0'),
                         lpad(hex(((w - 1) // 65536) % 256), 2, '0')),
                  concat(lpad(hex((h - 1) % 256), 2, '0'),
                         lpad(hex(((h - 1) // 256) % 256), 2, '0'),
                         lpad(hex(((h - 1) // 65536) % 256), 2, '0')))
              END) AS whex
          FROM g),
        b AS (SELECT doc_id, hex(from_hex(whex)) AS hx FROM p),
        c AS (SELECT doc_id, hx, substr(hx, 25, 8) AS cc FROM b)
        SELECT doc_id,
               CAST(CASE cc
                 WHEN '56503820' THEN ${sqlLe16At(26)} % 16384
                 WHEN '5650384C' THEN ${sqlByte(2 * 21 + 1)} +
                   256 * (${sqlByte(2 * 22 + 1)} % 64) + 1
                 ELSE ${sqlByte(2 * 24 + 1)} + 256 * ${sqlByte(2 * 25 + 1)} +
                   65536 * ${sqlByte(2 * 26 + 1)} + 1
               END AS INTEGER) AS width,
               CAST(CASE cc
                 WHEN '56503820' THEN ${sqlLe16At(28)} % 16384
                 WHEN '5650384C' THEN ${sqlByte(2 * 22 + 1)} // 64 +
                   4 * ${sqlByte(2 * 23 + 1)} +
                   1024 * (${sqlByte(2 * 24 + 1)} % 16) + 1
                 ELSE ${sqlByte(2 * 27 + 1)} + 256 * ${sqlByte(2 * 28 + 1)} +
                   65536 * ${sqlByte(2 * 29 + 1)} + 1
               END AS INTEGER) AS height,
               CAST(CASE cc
                 WHEN '56503820' THEN 3
                 WHEN '5650384C' THEN 3 + ${sqlByte(2 * 24 + 1)} // 16
                 ELSE 3 + (${sqlByte(2 * 20 + 1)} // 16) % 2
               END AS INTEGER) AS channels
        FROM c"""),
      headline = false),

    // TRUE payload decode #1 — 24-bit uncompressed BMP pixels. The one
    // image format that needs no entropy coder: every document becomes
    // a tiny BMP (2–5 × 2–4 px, deterministic pixel bytes) and
    // parseBmpPixels folds EVERY PIXEL BYTE into per-channel sums/means
    // plus the top-left pixel — honoring the physical layout the means
    // silently depend on: the 4-byte row stride (padding bytes are
    // generated but must be SKIPPED; widths 2/3/5 pad 2/3/1 bytes,
    // width 4 pads none) and bottom-up row order (the top-left pixel is
    // the last file row — wrong order flips tl_* on every non-uniform
    // image). The oracle walks the identical bytes per (y, x) position
    // with hex arithmetic; neither engine shortcuts from the generator.
    "q195_bmp_pixels" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val id = col("doc_id")
        val w = (lit(2) + pmod(gf.hash60(col("text")), lit(4))).cast("int")
        val h = (lit(2) + pmod(gf.hash56b(col("text")), lit(3))).cast("int")
        val stride = (w * 3 + 3) - pmod(w * 3 + 3, lit(4))
        val nbytes = h * stride
        val pixHex = array_join(transform(sequence(lit(0), nbytes - 1),
          i => lpad(hex(pmod(id * 7 + i * 13, lit(256))), 2, "0")), "")
        val bmp = unhex(concat(
          lit("424D"), le32(nbytes + 54), lit("00000000"), le32(lit(54)),
          le32(lit(40)), le32(w), le32(h), le16(lit(1)), le16(lit(24)),
          le32(lit(0)), le32(nbytes), le32(lit(2835)), le32(lit(2835)),
          le32(lit(0)), le32(lit(0)), pixHex))
        val payloads = Engine.table(s, dir, "documents")
          .select(id.as("id"), lit("image").as("modality"),
            bmp.as("content")).as[Multimodal.Payload]
        Multimodal.decodeBmpPixelBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("sum_b"), col("sum_g"), col("sum_r"),
            round(col("sum_b").cast("double") /
              (col("width") * col("height")), 4).as("mean_b"),
            round(col("sum_g").cast("double") /
              (col("width") * col("height")), 4).as("mean_g"),
            round(col("sum_r").cast("double") /
              (col("width") * col("height")), 4).as("mean_r"),
            col("tl_b"), col("tl_g"), col("tl_r"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 2 + ${sqlHash60("text")} % 4 AS w,
                 2 + ${sqlHash56("text")} % 3 AS h
          FROM documents),
        sgen AS (
          SELECT doc_id, w, h, (w*3+3) - (w*3+3) % 4 AS stride FROM g),
        p AS (
          SELECT doc_id, concat(
              '424D', ${sqlLe32("h*stride + 54")}, '00000000',
              ${sqlLe32("54")}, ${sqlLe32("40")}, ${sqlLe32("w")},
              ${sqlLe32("h")}, ${sqlLe16("1")}, ${sqlLe16("24")},
              ${sqlLe32("0")}, ${sqlLe32("h*stride")},
              ${sqlLe32("2835")}, ${sqlLe32("2835")},
              ${sqlLe32("0")}, ${sqlLe32("0")},
              array_to_string(list_transform(range(h*stride),
                i -> lpad(hex((doc_id*7 + i*13) % 256), 2, '0')), '')
            ) AS bhex
          FROM sgen),
        b AS ( -- round-trip through BLOB: the oracle parses BYTES
          SELECT doc_id, hex(from_hex(bhex)) AS hx FROM p),
        hdr AS (
          SELECT doc_id, hx,
                 ${sqlLe32At(10)} AS off, ${sqlLe32At(18)} AS w2,
                 ${sqlLe32At(22)} AS h2,
                 (${sqlLe32At(18)}*3+3) - (${sqlLe32At(18)}*3+3) % 4 AS stride2
          FROM b),
        px AS (
          SELECT doc_id, w2, h2, ys.y, xs.x,
                 ${sqlU8x("off + y*stride2 + x*3")} AS bb,
                 ${sqlU8x("off + y*stride2 + x*3 + 1")} AS gg,
                 ${sqlU8x("off + y*stride2 + x*3 + 2")} AS rr
          FROM hdr
          JOIN generate_series(0, 3) ys(y) ON ys.y < h2
          JOIN generate_series(0, 4) xs(x) ON xs.x < w2)
        SELECT doc_id,
               CAST(w2 AS INTEGER) AS width, CAST(h2 AS INTEGER) AS height,
               CAST(sum(bb) AS BIGINT) AS sum_b,
               CAST(sum(gg) AS BIGINT) AS sum_g,
               CAST(sum(rr) AS BIGINT) AS sum_r,
               round(CAST(sum(bb) AS DOUBLE) / (w2*h2), 4) AS mean_b,
               round(CAST(sum(gg) AS DOUBLE) / (w2*h2), 4) AS mean_g,
               round(CAST(sum(rr) AS DOUBLE) / (w2*h2), 4) AS mean_r,
               -- bottom-up rows: the image's top-left is file row h2-1
               CAST(max(CASE WHEN y = h2-1 AND x = 0 THEN bb END) AS INTEGER) AS tl_b,
               CAST(max(CASE WHEN y = h2-1 AND x = 0 THEN gg END) AS INTEGER) AS tl_g,
               CAST(max(CASE WHEN y = h2-1 AND x = 0 THEN rr END) AS INTEGER) AS tl_r
        FROM px GROUP BY doc_id, w2, h2"""),
      headline = false),

    // TRUE payload decode #2 — 16-bit mono PCM WAV samples. The one
    // audio format with no codec: each document becomes a canonical
    // 44-byte-header WAV with 8–23 deterministic signed samples, and
    // parseWavSamples folds EVERY SAMPLE (LE signed 16-bit two's
    // complement) into count/min/max/sum — the loudness/clipping/DC
    // screen a real audio pipeline runs before resampling. The sample
    // values straddle zero (-2048..2047), so a sign-extension mistake
    // flips min_amp on nearly every row. The oracle re-reads each
    // sample from the bytes with hex arithmetic.
    "q196_wav_pcm" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val id = col("doc_id")
        val n = (lit(8) + pmod(gf.hash60(col("text")), lit(16))).cast("int")
        val sampleHex = array_join(transform(sequence(lit(0), n - 1), i => {
          val v = pmod(pmod(id * 31 + i * 17, lit(4096)) + 63488, lit(65536))
          concat(lpad(hex(pmod(v, lit(256))), 2, "0"),
            lpad(hex(shiftright(v.cast("long"), 8)), 2, "0"))
        }), "")
        val wav = unhex(concat(
          lit("52494646"), le32(n * 2 + 36), lit("57415645"),
          lit("666D7420"), le32(lit(16)), le16(lit(1)), le16(lit(1)),
          le32(lit(8000)), le32(lit(16000)), le16(lit(2)), le16(lit(16)),
          lit("64617461"), le32(n * 2), sampleHex))
        val payloads = Engine.table(s, dir, "documents")
          .select(id.as("id"), lit("audio").as("modality"),
            wav.as("content")).as[Multimodal.Payload]
        Multimodal.decodeWavSampleBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("n_samples"),
            col("min_amp"), col("max_amp"), col("sum_amp"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id, 8 + ${sqlHash60("text")} % 16 AS n FROM documents),
        p AS (
          SELECT doc_id, concat(
              '52494646', ${sqlLe32("n*2 + 36")}, '57415645',
              '666D7420', ${sqlLe32("16")}, ${sqlLe16("1")}, ${sqlLe16("1")},
              ${sqlLe32("8000")}, ${sqlLe32("16000")}, ${sqlLe16("2")},
              ${sqlLe16("16")}, '64617461', ${sqlLe32("n*2")},
              array_to_string(list_transform(range(n),
                i -> concat(
                  lpad(hex((((doc_id*31 + i*17) % 4096) + 63488) % 65536 % 256), 2, '0'),
                  lpad(hex(((((doc_id*31 + i*17) % 4096) + 63488) % 65536) // 256), 2, '0'))), '')
            ) AS whex
          FROM g),
        b AS (SELECT doc_id, hex(from_hex(whex)) AS hx FROM p),
        hdr AS (SELECT doc_id, hx, ${sqlLe32At(40)} // 2 AS n2 FROM b),
        sm AS (
          SELECT doc_id, n2,
                 CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
          FROM (SELECT doc_id, n2,
                  ${sqlU8x("44 + 2*i")} + 256 * ${sqlU8x("45 + 2*i")} AS raw
                FROM hdr
                JOIN generate_series(0, 22) si(i) ON si.i < n2))
        SELECT doc_id, CAST(n2 AS BIGINT) AS n_samples,
               CAST(min(v) AS INTEGER) AS min_amp,
               CAST(max(v) AS INTEGER) AS max_amp,
               CAST(sum(v) AS BIGINT) AS sum_amp
        FROM sm GROUP BY doc_id, n2"""),
      headline = false),

    // TRUE payload decode #3 — COMPRESSED image format, decoded fully.
    // Each document becomes a deterministic truecolor PNG whose pixel
    // stream is genuinely zlib-DEFLATED over per-row FILTERED scanlines
    // (filters cycle through all five §9 types), and parsePngPixels
    // walks it all the way back: CRC-checked chunk walk → one inflate →
    // all five unfilters → per-channel sums/means + top-left pixel.
    // DuckDB has no zlib, so (q190 precedent) the oracle joins a
    // PRECOMPUTED fixture keyed by md5(text): Python derives the same
    // pixels from the derivation spec DIRECTLY — no PNG in the loop —
    // so a hash match proves the engine's encode→deflate→inflate→
    // unfilter chain is the identity on real compressed bytes. The
    // bytes themselves are additionally pinned to the REAL format by
    // MultimodalSpec (javax.imageio decodes our PNGs pixel-exactly, and
    // our decoder reproduces javax.imageio's own filtered output).
    "q199_png_full_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // fanOut: PNG encode + inflate + unfilter per row on a one-task
        // scan (q238 rationale). Kept after an A/B with the scan-task
        // plan: at local[4] (sf0.1, Bench, 8 reps, 7 alternating
        // sessions per arm) the arms tie, median of session medians
        // 0.520 s fanned vs 0.509 s not (spread 0.487-0.574 s); at
        // local[32] r19 measured 0.180 s fanned vs 0.383 s not
        // (plans/r19/BENCH_keeper_c32.json, BENCH_q199unfanned_c32.json)
        val payloads = Engine.fanOut(Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            Multimodal.Payload(id, "image", MediaGen.pngFor(text)) })
        Multimodal.decodePngPixelBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("sum_r"), col("sum_g"), col("sum_b"),
            round(col("sum_r").cast("double") /
              (col("width") * col("height")), 4).as("mean_r"),
            round(col("sum_g").cast("double") /
              (col("width") * col("height")), 4).as("mean_g"),
            round(col("sum_b").cast("double") /
              (col("width") * col("height")), 4).as("mean_b"),
            col("tl_r"), col("tl_g"), col("tl_b"))
      },
      oracle = Some("""
        SELECT d.doc_id,
               f.png_width AS width, f.png_height AS height,
               f.png_sum_r AS sum_r, f.png_sum_g AS sum_g,
               f.png_sum_b AS sum_b,
               round(CAST(f.png_sum_r AS DOUBLE)
                 / (f.png_width * f.png_height), 4) AS mean_r,
               round(CAST(f.png_sum_g AS DOUBLE)
                 / (f.png_width * f.png_height), 4) AS mean_g,
               round(CAST(f.png_sum_b AS DOUBLE)
                 / (f.png_width * f.png_height), 4) AS mean_b,
               f.png_tl_r AS tl_r, f.png_tl_g AS tl_g, f.png_tl_b AS tl_b
        FROM documents d
        JOIN read_parquet('/root/repo/fixtures/media_pixels_oracle.parquet') f
          ON md5(coalesce(d.text, '')) = f.text_md5"""),
      headline = true),

    // TRUE payload decode #4 — the OTHER web-image entropy coder. Each
    // document becomes a deterministic 64-color GIF large enough (up to
    // 768 px) that the LZW dictionary grows through 7→8→9-bit code
    // widths on corpus rows, and parseGifPixels runs the complete
    // variable-width LSB-first LZW expansion (clear codes, KwKwK case,
    // width transitions) through the color table into channel sums +
    // top-left pixel. Oracle: same fixture-join design as q199 (no SQL
    // engine ships an LZW); format pinned both ways against
    // javax.imageio in MultimodalSpec, including its default-interlaced
    // output.
    "q200_gif_full_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val payloads = // fanOut: heavy per-row codec work on a one-task scan (q238/q219
        // rationale, measured in OPTIMIZATION_r18.md)
        Engine.fanOut(Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            Multimodal.Payload(id, "image", MediaGen.gifFor(text)) })
        Multimodal.decodeGifPixelBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("sum_r"), col("sum_g"), col("sum_b"),
            round(col("sum_r").cast("double") /
              (col("width") * col("height")), 4).as("mean_r"),
            round(col("sum_g").cast("double") /
              (col("width") * col("height")), 4).as("mean_g"),
            round(col("sum_b").cast("double") /
              (col("width") * col("height")), 4).as("mean_b"),
            col("tl_r"), col("tl_g"), col("tl_b"))
      },
      oracle = Some("""
        SELECT d.doc_id,
               f.gif_width AS width, f.gif_height AS height,
               f.gif_sum_r AS sum_r, f.gif_sum_g AS sum_g,
               f.gif_sum_b AS sum_b,
               round(CAST(f.gif_sum_r AS DOUBLE)
                 / (f.gif_width * f.gif_height), 4) AS mean_r,
               round(CAST(f.gif_sum_g AS DOUBLE)
                 / (f.gif_width * f.gif_height), 4) AS mean_g,
               round(CAST(f.gif_sum_b AS DOUBLE)
                 / (f.gif_width * f.gif_height), 4) AS mean_b,
               f.gif_tl_r AS tl_r, f.gif_tl_g AS tl_g, f.gif_tl_b AS tl_b
        FROM documents d
        JOIN read_parquet('/root/repo/fixtures/media_pixels_oracle.parquet') f
          ON md5(coalesce(d.text, '')) = f.text_md5"""),
      headline = false),

    // TRUE payload decode #6 — VIDEO frames, the format that needs no
    // codec: YUV4MPEG2 (ffmpeg's uncompressed interchange format). Each
    // document becomes a 3–10 frame clip (even-seed docs 4:2:0 with
    // real chroma planes, odd-seed docs Cmono), and parseY4mFrames runs
    // the frame-sampling pattern a vision pipeline runs at 100 TB:
    // stride EVERY frame by the plane geometry parsed from the header
    // (one wrong chroma-size computation desyncs all later FRAME
    // markers), fold the luma plane of every 3rd frame into sums. The
    // oracle rebuilds the identical bytes in SQL, then PARSES THEM BACK
    // from the blob — header newline found by byte scan, W/H/C read out
    // of the decoded header text, frame count derived from
    // total-size/frame-size arithmetic, sampled luma bytes summed by
    // hex offset — never shortcutting from the generator params.
    "q218_y4m_frames" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val payloads = Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            Multimodal.Payload(id, "video", MediaGen.y4mFor(text)) })
        Multimodal.decodeY4mFrameBatches(payloads, step = 3).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("n_frames"), col("frame_idx"), col("sum_luma"),
            round(col("sum_luma").cast("double") /
              (col("width") * col("height")), 4).as("mean_luma"),
            col("tl_luma"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 ${sqlHash60("coalesce(text, '')")} AS s1,
                 ${sqlHash56("coalesce(text, '')")} AS s2
          FROM documents),
        geo AS (
          SELECT doc_id, s1, s2,
                 2 * (2 + s1 % 6) AS w, 2 * (2 + s2 % 4) AS h,
                 3 + s1 % 8 AS frames, s1 % 2 = 0 AS c420
          FROM g),
        p AS (
          SELECT doc_id, concat(
              hex('YUV4MPEG2 W' || w || ' H' || h || ' F25:1 Ip A1:1 ' ||
                  CASE WHEN c420 THEN 'C420jpeg' ELSE 'Cmono' END || chr(10)),
              array_to_string(list_transform(range(frames), f -> concat(
                hex('FRAME' || chr(10)),
                array_to_string(list_transform(range(w*h),
                  i -> lpad(hex((s2 + 3*(i % w) + 5*(i // w) + 11*f) % 256),
                            2, '0')), ''),
                CASE WHEN c420 THEN
                  array_to_string(list_transform(range(2*(w//2)*(h//2)),
                    j -> lpad(hex((s1 + ((j % ((w//2)*(h//2))) % (w//2))
                                      + ((j % ((w//2)*(h//2))) // (w//2))
                                      + f + (j // ((w//2)*(h//2)))) % 256),
                              2, '0')), '')
                ELSE '' END)), '')
            ) AS yhex
          FROM geo),
        b AS (SELECT doc_id, hex(from_hex(yhex)) AS hx FROM p),
        nlpos AS ( -- first \\n BYTE position, found by scanning the blob
          SELECT doc_id, hx, min(t.i) AS nl
          FROM b JOIN generate_series(0, 63) t(i) ON ${sqlU8x("t.i")} = 10
          GROUP BY doc_id, hx),
        hdr AS (
          SELECT doc_id, hx, nl,
                 decode(from_hex(substr(hx, 1, 2*nl))) AS hstr,
                 octet_length(from_hex(hx)) AS total
          FROM nlpos),
        parsed AS (
          SELECT doc_id, hx, nl, total,
                 CAST(regexp_extract(hstr, ' W([0-9]+)', 1) AS BIGINT) AS w,
                 CAST(regexp_extract(hstr, ' H([0-9]+)', 1) AS BIGINT) AS h,
                 regexp_extract(hstr, ' C([0-9A-Za-z]+)', 1) = 'mono' AS mono
          FROM hdr),
        frm AS (
          SELECT doc_id, hx, nl, w, h,
                 CASE WHEN mono THEN w*h ELSE w*h*3//2 END AS fsize,
                 (total - nl - 1)
                   // (6 + CASE WHEN mono THEN w*h ELSE w*h*3//2 END) AS nframes
          FROM parsed),
        sampled AS (
          SELECT doc_id, hx, w, h, nframes, fs.f AS frame_idx,
                 nl + 1 + fs.f * (6 + fsize) + 6 AS off
          FROM frm JOIN generate_series(0, 9) fs(f)
            ON fs.f < nframes AND fs.f % 3 = 0),
        px AS (
          SELECT doc_id, w, h, nframes, frame_idx,
                 sum(${sqlU8x("off + pi.i")}) AS sl,
                 max(CASE WHEN pi.i = 0 THEN ${sqlU8x("off + pi.i")} END) AS tl
          FROM sampled JOIN generate_series(0, 139) pi(i) ON pi.i < w*h
          GROUP BY doc_id, w, h, nframes, frame_idx, off)
        SELECT doc_id,
               CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
               CAST(nframes AS INTEGER) AS n_frames,
               CAST(frame_idx AS INTEGER) AS frame_idx,
               CAST(sl AS BIGINT) AS sum_luma,
               round(CAST(sl AS DOUBLE) / (w*h), 4) AS mean_luma,
               CAST(tl AS INTEGER) AS tl_luma
        FROM px"""),
      headline = false),

    // TRUE payload decode #7 — JPEG baseline, the last stub-codec
    // boundary retired. Each document becomes a deterministic baseline
    // JFIF (even-seed docs 3-component 4:4:4, odd-seed grayscale; dims
    // rarely block-aligned, so most rows carry edge-replicated partial
    // blocks), then parseJpegPixels runs the complete decode: marker
    // walk → DQT/DHT read-back → canonical Huffman entropy decode →
    // dequantize → IDCT → clamp → per-component sums. JPEG is LOSSY, so
    // the oracle cannot sum source pixels: the fixture (scripts/
    // make_jpeg_fixture.py) reimplements the whole T.81 derivation
    // independently in Python — numpy DCT from the spec's matrix
    // definition, Annex K tables, canonical Huffman bit packing — with
    // no JPEG library anywhere, and pins BOTH directions: jpeg_md5/
    // jpeg_size prove the ENCODER's exact bytes (down to stuffing and
    // pad bits), sum_c*/tl_c* prove what the DECODER recovers from
    // them. Encode+decode+fold run in ONE mapPartitions pass — zero
    // exchanges, the scan-task-only plan every media decode here keeps.
    // Format additionally pinned against javax.imageio both ways in
    // MultimodalSpec (±1: T.81 does not mandate a bit-exact IDCT).
    "q219_jpeg_full_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // fanOut: full JPEG encode + decode per row on a one-task scan —
        // by far the heaviest per-row work in the media family; one
        // exchange of (doc_id, text) is noise against it (q238 rationale)
        Engine.fanOut(Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
          .as[(Long, String)]
          .mapPartitions(_.flatMap { case (id, text) =>
            val bytes = MediaGen.jpegFor(text)
            val md = graft.expressions.Md5Hashes.md5Hex(bytes)
            Multimodal.parseJpegPixels(id, bytes).map(px =>
              JpegDecodeStat(id, px.width, px.height, px.n_components,
                bytes.length.toLong, md, px.sum_c0, px.sum_c1, px.sum_c2,
                px.tl_c0, px.tl_c1, px.tl_c2))
          }).toDF()
          .withColumn("mean_c0", round(col("sum_c0").cast("double") /
            (col("width") * col("height")), 4))
      },
      oracle = Some("""
        SELECT d.doc_id,
               f.jpeg_width AS width, f.jpeg_height AS height,
               f.jpeg_ncomp AS n_components,
               f.jpeg_size, f.jpeg_md5,
               f.jpeg_sum_c0 AS sum_c0, f.jpeg_sum_c1 AS sum_c1,
               f.jpeg_sum_c2 AS sum_c2,
               f.jpeg_tl_c0 AS tl_c0, f.jpeg_tl_c1 AS tl_c1,
               f.jpeg_tl_c2 AS tl_c2,
               round(CAST(f.jpeg_sum_c0 AS DOUBLE)
                 / (f.jpeg_width * f.jpeg_height), 4) AS mean_c0
        FROM documents d
        JOIN read_parquet('/root/repo/fixtures/media_jpeg_oracle.parquet') f
          ON md5(coalesce(d.text, '')) = f.text_md5"""),
      headline = true),

    // The 4:2:0 half of the JPEG surface — the SUBSAMPLED layout the
    // web's baseline encoders (libjpeg, ImageIO) actually default to:
    // Y at 2×2 sampling, chroma on the half-resolution grid, and the
    // interleaved 4-Y+Cb+Cr MCU structure sharing one entropy stream
    // and per-component DC predictors. A single mis-placed data unit
    // desyncs everything after it, so the q219-style double pin
    // (fixture-predicted exact bytes + decoded per-component sums,
    // chroma folded over its OWN ceil(w/2)×ceil(h/2) region) proves
    // the whole interleave. Format additionally pinned against
    // javax.imageio both directions on the full-resolution luma plane
    // in MultimodalSpec (chroma upsampling filters are not
    // spec-mandated, so luma is the clean cross-codec signal).
    "q225_jpeg420_full_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // fanOut: heavy per-row codec work on a one-task scan (q238/q219
        // rationale, measured in OPTIMIZATION_r18.md)
        Engine.fanOut(Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
          .as[(Long, String)]
          .mapPartitions(_.flatMap { case (id, text) =>
            val bytes = MediaGen.jpeg420For(text)
            val md = graft.expressions.Md5Hashes.md5Hex(bytes)
            Multimodal.parseJpegPixels(id, bytes).map(px =>
              JpegDecodeStat(id, px.width, px.height, px.n_components,
                bytes.length.toLong, md, px.sum_c0, px.sum_c1, px.sum_c2,
                px.tl_c0, px.tl_c1, px.tl_c2))
          }).toDF()
          .withColumn("mean_c0", round(col("sum_c0").cast("double") /
            (col("width") * col("height")), 4))
      },
      oracle = Some("""
        SELECT d.doc_id,
               f.jpeg_width AS width, f.jpeg_height AS height,
               3 AS n_components,
               f.jpeg_size, f.jpeg_md5,
               f.jpeg_sum_c0 AS sum_c0, f.jpeg_sum_c1 AS sum_c1,
               f.jpeg_sum_c2 AS sum_c2,
               f.jpeg_tl_c0 AS tl_c0, f.jpeg_tl_c1 AS tl_c1,
               f.jpeg_tl_c2 AS tl_c2,
               round(CAST(f.jpeg_sum_c0 AS DOUBLE)
                 / (f.jpeg_width * f.jpeg_height), 4) AS mean_c0
        FROM documents d
        JOIN read_parquet('/root/repo/fixtures/media_jpeg420_oracle.parquet') f
          ON md5(coalesce(d.text, '')) = f.text_md5""")),

    // Restart intervals (T.81 E.1.4) — the resilience feature camera
    // JPEGs actually ship with: DRI declares an interval in MCUs, after
    // each one the entropy stream byte-aligns, a CYCLING RST0..RST7
    // marker lands, and every DC predictor resets. Mixed corpus (even
    // seeds 4:2:0, odd 4:4:4; intervals 1–4 MCUs) puts the marker
    // cycling and mid-image predictor resets on nearly every row; a
    // decoder that missed one reset would shift every later DC value,
    // and one that mis-consumed a marker would desync the stream — both
    // caught by the q219-style double pin (fixture-predicted exact
    // bytes + decoded sums). ImageIO reads the same marked streams in
    // MultimodalSpec.
    "q226_jpeg_restart_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // fanOut: heavy per-row codec work on a one-task scan (q238/q219
        // rationale, measured in OPTIMIZATION_r18.md)
        Engine.fanOut(Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
          .as[(Long, String)]
          .mapPartitions(_.flatMap { case (id, text) =>
            val bytes = MediaGen.jpegRstFor(text)
            val md = graft.expressions.Md5Hashes.md5Hex(bytes)
            Multimodal.parseJpegPixels(id, bytes).map(px =>
              JpegDecodeStat(id, px.width, px.height, px.n_components,
                bytes.length.toLong, md, px.sum_c0, px.sum_c1, px.sum_c2,
                px.tl_c0, px.tl_c1, px.tl_c2))
          }).toDF()
          .withColumn("mean_c0", round(col("sum_c0").cast("double") /
            (col("width") * col("height")), 4))
      },
      oracle = Some("""
        SELECT d.doc_id,
               f.jpeg_width AS width, f.jpeg_height AS height,
               3 AS n_components,
               f.jpeg_size, f.jpeg_md5,
               f.jpeg_sum_c0 AS sum_c0, f.jpeg_sum_c1 AS sum_c1,
               f.jpeg_sum_c2 AS sum_c2,
               f.jpeg_tl_c0 AS tl_c0, f.jpeg_tl_c1 AS tl_c1,
               f.jpeg_tl_c2 AS tl_c2,
               round(CAST(f.jpeg_sum_c0 AS DOUBLE)
                 / (f.jpeg_width * f.jpeg_height), 4) AS mean_c0
        FROM documents d
        JOIN read_parquet('/root/repo/fixtures/media_jpeg_rst_oracle.parquet') f
          ON md5(coalesce(d.text, '')) = f.text_md5""")),

    // PROGRESSIVE JPEG (SOF2) — the mode most web images actually ship
    // in: coefficients split across scans by spectral selection, the
    // engine's own multi-scan encoder (interleaved DC scan, then the
    // full AC band per component, non-interleaved as the spec requires)
    // decoded by the progressive path that also reads libjpeg/ImageIO's
    // successive-approximation script (MultimodalSpec pins that both
    // directions). Mixed corpus (even seeds 4:2:0, odd 4:4:4). The
    // fixture predicts the exact multi-scan byte stream — scan headers,
    // per-scan bit flushes, the non-interleaved AC grids that SKIP
    // 4:2:0 padding blocks — and the decoded sums; a decoder that
    // mixed up scan geometry or dropped a band would flip the hash.
    "q227_jpeg_progressive_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // fanOut: heavy per-row codec work on a one-task scan (q238/q219
        // rationale, measured in OPTIMIZATION_r18.md)
        Engine.fanOut(Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
          .as[(Long, String)]
          .mapPartitions(_.flatMap { case (id, text) =>
            val bytes = MediaGen.jpegProgFor(text)
            val md = graft.expressions.Md5Hashes.md5Hex(bytes)
            Multimodal.parseJpegPixels(id, bytes).map(px =>
              JpegDecodeStat(id, px.width, px.height, px.n_components,
                bytes.length.toLong, md, px.sum_c0, px.sum_c1, px.sum_c2,
                px.tl_c0, px.tl_c1, px.tl_c2))
          }).toDF()
          .withColumn("mean_c0", round(col("sum_c0").cast("double") /
            (col("width") * col("height")), 4))
      },
      oracle = Some("""
        SELECT d.doc_id,
               f.jpeg_width AS width, f.jpeg_height AS height,
               3 AS n_components,
               f.jpeg_size, f.jpeg_md5,
               f.jpeg_sum_c0 AS sum_c0, f.jpeg_sum_c1 AS sum_c1,
               f.jpeg_sum_c2 AS sum_c2,
               f.jpeg_tl_c0 AS tl_c0, f.jpeg_tl_c1 AS tl_c1,
               f.jpeg_tl_c2 AS tl_c2,
               round(CAST(f.jpeg_sum_c0 AS DOUBLE)
                 / (f.jpeg_width * f.jpeg_height), 4) AS mean_c0
        FROM documents d
        JOIN read_parquet('/root/repo/fixtures/media_jpeg_prog_oracle.parquet') f
          ON md5(coalesce(d.text, '')) = f.text_md5""")),

    // ID3v2 tag walk — the metadata block crawled MP3s actually START
    // with: each document becomes a v2.3 tag (TIT2/TPE1/TALB text
    // frames + hash-length zero padding) whose total size is a
    // SYNCSAFE 32-bit integer (7 bits per byte — the format's guard
    // against false MPEG syncs inside the tag), and parseId3v2 walks
    // header → syncsafe size → frame chain (BE32 frame sizes in v2.3)
    // → text decoding → the AUDIO OFFSET the sync-scanning MP3 walker
    // would otherwise probe for. The oracle re-reads every field from
    // the bytes: syncsafe arithmetic, the frame stride chain, frame
    // ids and contents decoded from hex — padding length never taken
    // from generator params.
    // Adam7-INTERLACED PNG — the progressive-rendering layout early web
    // PNGs shipped in (and the one PNG shape q199 didn't cover): the
    // same pixel derivation re-encoded as seven independent passes
    // whose scanline sets deflate as one stream. The decoded sums must
    // match THE SAME fixture row q199 joins — placement-independent
    // folds make the pass-geometry arithmetic (several passes empty or
    // partial at these dims) the thing under test: one wrong pass
    // dimension desyncs every later scanline and flips the hash.
    // ImageIO de-interlaces our bytes to identical pixels in
    // MultimodalSpec.
    "q233_png_interlaced_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val payloads = // fanOut: heavy per-row codec work on a one-task scan (q238/q219
        // rationale, measured in OPTIMIZATION_r18.md)
        Engine.fanOut(Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            Multimodal.Payload(id, "image", MediaGen.pngInterlacedFor(text)) })
        Multimodal.decodePngPixelBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("sum_r"), col("sum_g"), col("sum_b"),
            col("tl_r"), col("tl_g"), col("tl_b"))
      },
      oracle = Some("""
        SELECT d.doc_id,
               f.png_width AS width, f.png_height AS height,
               f.png_sum_r AS sum_r, f.png_sum_g AS sum_g,
               f.png_sum_b AS sum_b,
               f.png_tl_r AS tl_r, f.png_tl_g AS tl_g, f.png_tl_b AS tl_b
        FROM documents d
        JOIN read_parquet('/root/repo/fixtures/media_pixels_oracle.parquet') f
          ON md5(coalesce(d.text, '')) = f.text_md5""")),

    "q232_id3_tag_walk" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val id = col("doc_id")
        val t = coalesce(col("text"), lit(""))
        val m = md5(t)
        val pad = pmod(gf.hash60(t), lit(16)).cast("int")
        val tagSize = pad + 88
        val ss32 = concat(lit("0000"),
          hexByte(shiftright(tagSize.cast("long"), 7)),
          hexByte(tagSize.cast("long").bitwiseAND(lit(127L))))
        def frame(fid: String, contentHex: org.apache.spark.sql.Column,
                  size: Int): org.apache.spark.sql.Column =
          concat(lit(fid), be32(lit(size)), lit("0000"), lit("00"),
            contentHex)
        val blobHex = concat(
          lit("494433"), lit("03"), lit("00"), lit("00"), ss32,
          frame("54495432", hex(concat(lit("doc-"), m)), 37), // TIT2
          frame("54504531", hex(concat(lit("prov-"), substring(m, 1, 8))),
            14), // TPE1
          frame("54414C42", hex(lit("corpus")), 7), // TALB
          expr("repeat('00', CAST(pmod(hash60, 16) AS INT))"))
        val payloads = Engine.table(s, dir, "documents")
          .withColumn("hash60", gf.hash60(t))
          .select(id.as("id"), lit("audio").as("modality"),
            unhex(blobHex).as("content")).as[Multimodal.Payload]
        Multimodal.decodeId3Batches(payloads).toDF()
          .select(col("id").as("doc_id"), col("ver_major"),
            col("tag_size"), col("frame_id"), col("content"),
            col("audio_offset"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id, md5(coalesce(text, '')) AS m,
                 ${sqlHash60("coalesce(text, '')")} % 16 AS pad
          FROM documents),
        p AS (
          SELECT doc_id, concat(
              '494433', '03', '00', '00',
              '0000', lpad(hex((pad + 88) // 128), 2, '0'),
              lpad(hex((pad + 88) % 128), 2, '0'),
              '54495432', lpad(hex(37), 8, '0'), '0000', '00',
              hex('doc-' || m),
              '54504531', lpad(hex(14), 8, '0'), '0000', '00',
              hex('prov-' || substr(m, 1, 8)),
              '54414C42', lpad(hex(7), 8, '0'), '0000', '00',
              hex('corpus'),
              repeat('00', CAST(pad AS INT))) AS bhex
          FROM g),
        b AS ( -- round-trip through BLOB: the oracle parses BYTES
          SELECT doc_id, hex(from_hex(bhex)) AS hx FROM p),
        hdr AS ( -- syncsafe size: 7 bits per byte
          SELECT doc_id, hx,
                 ${sqlU8x("6")} * 2097152 + ${sqlU8x("7")} * 16384
                   + ${sqlU8x("8")} * 128 + ${sqlU8x("9")} AS tsize
          FROM b),
        f AS ( -- frame stride chain: each offset from the PREVIOUS
               -- frame's BE32 size field
          SELECT doc_id, hx, tsize, CAST(10 AS BIGINT) AS o0,
                 ${sqlU32x("14", "FALSE")} AS s0
          FROM hdr),
        f2 AS (
          SELECT *, o0 + 10 + s0 AS o1 FROM f),
        f3 AS (
          SELECT *, ${sqlU32x("o1 + 4", "FALSE")} AS s1,
                 o1 + 10 + ${sqlU32x("o1 + 4", "FALSE")} AS o2
          FROM f2),
        frames AS (
          SELECT doc_id, hx, tsize, o0 AS fo, s0 AS fs FROM f3
          UNION ALL
          SELECT doc_id, hx, tsize, o1, s1 FROM f3
          UNION ALL
          SELECT doc_id, hx, tsize, o2, ${sqlU32x("o2 + 4", "FALSE")}
          FROM f3)
        SELECT doc_id, 3 AS ver_major, CAST(tsize AS INTEGER) AS tag_size,
               decode(from_hex(substr(hx, 2*fo + 1, 8))) AS frame_id,
               decode(from_hex(substr(hx, 2*(fo + 11) + 1,
                 2 * (CAST(fs AS INT) - 1)))) AS content,
               CAST(10 + tsize AS BIGINT) AS audio_offset
        FROM frames"""),
      headline = false),

    // TRUE payload decode — uncompressed TIFF pixels through the STRIP
    // WALK: each document becomes a little-endian two-strip chunky RGB
    // TIFF whose strip-offset/byte-count ARRAYS live outside the IFD
    // (LONG[2] pointed-to values — the part q186's header codec never
    // touches), and parseTiffPixels chases header → IFD → tag entries →
    // offset arrays → both strips into per-channel sums. Lossless, so
    // the oracle is EXACT and fixture-free: DuckDB re-walks the same
    // pointer chain from the bytes — IFD position from the header, tag
    // entries scanned generically, array offsets dereferenced, strip
    // bytes summed by channel — never shortcutting from the generator
    // params. Format pinned against ImageIO's independent TIFF writer
    // (exact sums, both photometrics, WhiteIsZero inversion) in
    // MultimodalSpec.
    "q231_tiff_full_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val id = col("doc_id")
        val t = coalesce(col("text"), lit(""))
        val w = (lit(3) + pmod(gf.hash60(t), lit(5))).cast("int")
        val h = (lit(2) + pmod(gf.hash56b(t), lit(4))).cast("int")
        val r1 = ((h + 1) / 2).cast("int") // strip 0 rows (ceil h/2)
        val dataLen = w * h * 3
        val ifdAt = dataLen + 8
        val arrAt = ifdAt + 126 // 2 + 10*12 + 4
        def ent(tag: Int, typ: Int, cnt: Int,
                value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          concat(le16(lit(tag)), le16(lit(typ)), le32(lit(cnt)), value)
        val pixelHex = array_join(transform(sequence(lit(0), dataLen - 1),
          i => lpad(hex(pmod(id * 7 + i * 13, lit(256))), 2, "0")), "")
        val tiffHex = concat(
          lit("49492A00"), le32(ifdAt), // II, 42, IFD offset
          pixelHex,
          le16(lit(10)), // entry count
          ent(256, 3, 1, concat(le16(w), lit("0000"))),
          ent(257, 3, 1, concat(le16(h), lit("0000"))),
          ent(258, 3, 3, le32(arrAt + 16)), // BitsPerSample -> array
          ent(259, 3, 1, lit("01000000")), // uncompressed
          ent(262, 3, 1, lit("02000000")), // RGB
          ent(273, 4, 2, le32(arrAt)), // StripOffsets -> array
          ent(277, 3, 1, lit("03000000")),
          ent(278, 3, 1, concat(le16(r1), lit("0000"))),
          ent(279, 4, 2, le32(arrAt + 8)), // StripByteCounts -> array
          ent(284, 3, 1, lit("01000000")), // chunky
          lit("00000000"), // next IFD
          le32(lit(8)), le32(lit(8) + w * r1 * 3), // strip offsets
          le32(w * r1 * 3), le32(w * (h - r1) * 3), // strip byte counts
          le16(lit(8)), le16(lit(8)), le16(lit(8))) // bits per sample
        // fanOut: the per-row hex-built TIFF + full decode runs post-exchange
        val payloads = Engine.fanOut(Engine.table(s, dir, "documents"))
          .select(id.as("id"), lit("image").as("modality"),
            unhex(tiffHex).as("content")).as[Multimodal.Payload]
        Multimodal.decodeTiffPixelBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("channels"), col("sum_c0"), col("sum_c1"), col("sum_c2"),
            col("tl_c0"), col("tl_c1"), col("tl_c2"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 3 + ${sqlHash60("coalesce(text, '')")} % 5 AS w,
                 2 + ${sqlHash56("coalesce(text, '')")} % 4 AS h
          FROM documents),
        geo AS (
          SELECT doc_id, w, h, (h + 1) // 2 AS r1,
                 w * h * 3 AS dataLen, w * h * 3 + 8 AS ifdAt,
                 w * h * 3 + 8 + 126 AS arrAt
          FROM g),
        p AS (
          SELECT doc_id, concat(
              '49492A00', ${sqlLe32("ifdAt")},
              array_to_string(list_transform(range(dataLen),
                i -> lpad(hex((doc_id*7 + i*13) % 256), 2, '0')), ''),
              ${sqlLe16("10")},
              ${sqlLe16("256")}, ${sqlLe16("3")}, ${sqlLe32("1")},
                ${sqlLe16("w")}, '0000',
              ${sqlLe16("257")}, ${sqlLe16("3")}, ${sqlLe32("1")},
                ${sqlLe16("h")}, '0000',
              ${sqlLe16("258")}, ${sqlLe16("3")}, ${sqlLe32("3")},
                ${sqlLe32("arrAt + 16")},
              ${sqlLe16("259")}, ${sqlLe16("3")}, ${sqlLe32("1")}, '01000000',
              ${sqlLe16("262")}, ${sqlLe16("3")}, ${sqlLe32("1")}, '02000000',
              ${sqlLe16("273")}, ${sqlLe16("4")}, ${sqlLe32("2")},
                ${sqlLe32("arrAt")},
              ${sqlLe16("277")}, ${sqlLe16("3")}, ${sqlLe32("1")}, '03000000',
              ${sqlLe16("278")}, ${sqlLe16("3")}, ${sqlLe32("1")},
                ${sqlLe16("r1")}, '0000',
              ${sqlLe16("279")}, ${sqlLe16("4")}, ${sqlLe32("2")},
                ${sqlLe32("arrAt + 8")},
              ${sqlLe16("284")}, ${sqlLe16("3")}, ${sqlLe32("1")}, '01000000',
              '00000000',
              ${sqlLe32("8")}, ${sqlLe32("8 + w*r1*3")},
              ${sqlLe32("w*r1*3")}, ${sqlLe32("w*(h - r1)*3")},
              ${sqlLe16("8")}, ${sqlLe16("8")}, ${sqlLe16("8")}) AS thex
          FROM geo),
        b AS ( -- round-trip through BLOB: the oracle parses BYTES
          SELECT doc_id, hex(from_hex(thex)) AS hx FROM p),
        hdr AS ( -- IFD position and entry count from the bytes
          SELECT doc_id, hx, ${sqlLe32x("4")} AS ifd,
                 ${sqlLe16x(sqlLe32x("4"))} AS nent
          FROM b),
        ents AS ( -- generic tag-entry scan
          SELECT doc_id, hx, ifd,
                 ${sqlLe16x("ifd + 2 + 12*t.i")} AS tag,
                 ifd + 2 + 12*t.i + 8 AS vat
          FROM hdr JOIN generate_series(0, 15) t(i) ON t.i < nent),
        tags AS (
          SELECT doc_id, hx,
                 max(CASE WHEN tag = 256 THEN ${sqlLe16x("vat")} END) AS w2,
                 max(CASE WHEN tag = 257 THEN ${sqlLe16x("vat")} END) AS h2,
                 max(CASE WHEN tag = 277 THEN ${sqlLe16x("vat")} END) AS spp,
                 max(CASE WHEN tag = 273 THEN ${sqlLe32x("vat")} END) AS so,
                 max(CASE WHEN tag = 279 THEN ${sqlLe32x("vat")} END) AS sc
          FROM ents GROUP BY doc_id, hx),
        strips AS ( -- dereference both pointed-to arrays
          SELECT doc_id, hx, w2, h2, spp,
                 ${sqlLe32x("so + 4*st.s")} AS s_off,
                 ${sqlLe32x("sc + 4*st.s")} AS s_cnt,
                 st.s AS strip
          FROM tags JOIN generate_series(0, 1) st(s) ON TRUE),
        px AS (
          SELECT doc_id, w2, h2, spp, strip,
                 j.i AS idx, ${sqlU8x("s_off + j.i")} AS v
          FROM strips
          JOIN generate_series(0, 335) j(i) ON j.i < s_cnt)
        SELECT doc_id,
               CAST(w2 AS INTEGER) AS width, CAST(h2 AS INTEGER) AS height,
               CAST(spp AS INTEGER) AS channels,
               CAST(sum(CASE WHEN idx % 3 = 0 THEN v END) AS BIGINT) AS sum_c0,
               CAST(sum(CASE WHEN idx % 3 = 1 THEN v END) AS BIGINT) AS sum_c1,
               CAST(sum(CASE WHEN idx % 3 = 2 THEN v END) AS BIGINT) AS sum_c2,
               CAST(max(CASE WHEN strip = 0 AND idx = 0 THEN v END) AS INTEGER) AS tl_c0,
               CAST(max(CASE WHEN strip = 0 AND idx = 1 THEN v END) AS INTEGER) AS tl_c1,
               CAST(max(CASE WHEN strip = 0 AND idx = 2 THEN v END) AS INTEGER) AS tl_c2
        FROM px GROUP BY doc_id, w2, h2, spp"""),
      headline = false),

    // TRUE payload decode — G.711 companded WAV, the telephony format
    // voice corpora arrive in: 8-bit µ-law (format 7, even-seed docs)
    // or A-law (format 6, odd-seed) expanded to 13/14-bit linear by the
    // ITU-T G.711 integer formulas — no tables, no codec. The expansion
    // is PURE ARITHMETIC, so (uniquely among the entropy-coded formats)
    // the oracle needs no fixture: DuckDB rebuilds the bytes, reads the
    // format code and every sample byte back out of the blob, and
    // applies the same complement/XOR + segment-shift formulas —
    // including A-law's INVERTED sign convention, which flips min/max
    // on every row if a decoder gets it backward. Expansion pinned
    // byte-for-byte against javax.sound's independent converters (all
    // 512 code points) in MultimodalSpec.
    "q229_wav_g711" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val id = col("doc_id")
        val isU = pmod(gf.hash60(coalesce(col("text"), lit(""))), lit(2)) === 0
        val fmtCode = when(isU, 7).otherwise(6)
        val n = (lit(8) + pmod(gf.hash60(coalesce(col("text"), lit(""))),
          lit(16))).cast("int")
        val sampleHex = array_join(transform(sequence(lit(0), n - 1), i =>
          lpad(hex(pmod(id * 13 + i * 29, lit(256))), 2, "0")), "")
        val wav = unhex(concat(
          lit("52494646"), le32(n + 36), lit("57415645"),
          lit("666D7420"), le32(lit(16)), le16(fmtCode), le16(lit(1)),
          le32(lit(8000)), le32(lit(8000)), le16(lit(1)), le16(lit(8)),
          lit("64617461"), le32(n), sampleHex))
        val payloads = Engine.table(s, dir, "documents")
          .select(id.as("id"), lit("audio").as("modality"),
            wav.as("content")).as[Multimodal.Payload]
        Multimodal.decodeWavG711Batches(payloads).toDF()
          .select(col("id").as("doc_id"), col("law"), col("n_samples"),
            col("min_amp"), col("max_amp"), col("sum_amp"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 8 + ${sqlHash60("coalesce(text, '')")} % 16 AS n,
                 CASE WHEN ${sqlHash60("coalesce(text, '')")} % 2 = 0
                      THEN 7 ELSE 6 END AS fmt
          FROM documents),
        p AS (
          SELECT doc_id, concat(
              '52494646', ${sqlLe32("n + 36")}, '57415645',
              '666D7420', ${sqlLe32("16")}, ${sqlLe16("fmt")},
              ${sqlLe16("1")}, ${sqlLe32("8000")}, ${sqlLe32("8000")},
              ${sqlLe16("1")}, ${sqlLe16("8")}, '64617461', ${sqlLe32("n")},
              array_to_string(list_transform(range(n),
                i -> lpad(hex((doc_id*13 + i*29) % 256), 2, '0')), '')
            ) AS whex
          FROM g),
        b AS (SELECT doc_id, hex(from_hex(whex)) AS hx FROM p),
        hdr AS ( -- format code and sample count read back from bytes
          SELECT doc_id, hx, ${sqlLe16At(20)} AS fmt2,
                 ${sqlLe32At(40)} AS n2
          FROM b),
        sm AS (
          SELECT doc_id, fmt2, n2,
                 CASE WHEN fmt2 = 7 THEN
                   -- µ-law: complement, then ((m*8+132) << e) - 132,
                   -- sign from bit 7 (1 = negative)
                   CASE WHEN (255 - bb) >= 128
                     THEN -(((((255 - bb) % 16) * 8 + 132)
                             << (((255 - bb) // 16) % 8)) - 132)
                     ELSE ((((255 - bb) % 16) * 8 + 132)
                           << (((255 - bb) // 16) % 8)) - 132 END
                 ELSE
                   -- A-law: XOR 0x55; segment 0 linear, else doubling;
                   -- sign from bit 7 (1 = POSITIVE — inverted vs µ-law)
                   CASE WHEN xor(bb, 85) >= 128
                     THEN CASE WHEN (xor(bb, 85) // 16) % 8 = 0
                       THEN (xor(bb, 85) % 16) * 16 + 8
                       ELSE ((xor(bb, 85) % 16) * 16 + 264)
                            << ((xor(bb, 85) // 16) % 8 - 1) END
                     ELSE -(CASE WHEN (xor(bb, 85) // 16) % 8 = 0
                       THEN (xor(bb, 85) % 16) * 16 + 8
                       ELSE ((xor(bb, 85) % 16) * 16 + 264)
                            << ((xor(bb, 85) // 16) % 8 - 1) END) END
                 END AS v
          FROM (SELECT doc_id, fmt2, n2, ${sqlU8x("44 + i")} AS bb
                FROM hdr JOIN generate_series(0, 23) t(i) ON t.i < n2))
        SELECT doc_id,
               CASE WHEN fmt2 = 7 THEN 'ulaw' ELSE 'alaw' END AS law,
               CAST(n2 AS BIGINT) AS n_samples,
               CAST(min(v) AS INTEGER) AS min_amp,
               CAST(max(v) AS INTEGER) AS max_amp,
               CAST(sum(v) AS BIGINT) AS sum_amp
        FROM sm GROUP BY doc_id, fmt2, n2""")),

    // TRUE payload decode — TIFF LZW strips (q236) and PackBits (q237):
    // the two compressions scanned-document archives actually ship
    // (LZW + horizontal-differencing predictor is the archival
    // default; PackBits is the fax/scanner layout). The engine owns
    // both codecs — TIFF LZW is NOT GIF's: MSB-first bit packing,
    // 9-bit start, Clear/EOI at 256/257, and the EARLY code-width
    // change, with per-strip independent streams — and the predictor
    // undo runs per row per channel before the photometric fold.
    // Lossless, so the oracle is EXACT and fixture-free: DuckDB
    // recomputes the per-channel sums straight from the seed formulas
    // with generate_series (no codec in the loop). Byte format pinned
    // both directions against javax.imageio's independent TIFF codec
    // in MultimodalSpec (including the 9->10->11-bit width clock).
    // Scan-task-only decode: zero exchanges, same plan family as q231.
    "q236_tiff_lzw_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val payloads = // fanOut: heavy per-row codec work on a one-task scan (q238/q219
        // rationale, measured in OPTIMIZATION_r18.md)
        Engine.fanOut(Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            Multimodal.Payload(id, "image", MediaGen.tiffLzwFor(text)) })
        Multimodal.decodeTiffPixelBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("channels"), col("sum_c0"), col("sum_c1"), col("sum_c2"),
            col("tl_c0"), col("tl_c1"), col("tl_c2"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 ${sqlHash60("coalesce(text, '')")} AS s1,
                 ${sqlHash56("coalesce(text, '')")} AS s2
          FROM documents),
        d AS (
          SELECT doc_id, s1, 4 + s1 % 8 AS w, 3 + s2 % 6 AS h FROM g),
        px AS (
          SELECT doc_id, w, h, c.i AS ch, x.i AS xx, y.i AS yy,
                 (s1 + (x.i // 4) * 5 + y.i * 11 + c.i * 17) % 256 AS val
          FROM d
          JOIN generate_series(0, 10) x(i) ON x.i < w
          JOIN generate_series(0, 7) y(i) ON y.i < h
          CROSS JOIN generate_series(0, 2) c(i))
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(3 AS INT) AS channels,
               CAST(sum(CASE WHEN ch = 0 THEN val END) AS BIGINT) AS sum_c0,
               CAST(sum(CASE WHEN ch = 1 THEN val END) AS BIGINT) AS sum_c1,
               CAST(sum(CASE WHEN ch = 2 THEN val END) AS BIGINT) AS sum_c2,
               CAST(max(CASE WHEN ch = 0 AND xx = 0 AND yy = 0
                        THEN val END) AS INT) AS tl_c0,
               CAST(max(CASE WHEN ch = 1 AND xx = 0 AND yy = 0
                        THEN val END) AS INT) AS tl_c1,
               CAST(max(CASE WHEN ch = 2 AND xx = 0 AND yy = 0
                        THEN val END) AS INT) AS tl_c2
        FROM px GROUP BY doc_id, w, h""")),

    "q237_tiff_packbits_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val payloads = Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            Multimodal.Payload(id, "image", MediaGen.tiffPackBitsFor(text)) })
        Multimodal.decodeTiffPixelBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("channels"), col("sum_c0"), col("sum_c1"), col("sum_c2"),
            col("tl_c0"), col("tl_c1"), col("tl_c2"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 ${sqlHash60("coalesce(text, '')")} AS s1,
                 ${sqlHash56("coalesce(text, '')")} AS s2
          FROM documents),
        d AS (
          SELECT doc_id, s2, 4 + s2 % 8 AS w, 3 + s1 % 6 AS h FROM g),
        px AS (
          SELECT doc_id, w, h, c.i AS ch, x.i AS xx, y.i AS yy,
                 (s2 + (x.i // 6) * 31 + y.i * 7 + c.i * 13) % 256 AS val
          FROM d
          JOIN generate_series(0, 10) x(i) ON x.i < w
          JOIN generate_series(0, 7) y(i) ON y.i < h
          CROSS JOIN generate_series(0, 2) c(i))
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(3 AS INT) AS channels,
               CAST(sum(CASE WHEN ch = 0 THEN val END) AS BIGINT) AS sum_c0,
               CAST(sum(CASE WHEN ch = 1 THEN val END) AS BIGINT) AS sum_c1,
               CAST(sum(CASE WHEN ch = 2 THEN val END) AS BIGINT) AS sum_c2,
               CAST(max(CASE WHEN ch = 0 AND xx = 0 AND yy = 0
                        THEN val END) AS INT) AS tl_c0,
               CAST(max(CASE WHEN ch = 1 AND xx = 0 AND yy = 0
                        THEN val END) AS INT) AS tl_c1,
               CAST(max(CASE WHEN ch = 2 AND xx = 0 AND yy = 0
                        THEN val END) AS INT) AS tl_c2
        FROM px GROUP BY doc_id, w, h""")),

    // TRUE payload decode — TILED TIFF (q242, TIFF 6.0 §15): the
    // GIS/medical layout (strips cover scanned archives; tiled covers
    // orthophotos, slide scans, DEM rasters). Tiles are fixed 16x16
    // blocks in row-major tile order; EDGE tiles are padded to full
    // size and §15 leaves the padding content undefined — the corpus
    // writes a seed-dependent NONZERO pad, so a fold that forgets to
    // clip cannot pass. Compression cycles none/LZW/PackBits by seed:
    // all three segment codecs run through the same clip arithmetic.
    // Lossless and fixture-free like q236/q237: DuckDB recomputes the
    // per-channel sums from the seed formulas over IMAGE pixels only.
    // ImageIO cross-pins the byte format both directions in
    // MultimodalSpec. Scan-task-only decode: zero exchanges.
    "q242_tiff_tiled_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val payloads = // fanOut: heavy per-row codec work on a one-task scan (q238/q219
        // rationale, measured in OPTIMIZATION_r18.md)
        Engine.fanOut(Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            Multimodal.Payload(id, "image", MediaGen.tiffTiledFor(text)) })
        Multimodal.decodeTiffPixelBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("channels"), col("sum_c0"), col("sum_c1"), col("sum_c2"),
            col("tl_c0"), col("tl_c1"), col("tl_c2"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 ${sqlHash60("coalesce(text, '')")} AS s1,
                 ${sqlHash56("coalesce(text, '')")} AS s2
          FROM documents),
        d AS (
          SELECT doc_id, s1, 17 + s1 % 32 AS w, 17 + s2 % 24 AS h FROM g),
        px AS (
          SELECT doc_id, w, h, c.i AS ch, x.i AS xx, y.i AS yy,
                 (s1 + (x.i // 5) * 9 + y.i * 3 + c.i * 29) % 256 AS val
          FROM d
          JOIN generate_series(0, 47) x(i) ON x.i < w
          JOIN generate_series(0, 39) y(i) ON y.i < h
          CROSS JOIN generate_series(0, 2) c(i))
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(3 AS INT) AS channels,
               CAST(sum(CASE WHEN ch = 0 THEN val END) AS BIGINT) AS sum_c0,
               CAST(sum(CASE WHEN ch = 1 THEN val END) AS BIGINT) AS sum_c1,
               CAST(sum(CASE WHEN ch = 2 THEN val END) AS BIGINT) AS sum_c2,
               CAST(max(CASE WHEN ch = 0 AND xx = 0 AND yy = 0
                        THEN val END) AS INT) AS tl_c0,
               CAST(max(CASE WHEN ch = 1 AND xx = 0 AND yy = 0
                        THEN val END) AS INT) AS tl_c1,
               CAST(max(CASE WHEN ch = 2 AND xx = 0 AND yy = 0
                        THEN val END) AS INT) AS tl_c2
        FROM px GROUP BY doc_id, w, h""")),

    // TRUE payload decode — PLANAR TIFF (q245, PlanarConfiguration=2):
    // each channel's samples live in their OWN plane-major segments
    // with predictor lag 1 — the remote-sensing / scientific-stack
    // layout (GDAL INTERLEAVE=BAND). The corpus seed-splits between
    // planar STRIPS (LZW/PackBits) and planar 16x16 TILES with nonzero
    // clipped padding, so one oracle covers the full planar matrix;
    // the per-channel sums cannot come out right if planes are read
    // interleaved (a chunky misread scrambles c0/c1/c2). Fixture-free
    // exact oracle, ImageIO cross-pin in MultimodalSpec, zero-exchange
    // scan-task decode.
    "q245_tiff_planar_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val payloads = // fanOut: heavy per-row codec work on a one-task scan (q238/q219
        // rationale, measured in OPTIMIZATION_r18.md)
        Engine.fanOut(Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            Multimodal.Payload(id, "image", MediaGen.tiffPlanarFor(text)) })
        Multimodal.decodeTiffPixelBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("channels"), col("sum_c0"), col("sum_c1"), col("sum_c2"),
            col("tl_c0"), col("tl_c1"), col("tl_c2"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 ${sqlHash60("coalesce(text, '')")} AS s1,
                 ${sqlHash56("coalesce(text, '')")} AS s2
          FROM documents),
        d AS (
          SELECT doc_id, s2,
                 CASE WHEN s1 % 2 = 0 THEN 5 + s1 % 10
                      ELSE 17 + s1 % 24 END AS w,
                 CASE WHEN s1 % 2 = 0 THEN 4 + s2 % 7
                      ELSE 17 + s2 % 18 END AS h
          FROM g),
        px AS (
          SELECT doc_id, w, h, c.i AS ch, x.i AS xx, y.i AS yy,
                 (s2 + (x.i // 4) * 13 + y.i * 9 + c.i * 41) % 256 AS val
          FROM d
          JOIN generate_series(0, 39) x(i) ON x.i < w
          JOIN generate_series(0, 33) y(i) ON y.i < h
          CROSS JOIN generate_series(0, 2) c(i))
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(3 AS INT) AS channels,
               CAST(sum(CASE WHEN ch = 0 THEN val END) AS BIGINT) AS sum_c0,
               CAST(sum(CASE WHEN ch = 1 THEN val END) AS BIGINT) AS sum_c1,
               CAST(sum(CASE WHEN ch = 2 THEN val END) AS BIGINT) AS sum_c2,
               CAST(max(CASE WHEN ch = 0 AND xx = 0 AND yy = 0
                        THEN val END) AS INT) AS tl_c0,
               CAST(max(CASE WHEN ch = 1 AND xx = 0 AND yy = 0
                        THEN val END) AS INT) AS tl_c1,
               CAST(max(CASE WHEN ch = 2 AND xx = 0 AND yy = 0
                        THEN val END) AS INT) AS tl_c2
        FROM px GROUP BY doc_id, w, h""")),

    // TRUE payload decode — PALETTED PNG (q250, color type 3): the
    // icon / legacy-web layout. Depths 1/2/4/8 (seed-cycled) pack
    // palette indices MSB-first into sub-byte rows resolved through the
    // CRC-checked PLTE chunk; filter lag is 1 byte at EVERY depth (§9:
    // ceil(bpp/8)); odd seeds ship the seven Adam7 passes. The oracle
    // recomputes the resolved channel sums straight from the seed
    // formulas — palette color = affine(entry index), entry index =
    // affine(x, y) mod 2^depth — so a decoder that misreads the bit
    // packing, the palette, or any filter flips the hash. ImageIO
    // cross-pins the byte stream both directions in MultimodalSpec;
    // zero-exchange scan-task decode.
    "q250_png_paletted_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val payloads = Engine.table(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            Multimodal.Payload(id, "image", MediaGen.pngPalettedFor(text)) })
        Multimodal.decodePngPixelBatches(payloads).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("sum_r"), col("sum_g"), col("sum_b"),
            col("tl_r"), col("tl_g"), col("tl_b"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT doc_id,
                 ${sqlHash60("coalesce(text, '')")} AS s1,
                 ${sqlHash56("coalesce(text, '')")} AS s2
          FROM documents),
        d AS (
          SELECT doc_id, s1, s2,
                 CASE s1 % 4 WHEN 0 THEN 2 WHEN 1 THEN 4
                             WHEN 2 THEN 16 ELSE 256 END AS npal,
                 3 + s1 % 6 AS w, 2 + s2 % 5 AS h
          FROM g),
        px AS (
          SELECT doc_id, w, h, s1, s2, x.i AS xx, y.i AS yy,
                 (s2 + 3 * x.i + 7 * y.i) % npal AS idx
          FROM d
          JOIN generate_series(0, 8) x(i) ON x.i < w
          JOIN generate_series(0, 6) y(i) ON y.i < h)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(sum((idx * 37 + s1) % 256) AS BIGINT) AS sum_r,
               CAST(sum((idx * 59 + s2) % 256) AS BIGINT) AS sum_g,
               CAST(sum((idx * 83 + s1 + s2) % 256) AS BIGINT) AS sum_b,
               CAST(max(CASE WHEN xx = 0 AND yy = 0
                        THEN (idx * 37 + s1) % 256 END) AS INT) AS tl_r,
               CAST(max(CASE WHEN xx = 0 AND yy = 0
                        THEN (idx * 59 + s2) % 256 END) AS INT) AS tl_g,
               CAST(max(CASE WHEN xx = 0 AND yy = 0
                        THEN (idx * 83 + s1 + s2) % 256 END) AS INT) AS tl_b
        FROM px GROUP BY doc_id, w, h"""))
  )
}

/** One q219 output row: the encoder pin (size + md5 of the produced
  * bytes) and the decoder pin (what parseJpegPixels recovered from
  * them), computed in a single scan-task pass.
  */
private[queries] case class JpegDecodeStat(
    doc_id: Long, width: Int, height: Int, n_components: Int,
    jpeg_size: Long, jpeg_md5: String,
    sum_c0: Long, sum_c1: Long, sum_c2: Long,
    tl_c0: Int, tl_c1: Int, tl_c2: Int)
