package graft.sources

/** A from-scratch MINIMAL ORC writer — the inverse of the engine's
  * tail walk: "ORC" header magic, one stripe of RLEv2-DIRECT LONG
  * columns, a protobuf stripe footer + file footer emitted by the
  * encoder below (the write twin of the reader's protobuf walk), an
  * uncompressed postscript, and the trailing postscript-length byte.
  * Compression NONE (no chunk framing), no indexes, minimal
  * statistics (numberOfValues — the one field the spec treats as the
  * stats envelope).
  *
  * The layout is deterministic, the engine's own reader
  * ([[Orc.parseTail]] / [[Orc.stripeColumnLongs]]) round-trips it,
  * and orc-core (Spark's `spark.read.orc`, an independent Java
  * implementation) reads it in OrcSpec — the second columnar format
  * the engine writes from first principles.
  *
  * Spec source: orc.apache.org/specification/ORCv1 (proto fields,
  * RLEv2 DIRECT sub-encoding, postscript layout).
  */
object OrcWrite {

  // ---- protobuf encoder ---------------------------------------------------

  private final class PBW {
    val out = new java.io.ByteArrayOutputStream()
    private def tag(field: Int, wireType: Int): Unit =
      Bytes.putUvarint(out, (field.toLong << 3) | wireType)
    def uint(field: Int, v: Long): Unit = {
      tag(field, 0); Bytes.putUvarint(out, v)
    }
    def bytesField(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); Bytes.putUvarint(out, b.length.toLong)
      out.write(b, 0, b.length)
    }
    def strField(field: Int, s: String): Unit =
      bytesField(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    /** sint64 field (zigzag varint) — IntegerStatistics min/max/sum. */
    def sintField(field: Int, v: Long): Unit = {
      tag(field, 0); Bytes.putZigzag(out, v)
    }
    /** fixed64 field (LE) — DoubleStatistics values. */
    def fixed64Field(field: Int, v: Long): Unit = {
      tag(field, 1); Bytes.putLe64(out, v)
    }
    def toBytes: Array[Byte] = out.toByteArray
  }

  /** RLEv2 DIRECT runs of zigzag-encoded longs: 512-value chunks,
    * fixed 64-bit width (code 31) — wasteful but spec-legal and
    * deterministic; bit-packing at width 64 is plain big-endian.
    */
  private def rleV2DirectSigned(vals0: Seq[Long]): Array[Byte] = {
    // materialize once: a List-backed Seq would make the indexed run
    // loop O(n^2)
    val vals = vals0.toArray
    val out = new java.io.ByteArrayOutputStream(vals.length * 8 + 16)
    var i = 0
    while (i < vals.length) {
      val len = math.min(512, vals.length - i)
      // header: 0b01 | width code 31 (64 bits) | (len - 1) in 9 bits
      val h = (1 << 14) | (31 << 9) | (len - 1)
      out.write((h >> 8) & 0xff); out.write(h & 0xff)
      var k = 0
      while (k < len) {
        val v = vals(i + k)
        val z = (v << 1) ^ (v >> 63)
        var s = 56
        while (s >= 0) { out.write(((z >>> s) & 0xff).toInt); s -= 8 }
        k += 1
      }
      i += len
    }
    out.toByteArray
  }

  /** ORC chunk framing for one stream: 3-byte LE headers, isOriginal
    * in the LSB, length above; a chunk whose snappy form is not
    * smaller is stored original — the same dual path the reader
    * walks.
    */
  private def chunked(raw: Array[Byte], blockSize: Int,
                      codec: Int = 2): Array[Byte] = {
    if (raw.isEmpty) return raw // an empty stream has no chunks
    val out = new java.io.ByteArrayOutputStream(raw.length + 16)
    var p = 0
    while (p < raw.length) {
      val len = math.min(blockSize, raw.length - p)
      val block = java.util.Arrays.copyOfRange(raw, p, p + len)
      // every codec is ENGINE-OWNED: raw DEFLATE (zlib), the LZ77
      // snappy compressor, the LZ4 block encoder, one zstd frame
      val comp = codec match {
        case 1 => Deflate.compress(block) // best-of fixed/dynamic
        case 2 => Snappy.compress(block)
        case 4 => Lz4Encode.compressBlock(block)
        case 5 => ZstdEncode.compress(block)
        case _ => block
      }
      val (body, isOriginal) =
        if (comp.length < block.length) (comp, 0) else (block, 1)
      val h = (body.length << 1) | isOriginal
      out.write(h & 0xff); out.write((h >> 8) & 0xff)
      out.write((h >> 16) & 0xff)
      out.write(body, 0, body.length)
      p += len
    }
    out.toByteArray
  }

  // ---- generalized writer (q311): strings, doubles, PRESENT ------------

  /** One column for [[writeTable]]: LONG and STRING carry per-row
    * options (None = null → a PRESENT stream is written; an all-Some
    * column omits PRESENT entirely, the spec's non-null layout);
    * DOUBLE is non-null (IEEE LE bytes).
    */
  sealed trait OColumn { def name: String; def size: Int }
  final case class OLongCol(name: String, values: Seq[Option[Long]])
      extends OColumn { def size: Int = values.length }
  final case class ODoubleCol(name: String, values: Seq[Double])
      extends OColumn { def size: Int = values.length }
  final case class OStringCol(name: String, values: Seq[Option[String]])
      extends OColumn { def size: Int = values.length }
  /** DICTIONARY_V2 string column: sorted dictionary (unsigned byte
    * order, the order liborc writes) described by LENGTH +
    * DICTIONARY_DATA streams, DATA = unsigned RLEv2 indices over
    * present values.
    */
  /** TIMESTAMP column (epoch MICROS, required — the reader's strict
    * non-null scope): DATA = signed RLEv2 seconds from the ORC epoch
    * (2015-01-01 UTC, floored for pre-epoch instants), SECONDARY =
    * unsigned RLEv2 nanos under the spec's trailing-zero packing.
    */
  final case class OTimestampCol(name: String, micros: Seq[Long])
      extends OColumn { def size: Int = micros.length }

  /** DECIMAL column (required): DATA = unbounded zigzag varints of
    * the unscaled values, SECONDARY = signed RLEv2 per-value scales
    * (constant here — orc-core rescales to the declared type scale).
    */
  final case class ODecimalCol(name: String, unscaled: Seq[Long],
                               scale: Int, precision: Int = 18)
      extends OColumn { def size: Int = unscaled.length }

  final case class ODictStringCol(name: String,
                                  values: Seq[Option[String]])
      extends OColumn { def size: Int = values.length }

  /** RLEv2 DIRECT runs of UNSIGNED longs (LENGTH streams): the same
    * 512-value chunking as the signed form, no zigzag.
    */
  private def rleV2DirectUnsigned(vals: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(vals.length * 8 + 16)
    var i = 0
    while (i < vals.length) {
      val len = math.min(512, vals.length - i)
      val h = (1 << 14) | (31 << 9) | (len - 1)
      out.write((h >> 8) & 0xff); out.write(h & 0xff)
      var k = 0
      while (k < len) {
        val z = vals(i + k)
        var s = 56
        while (s >= 0) { out.write(((z >>> s) & 0xff).toInt); s -= 8 }
        k += 1
      }
      i += len
    }
    out.toByteArray
  }

  /** Byte-RLE encode (the PRESENT/boolean stream framing): literal
    * groups only (header -len, then len raw bytes, len <= 128) —
    * spec-legal for every input and trivially deterministic.
    */
  private def byteRleLiteral(d: Array[Byte]): Array[Byte] = {
    if (d.isEmpty) return d
    val out = new java.io.ByteArrayOutputStream(d.length + 8)
    var p = 0
    while (p < d.length) {
      val len = math.min(128, d.length - p)
      out.write(-len & 0xff)
      out.write(d, p, len)
      p += len
    }
    out.toByteArray
  }

  /** MSB-first bit-pack a validity vector, trailing pad bits zero. */
  private def packBits(valid: Array[Boolean]): Array[Byte] = {
    val out = new Array[Byte]((valid.length + 7) / 8)
    var i = 0
    while (i < valid.length) {
      if (valid(i)) out(i >> 3) = (out(i >> 3) | (1 << (7 - (i & 7)))).toByte
      i += 1
    }
    out
  }

  // ---- write-side skipping metadata (q332) ------------------------------

  /** One ColumnStatistics envelope — shared by the file footer, the
    * Metadata section's StripeStatistics, and every RowIndexEntry, so
    * the three granularities of the read side's skip pyramid (q300)
    * can never disagree on encoding.
    */
  private final case class CStat(nv: Long, hasNull: Boolean,
      iMin: Option[Long] = None, iMax: Option[Long] = None,
      iSum: Option[Long] = None,
      dMin: Option[Double] = None, dMax: Option[Double] = None,
      dSum: Option[Double] = None,
      sMin: Option[String] = None, sMax: Option[String] = None,
      sSum: Option[Long] = None)

  /** Stats over rows [from, until) of one column (present values). */
  private def statsOf(c: OColumn, from: Int, until: Int): CStat =
    c match {
      case OLongCol(_, vs) =>
        val p = vs.slice(from, until).flatten
        CStat(p.length.toLong, p.length < until - from,
          iMin = p.minOption, iMax = p.maxOption,
          iSum = if (p.isEmpty) None else Some(p.sum))
      case ODoubleCol(_, vs) =>
        val p = vs.slice(from, until)
        CStat(p.length.toLong, hasNull = false,
          dMin = p.minOption, dMax = p.maxOption,
          dSum = if (p.isEmpty) None else Some(p.sum))
      case OStringCol(_, vs) =>
        val p = vs.slice(from, until).flatten
        CStat(p.length.toLong, p.length < until - from,
          sMin = p.minOption, sMax = p.maxOption,
          sSum = if (p.isEmpty) None else Some(p.iterator.map(
            _.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              .length.toLong).sum))
      case ODictStringCol(_, vs) =>
        statsOf(OStringCol(c.name, vs), from, until)
      // timestamp/decimal stats messages are optional in the proto;
      // emit counts only (the skip stack covers the other kinds)
      case OTimestampCol(_, vs) =>
        CStat(vs.slice(from, until).length.toLong, hasNull = false)
      case ODecimalCol(_, vs, _, _) =>
        CStat(vs.slice(from, until).length.toLong, hasNull = false)
    }

  /** ColumnStatistics proto — the exact fields the engine's own
    * parseColStats consumes (numberOfValues 1, IntegerStatistics 2
    * with sint64 min/max/sum, DoubleStatistics 3 with fixed64,
    * StringStatistics 4, hasNull 10).
    */
  private def statPb(st: CStat): Array[Byte] = {
    val cs = new PBW
    cs.uint(1, st.nv)
    if (st.iMin.isDefined || st.iMax.isDefined || st.iSum.isDefined) {
      val s = new PBW
      st.iMin.foreach(s.sintField(1, _))
      st.iMax.foreach(s.sintField(2, _))
      st.iSum.foreach(s.sintField(3, _))
      cs.bytesField(2, s.toBytes)
    }
    if (st.dMin.isDefined || st.dMax.isDefined || st.dSum.isDefined) {
      val s = new PBW
      st.dMin.foreach(v =>
        s.fixed64Field(1, java.lang.Double.doubleToLongBits(v)))
      st.dMax.foreach(v =>
        s.fixed64Field(2, java.lang.Double.doubleToLongBits(v)))
      st.dSum.foreach(v =>
        s.fixed64Field(3, java.lang.Double.doubleToLongBits(v)))
      cs.bytesField(3, s.toBytes)
    }
    if (st.sMin.isDefined || st.sMax.isDefined || st.sSum.isDefined) {
      val s = new PBW
      st.sMin.foreach(s.strField(1, _))
      st.sMax.foreach(s.strField(2, _))
      st.sSum.foreach(s.sintField(3, _))
      cs.bytesField(4, s.toBytes)
    }
    if (st.hasNull) cs.uint(10, 1L)
    cs.toBytes
  }

  /** One row group's BloomFilter proto (Hive BloomKFilter, the shape
    * the engine's own OrcBloom tests): numHashFunctions (field 1) +
    * utf8bitset (field 3, LE longs). Sized for `expected` keys at the
    * liborc default 5% FPP; `hashes` are pre-mixed 64-bit base hashes
    * (wangMix for LONGs, Hive murmur64 for UTF-8 strings — the
    * reader's own functions, so write and test can never diverge).
    */
  private def bloomFilterPb(hashes: Iterator[Long],
                            expected: Int): Array[Byte] = {
    val m0 = math.ceil(-expected.toDouble * math.log(0.05) /
      (math.log(2) * math.log(2))).toInt
    val m = math.max(64, ((m0 + 63) / 64) * 64)
    val k = math.max(1, math.round(math.log(2) * m / expected).toInt)
    val bits = new Array[Long](m / 64)
    hashes.foreach { h =>
      val h1 = h.toInt
      val h2 = (h >>> 32).toInt
      var i = 1
      while (i <= k) {
        var c = h1 + i * h2
        if (c < 0) c = ~c
        val pos = c % m
        bits(pos >> 6) |= 1L << (pos & 63)
        i += 1
      }
    }
    val raw = new Array[Byte](bits.length * 8)
    var w = 0
    while (w < bits.length) {
      var x = bits(w)
      var j = 0
      while (j < 8) {
        raw(w * 8 + j) = (x & 0xff).toByte; x >>>= 8; j += 1
      }
      w += 1
    }
    val bf = new PBW
    bf.uint(1, k.toLong)
    bf.bytesField(3, raw)
    bf.toBytes
  }

  /** RLEv2 run-start position for the `pb`-th value in the writer's
    * fixed 512-value-run layout: (byte offset of the run's header,
    * values to skip inside it) — the real seek semantics.
    */
  private def rlePos(pb: Long): (Long, Long) =
    ((pb / 512) * (2 + 512 * 8), pb % 512)

  /** Write a one-stripe ORC file with LONG (nullable), DOUBLE, and
    * STRING (nullable, DIRECT_V2) columns under a struct root — the
    * write twin of the reader's `stripeColumnLongsOpt` /
    * `stripeColumnDoubles` / `stripeColumnStringsOpt` paths. Nullable
    * columns carry a PRESENT stream (Byte-RLE over MSB-first packed
    * bits); value streams hold ONLY present values, the spec's
    * layout. `compression` 0 = NONE, 2 = SNAPPY via the engine's own
    * compressor with ORC chunk framing on every stream and footer.
    *
    * `rowIndexStride > 0` (q332) additionally writes the skip
    * pyramid the engine's own q300 stack consumes on liborc files:
    * per-column ROW_INDEX streams (kind 6; one RowIndexEntry per
    * `rowIndexStride` rows with value-stream seek positions and
    * typed statistics), BLOOM_FILTER_UTF8 streams (kind 8) for
    * `bloomCols` (0-based child indices; LONG and STRING columns),
    * typed file-footer statistics, and the Metadata section's
    * StripeStatistics. Positions address the VALUE stream (run start
    * + skip, byte offset for fixed-width/concatenated streams) of
    * the uncompressed layout — indexes therefore require
    * `compression == 0`; PRESENT-stream positions are omitted (the
    * engine's reader slices decoded stripes by row arithmetic, and
    * full reads never consult positions). `rowIndexStride == 0`
    * keeps the legacy byte-identical layout (q311's md5 pins).
    */
  def writeTable(cols0: Seq[OColumn],
                 compression: Int = 0,
                 rowIndexStride: Int = 0,
                 bloomCols: Set[Int] = Set.empty): Array[Byte] = {
    // an all-null dict column would emit DICTIONARY_V2 with
    // dictionarySize 0 and empty streams — a shape liborc/orc-core
    // may reject; fall back to DIRECT_V2 when the dictionary is empty
    val cols = cols0.map {
      case ODictStringCol(nm, vs) if vs.forall(_.isEmpty) =>
        OStringCol(nm, vs)
      case c => c
    }
    require(cols.nonEmpty)
    val n = cols.head.size
    require(cols.forall(_.size == n), "ragged columns")
    require(n <= (1 << 26), s"too many rows: $n")
    require(compression == 0 || compression == 1 ||
      compression == 2 || compression == 4 || compression == 5,
      s"compression $compression")
    // index positions address the uncompressed stream layout
    require(rowIndexStride == 0 || compression == 0,
      "row indexes require compression NONE")
    require(rowIndexStride >= 0 && rowIndexStride <= (1 << 20))
    bloomCols.foreach { ci =>
      require(ci >= 0 && ci < cols.length, s"bloom col $ci")
      require(cols(ci) match {
        case _: ODoubleCol | _: OTimestampCol | _: ODecimalCol => false
        case _ => true
      }, "blooms cover LONG and STRING columns")
    }
    val blockSize = 256 * 1024
    def framed(b: Array[Byte]): Array[Byte] =
      if (compression == 0) b else chunked(b, blockSize, compression)
    val out = new java.io.ByteArrayOutputStream()
    out.write('O'); out.write('R'); out.write('C')
    val stripeStart = out.size().toLong
    // ---- streams: per column PRESENT?, DATA, LENGTH? ----------------
    // (kind, columnId, framed bytes); column ids are 1-based children
    val streams = Seq.newBuilder[(Int, Int, Array[Byte])]
    val presentCount = new Array[Long](cols.length)
    val hasNulls = new Array[Boolean](cols.length)
    val dictSizes = new Array[Int](cols.length)
    cols.zipWithIndex.foreach { case (c, ci) =>
      val colId = ci + 1
      c match {
        case OLongCol(_, vs) =>
          val valid = vs.map(_.isDefined).toArray
          presentCount(ci) = valid.count(identity).toLong
          hasNulls(ci) = !valid.forall(identity)
          if (hasNulls(ci))
            streams += ((0, colId,
              framed(byteRleLiteral(packBits(valid)))))
          val present = vs.iterator.flatten.toArray
          streams += ((1, colId, framed(rleV2DirectSigned(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(
              present)))))
        case ODoubleCol(_, vs) =>
          presentCount(ci) = vs.length.toLong
          val raw = new Array[Byte](8 * vs.length)
          var i = 0
          val it = vs.iterator
          while (it.hasNext) {
            var bits = java.lang.Double.doubleToLongBits(it.next())
            var k = 0
            while (k < 8) {
              raw(i * 8 + k) = (bits & 0xff).toByte; bits >>>= 8; k += 1
            }
            i += 1
          }
          streams += ((1, colId, framed(raw)))
        case OStringCol(_, vs) =>
          val valid = vs.map(_.isDefined).toArray
          presentCount(ci) = valid.count(identity).toLong
          hasNulls(ci) = !valid.forall(identity)
          if (hasNulls(ci))
            streams += ((0, colId,
              framed(byteRleLiteral(packBits(valid)))))
          val present = vs.iterator.flatten
            .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .toArray
          val data = new java.io.ByteArrayOutputStream()
          present.foreach(b => data.write(b, 0, b.length))
          streams += ((1, colId, framed(data.toByteArray)))
          streams += ((2, colId, framed(rleV2DirectUnsigned(
            present.map(_.length.toLong)))))
        case OTimestampCol(_, vs) =>
          presentCount(ci) = vs.length.toLong
          val secs = new Array[Long](vs.length)
          val nanosEnc = new Array[Long](vs.length)
          var i = 0
          vs.foreach { us =>
            val sec = java.lang.Math.floorDiv(us, 1000000L)
            val nanos = java.lang.Math.floorMod(us, 1000000L) * 1000L
            secs(i) = sec - 1420070400L
            nanosEnc(i) =
              if (nanos == 0L) 0L
              else {
                var t = 0
                var v = nanos
                while (t < 7 && v % 10L == 0L) { v /= 10L; t += 1 }
                if (t >= 2) (v << 3) | (t - 1).toLong
                else nanos << 3
              }
            i += 1
          }
          streams += ((1, colId, framed(rleV2DirectSigned(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(
              secs)))))
          streams += ((5, colId, framed(rleV2DirectUnsigned(
            nanosEnc))))
        case ODecimalCol(_, vs, scale, _) =>
          presentCount(ci) = vs.length.toLong
          val data = new java.io.ByteArrayOutputStream()
          vs.foreach(Bytes.putZigzag(data, _))
          streams += ((1, colId, framed(data.toByteArray)))
          streams += ((5, colId, framed(rleV2DirectSigned(
            Seq.fill(vs.length)(scale.toLong)))))
        case ODictStringCol(_, vs) =>
          val valid = vs.map(_.isDefined).toArray
          presentCount(ci) = valid.count(identity).toLong
          hasNulls(ci) = !valid.forall(identity)
          if (hasNulls(ci))
            streams += ((0, colId,
              framed(byteRleLiteral(packBits(valid)))))
          val present = vs.iterator.flatten
            .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .toArray
          // sorted dictionary, unsigned byte order (liborc's order)
          def lt(a: Array[Byte], b: Array[Byte]): Boolean = {
            var i = 0
            val m = math.min(a.length, b.length)
            while (i < m) {
              val x = a(i) & 0xff; val y = b(i) & 0xff
              if (x != y) return x < y
              i += 1
            }
            a.length < b.length
          }
          val dict = present
            .map(b => new String(b,
              java.nio.charset.StandardCharsets.UTF_8) -> b)
            .distinctBy(_._1).sortWith((a, b) => lt(a._2, b._2))
          val ord = dict.iterator.map(_._1).zipWithIndex.toMap
          dictSizes(ci) = dict.length
          val idx = present.map(b => ord(new String(b,
            java.nio.charset.StandardCharsets.UTF_8)).toLong)
          streams += ((1, colId, framed(rleV2DirectUnsigned(idx))))
          streams += ((2, colId, framed(rleV2DirectUnsigned(
            dict.map(_._2.length.toLong)))))
          val dd = new java.io.ByteArrayOutputStream()
          dict.foreach { case (_, b) => dd.write(b, 0, b.length) }
          streams += ((3, colId, framed(dd.toByteArray)))
      }
    }
    val built = streams.result()
    // ---- index region (stride > 0): ROW_INDEX + blooms, laid out
    // BEFORE the data streams (the spec's index region; cumulative
    // stream addressing in the footer list covers both regions)
    val indexBuilt: Seq[(Int, Int, Array[Byte])] =
      if (rowIndexStride == 0) Nil
      else {
        val nGroups = (n + rowIndexStride - 1) / rowIndexStride
        val ib = Seq.newBuilder[(Int, Int, Array[Byte])]
        // root (column 0): stats only, empty positions
        locally {
          val ri = new PBW
          for (g <- 0 until nGroups) {
            val rows = math.min(rowIndexStride, n - g * rowIndexStride)
            val e = new PBW
            e.bytesField(2, statPb(CStat(rows.toLong, hasNull = false)))
            ri.bytesField(1, e.toBytes)
          }
          ib += ((6, 0, framed(ri.toBytes)))
        }
        cols.zipWithIndex.foreach { case (c, ci) =>
          val colId = ci + 1
          // present-value prefix counts at group boundaries
          val presentBefore = new Array[Long](nGroups)
          locally {
            var g = 1
            var acc = 0L
            var i = 0
            val defined: Int => Boolean = c match {
              case OLongCol(_, vs) => i => vs(i).isDefined
              case OStringCol(_, vs) => i => vs(i).isDefined
              case ODictStringCol(_, vs) => i => vs(i).isDefined
              case _: ODoubleCol => _ => true
            }
            while (g < nGroups) {
              val until = g * rowIndexStride
              while (i < until) { if (defined(i)) acc += 1; i += 1 }
              presentBefore(g) = acc
              g += 1
            }
          }
          // string DATA byte offsets (sum of present UTF-8 lengths)
          val dataOffsets: Array[Long] = c match {
            case OStringCol(_, vs) =>
              val offs = new Array[Long](nGroups)
              var g = 1
              var acc = 0L
              var i = 0
              while (g < nGroups) {
                val until = g * rowIndexStride
                while (i < until) {
                  vs(i).foreach(s => acc += s.getBytes(
                    java.nio.charset.StandardCharsets.UTF_8).length)
                  i += 1
                }
                offs(g) = acc
                g += 1
              }
              offs
            case _ => null
          }
          val ri = new PBW
          for (g <- 0 until nGroups) {
            val from = g * rowIndexStride
            val until = math.min(n, from + rowIndexStride)
            val e = new PBW
            val pb = presentBefore(g)
            val pos: Seq[Long] = c match {
              case _: OLongCol | _: ODictStringCol =>
                val (off, skip) = rlePos(pb); Seq(off, skip)
              case _: ODoubleCol => Seq(pb * 8)
              case _: OStringCol =>
                val (off, skip) = rlePos(pb)
                Seq(dataOffsets(g), off, skip)
            }
            locally { // packed uint64 positions (field 1)
              val pp = new PBW
              pos.foreach(Bytes.putUvarint(pp.out, _))
              e.bytesField(1, pp.toBytes)
            }
            e.bytesField(2, statPb(statsOf(c, from, until)))
            ri.bytesField(1, e.toBytes)
          }
          ib += ((6, colId, framed(ri.toBytes)))
          if (bloomCols.contains(ci)) {
            val bi = new PBW
            for (g <- 0 until nGroups) {
              val from = g * rowIndexStride
              val until = math.min(n, from + rowIndexStride)
              val hashes: Iterator[Long] = c match {
                case OLongCol(_, vs) => vs.slice(from, until)
                  .iterator.flatten.map(Orc.wangMix)
                case OStringCol(_, vs) => vs.slice(from, until)
                  .iterator.flatten.map(s => Orc.murmur64(s.getBytes(
                    java.nio.charset.StandardCharsets.UTF_8)))
                case ODictStringCol(_, vs) => vs.slice(from, until)
                  .iterator.flatten.map(s => Orc.murmur64(s.getBytes(
                    java.nio.charset.StandardCharsets.UTF_8)))
                case _: ODoubleCol => Iterator.empty
              }
              bi.bytesField(1, bloomFilterPb(hashes, rowIndexStride))
            }
            ib += ((8, colId, framed(bi.toBytes)))
          }
        }
        ib.result()
      }
    indexBuilt.foreach { case (_, _, b) => out.write(b, 0, b.length) }
    val indexLength = indexBuilt.map(_._3.length.toLong).sum
    built.foreach { case (_, _, b) => out.write(b, 0, b.length) }
    val dataLength = built.map(_._3.length.toLong).sum
    // ---- stripe footer ----------------------------------------------
    val sf = new PBW
    (indexBuilt ++ built).foreach { case (kind, colId, b) =>
      val st = new PBW
      st.uint(1, kind.toLong)
      st.uint(2, colId.toLong)
      st.uint(3, b.length.toLong)
      sf.bytesField(1, st.toBytes)
    }
    // encodings: DIRECT root; DIRECT_V2 for long/string, DIRECT
    // double, DICTIONARY_V2 (with dictionarySize) for dict strings
    val encOf: OColumn => Long = {
      case _: ODoubleCol => 0L
      case _: ODictStringCol => 3L
      case _ => 2L
    }
    locally {
      val enc = new PBW
      enc.uint(1, 0L)
      sf.bytesField(2, enc.toBytes)
    }
    cols.zipWithIndex.foreach { case (c, ci) =>
      val enc = new PBW
      enc.uint(1, encOf(c))
      c match {
        case _: ODictStringCol => enc.uint(2, dictSizes(ci).toLong)
        case _ => ()
      }
      sf.bytesField(2, enc.toBytes)
    }
    val sfb = framed(sf.toBytes)
    out.write(sfb, 0, sfb.length)
    // ---- file footer -------------------------------------------------
    val f = new PBW
    f.uint(1, 3L)
    f.uint(2, out.size().toLong)
    val si = new PBW
    si.uint(1, stripeStart)
    si.uint(2, indexLength)
    si.uint(3, dataLength)
    si.uint(4, sfb.length.toLong)
    si.uint(5, n.toLong)
    f.bytesField(3, si.toBytes)
    val root = new PBW
    root.uint(1, 12L) // STRUCT
    for (c <- cols.indices) {
      root.uint(2, (c + 1).toLong)
    }
    for (c <- cols) root.strField(3, c.name)
    f.bytesField(4, root.toBytes)
    cols.foreach { c =>
      val t = new PBW
      t.uint(1, c match {
        case _: OLongCol => 4L       // LONG
        case _: ODoubleCol => 6L     // DOUBLE
        case _: OStringCol => 7L     // STRING
        case _: ODictStringCol => 7L // STRING (dict-encoded)
        case _: OTimestampCol => 9L  // TIMESTAMP
        case _: ODecimalCol => 14L   // DECIMAL
      })
      c match {
        case ODecimalCol(_, _, scale, precision) =>
          t.uint(5, precision.toLong)
          t.uint(6, scale.toLong)
        case _ => ()
      }
      f.bytesField(4, t.toBytes)
    }
    f.uint(6, n.toLong)
    if (rowIndexStride == 0) {
      // legacy envelope (q311's md5-pinned layout): root counts rows;
      // leaves count PRESENT values and carry hasNull
      locally {
        val cs = new PBW
        cs.uint(1, n.toLong)
        f.bytesField(7, cs.toBytes)
      }
      for (ci <- cols.indices) {
        val cs = new PBW
        cs.uint(1, presentCount(ci))
        if (hasNulls(ci)) cs.uint(10, 1L) // hasNull
        f.bytesField(7, cs.toBytes)
      }
      f.uint(8, 0L)
    } else {
      // typed file-footer stats — same encoder as every index entry
      f.bytesField(7, statPb(CStat(n.toLong, hasNull = false)))
      cols.foreach(c => f.bytesField(7, statPb(statsOf(c, 0, n))))
      f.uint(8, rowIndexStride.toLong)
    }
    // Metadata section (per-stripe column statistics) directly before
    // the footer — the skip pyramid's STRIPE level (one stripe here)
    val mb =
      if (rowIndexStride == 0) Array.emptyByteArray
      else {
        val ss = new PBW
        ss.bytesField(1, statPb(CStat(n.toLong, hasNull = false)))
        cols.foreach(c => ss.bytesField(1, statPb(statsOf(c, 0, n))))
        val md = new PBW
        md.bytesField(1, ss.toBytes)
        framed(md.toBytes)
      }
    out.write(mb, 0, mb.length)
    val fb = framed(f.toBytes)
    out.write(fb, 0, fb.length)
    val ps = new PBW
    ps.uint(1, fb.length.toLong)
    ps.uint(2, compression.toLong)
    ps.uint(3, blockSize.toLong)
    ps.uint(4, 0L)
    ps.uint(4, 12L)
    ps.uint(5, mb.length.toLong)
    ps.strField(8000, "ORC")
    val psb = ps.toBytes
    require(psb.length < 256)
    out.write(psb, 0, psb.length)
    out.write(psb.length)
    out.toByteArray
  }

  /** Write `names.length` LONG columns under a struct root; one
    * stripe, RLEv2 DIRECT data streams. `compression` 0 = NONE,
    * 2 = SNAPPY through the engine's own compressor, with every
    * stream and both footers in ORC's chunk framing.
    */
  /** MULTI-STRIPE form of [[writeLongs]]: `stripeRows` rows per
    * stripe, each stripe a self-contained (streams, stripe footer)
    * region — the unit ORC parallelism and split assignment work on
    * at 100 TB. Uncompressed; stats envelope per the legacy (q311)
    * layout.
    */
  def writeLongsStripes(names: Seq[String], rows: Seq[Array[Long]],
                        stripeRows: Int): Array[Byte] = {
    require(names.nonEmpty && rows.forall(_.length == names.length))
    require(stripeRows >= 1 && rows.nonEmpty)
    require(rows.length <= (1 << 26), s"too many rows: ${rows.length}")
    val out = new java.io.ByteArrayOutputStream()
    out.write('O'); out.write('R'); out.write('C')
    final case class SInfo(offset: Long, dataLen: Long, sfLen: Long,
                           nRows: Long)
    val stripes = rows.grouped(stripeRows).toSeq.map { g =>
      val stripeStart = out.size().toLong
      val streams = names.indices.map { c =>
        rleV2DirectSigned(g.map(_(c)))
      }
      streams.foreach(s => out.write(s, 0, s.length))
      val dataLength = streams.map(_.length.toLong).sum
      val sf = new PBW
      for (c <- names.indices) {
        val st = new PBW
        st.uint(1, 1L)
        st.uint(2, (c + 1).toLong)
        st.uint(3, streams(c).length.toLong)
        sf.bytesField(1, st.toBytes)
      }
      for (c <- 0 to names.length) {
        val enc = new PBW
        enc.uint(1, if (c == 0) 0L else 2L)
        sf.bytesField(2, enc.toBytes)
      }
      val sfb = sf.toBytes
      out.write(sfb, 0, sfb.length)
      SInfo(stripeStart, dataLength, sfb.length.toLong,
        g.length.toLong)
    }
    val f = new PBW
    f.uint(1, 3L)
    f.uint(2, out.size().toLong)
    stripes.foreach { s =>
      val si = new PBW
      si.uint(1, s.offset); si.uint(2, 0L); si.uint(3, s.dataLen)
      si.uint(4, s.sfLen); si.uint(5, s.nRows)
      f.bytesField(3, si.toBytes)
    }
    val root = new PBW
    root.uint(1, 12L)
    for (c <- names.indices) {
      root.uint(2, (c + 1).toLong)
    }
    for (nm <- names) root.strField(3, nm)
    f.bytesField(4, root.toBytes)
    for (_ <- names) {
      val t = new PBW
      t.uint(1, 4L)
      f.bytesField(4, t.toBytes)
    }
    f.uint(6, rows.length.toLong)
    for (_ <- 0 to names.length) {
      val cs = new PBW
      cs.uint(1, rows.length.toLong)
      f.bytesField(7, cs.toBytes)
    }
    f.uint(8, 0L)
    val fb = f.toBytes
    out.write(fb, 0, fb.length)
    val ps = new PBW
    ps.uint(1, fb.length.toLong)
    ps.uint(2, 0L)
    ps.uint(3, (256 * 1024).toLong)
    ps.uint(4, 0L)
    ps.uint(4, 12L)
    ps.uint(5, 0L)
    ps.strField(8000, "ORC")
    val psb = ps.toBytes
    require(psb.length < 256)
    out.write(psb, 0, psb.length)
    out.write(psb.length)
    out.toByteArray
  }

  /** The ORC SPLIT rule (hive/orc's offset assignment): a stripe
    * belongs to the byte split [start, end) containing its START
    * offset — every stripe lands in exactly one split of any
    * partition of the file's range. Returns claimed stripe ordinals.
    */
  def stripesForSplit(tail: Orc.OrcTail, start: Long,
                      end: Long): Seq[Int] =
    tail.stripes.zipWithIndex.collect {
      case (s, i) if s.offset >= start && s.offset < end => i
    }

  def writeLongs(names: Seq[String], rows: Seq[Array[Long]],
                 compression: Int = 0): Array[Byte] = {
    require(names.nonEmpty && rows.forall(_.length == names.length))
    require(rows.length <= (1 << 26), s"too many rows: ${rows.length}")
    require(compression == 0 || compression == 2,
      s"compression $compression")
    val blockSize = 256 * 1024
    def framed(b: Array[Byte]): Array[Byte] =
      if (compression == 0) b else chunked(b, blockSize)
    val n = rows.length
    val out = new java.io.ByteArrayOutputStream()
    out.write('O'); out.write('R'); out.write('C')
    val stripeStart = out.size().toLong
    // ---- stripe data: one DATA stream per column --------------------
    val streams = names.indices.map { c =>
      framed(rleV2DirectSigned(rows.map(_(c))))
    }
    streams.foreach(s => out.write(s, 0, s.length))
    val dataLength = streams.map(_.length.toLong).sum
    // ---- stripe footer ----------------------------------------------
    val sf = new PBW
    for (c <- names.indices) {
      val st = new PBW
      st.uint(1, 1L)                // kind = DATA
      st.uint(2, (c + 1).toLong)    // column id (root is 0)
      st.uint(3, streams(c).length.toLong)
      sf.bytesField(1, st.toBytes)
    }
    // encodings: DIRECT for the struct root, DIRECT_V2 (RLEv2) for
    // every long child — the combination liborc itself emits
    for (c <- 0 to names.length) {
      val enc = new PBW
      enc.uint(1, if (c == 0) 0L else 2L)
      sf.bytesField(2, enc.toBytes)
    }
    val sfb = framed(sf.toBytes)
    out.write(sfb, 0, sfb.length)
    // ---- file footer -------------------------------------------------
    val f = new PBW
    f.uint(1, 3L)                   // headerLength ("ORC")
    f.uint(2, out.size().toLong)    // contentLength
    val si = new PBW
    si.uint(1, stripeStart)         // offset
    si.uint(2, 0L)                  // indexLength
    si.uint(3, dataLength)          // dataLength
    si.uint(4, sfb.length.toLong)   // footerLength
    si.uint(5, n.toLong)            // numberOfRows
    f.bytesField(3, si.toBytes)
    // types: struct root + LONG children
    val root = new PBW
    root.uint(1, 12L)               // STRUCT
    for (c <- names.indices) {
      root.uint(2, (c + 1).toLong) // subtypes
    }
    for (nm <- names) root.strField(3, nm)
    f.bytesField(4, root.toBytes)
    for (_ <- names) {
      val t = new PBW
      t.uint(1, 4L)                 // LONG
      f.bytesField(4, t.toBytes)
    }
    f.uint(6, n.toLong)             // numberOfRows
    // statistics envelope: numberOfValues per column (root + leaves)
    for (_ <- 0 to names.length) {
      val cs = new PBW
      cs.uint(1, n.toLong)
      f.bytesField(7, cs.toBytes)
    }
    f.uint(8, 0L)                   // rowIndexStride = 0 (no indexes)
    val fb = framed(f.toBytes)
    out.write(fb, 0, fb.length)
    // ---- postscript (never compressed) -------------------------------
    val ps = new PBW
    ps.uint(1, fb.length.toLong)    // footerLength
    ps.uint(2, compression.toLong) // compression kind
    ps.uint(3, blockSize.toLong)    // compressionBlockSize
    // version [0, 12] (packed not required; repeated varints)
    ps.uint(4, 0L)
    ps.uint(4, 12L)
    ps.uint(5, 0L)                  // metadataLength
    ps.strField(8000, "ORC")        // magic
    val psb = ps.toBytes
    require(psb.length < 256)
    out.write(psb, 0, psb.length)
    out.write(psb.length)
    out.toByteArray
  }
}
