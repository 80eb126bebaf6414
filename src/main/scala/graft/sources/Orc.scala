package graft.sources

/** ORC file-tail walk (public spec, orc.apache.org/specification/ORCv1
  * — the OTHER major columnar lake format): the last byte of the file
  * is the POSTSCRIPT length, the postscript (never compressed) names
  * the compression kind and footer length, and the FOOTER — a
  * protobuf, shipped through ORC's chunked compression framing —
  * carries the stripe directory (offset/index/data/footer lengths +
  * row counts per stripe), the type tree, and per-column file
  * statistics. That census is what a 100 TB scan plans from: stripes
  * are the split unit and the typed min/max/sum stats prune them, so
  * decoding the tail correctly from raw bytes IS the operator.
  *
  * Two from-scratch layers live here:
  *
  *  - a minimal protobuf walk over the shared [[Bytes.Reader]]
  *    (varint / zigzag sint / fixed64 / length-delimited, the four
  *    wire types ORC uses) — ORC is protobuf where parquet is
  *    thrift-compact, so parquet's struct walker does not apply;
  *  - the chunked-compression walk: each chunk is a 3-byte LE header,
  *    `isOriginal` in the LSB and the chunk byte length above it,
  *    decompressed to at most compressionBlockSize. All four codecs
  *    ORC ships are ENGINE-OWNED consumers: ZLIB chunks are raw
  *    deflate (stdlib Inflater, bounded), SNAPPY chunks carry their
  *    own length preamble ([[Snappy.uncompressSelf]]), ZSTD chunks
  *    are one frame each ([[Zstd.walk]]), LZ4 chunks are bare blocks
  *    with NO declared size — [[Lz4.decompressBounded]] was built for
  *    exactly this framing.
  *
  * Totality law (the house posture): any malformation — a bad magic,
  * a postscript length past the file, an unknown compression kind, a
  * chunk past its stream, a decompressed chunk over the block size, a
  * footer whose stripe row counts disagree with its own total — is
  * None, never a throw and never partial garbage.
  */
object Orc {

  import Bytes.{Damage, Reader, damage}

  // ---- protobuf wire, over the shared cursor -----------------------------

  /** Field key: (field number, wire type). */
  private def key(p: Reader): (Int, Int) = {
    val k = p.uvarint()
    val fn = k >>> 3
    if (fn <= 0 || fn > Int.MaxValue) damage()
    (fn.toInt, (k & 7).toInt)
  }

  /** Length-delimited payload as a sub-cursor. */
  private def field(p: Reader): Reader = p.sub(p.len(p.uvarint()))

  private def skipField(p: Reader, wt: Int): Unit = wt match {
    case 0 => p.uvarint()
    case 1 => p.skip(8)
    case 2 => field(p)
    case 5 => p.skip(4)
    case _ => damage() // groups and unknowns: not in ORC's wire
  }

  // ---- decoded tail -------------------------------------------------------

  final case class StripeInfo(offset: Long, indexLength: Long,
                              dataLength: Long, footerLength: Long,
                              numRows: Long)
  /** One column's file statistics; only the families the census reads
    * (integer and double) are surfaced, others stay None.
    */
  final case class ColStats(numValues: Long,
                            intMin: Option[Long], intMax: Option[Long],
                            intSum: Option[Long],
                            dblMin: Option[Double],
                            dblMax: Option[Double],
                            dblSum: Option[Double],
                            hasNull: Boolean)
  final case class OrcTail(compression: Int, blockSize: Long,
                           contentLength: Long, numRows: Long,
                           stripes: Seq[StripeInfo],
                           typeKinds: Seq[Int],
                           fieldNames: Seq[String],
                           stats: Seq[ColStats],
                           /** Metadata section: per-stripe, per-column
                             * statistics — what stripe PRUNING plans
                             * from. Empty when the writer emitted none.
                             */
                           stripeStats: Seq[Seq[ColStats]] = Nil,
                           /** Row-index stride (rows per row group —
                             * the bloom-filter granularity); 0 when
                             * the writer disabled indexes.
                             */
                           rowIndexStride: Long = 0L)

  val CompNone = 0; val CompZlib = 1; val CompSnappy = 2
  val CompLz4 = 4; val CompZstd = 5

  private val MaxFooter = 1 << 26 // decompressed-footer bound
  private val MaxList = 1 << 20   // stripes/types/stats count bound

  /** Parse a complete ORC byte object's tail: magic, postscript,
    * decompressed footer, stripe directory, types, statistics.
    */
  def parseTail(b: Array[Byte]): Option[OrcTail] = {
    try {
      val n = b.length
      if (n < 16 || b(0) != 'O' || b(1) != 'R' || b(2) != 'C')
        return None
      val psLen = b(n - 1) & 0xff
      if (psLen <= 0 || n - 1 - psLen < 3) return None
      // postscript: NEVER compressed
      val ps = new Reader(b, n - 1 - psLen, n - 1)
      var footerLen = -1L
      var comp = -1
      var blockSize = 256L * 1024 // spec default when absent
      var metadataLen = 0L
      var magic = ""
      while (ps.remaining > 0) {
        val (fn, wt) = key(ps)
        fn match {
          case 1 => footerLen = ps.uvarint()
          case 2 => comp = ps.uvarint().toInt
          case 3 => blockSize = ps.uvarint()
          case 5 => metadataLen = ps.uvarint()
          case 8000 =>
            val s = field(ps)
            magic = new String(s.b, s.pos, s.end - s.pos, "US-ASCII")
          case _ => skipField(ps, wt)
        }
      }
      if (magic != "ORC" || footerLen <= 0 || comp < 0) return None
      if (comp != CompNone && comp != CompZlib && comp != CompSnappy &&
        comp != CompLz4 && comp != CompZstd) return None
      if (blockSize <= 0 || blockSize > MaxFooter) return None
      val fEnd = n - 1 - psLen
      val fStart = fEnd - footerLen
      if (footerLen > Int.MaxValue || fStart < 3) return None
      val footerBytes =
        decompressStream(b, fStart.toInt, fEnd, comp, blockSize.toInt)
          .getOrElse(return None)

      // footer proto
      val f = new Reader(footerBytes, 0, footerBytes.length)
      var contentLength = -1L
      var numRows = -1L
      var rowIndexStride = 0L
      val stripes = Seq.newBuilder[StripeInfo]
      var nStripes = 0
      val kinds = Seq.newBuilder[Int]
      val names = Seq.newBuilder[String]
      var nTypes = 0
      val stats = Seq.newBuilder[ColStats]
      var nStats = 0
      while (f.remaining > 0) {
        val (fn, wt) = key(f)
        fn match {
          case 2 => contentLength = f.uvarint()
          case 3 =>
            if (wt != 2) damage()
            nStripes += 1
            if (nStripes > MaxList) damage()
            stripes += parseStripe(field(f))
          case 4 =>
            if (wt != 2) damage()
            nTypes += 1
            if (nTypes > MaxList) damage()
            val t = field(f)
            var kind = -1
            while (t.remaining > 0) {
              val (tf, tw) = key(t)
              tf match {
                case 1 => kind = t.uvarint().toInt
                case 3 =>
                  val s = field(t)
                  names += new String(s.b, s.pos, s.end - s.pos,
                    java.nio.charset.StandardCharsets.UTF_8)
                case _ => skipField(t, tw)
              }
            }
            if (kind < 0) damage()
            kinds += kind
          case 6 => numRows = f.uvarint()
          case 8 => rowIndexStride = f.uvarint()
          case 7 =>
            if (wt != 2) damage()
            nStats += 1
            if (nStats > MaxList) damage()
            stats += parseColStats(field(f))
          case _ => skipField(f, wt)
        }
      }
      val st = stripes.result()
      if (contentLength < 0 || numRows < 0) return None
      // the footer's own row accounting must tile: stripes sum to the
      // declared total (the stripe directory IS the scan plan)
      if (st.map(_.numRows).sum != numRows) return None

      // Metadata section (per-stripe column statistics), directly
      // before the footer; same chunked framing
      val stripeStats: Seq[Seq[ColStats]] =
        if (metadataLen <= 0) Nil
        else {
          if (metadataLen > Int.MaxValue ||
            fStart - metadataLen < 3) return None
          val mBytes = decompressStream(b, (fStart - metadataLen).toInt,
            fStart.toInt, comp, blockSize.toInt).getOrElse(return None)
          val m = new Reader(mBytes, 0, mBytes.length)
          val out = Seq.newBuilder[Seq[ColStats]]
          var cnt = 0
          while (m.remaining > 0) {
            val (fn, wt) = key(m)
            if (fn == 1) {
              if (wt != 2) damage()
              cnt += 1
              if (cnt > MaxList) damage()
              val ss = field(m)
              val cols = Seq.newBuilder[ColStats]
              var cc = 0
              while (ss.remaining > 0) {
                val (sf, sw) = key(ss)
                if (sf == 1) {
                  if (sw != 2) damage()
                  cc += 1
                  if (cc > MaxList) damage()
                  cols += parseColStats(field(ss))
                } else skipField(ss, sw)
              }
              out += cols.result()
            } else skipField(m, wt)
          }
          val r = out.result()
          // one StripeStatistics entry per stripe, or none at all
          if (r.nonEmpty && r.length != st.length) return None
          r
        }
      Some(OrcTail(comp, blockSize, contentLength, numRows, st,
        kinds.result(), names.result(), stats.result(), stripeStats,
        rowIndexStride))
    } catch { case _: Damage => None }
  }

  private def parseStripe(p: Reader): StripeInfo = {
    var off = -1L; var il = -1L; var dl = -1L; var fl = -1L
    var rows = -1L
    while (p.remaining > 0) {
      val (fn, wt) = key(p)
      fn match {
        case 1 => off = p.uvarint()
        case 2 => il = p.uvarint()
        case 3 => dl = p.uvarint()
        case 4 => fl = p.uvarint()
        case 5 => rows = p.uvarint()
        case _ => skipField(p, wt)
      }
    }
    if (off < 0 || il < 0 || dl < 0 || fl < 0 || rows < 0) damage()
    StripeInfo(off, il, dl, fl, rows)
  }

  private def parseColStats(p: Reader): ColStats = {
    var nv = -1L
    var iMin: Option[Long] = None; var iMax: Option[Long] = None
    var iSum: Option[Long] = None
    var dMin: Option[Double] = None; var dMax: Option[Double] = None
    var dSum: Option[Double] = None
    var hasNull = false
    while (p.remaining > 0) {
      val (fn, wt) = key(p)
      fn match {
        case 1 => nv = p.uvarint()
        case 2 => // IntegerStatistics: sint64 min/max/sum (ZIGZAG)
          if (wt != 2) damage()
          val s = field(p)
          while (s.remaining > 0) {
            val (sf, sw) = key(s)
            sf match {
              case 1 => iMin = Some(s.zigzag())
              case 2 => iMax = Some(s.zigzag())
              case 3 => iSum = Some(s.zigzag())
              case _ => skipField(s, sw)
            }
          }
        case 3 => // DoubleStatistics: fixed64 IEEE
          if (wt != 2) damage()
          val s = field(p)
          while (s.remaining > 0) {
            val (sf, sw) = key(s)
            sf match {
              case 1 => dMin = Some(
                java.lang.Double.longBitsToDouble(s.le64()))
              case 2 => dMax = Some(
                java.lang.Double.longBitsToDouble(s.le64()))
              case 3 => dSum = Some(
                java.lang.Double.longBitsToDouble(s.le64()))
              case _ => skipField(s, sw)
            }
          }
        case 10 => hasNull = p.uvarint() != 0
        case _ => skipField(p, wt)
      }
    }
    if (nv < 0) damage()
    ColStats(nv, iMin, iMax, iSum, dMin, dMax, dSum, hasNull)
  }

  // ---- stripe data decode (RLEv2 + doubles) -----------------------------

  /** One stream entry of a stripe footer: kind (0 PRESENT, 1 DATA,
    * 2 LENGTH, 6 ROW_INDEX, ...), column id, byte length. Streams lay
    * out in LIST ORDER from the stripe's start (index region first),
    * so cumulative lengths ARE the addressing.
    */
  final case class StreamInfo(kind: Int, column: Int, length: Long)
  final case class StripeFooter(streams: Seq[StreamInfo],
                                encodings: Seq[(Int, Int)])

  /** Parse one stripe's footer (chunk-compressed protobuf at
    * stripe.offset + indexLength + dataLength).
    */
  def parseStripeFooter(b: Array[Byte], tail: OrcTail,
                        s: StripeInfo): Option[StripeFooter] = {
    try {
      val fOff = s.offset + s.indexLength + s.dataLength
      val fEnd = fOff + s.footerLength
      if (fOff < 0 || fEnd > b.length || fOff > Int.MaxValue ||
        fEnd > Int.MaxValue) return None
      val fb = decompressStream(b, fOff.toInt, fEnd.toInt,
        tail.compression, tail.blockSize.toInt).getOrElse(return None)
      val p = new Reader(fb, 0, fb.length)
      val streams = Seq.newBuilder[StreamInfo]
      val encs = Seq.newBuilder[(Int, Int)]
      var ns = 0
      while (p.remaining > 0) {
        val (fn, wt) = key(p)
        fn match {
          case 1 =>
            if (wt != 2) damage()
            ns += 1
            if (ns > MaxList) damage()
            val sp = field(p)
            var kind = -1; var colId = -1; var len = -1L
            while (sp.remaining > 0) {
              val (sf, sw) = key(sp)
              sf match {
                case 1 => kind = sp.uvarint().toInt
                case 2 => colId = sp.uvarint().toInt
                case 3 => len = sp.uvarint()
                case _ => skipField(sp, sw)
              }
            }
            if (kind < 0 || colId < 0 || len < 0) damage()
            streams += StreamInfo(kind, colId, len)
          case 2 =>
            if (wt != 2) damage()
            val ep = field(p)
            var k = -1
            var dictSize = 0
            while (ep.remaining > 0) {
              val (ef, ew) = key(ep)
              if (ef == 1) k = ep.uvarint().toInt
              else if (ef == 2) dictSize = ep.uvarint().toInt
              else skipField(ep, ew)
            }
            encs += ((math.max(k, 0), dictSize))
          case _ => skipField(p, wt)
        }
      }
      Some(StripeFooter(streams.result(), encs.result()))
    } catch { case _: Damage => None }
  }

  /** Locate and decompress one column's DATA stream within a stripe.
    * Scope law: a PRESENT stream on that column routes away (the
    * non-null corpus shape — decoding validity bitmaps is a different
    * operator), as does a missing DATA stream.
    */
  private def dataStream(b: Array[Byte], tail: OrcTail, s: StripeInfo,
                         colId: Int): Option[Array[Byte]] =
    parseStripeFooter(b, tail, s)
      .flatMap(sf => colStream(b, tail, s, sf, colId, kind = 1))

  /** Locate and decompress one (column, stream-kind) within a stripe
    * by cumulative stream layout. The NON-NULL decode law lives here:
    * a PRESENT stream on the column routes away (the `Opt` variants
    * below decode validity bitmaps).
    */
  private def colStream(b: Array[Byte], tail: OrcTail, s: StripeInfo,
                        sf: StripeFooter, colId: Int,
                        kind: Int): Option[Array[Byte]] = {
    if (sf.streams.exists(st => st.kind == 0 && st.column == colId))
      return None // non-null fast path only
    colStreamAny(b, tail, s, sf, colId, kind)
  }

  /** colStream without the PRESENT routing — the nullable decode path
    * addresses PRESENT (kind 0) itself.
    */
  private def colStreamAny(b: Array[Byte], tail: OrcTail, s: StripeInfo,
                           sf: StripeFooter, colId: Int,
                           kind: Int): Option[Array[Byte]] = {
    var off = s.offset
    var found = -1L
    var len = -1L
    sf.streams.foreach { st =>
      if (st.kind == kind && st.column == colId && found < 0) {
        found = off; len = st.length
      }
      off += st.length
    }
    if (found < 0 || found + len > b.length ||
      found > Int.MaxValue || found + len > Int.MaxValue) None
    else decompressStream(b, found.toInt, (found + len).toInt,
      tail.compression, tail.blockSize.toInt)
  }

  /** Decode one STRING column's stripe values — both v2 encodings:
    * DIRECT_V2 (LENGTH stream = unsigned RLEv2 lengths, DATA stream =
    * concatenated bytes) and DICTIONARY_V2 (LENGTH + DICTIONARY_DATA
    * describe the sorted dictionary, DATA = unsigned RLEv2 indices).
    */
  def stripeColumnStrings(b: Array[Byte], tail: OrcTail, s: StripeInfo,
                          colId: Int): Option[Array[String]] = {
    if (s.numRows < 0 || s.numRows > (1 << 26)) return None
    val n = s.numRows.toInt
    parseStripeFooter(b, tail, s).flatMap { sf =>
      if (sf.streams.exists(st => st.kind == 0 && st.column == colId))
        None // non-null fast path; stripeColumnStringsOpt does nulls
      else decodeStrings(b, tail, s, sf, colId, n)
    }
  }

  /** Core string decode for `count` PRESENT values of a column —
    * both v2 encodings. For a nullable column `count` is the number
    * of set validity bits (LENGTH/DATA carry only present values).
    */
  private def decodeStrings(b: Array[Byte], tail: OrcTail,
                            s: StripeInfo, sf: StripeFooter,
                            colId: Int, count: Int)
      : Option[Array[String]] = {
    if (colId < 0 || colId >= sf.encodings.length) return None
    val (enc, dictSize) = sf.encodings(colId)
    def slice(data: Array[Byte],
              lens: Array[Long]): Option[Array[String]] = {
      val out = new Array[String](lens.length)
      var p = 0L
      var i = 0
      while (i < lens.length) {
        val l = lens(i)
        if (l < 0 || p + l > data.length) return None
        out(i) = new String(data, p.toInt, l.toInt,
          java.nio.charset.StandardCharsets.UTF_8)
        p += l
        i += 1
      }
      if (p != data.length) return None // bytes must tile exactly
      Some(out)
    }
    enc match {
      case 2 => // DIRECT_V2
        for {
          lenS <- colStreamAny(b, tail, s, sf, colId, kind = 2)
          lens <- rleV2Unsigned(lenS, count)
          data <- colStreamAny(b, tail, s, sf, colId, kind = 1)
          vals <- slice(data, lens)
        } yield vals
      case 3 => // DICTIONARY_V2
        if (dictSize < 0 || dictSize > (1 << 24)) return None
        for {
          lenS <- colStreamAny(b, tail, s, sf, colId, kind = 2)
          dictLens <- rleV2Unsigned(lenS, dictSize)
          dictData <- colStreamAny(b, tail, s, sf, colId, kind = 3)
          dict <- slice(dictData, dictLens)
          idxS <- colStreamAny(b, tail, s, sf, colId, kind = 1)
          idx <- rleV2Unsigned(idxS, count)
          vals <- {
            val out = new Array[String](count)
            var ok = true
            var i = 0
            while (i < count) {
              val k = idx(i)
              if (k < 0 || k >= dict.length) { ok = false; i = count }
              else { out(i) = dict(k.toInt); i += 1 }
            }
            if (ok) Some(out) else None
          }
        } yield vals
      case _ => None // RLEv1 string encodings out of scope
    }
  }

  /** Decode one LONG column's stripe values: DIRECT_V2 (RLEv2,
    * zigzag-signed) DATA stream, exactly `stripe.numRows` values.
    */
  def stripeColumnLongs(b: Array[Byte], tail: OrcTail, s: StripeInfo,
                        colId: Int): Option[Array[Long]] = {
    if (s.numRows < 0 || s.numRows > (1 << 26)) return None
    dataStream(b, tail, s, colId)
      .flatMap(d => rleV2Signed(d, s.numRows.toInt))
  }

  /** Decode one DOUBLE column's stripe values: IEEE 754 LE, 8 bytes
    * per value.
    */
  def stripeColumnDoubles(b: Array[Byte], tail: OrcTail, s: StripeInfo,
                          colId: Int): Option[Array[Double]] = {
    if (s.numRows < 0 || s.numRows > (1 << 26)) return None
    dataStream(b, tail, s, colId).flatMap { d =>
      val n = s.numRows.toInt
      if (d.length != 8L * n) None
      else {
        val out = new Array[Double](n)
        var i = 0
        while (i < n) {
          out(i) = java.lang.Double.longBitsToDouble(Bytes.le64(d, i * 8))
          i += 1
        }
        Some(out)
      }
    }
  }

  // ---- LIST columns -------------------------------------------------------

  /** Decode one LIST-of-LONG column: the list column itself carries a
    * LENGTH stream (unsigned RLEv2, one length per row); its CHILD
    * column (pre-order id `colId + 1`) carries the concatenated
    * elements, whose value count is the SUM of the lengths — not the
    * stripe's row count. Lengths slice the flat element array back
    * into per-row lists. Non-null scope (PRESENT routes away), like
    * the other strict decoders.
    */
  def stripeColumnLongLists(b: Array[Byte], tail: OrcTail,
                            s: StripeInfo, colId: Int)
      : Option[Array[Array[Long]]] = {
    if (s.numRows < 0 || s.numRows > (1 << 26)) return None
    val n = s.numRows.toInt
    parseStripeFooter(b, tail, s).flatMap { sf =>
      if (sf.streams.exists(st => st.kind == 0 &&
        (st.column == colId || st.column == colId + 1))) return None
      for {
        lenS <- colStreamAny(b, tail, s, sf, colId, kind = 2)
        lens <- rleV2Unsigned(lenS, n)
        total <- {
          var t = 0L
          var i = 0
          var ok = true
          while (i < n) {
            if (lens(i) < 0 || lens(i) > (1 << 26)) ok = false
            else t += lens(i)
            i += 1
          }
          if (ok && t <= (1 << 26)) Some(t.toInt) else None
        }
        childS <- colStreamAny(b, tail, s, sf, colId + 1, kind = 1)
        flat <- rleV2Signed(childS, total)
      } yield {
        val out = new Array[Array[Long]](n)
        var p = 0
        var i = 0
        while (i < n) {
          val l = lens(i).toInt
          out(i) = java.util.Arrays.copyOfRange(flat, p, p + l)
          p += l
          i += 1
        }
        out
      }
    }
  }

  /** Decode one MAP<string, long> column: the map column carries a
    * LENGTH stream (entries per row); its KEY child (`colId + 1`)
    * and VALUE child (`colId + 2`) carry the concatenated entries,
    * whose count is the SUM of lengths. Key strings route through the
    * shared string decode (either v2 encoding). Non-null scope.
    */
  def stripeColumnStringLongMaps(b: Array[Byte], tail: OrcTail,
                                 s: StripeInfo, colId: Int)
      : Option[Array[Array[(String, Long)]]] = {
    if (s.numRows < 0 || s.numRows > (1 << 26)) return None
    val n = s.numRows.toInt
    parseStripeFooter(b, tail, s).flatMap { sf =>
      if (sf.streams.exists(st => st.kind == 0 &&
        st.column >= colId && st.column <= colId + 2)) return None
      for {
        lenS <- colStreamAny(b, tail, s, sf, colId, kind = 2)
        lens <- rleV2Unsigned(lenS, n)
        total <- {
          var t = 0L
          var i = 0
          var ok = true
          while (i < n) {
            if (lens(i) < 0 || lens(i) > (1 << 26)) ok = false
            else t += lens(i)
            i += 1
          }
          if (ok && t <= (1 << 26)) Some(t.toInt) else None
        }
        keys <- decodeStrings(b, tail, s, sf, colId + 1, total)
        valS <- colStreamAny(b, tail, s, sf, colId + 2, kind = 1)
        vals <- rleV2Signed(valS, total)
      } yield {
        val out = new Array[Array[(String, Long)]](n)
        var p = 0
        var i = 0
        while (i < n) {
          val l = lens(i).toInt
          val row = new Array[(String, Long)](l)
          var j = 0
          while (j < l) { row(j) = (keys(p + j), vals(p + j)); j += 1 }
          out(i) = row
          p += l
          i += 1
        }
        out
      }
    }
  }

  // ---- temporal + decimal columns ---------------------------------------

  /** Decode one TIMESTAMP column's stripe values to EPOCH MICROS.
    * DATA = signed RLEv2 seconds relative to 2015-01-01 00:00:00 UTC;
    * SECONDARY = unsigned RLEv2 nanos with the spec's trailing-zero
    * packing (low 3 bits z: z == 0 means the value IS the nanos,
    * else nanos = (v >> 3) * 10^(z+1) — 1000 serializes as 0x0a).
    * Sub-microsecond nanos reject (the fixture contract is micros).
    */
  def stripeColumnTimestampMicros(b: Array[Byte], tail: OrcTail,
                                  s: StripeInfo, colId: Int)
      : Option[Array[Long]] = {
    if (s.numRows < 0 || s.numRows > (1 << 26)) return None
    val n = s.numRows.toInt
    parseStripeFooter(b, tail, s).flatMap { sf =>
      if (sf.streams.exists(st => st.kind == 0 && st.column == colId))
        return None // non-null scope, like the other strict decoders
      for {
        secS <- colStreamAny(b, tail, s, sf, colId, kind = 1)
        secs <- rleV2Signed(secS, n)
        nanS <- colStreamAny(b, tail, s, sf, colId, kind = 5)
        enc <- rleV2Unsigned(nanS, n)
        out <- {
          val r = new Array[Long](n)
          var ok = true
          var i = 0
          while (i < n && ok) {
            val v = enc(i)
            val z = (v & 7L).toInt
            var nanos = v >>> 3
            if (z != 0) {
              var k = 0
              while (k < z + 1) { nanos *= 10L; k += 1 }
            }
            if (nanos < 0 || nanos > 999999999L || nanos % 1000L != 0L)
              ok = false
            else {
              // the writer floors seconds for pre-epoch instants and
              // keeps nanos non-negative, so this sum IS the instant
              r(i) = (secs(i) + OrcEpochSeconds) * 1000000L +
                nanos / 1000L
            }
            i += 1
          }
          if (ok) Some(r) else None
        }
      } yield out
    }
  }

  /** 2015-01-01 00:00:00 UTC — ORC's timestamp epoch. */
  private val OrcEpochSeconds = 1420070400L

  /** Decode one DECIMAL column's stripe values: DATA = unbounded
    * base-128 ZIGZAG varints (one per value), SECONDARY = signed
    * RLEv2 per-value scales. Returns (unscaled, scale) pairs;
    * unscaled values beyond 63 bits reject (fixture contract).
    */
  def stripeColumnDecimals(b: Array[Byte], tail: OrcTail,
                           s: StripeInfo, colId: Int)
      : Option[(Array[Long], Array[Long])] = {
    if (s.numRows < 0 || s.numRows > (1 << 26)) return None
    val n = s.numRows.toInt
    parseStripeFooter(b, tail, s).flatMap { sf =>
      if (sf.streams.exists(st => st.kind == 0 && st.column == colId))
        return None
      for {
        d <- colStreamAny(b, tail, s, sf, colId, kind = 1)
        unscaled <- Bytes.total {
          val r = new Reader(d, 0, d.length)
          val out = Array.fill(n)(r.zigzag())
          if (r.remaining != 0) damage()
          out
        }
        scS <- colStreamAny(b, tail, s, sf, colId, kind = 5)
        scales <- rleV2Signed(scS, n)
      } yield (unscaled, scales)
    }
  }

  // ---- row index (ROW_INDEX streams, kind 6) ----------------------------

  /** One column's row index within a stripe: per-ROW-GROUP statistics
    * (rowIndexStride rows per group) — the granularity real readers
    * skip at INSIDE a surviving stripe. Positions (stream-seek
    * vectors) are validated as varints and skipped; group slicing is
    * row arithmetic. None when the stripe carries no index stream.
    */
  def stripeRowGroupStats(b: Array[Byte], tail: OrcTail, s: StripeInfo,
                          colId: Int): Option[Seq[ColStats]] = {
    try {
      parseStripeFooter(b, tail, s)
        .flatMap(sf => colStreamAny(b, tail, s, sf, colId, kind = 6))
        .flatMap { d =>
          val p = new Reader(d, 0, d.length)
          val out = Seq.newBuilder[ColStats]
          var n = 0
          while (p.remaining > 0) {
            val (fn, wt) = key(p)
            if (fn == 1) {
              if (wt != 2) damage()
              n += 1
              if (n > MaxList) damage()
              val e = field(p)
              var st: Option[ColStats] = None
              while (e.remaining > 0) {
                val (ef, ew) = key(e)
                ef match {
                  case 1 => // positions: packed (or lone) varints
                    if (ew == 2) {
                      val sub = field(e)
                      while (sub.remaining > 0) sub.uvarint()
                    } else if (ew == 0) e.uvarint()
                    else damage()
                  case 2 =>
                    if (ew != 2) damage()
                    st = Some(parseColStats(field(e)))
                  case _ => skipField(e, ew)
                }
              }
              out += st.getOrElse(damage())
            } else skipField(p, wt)
          }
          val r = out.result()
          if (r.isEmpty) None else Some(r)
        }
    } catch { case _: Damage => None }
  }

  // ---- nullable columns (PRESENT streams) -------------------------------

  /** Byte RLE (the spec's "Byte Run Length Encoding" — the PRESENT
    * stream's outer layer): header byte h in [0,127] is a run of h+3
    * copies of the next byte; h in [-128,-1] is -h literal bytes.
    * Exactly `n` bytes, whole stream consumed.
    */
  private def byteRle(d: Array[Byte], n: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](n)
    var o = 0
    var p = 0
    while (o < n) {
      if (p >= d.length) return None
      val h = d(p); p += 1
      if (h >= 0) {
        val run = h + 3
        if (p >= d.length || o + run > n) return None
        java.util.Arrays.fill(out, o, o + run, d(p)); p += 1; o += run
      } else {
        val lit = -h.toInt
        if (p + lit > d.length || o + lit > n) return None
        System.arraycopy(d, p, out, o, lit); p += lit; o += lit
      }
    }
    if (p != d.length) return None
    Some(out)
  }

  /** One column's validity bitmap for a stripe: the PRESENT stream
    * (kind 0) is Byte-RLE over MSB-first bit-packed booleans, one bit
    * per row (trailing pad bits in the last byte ignored). A column
    * with no PRESENT stream is all-present.
    */
  def stripePresent(b: Array[Byte], tail: OrcTail, s: StripeInfo,
                    sf: StripeFooter, colId: Int,
                    n: Int): Option[Array[Boolean]] = {
    if (!sf.streams.exists(st => st.kind == 0 && st.column == colId))
      return Some(Array.fill(n)(true))
    colStreamAny(b, tail, s, sf, colId, kind = 0)
      .flatMap(byteRle(_, (n + 7) / 8))
      .map { bytes =>
        val out = new Array[Boolean](n)
        var i = 0
        while (i < n) {
          out(i) = ((bytes(i >> 3) >> (7 - (i & 7))) & 1) != 0
          i += 1
        }
        out
      }
  }

  /** Decode one NULLABLE LONG column: PRESENT validity plus a DATA
    * stream carrying ONLY the present values (the spec's layout —
    * value streams never hold null slots). Returns (valid, values),
    * both length numRows; values(i) is 0 where valid(i) is false.
    * Also serves all-non-null columns (validity all-true).
    */
  def stripeColumnLongsOpt(b: Array[Byte], tail: OrcTail,
                           s: StripeInfo, colId: Int)
      : Option[(Array[Boolean], Array[Long])] = {
    if (s.numRows < 0 || s.numRows > (1 << 26)) return None
    val n = s.numRows.toInt
    parseStripeFooter(b, tail, s).flatMap { sf =>
      stripePresent(b, tail, s, sf, colId, n).flatMap { valid =>
        var nn = 0
        var i = 0
        while (i < n) { if (valid(i)) nn += 1; i += 1 }
        val packed =
          if (nn == 0) Some(new Array[Long](0))
          else colStreamAny(b, tail, s, sf, colId, kind = 1)
            .flatMap(rleV2Signed(_, nn))
        packed.map { vals =>
          val out = new Array[Long](n)
          var r = 0; var j = 0
          while (r < n) {
            if (valid(r)) { out(r) = vals(j); j += 1 }
            r += 1
          }
          (valid, out)
        }
      }
    }
  }

  /** Decode one NULLABLE STRING column (both v2 encodings): PRESENT
    * validity; LENGTH/DATA/DICTIONARY describe only present values.
    * Returns (valid, values), both length numRows; values(i) is null
    * where valid(i) is false.
    */
  def stripeColumnStringsOpt(b: Array[Byte], tail: OrcTail,
                             s: StripeInfo, colId: Int)
      : Option[(Array[Boolean], Array[String])] = {
    if (s.numRows < 0 || s.numRows > (1 << 26)) return None
    val n = s.numRows.toInt
    parseStripeFooter(b, tail, s).flatMap { sf =>
      stripePresent(b, tail, s, sf, colId, n).flatMap { valid =>
        var nn = 0
        var i = 0
        while (i < n) { if (valid(i)) nn += 1; i += 1 }
        // an all-null stripe may omit the value streams entirely
        val packed =
          if (nn == 0) Some(new Array[String](0))
          else decodeStrings(b, tail, s, sf, colId, nn)
        packed.map { vals =>
          val out = new Array[String](n)
          var r = 0; var j = 0
          while (r < n) {
            if (valid(r)) { out(r) = vals(j); j += 1 }
            r += 1
          }
          (valid, out)
        }
      }
    }
  }

  // ---- bloom filters (BLOOM_FILTER_UTF8 streams) ------------------------

  /** One row group's bloom filter (the spec's Hive-lineage BloomKFilter:
    * k hash functions over a 64-bit base hash, positions
    * `(h1 + i*h2) % numBits` with the negative flip). LONG keys hash
    * through Thomas Wang's 64-bit mix, byte/string keys through
    * Murmur3 hash64 (seed 104729) — both public algorithms the ORC
    * writers share.
    */
  final case class OrcBloom(numHash: Int, bits: Array[Long]) {
    private val numBits = bits.length * 64
    def testLong(v: Long): Boolean = testHash(wangMix(v))
    def testBytes(b: Array[Byte]): Boolean = testHash(murmur64(b))
    def testString(s: String): Boolean =
      testBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    private def testHash(h: Long): Boolean = {
      if (numBits == 0 || numHash <= 0) return false
      val h1 = h.toInt
      val h2 = (h >>> 32).toInt
      var i = 1
      while (i <= numHash) {
        var c = h1 + i * h2
        if (c < 0) c = ~c
        val pos = c % numBits
        if (((bits(pos >> 6) >>> (pos & 63)) & 1L) == 0) return false
        i += 1
      }
      true
    }
  }

  /** Thomas Wang's 64-bit integer mix — how ORC blooms hash LONGs.
    * OBSERVED writer behavior (pinned empirically against liborc: a
    * zeros-only column's bloom sets exactly bit 0, while 1,2,3 land
    * on their Wang positions): the value 0 hashes to 0, so all k
    * probe positions collapse onto bit 0. Mirror it or every 0-valued
    * key reads as a false negative.
    */
  private[sources] def wangMix(v0: Long): Long = {
    if (v0 == 0L) return 0L
    var k = v0
    k = (~k) + (k << 21)
    k ^= k >>> 24
    k = k + (k << 3) + (k << 8)
    k ^= k >>> 14
    k = k + (k << 2) + (k << 4)
    k ^= k >>> 28
    k += k << 31
    k
  }

  /** Hive Murmur3 hash64 (the 64-bit single-lane x64_128 variant,
    * seed 104729) — how ORC blooms hash byte/string keys.
    */
  private[sources] def murmur64(d: Array[Byte]): Long = {
    val C1 = 0x87c37b91114253d5L
    val C2 = 0x4cf5ad432745937fL
    def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))
    var h = 104729L
    val nBlocks = d.length / 8
    var i = 0
    while (i < nBlocks) {
      var k = Bytes.le64(d, i * 8)
      k *= C1; k = rotl(k, 31); k *= C2
      h ^= k
      h = rotl(h, 27) * 5 + 0x52dce729L
      i += 1
    }
    val tail = nBlocks * 8
    if (tail < d.length) {
      var k = 0L
      var j = d.length - 1
      while (j >= tail) { k = (k << 8) | (d(j) & 0xffL); j -= 1 }
      k *= C1; k = rotl(k, 31); k *= C2
      h ^= k
    }
    h ^= d.length
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Parse one column's BLOOM_FILTER_UTF8 stream (kind 8) within a
    * stripe: a BloomFilterIndex proto, one BloomFilter per row group
    * (rowIndexStride rows). None when the column carries no bloom.
    */
  def stripeBlooms(b: Array[Byte], tail: OrcTail, s: StripeInfo,
                   colId: Int): Option[Seq[OrcBloom]] = {
    try {
      parseStripeFooter(b, tail, s)
        .flatMap(sf => colStream(b, tail, s, sf, colId, kind = 8))
        .flatMap { d =>
          val p = new Reader(d, 0, d.length)
          val out = Seq.newBuilder[OrcBloom]
          var n = 0
          while (p.remaining > 0) {
            val (fn, wt) = key(p)
            if (fn == 1) {
              if (wt != 2) damage()
              n += 1
              if (n > MaxList) damage()
              val bf = field(p)
              var k = 0
              val longs = Seq.newBuilder[Long]
              while (bf.remaining > 0) {
                val (bfn, bwt) = key(bf)
                bfn match {
                  case 1 => k = bf.uvarint().toInt
                  case 2 => // repeated fixed64 bitset (legacy)
                    if (bwt == 1) longs += bf.le64()
                    else if (bwt == 2) {
                      val sub = field(bf)
                      while (sub.remaining > 0) longs += sub.le64()
                    } else damage()
                  case 3 => // utf8bitset: bytes, little-endian longs
                    if (bwt != 2) damage()
                    val sub = field(bf)
                    if ((sub.end - sub.pos) % 8 != 0) damage()
                    while (sub.remaining > 0) longs += sub.le64()
                  case _ => skipField(bf, bwt)
                }
              }
              val arr = longs.result().toArray
              if (k <= 0 || k > 64 || arr.length > (1 << 20)) damage()
              out += OrcBloom(k, arr)
            } else skipField(p, wt)
          }
          val r = out.result()
          if (r.isEmpty) None else Some(r)
        }
    } catch { case _: Damage => None }
  }

  /** 5-bit encoded bit width (the spec's closed table): 0-23 map to
    * 1-24, then 26/28/30/32/40/48/56/64.
    */
  private def widthOf(code: Int): Int =
    if (code < 24) code + 1
    else code match {
      case 24 => 26; case 25 => 28; case 26 => 30; case 27 => 32
      case 28 => 40; case 29 => 48; case 30 => 56; case _ => 64
    }

  /** Integer RLE v2 (the spec's four sub-encodings — SHORT_REPEAT,
    * DIRECT, PATCHED_BASE, DELTA), zigzag-signed semantics, exactly
    * `n` values consuming the stream exactly. Big-endian bit packing
    * throughout; PATCHED_BASE's base value is sign-magnitude and its
    * patch list carries (gap, patch) entries with value-0 entries as
    * gap-255 continuations, per the spec.
    */
  private def rleV2Signed(d: Array[Byte], n: Int): Option[Array[Long]] =
    rleV2(d, n, signed = true)

  /** UNSIGNED RLE v2 — string lengths and dictionary indices: no
    * zigzag on short-repeat/direct values, unsigned varint delta base
    * (the delta of the base stays signed, per the spec).
    */
  private def rleV2Unsigned(d: Array[Byte], n: Int): Option[Array[Long]] =
    rleV2(d, n, signed = false)

  private def rleV2(d: Array[Byte], n: Int,
                    signed: Boolean): Option[Array[Long]] = {
    try {
      val out = new Array[Long](n)
      val r = new Reader(d, 0, d.length)
      def u8(): Int = r.u8()
      var i = 0
      def sign(z: Long): Long = if (signed) Bytes.unzigzag(z) else z
      def unpack(count: Int, width: Int): Array[Long] = {
        val vals = new Array[Long](count)
        if (width == 0) return vals
        if (width > 64) damage()
        var cur = 0
        var bitsLeft = 0
        var j = 0
        while (j < count) {
          var v = 0L
          var need = width
          while (need > 0) {
            if (bitsLeft == 0) { cur = u8(); bitsLeft = 8 }
            val take = math.min(need, bitsLeft)
            v = (v << take) |
              ((cur >>> (bitsLeft - take)) & ((1 << take) - 1))
            bitsLeft -= take
            need -= take
          }
          vals(j) = v
          j += 1
        }
        vals
      }
      while (i < n) {
        val h = u8()
        (h >>> 6) match {
          case 0 => // SHORT_REPEAT
            val w = ((h >>> 3) & 7) + 1
            val cnt = (h & 7) + 3
            var v = 0L
            var k = 0
            while (k < w) { v = (v << 8) | u8(); k += 1 }
            val sv = sign(v)
            if (i + cnt > n) damage()
            k = 0
            while (k < cnt) { out(i) = sv; i += 1; k += 1 }
          case 1 => // DIRECT
            val width = widthOf((h >>> 1) & 0x1f)
            val len = (((h & 1) << 8) | u8()) + 1
            if (i + len > n) damage()
            val vals = unpack(len, width)
            var k = 0
            while (k < len) { out(i) = sign(vals(k)); i += 1; k += 1 }
          case 3 => // DELTA
            val wc = (h >>> 1) & 0x1f
            val width = if (wc == 0) 0 else widthOf(wc)
            val len = (((h & 1) << 8) | u8()) + 1
            if (i + len > n) damage()
            val base = sign(r.uvarint())
            out(i) = base; i += 1
            if (len >= 2) {
              val dBase = Bytes.unzigzag(r.uvarint())
              var prev = base + dBase
              out(i) = prev; i += 1
              if (len > 2) {
                if (width == 0) {
                  var k = 2
                  while (k < len) { prev += dBase; out(i) = prev
                    i += 1; k += 1 }
                } else {
                  val ds = unpack(len - 2, width)
                  val sign = if (dBase < 0) -1L else 1L
                  var k = 0
                  while (k < len - 2) {
                    prev += sign * ds(k); out(i) = prev
                    i += 1; k += 1
                  }
                }
              }
            }
          case _ => // PATCHED_BASE
            val width = widthOf((h >>> 1) & 0x1f)
            val len = (((h & 1) << 8) | u8()) + 1
            val b3 = u8()
            val bw = ((b3 >>> 5) & 7) + 1
            val pw = widthOf(b3 & 0x1f)
            val b4 = u8()
            val pgw = ((b4 >>> 5) & 7) + 1
            val pll = b4 & 0x1f
            var base = 0L
            var k = 0
            while (k < bw) { base = (base << 8) | u8(); k += 1 }
            val signBit = 1L << (bw * 8 - 1)
            if ((base & signBit) != 0) base = -(base & (signBit - 1))
            if (i + len > n) damage()
            val vals = unpack(len, width)
            val patches = unpack(pll, pgw + pw)
            var pos = 0
            var pi = 0
            while (pi < pll) {
              val g = (patches(pi) >>> pw).toInt
              val v = patches(pi) & ((1L << pw) - 1)
              pos += g
              if (v != 0) {
                if (pos >= len) damage()
                vals(pos) = vals(pos) | (v << width)
              }
              pi += 1
            }
            k = 0
            while (k < len) { out(i) = base + vals(k); i += 1; k += 1 }
        }
      }
      if (r.remaining != 0) damage() // trailing bytes = malformation
      Some(out)
    } catch { case _: Damage => None }
  }

  /** Decompress one ORC chunked stream `b[start, end)`: 3-byte LE
    * chunk headers (`isOriginal` LSB, length above), each chunk
    * decompressed to at most `blockSize` through the engine-owned
    * codec for `comp`. CompNone streams are the raw bytes.
    */
  private def decompressStream(b: Array[Byte], start: Int, end: Int,
                               comp: Int,
                               blockSize: Int): Option[Array[Byte]] = {
    if (start < 0 || end > b.length || start > end) return None
    if (comp == CompNone)
      return Some(java.util.Arrays.copyOfRange(b, start, end))
    val out = new java.io.ByteArrayOutputStream(
      math.min(end - start + 64, MaxFooter))
    var p = start
    while (p < end) {
      if (p + 3 > end) return None
      val h = (b(p) & 0xff) | (b(p + 1) & 0xff) << 8 |
        (b(p + 2) & 0xff) << 16
      p += 3
      val isOriginal = (h & 1) != 0
      val len = h >>> 1
      if (len <= 0 || p + len > end) return None
      if (isOriginal) {
        if (len > blockSize) return None
        out.write(b, p, len)
      } else {
        val dec: Option[Array[Byte]] = comp match {
          case CompZlib => inflateRawBounded(b, p, len, blockSize)
          case CompSnappy => Snappy.uncompressSelf(b, p, len, blockSize)
          case CompZstd =>
            Zstd.walk(java.util.Arrays.copyOfRange(b, p, p + len),
              cap = blockSize) match {
              case Some(Seq(fr)) if fr.kind == "zstd" => Some(fr.decoded)
              case _ => None
            }
          case CompLz4 => Lz4.decompressBounded(b, p, len, blockSize)
          case _ => None
        }
        dec match {
          case Some(d) if d.length <= blockSize => out.write(d)
          case _ => return None
        }
      }
      p += len
      if (out.size() > MaxFooter) return None
    }
    Some(out.toByteArray)
  }

  /** Raw-deflate inflate bounded at `cap` — ORC ZLIB chunks are bare
    * DEFLATE streams (no zlib wrapper), same consumer posture as the
    * Avro deflate codec.
    */
  private def inflateRawBounded(b: Array[Byte], off: Int, len: Int,
                                cap: Int): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, off, len)
      val bos = new java.io.ByteArrayOutputStream(math.min(cap, 1 << 16))
      val chunk = new Array[Byte](8192)
      while (!inf.finished()) {
        val k =
          try inf.inflate(chunk)
          catch { case _: java.util.zip.DataFormatException => return None }
        if (k > 0) bos.write(chunk, 0, k)
        else if (!inf.finished()) return None
        if (bos.size() > cap) return None
      }
      Some(bos.toByteArray)
    } finally inf.end()
  }
}
