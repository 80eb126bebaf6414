package graft.sources

/** Byte-level parquet reader: trailer, thrift-compact FileMetaData,
  * v1 page headers, and PLAIN-encoded page payloads.
  *
  * Why the engine owns this: at lake scale the cheapest query is the
  * one that never reads data. A footprint audit over 100 TB of
  * OTHER systems' parquet (Spark's, pyarrow's, Impala's, anybody's)
  * needs row counts, per-column codecs, chunk offsets and sizes — all
  * of which live in the ~1 KB footer. Walking footers from raw bytes
  * makes that a scan-task map over (path, tail-bytes) pairs with zero
  * exchanges, instead of a full-file decode per member. The decode
  * path (PLAIN pages, none/gzip codecs) then proves the offsets are
  * real by reading values back out of the pages they point at.
  *
  * Format sources are public: the parquet-format thrift IDL
  * (FileMetaData / RowGroup / ColumnChunk / ColumnMetaData /
  * PageHeader) and the thrift compact-protocol spec (field-delta
  * headers, zigzag varints, size-prefixed lists). Nothing here links
  * against parquet-mr — ParquetSpec pins this walk AGAINST parquet-mr
  * and the q234/q235 oracles pin it against parquet-cpp (pyarrow).
  *
  * Totality law (the BMP/PNG/Avro posture): malformation — bad magic,
  * truncated trailer, thrift running past the footer, forged offsets,
  * a page that inflates to the wrong size — yields None, never a
  * throw and never partial garbage.
  */
object Parquet {
  import Bytes.{Damage, Reader, damage}

  /** Physical types (parquet.thrift `Type`). INT96 is the legacy
    * Spark/Impala timestamp (LE nanos-of-day + LE Julian day); FLBA
    * is how decimals beyond INT64 range ship (big-endian two's
    * complement unscaled value in `type_length` bytes).
    */
  val PhysBool = 0; val PhysInt32 = 1; val PhysInt64 = 2
  val PhysInt96 = 3; val PhysFloat = 4; val PhysDouble = 5
  val PhysByteArray = 6; val PhysFixed = 7

  /** Codecs (parquet.thrift `CompressionCodec`). ZSTD pages route
    * through the engine's own RFC 8878 decoder ([[Zstd]]) — one frame
    * per page payload. LZ4_RAW (what parquet-cpp writes for lz4) is
    * one raw block per payload; legacy LZ4 (what parquet-mr/Spark
    * write) wraps blocks in the Hadoop BE32 framing — both route
    * through the engine's own [[Lz4]].
    */
  val CodecNone = 0; val CodecSnappy = 1; val CodecGzip = 2
  val CodecBrotli = 4; val CodecLz4 = 5; val CodecZstd = 6
  val CodecLz4Raw = 7

  /** Encodings (parquet.thrift `Encoding`). PLAIN_DICTIONARY is the
    * v1 spelling both parquet-mr and parquet-cpp still write for
    * dictionary pages and v1 data pages; RLE_DICTIONARY is the v2
    * spelling. The payload layout is identical. RLE (3) appears as a
    * VALUE encoding only for booleans (v2 writers emit it).
    */
  val EncPlain = 0; val EncPlainDict = 2; val EncRle = 3
  val EncRleDict = 8

  /** The v2 value encodings (Encodings.md): DELTA_BINARY_PACKED is
    * what parquet-mr's v2 writer emits for ints once a dictionary
    * overflows, DELTA_BYTE_ARRAY its string twin (prefix-compressed),
    * DELTA_LENGTH_BYTE_ARRAY the flat-length variant, and
    * BYTE_STREAM_SPLIT the transposed float layout scientific
    * datasets ship (better compression of exponent bytes).
    */
  val EncDeltaBinPacked = 5; val EncDeltaLenBA = 6
  val EncDeltaBA = 7; val EncByteStreamSplit = 9

  // ---- thrift compact protocol ----------------------------------------
  // Damage is signalled by the shared stackless [[Bytes.Damage]]: the
  // walk below is deeply recursive (struct skipping), and threading
  // Options through every varint read would bury the format logic. The
  // throw never escapes this object — every entry point catches it
  // into None.

  /** A thrift string; no megabyte "strings" in a footer. */
  private def str(tc: Reader): String = {
    val n = tc.uvarint()
    if (n > (1 << 20)) damage()
    tc.utf8(tc.len(n))
  }

  /** Walk one struct: `f(fieldId, tpe)` returns true if it consumed the
    * value; otherwise the value is skipped by type. Bounded depth.
    */
  private[sources] def struct(tc: Reader, depth: Int)
                             (f: (Int, Int) => Boolean): Unit = {
    if (depth > 16) damage()
    var lastId = 0
    var done = false
    while (!done) {
      val h = tc.u8()
      if (h == 0) done = true
      else {
        val tpe = h & 0x0f
        val delta = (h >> 4) & 0x0f
        val id = if (delta == 0) tc.zigzag().toInt else lastId + delta
        if (id <= 0) damage()
        lastId = id
        if (!f(id, tpe)) skipField(tc, tpe, depth)
      }
    }
  }

  /** Skip a FIELD value (bools live in the field-header nibble). */
  private def skipField(tc: Reader, tpe: Int, depth: Int): Unit = tpe match {
    case 1 | 2 => () // bool: encoded in the header, no payload
    case t => skipElem(tc, t, depth)
  }

  /** Skip a LIST/MAP element value (bools are a full byte there). */
  private def skipElem(tc: Reader, tpe: Int, depth: Int): Unit = tpe match {
    case 1 | 2 | 3 => tc.u8()
    case 4 | 5 | 6 => tc.uvarint()
    case 7 => tc.bytes(8)
    case 8 => val n = tc.uvarint(); if (n > (1 << 26)) damage(); tc.bytes(n.toInt)
    case 9 | 10 =>
      val (n, et) = listHeader(tc)
      var i = 0; while (i < n) { skipElem(tc, et, depth + 1); i += 1 }
    case 11 =>
      val n = tc.uvarint().toInt
      if (n < 0) damage()
      if (n > 0) {
        val kv = tc.u8()
        var i = 0
        while (i < n) {
          skipElem(tc, (kv >> 4) & 0x0f, depth + 1)
          skipElem(tc, kv & 0x0f, depth + 1)
          i += 1
        }
      }
    case 12 => struct(tc, depth + 1)((_, _) => false)
    case _ => damage()
  }

  private[sources] def listHeader(tc: Reader): (Int, Int) = {
    val h = tc.u8()
    val et = h & 0x0f
    val sz = (h >> 4) & 0x0f
    val n = if (sz == 15) tc.uvarint().toInt else sz
    if (n < 0 || n > (1 << 24)) damage()
    (n, et)
  }

  private[sources] def i32(tc: Reader, tpe: Int): Int = {
    if (tpe != 5) damage(); val v = tc.zigzag()
    if (v < Int.MinValue || v > Int.MaxValue) damage(); v.toInt
  }
  private[sources] def i64(tc: Reader, tpe: Int): Long = {
    if (tpe != 6) damage(); tc.zigzag()
  }
  private def i32List(tc: Reader, tpe: Int): Seq[Int] = {
    if (tpe != 9) damage()
    val (n, et) = listHeader(tc)
    if (et != 5) damage()
    Seq.fill(n)(tc.zigzag().toInt)
  }

  // ---- parquet footer ---------------------------------------------------

  case class SchemaElem(physType: Int, repetition: Int, name: String,
                        numChildren: Int, typeLength: Int = 0,
                        convertedType: Int = -1)
  case class ColMeta(physType: Int, encodings: Seq[Int], path: String,
                     codec: Int, numValues: Long, totalUncompressed: Long,
                     totalCompressed: Long, dataPageOffset: Long,
                     dictPageOffset: Long,
                     nullCount: Long = -1L,
                     minValue: Array[Byte] = null,
                     maxValue: Array[Byte] = null,
                     // ColumnChunk page-index pointers (PARQUET-922):
                     // footer-adjacent ColumnIndex / OffsetIndex
                     // structs; -1 when the writer emitted none
                     offsetIndexOffset: Long = -1L,
                     offsetIndexLength: Int = -1,
                     columnIndexOffset: Long = -1L,
                     columnIndexLength: Int = -1,
                     // ColumnMetaData bloom pointers (PARQUET-41):
                     // split-block bloom header + bitset; -1 when none
                     bloomFilterOffset: Long = -1L,
                     bloomFilterLength: Int = -1,
                     // modular encryption (Encryption.md): the
                     // ColumnChunk's encrypted_column_metadata bytes
                     // (field 9) and, for ENCRYPTION_WITH_COLUMN_KEY
                     // chunks, the key_metadata (null = footer key)
                     encryptedMeta: Array[Byte] = null,
                     columnKeyMeta: Array[Byte] = null) {
    /** Statistics value decoded as a Long (INT32/INT64/BOOL/date32 —
      * PLAIN little-endian, sign-extended). None when absent or not a
      * long-family column.
      */
    private def asLong(v: Array[Byte]): Option[Long] = physType match {
      case PhysBool if v != null && v.length == 1 => Some(v(0) & 1L)
      case PhysInt32 if v != null && v.length == 4 =>
        Some(Bytes.le32(v, 0).toLong)
      case PhysInt64 if v != null && v.length == 8 =>
        Some(Bytes.le64(v, 0))
      case _ => None
    }
    /** Statistics value decoded as a Double (FLOAT/DOUBLE). */
    private def asDouble(v: Array[Byte]): Option[Double] = physType match {
      case PhysFloat if v != null && v.length == 4 =>
        Some(java.lang.Float.intBitsToFloat(
          Bytes.le32(v, 0)).toDouble)
      case PhysDouble if v != null && v.length == 8 =>
        Some(java.lang.Double.longBitsToDouble(Bytes.le64(v, 0)))
      case _ => None
    }
    def minLong: Option[Long] = asLong(minValue)
    def maxLong: Option[Long] = asLong(maxValue)
    def minDouble: Option[Double] = asDouble(minValue)
    def maxDouble: Option[Double] = asDouble(maxValue)
  }
  case class RowGroupMeta(cols: Seq[ColMeta], totalByteSize: Long,
                          numRows: Long)
  case class FileMeta(version: Int, schema: Seq[SchemaElem], numRows: Long,
                      rowGroups: Seq[RowGroupMeta], createdBy: String,
                      footerLen: Int) {
    /** Leaf column count (elements with no children, root excluded). */
    def numLeaves: Int = schema.count(_.numChildren == 0)

    /** Dotted leaf path → (max definition level, max repetition level),
      * reconstructed by the same DFS the schema list was flattened by:
      * each element owns the next `numChildren` elements; OPTIONAL adds
      * a definition level, REPEATED adds one of each.
      */
    def leafLevels: Map[String, (Int, Int)] =
      leafWalk.map { case (p, d, r, _) => p -> ((d, r)) }.toMap

    /** Dotted leaf path → declared `type_length` (FLBA width; 0 for
      * every other physical type).
      */
    def leafTypeLengths: Map[String, Int] =
      leafWalk.map { case (p, _, _, tl) => p -> tl }.toMap

    private def leafWalk: Seq[(String, Int, Int, Int)] = {
      val out = Seq.newBuilder[(String, Int, Int, Int)]
      var idx = 0
      def walk(prefix: String, defL: Int, repL: Int, root: Boolean): Unit = {
        if (idx >= schema.length) damage()
        val e = schema(idx); idx += 1
        val d = if (root) 0 else defL + (if (e.repetition != 0) 1 else 0)
        val r = if (root) 0 else repL + (if (e.repetition == 2) 1 else 0)
        val path = if (root || prefix.isEmpty) e.name
                   else prefix + "." + e.name
        if (root) {
          var i = 0
          while (i < e.numChildren) { walk("", d, r, root = false); i += 1 }
        } else if (e.numChildren == 0) out += ((path, d, r, e.typeLength))
        else {
          var i = 0
          while (i < e.numChildren) { walk(path, d, r, root = false); i += 1 }
        }
      }
      walk("", 0, 0, root = true)
      if (idx != schema.length) damage() // children counts must tile exactly
      out.result()
    }
  }

  /** Parse the trailer + thrift FileMetaData of a complete parquet file.
    * Layout: "PAR1" … data … [FileMetaData thrift][LE32 len]"PAR1".
    */
  def parseFooter(b: Array[Byte]): Option[FileMeta] = {
    try {
      val n = b.length
      if (n < 12) return None
      def magicAt(i: Int) = b(i) == 'P' && b(i + 1) == 'A' &&
        b(i + 2) == 'R' && b(i + 3) == '1'
      if (!magicAt(0) || !magicAt(n - 4)) return None
      val fl = Bytes.le32(b, n - 8)
      if (fl <= 0 || fl > n - 12) return None
      val tc = new Reader(b, n - 8 - fl, n - 8)
      var version = -1
      var numRows = -1L
      var createdBy = ""
      var schema = Seq.empty[SchemaElem]
      var rowGroups = Seq.empty[RowGroupMeta]
      struct(tc, 0) { (id, tpe) =>
        id match {
          case 1 => version = i32(tc, tpe); true
          case 2 =>
            if (tpe != 9) damage()
            val (cnt, et) = listHeader(tc)
            if (et != 12) damage()
            schema = Seq.fill(cnt)(parseSchemaElem(tc)); true
          case 3 => numRows = i64(tc, tpe); true
          case 4 =>
            if (tpe != 9) damage()
            val (cnt, et) = listHeader(tc)
            if (et != 12) damage()
            rowGroups = Seq.fill(cnt)(parseRowGroup(tc)); true
          case 6 => if (tpe != 8) damage(); createdBy = str(tc); true
          case _ => false
        }
      }
      // required fields of the IDL must all have arrived
      if (version < 0 || numRows < 0 || schema.isEmpty) return None
      // the thrift walk must land exactly at the trailer
      if (tc.pos != n - 8) return None
      val fm = FileMeta(version, schema, numRows, rowGroups, createdBy, fl)
      fm.leafLevels // child-count tiling must be valid (damages if not)
      Some(fm)
    } catch { case _: Damage => None }
  }

  private def parseSchemaElem(tc: Reader): SchemaElem = {
    var typ = -1; var rep = -1; var name = ""; var children = 0
    var typeLen = 0; var converted = -1
    struct(tc, 1) { (id, tpe) =>
      id match {
        case 1 => typ = i32(tc, tpe); true
        case 2 => typeLen = i32(tc, tpe); true // FIXED_LEN_BYTE_ARRAY
        case 3 => rep = i32(tc, tpe); true
        case 4 => if (tpe != 8) damage(); name = str(tc); true
        case 5 => children = i32(tc, tpe); true
        case 6 => converted = i32(tc, tpe); true
        case _ => false
      }
    }
    if (name.isEmpty || children < 0) damage()
    if (typ == PhysFixed && typeLen <= 0) damage() // FLBA needs a width
    if (typeLen < 0 || typeLen > (1 << 20)) damage()
    SchemaElem(typ, rep, name, children, typeLen, converted)
  }

  private def parseRowGroup(tc: Reader): RowGroupMeta = {
    var cols = Seq.empty[ColMeta]
    var totalBytes = -1L; var numRows = -1L
    struct(tc, 1) { (id, tpe) =>
      id match {
        case 1 =>
          if (tpe != 9) damage()
          val (cnt, et) = listHeader(tc)
          if (et != 12) damage()
          cols = Seq.fill(cnt)(parseColumnChunk(tc)); true
        case 2 => totalBytes = i64(tc, tpe); true
        case 3 => numRows = i64(tc, tpe); true
        case _ => false
      }
    }
    if (cols.isEmpty || numRows < 0 || totalBytes < 0) damage()
    RowGroupMeta(cols, totalBytes, numRows)
  }

  private def parseColumnChunk(tc: Reader): ColMeta = {
    var meta: ColMeta = null
    var oiOff = -1L; var oiLen = -1
    var ciOff = -1L; var ciLen = -1
    var encMeta: Array[Byte] = null
    var colKeyMeta: Array[Byte] = null
    struct(tc, 2) { (id, tpe) =>
      id match {
        case 3 =>
          if (tpe != 12) damage()
          meta = parseColumnMeta(tc); true
        case 4 => oiOff = i64(tc, tpe); true
        case 5 => oiLen = i32(tc, tpe); true
        case 6 => ciOff = i64(tc, tpe); true
        case 7 => ciLen = i32(tc, tpe); true
        case 8 => // ColumnCryptoMetaData union (Encryption.md):
          // 1 = ENCRYPTION_WITH_FOOTER_KEY (empty struct),
          // 2 = ENCRYPTION_WITH_COLUMN_KEY (path + key_metadata)
          if (tpe != 12) damage()
          struct(tc, 3) { (uid, utpe) =>
            uid match {
              case 2 =>
                if (utpe != 12) damage()
                struct(tc, 4) { (kid, ktpe) =>
                  kid match {
                    case 2 =>
                      if (ktpe != 8) damage()
                      val n = tc.uvarint()
                      if (n > (1 << 16)) damage()
                      colKeyMeta = tc.bytes(n.toInt); true
                    case _ => false
                  }
                }
                true
              case _ => false
            }
          }
          true
        case 9 => // encrypted_column_metadata (binary)
          if (tpe != 8) damage()
          val n = tc.uvarint()
          if (n > (1 << 24)) damage()
          encMeta = tc.bytes(n.toInt); true
        case _ => false
      }
    }
    // a column-key chunk legitimately omits plain meta_data — its
    // ColumnMetaData travels encrypted in field 9
    if (meta == null && encMeta == null) damage()
    val base =
      if (meta != null) meta
      else ColMeta(-1, Nil, "", -1, 0L, 0L, 0L, 0L, -1L)
    base.copy(offsetIndexOffset = oiOff, offsetIndexLength = oiLen,
      columnIndexOffset = ciOff, columnIndexLength = ciLen,
      encryptedMeta = encMeta, columnKeyMeta = colKeyMeta)
  }

  /** Parse ONE standalone ColumnMetaData struct (the decrypted
    * payload of a ColumnChunk's encrypted_column_metadata). The walk
    * must consume the bytes exactly.
    */
  private[sources] def parseColumnMetaBytes(b: Array[Byte])
      : Option[ColMeta] =
    Bytes.total {
      val tc = new Reader(b, 0, b.length)
      val m = parseColumnMeta(tc)
      if (tc.pos != b.length) damage()
      m
    }

  private def parseColumnMeta(tc: Reader): ColMeta = {
    var typ = -1; var encodings = Seq.empty[Int]; var path = ""
    var codec = -1; var numValues = -1L
    var totUnc = -1L; var totComp = -1L
    var dataOff = -1L; var dictOff = -1L
    var bloomOff = -1L; var bloomLen = -1
    var nullCount = -1L
    var minV: Array[Byte] = null; var maxV: Array[Byte] = null
    var minLegacy: Array[Byte] = null; var maxLegacy: Array[Byte] = null
    def statBytes(tpe: Int): Array[Byte] = {
      if (tpe != 8) damage()
      val n = tc.uvarint()
      if (n > (1 << 16)) damage() // stats values are small scalars
      tc.bytes(n.toInt)
    }
    struct(tc, 3) { (id, tpe) =>
      id match {
        case 1 => typ = i32(tc, tpe); true
        case 2 => encodings = i32List(tc, tpe); true
        case 3 =>
          if (tpe != 9) damage()
          val (n, et) = listHeader(tc)
          if (et != 8) damage()
          path = Seq.fill(n)(str(tc)).mkString("."); true
        case 4 => codec = i32(tc, tpe); true
        case 5 => numValues = i64(tc, tpe); true
        case 6 => totUnc = i64(tc, tpe); true
        case 7 => totComp = i64(tc, tpe); true
        case 9 => dataOff = i64(tc, tpe); true
        case 11 => dictOff = i64(tc, tpe); true
        case 14 => bloomOff = i64(tc, tpe); true
        case 15 => bloomLen = i32(tc, tpe); true
        case 12 => // Statistics: modern min_value/max_value (5/6)
          // preferred, legacy min/max (1/2) as fallback
          if (tpe != 12) damage()
          struct(tc, 4) { (sid, stpe) =>
            sid match {
              case 1 => maxLegacy = statBytes(stpe); true
              case 2 => minLegacy = statBytes(stpe); true
              case 3 => nullCount = i64(tc, stpe); true
              case 5 => maxV = statBytes(stpe); true
              case 6 => minV = statBytes(stpe); true
              case _ => false
            }
          }
          true
        case _ => false
      }
    }
    if (typ < 0 || path.isEmpty || codec < 0 || numValues < 0 ||
      totUnc < 0 || totComp < 0 || dataOff < 0) damage()
    ColMeta(typ, encodings, path, codec, numValues, totUnc, totComp,
      dataOff, dictOff, nullCount,
      if (minV != null) minV else minLegacy,
      if (maxV != null) maxV else maxLegacy,
      bloomFilterOffset = bloomOff, bloomFilterLength = bloomLen)
  }

  // ---- page walk + PLAIN / dictionary decode ---------------------------

  private[sources] case class PageHead(pageType: Int, uncompressed: Int,
                              compressed: Int, numValues: Int,
                              encoding: Int, headerEnd: Int,
                              // DATA_PAGE_V2 extras (-1 / true if v1)
                              numNulls: Int, defLen: Int, repLen: Int,
                              valuesCompressed: Boolean,
                              // optional page CRC-32 (thrift id 4)
                              crc: Int = 0, hasCrc: Boolean = false) {
    /** Verify the page CRC when the writer recorded one: standard
      * CRC-32 over everything AFTER the header — the compressed data
      * (v1) or levels + compressed values (v2), per parquet.thrift.
      * A checksum is what catches the flipped byte an UNCOMPRESSED
      * PLAIN page would otherwise decode silently into a wrong sum.
      */
    def crcOk(b: Array[Byte]): Boolean = {
      if (!hasCrc) return true
      if (headerEnd < 0 || compressed < 0 ||
        headerEnd.toLong + compressed > b.length) return false
      val c = new java.util.zip.CRC32()
      c.update(b, headerEnd, compressed)
      (c.getValue & 0xffffffffL) == (crc.toLong & 0xffffffffL)
    }
  }

  private[sources] def parsePageHeader(b: Array[Byte], off: Int): PageHead = {
    if (off < 0 || off >= b.length) damage()
    val tc = new Reader(b, off, b.length)
    var pt = -1; var unc = -1; var comp = -1
    var nv = -1; var enc = -1
    var nn = -1; var dl = -1; var rl = -1
    var vComp = true
    var crc = 0; var hasCrc = false
    struct(tc, 0) { (id, tpe) =>
      id match {
        case 1 => pt = i32(tc, tpe); true
        case 2 => unc = i32(tc, tpe); true
        case 3 => comp = i32(tc, tpe); true
        case 4 => crc = i32(tc, tpe); hasCrc = true; true
        case 5 => // DataPageHeader (v1)
          if (tpe != 12) damage()
          struct(tc, 1) { (did, dtpe) =>
            did match {
              case 1 => nv = i32(tc, dtpe); true
              case 2 => enc = i32(tc, dtpe); true
              case _ => false
            }
          }
          true
        case 7 => // DictionaryPageHeader
          if (tpe != 12) damage()
          struct(tc, 1) { (did, dtpe) =>
            did match {
              case 1 => nv = i32(tc, dtpe); true
              case 2 => enc = i32(tc, dtpe); true
              case _ => false
            }
          }
          true
        case 8 => // DataPageHeaderV2: levels live OUTSIDE the codec
          if (tpe != 12) damage()
          struct(tc, 1) { (did, dtpe) =>
            did match {
              case 1 => nv = i32(tc, dtpe); true
              case 2 => nn = i32(tc, dtpe); true
              case 4 => enc = i32(tc, dtpe); true
              case 5 => dl = i32(tc, dtpe); true
              case 6 => rl = i32(tc, dtpe); true
              case 7 => // bool: value IS the compact type nibble
                if (dtpe != 1 && dtpe != 2) damage()
                vComp = dtpe == 1; true
              case _ => false
            }
          }
          true
        case _ => false
      }
    }
    if (pt < 0 || unc < 0 || comp < 0) damage()
    PageHead(pt, unc, comp, nv, enc, tc.pos, nn, dl, rl, vComp,
      crc, hasCrc)
  }

  /** Decoded totals of one column chunk: the proof the footer's
    * offsets point at real pages. Sums are type-routed: INT64/INT32
    * (sign-extended) → long_sum, BOOLEAN → long_sum counts trues,
    * DOUBLE/FLOAT → double_sum, BYTE_ARRAY → byte lengths.
    */
  case class ChunkValues(numValues: Long, longSum: Long, doubleSum: Double,
                         binLenSum: Long, nPages: Int)

  /** The parquet SPLIT rule (parquet-mr/Spark's
    * `RowGroupFilter`/midpoint assignment): a row group belongs to
    * the byte split [start, end) that contains its MIDPOINT —
    * first chunk start + total compressed size / 2 — so ANY
    * partition of the file's byte range assigns every row group to
    * EXACTLY one split, and a 100 TB scan fans out without
    * coordination. Returns the claimed row-group ordinals.
    */
  def splitRowGroups(fm: FileMeta, start: Long,
                     end: Long): Seq[Int] =
    fm.rowGroups.zipWithIndex.collect {
      case (rg, i) if rg.cols.nonEmpty && {
        val s = rg.cols.map(c =>
          if (c.dictPageOffset >= 0) c.dictPageOffset
          else c.dataPageOffset).min
        val mid = s + rg.cols.map(_.totalCompressed).sum / 2
        mid >= start && mid < end
      } => i
    }

  /** A page claiming more values than this routes away before any
    * allocation happens. Real writers flush pages around 1 MB / tens
    * of thousands of values; 2^24 is ~3 orders of magnitude above
    * that, and caps the per-page scratch at a 64 MB Int array even
    * against a forged footer + forged page header. (A BYTE-proportional
    * bound would be wrong: an all-null page legitimately encodes
    * millions of definition levels in a handful of RLE bytes.)
    */
  private val MaxPageValues = 1 << 24

  /** Decode every data page of a FLAT column chunk: v1 and v2 pages,
    * PLAIN and dictionary (PLAIN_DICTIONARY / RLE_DICTIONARY)
    * encodings, none/snappy/gzip codecs — the full matrix both
    * parquet-mr and parquet-cpp write by DEFAULT (dictionary + snappy).
    * `maxDef`/`maxRep` come from the footer schema's leaf walk
    * ([[FileMeta.leafLevels]]): 0/0 for a REQUIRED flat leaf (no level
    * bytes in the page), 1/0 for an OPTIONAL one, and up to 7/1 for a
    * leaf under ONE repeated group — the 3-level LIST layout both
    * pyarrow and parquet-mr write for array columns (list<float>
    * embeddings, token lists). `numValues` then counts LEVEL ENTRIES
    * (a null or empty list occupies one), and the sums run over the
    * entries whose definition level reaches `maxDef`. Deeper nesting
    * (maxRep > 1) routes away. When the footer declares a dictionary
    * page the walk starts there (it precedes the first data page);
    * `nPages` counts DATA pages. None on other encodings/codecs or
    * malformation.
    */
  def decodeChunk(b: Array[Byte], col: ColMeta,
                  maxDef: Int = 0, maxRep: Int = 0,
                  typeLen: Int = 0): Option[ChunkValues] = {
    try {
      if (col.physType != PhysInt64 && col.physType != PhysDouble &&
        col.physType != PhysByteArray && col.physType != PhysInt32 &&
        col.physType != PhysFloat && col.physType != PhysBool &&
        col.physType != PhysInt96 && col.physType != PhysFixed)
        return None
      if (col.physType == PhysFixed && (typeLen <= 0 ||
        typeLen > (1 << 20))) return None // FLBA needs the footer width
      if (col.codec != CodecNone && col.codec != CodecGzip &&
        col.codec != CodecSnappy && col.codec != CodecZstd &&
        col.codec != CodecLz4 && col.codec != CodecLz4Raw &&
        col.codec != CodecBrotli) return None
      if (maxDef < 0 || maxDef > 7 || maxRep < 0 || maxRep > 1)
        return None // one repeated level: lists of scalars
      if (maxRep > maxDef) return None // repeated counts toward def too
      val first =
        if (col.dictPageOffset >= 0) col.dictPageOffset
        else col.dataPageOffset
      if (first < 0 || first > Int.MaxValue) return None
      if (col.dictPageOffset >= 0 &&
        col.dictPageOffset > col.dataPageOffset) return None
      var pos = first.toInt
      var dict: Array[Long] = null // per-entry contribution (see addVal)
      var values = 0L
      var longSum = 0L; var doubleSum = 0.0; var binLen = 0L
      var pages = 0

      def addVal(v: Long): Unit = col.physType match {
        case PhysInt64 | PhysInt32 | PhysBool => longSum += v
        // INT96 contributes epoch SECONDS, FLBA the unscaled decimal
        case PhysInt96 | PhysFixed => longSum += v
        case PhysDouble => doubleSum += java.lang.Double.longBitsToDouble(v)
        case PhysFloat =>
          doubleSum += java.lang.Float.intBitsToFloat(v.toInt).toDouble
        case _ => binLen += v
      }

      /** Values section of a data page: PLAIN runs to exactly `end`;
        * dictionary indices are a bit-width byte + hybrid runs.
        */
      def dataValues(raw: Array[Byte], off: Int, encoding: Int,
                     present: Int): Boolean = encoding match {
        case EncPlain =>
          val (arr, end) = plainVals(raw, off, present, col.physType,
            typeLen)
          if (end != raw.length) return false // PLAIN pages are exact
          var i = 0
          while (i < present) { addVal(arr(i)); i += 1 }
          true
        case EncRle if col.physType == PhysBool =>
          // RLE-encoded booleans (v2 writers): LE32 length prefix +
          // bit-width-1 hybrid runs — the same machinery as def levels
          if (off + 4 > raw.length) return false
          val len = Bytes.le32(raw, off)
          if (len < 0 || off + 4 + len != raw.length) return false
          if (present == 0) return len == 0
          val vals = readHybrid(raw, off + 4, raw.length, 1, present,
            strict = false)
          var i = 0
          while (i < present) { addVal(vals(i)); i += 1 }
          true
        case EncPlainDict | EncRleDict =>
          if (dict == null) return false // indices before any dictionary
          if (present == 0)
            // an ALL-NULL page still carries its bit-width byte
            // (parquet-cpp writes one even with zero indices)
            return off == raw.length ||
              (off + 1 == raw.length && (raw(off) & 0xff) <= 32)
          if (off >= raw.length) return false
          val bw = raw(off) & 0xff
          if (bw > 30) return false
          val idx = readHybrid(raw, off + 1, raw.length, bw, present,
            strict = true)
          var i = 0
          while (i < present) {
            val k = idx(i)
            if (k < 0 || k >= dict.length) return false
            addVal(dict(k)); i += 1
          }
          true
        case EncDeltaBinPacked
          if col.physType == PhysInt32 || col.physType == PhysInt64 =>
          val (arr, end) = deltaBinPacked(raw, off, present)
          if (end != raw.length) return false
          var i = 0
          while (i < present) {
            val v = arr(i)
            // INT32 deltas wrap at 32 bits: a value outside the range
            // means either corruption or a 64-bit stream mislabeled
            if (col.physType == PhysInt32 &&
              (v < Int.MinValue || v > Int.MaxValue)) return false
            addVal(v); i += 1
          }
          true
        case EncDeltaLenBA if col.physType == PhysByteArray =>
          // DELTA_BINARY_PACKED lengths, then the concatenated bytes
          val (lens, dataOff) = deltaBinPacked(raw, off, present)
          var totalBytes = 0L
          var i = 0
          while (i < present) {
            if (lens(i) < 0) return false
            totalBytes += lens(i); i += 1
          }
          if (dataOff.toLong + totalBytes != raw.length) return false
          i = 0
          while (i < present) { addVal(lens(i)); i += 1 }
          true
        case EncDeltaBA if col.physType == PhysByteArray =>
          // prefix lengths + suffix lengths + concatenated suffixes;
          // value i = value[i-1].take(prefix(i)) ++ suffix(i). The
          // byte-length fold needs only prefix+suffix sums, but the
          // prefix chain is still validated (a prefix longer than the
          // previous value is malformation).
          val (pre, sufOff) = deltaBinPacked(raw, off, present)
          val (suf, dataOff) = deltaBinPacked(raw, sufOff, present)
          var totalBytes = 0L
          var prevLen = 0L
          var i = 0
          while (i < present) {
            if (pre(i) < 0 || suf(i) < 0) return false
            if (i == 0 && pre(i) != 0) return false
            if (pre(i) > prevLen) return false
            prevLen = pre(i) + suf(i)
            totalBytes += suf(i)
            i += 1
          }
          if (dataOff.toLong + totalBytes != raw.length) return false
          i = 0
          while (i < present) { addVal(pre(i) + suf(i)); i += 1 }
          true
        case EncByteStreamSplit
          if col.physType == PhysFloat || col.physType == PhysDouble ||
            col.physType == PhysInt32 || col.physType == PhysInt64 =>
          // k byte-streams of `present` bytes each (k = type width):
          // value i is stream0(i) | stream1(i)<<8 | ... little-endian
          val width = col.physType match {
            case PhysFloat | PhysInt32 => 4
            case _ => 8
          }
          if (raw.length - off != present.toLong * width) return false
          var i = 0
          while (i < present) {
            var v = 0L
            var k = 0
            while (k < width) {
              v |= (raw(off + k * present + i) & 0xffL) << (8 * k)
              k += 1
            }
            // INT32 carries sign, FLOAT raw bits (addVal decides)
            if (col.physType == PhysInt32) v = v.toInt.toLong
            addVal(v); i += 1
          }
          true
        case _ => false
      }

      while (values < col.numValues) {
        val h = parsePageHeader(b, pos)
        if (h.compressed < 0 || h.headerEnd + h.compressed > b.length ||
          h.headerEnd + h.compressed < 0) return None
        if (h.uncompressed < 0 || h.uncompressed > (1 << 26)) return None
        if (!h.crcOk(b)) return None // recorded checksum must verify
        h.pageType match {
          case 2 => // DICTIONARY_PAGE: at most one, before all data
            if (dict != null || pages > 0) return None
            if (h.encoding != EncPlain && h.encoding != EncPlainDict)
              return None
            if (h.numValues < 0) return None
            if (col.physType == PhysBool) return None // spec: no bool dict
            val raw = pagePayload(b, h, col.codec)
            val (arr, end) = plainVals(raw, 0, h.numValues, col.physType,
              typeLen)
            if (end != raw.length) return None
            dict = arr

          case 0 => // DATA_PAGE (v1): levels + values share the codec
            if (h.numValues <= 0 || h.numValues > MaxPageValues ||
              values + h.numValues > col.numValues) return None
            val raw = pagePayload(b, h, col.codec)
            // num_values counts nulls/empty-lists too: definition
            // level == maxDef marks the positions that carry a stored
            // value. Level order in the page: repetition levels (when
            // maxRep > 0), then definition levels, each LE32-prefixed.
            var valuesStart = 0
            if (maxRep > 0) {
              val (_, repEnd) =
                readLevelsV1(raw, 0, h.numValues, bitsFor(maxRep))
              valuesStart = repEnd
            }
            var present = h.numValues
            if (maxDef > 0) {
              val (levels, defEnd) =
                readLevelsV1(raw, valuesStart, h.numValues,
                  bitsFor(maxDef))
              valuesStart = defEnd
              present = 0
              var i = 0
              while (i < levels.length) {
                if (levels(i) == maxDef) present += 1; i += 1
              }
            }
            if (!dataValues(raw, valuesStart, h.encoding, present))
              return None
            values += h.numValues; pages += 1

          case 3 => // DATA_PAGE_V2: levels sit OUTSIDE the codec,
            // their byte lengths live in the header itself
            if (h.numValues <= 0 || h.numValues > MaxPageValues ||
              values + h.numValues > col.numValues) return None
            if (maxRep == 0 && h.repLen != 0) return None // flat leaf
            if (h.repLen < 0 || h.defLen < 0 || h.numNulls < 0 ||
              h.numNulls > h.numValues) return None
            val levelLen = h.repLen.toLong + h.defLen
            if (levelLen > h.compressed || levelLen > h.uncompressed)
              return None
            if (maxRep > 0) // validate the rep-level runs parse
              readHybrid(b, h.headerEnd, h.headerEnd + h.repLen,
                bitsFor(maxRep), h.numValues, strict = false)
            val present =
              if (maxDef == 0) {
                if (h.defLen != 0 || h.numNulls != 0) return None
                h.numValues
              } else {
                // v2 def levels: hybrid runs, NO LE32 prefix
                val levels = readHybrid(b, h.headerEnd + h.repLen,
                  h.headerEnd + h.repLen + h.defLen, bitsFor(maxDef),
                  h.numValues, strict = false)
                var c = 0
                var i = 0
                while (i < levels.length) {
                  if (levels(i) == maxDef) c += 1; i += 1
                }
                if (h.numValues - c != h.numNulls) return None
                c
              }
            val vOff = h.headerEnd + levelLen.toInt
            val vCompLen = h.compressed - levelLen.toInt
            val vWant = h.uncompressed - levelLen.toInt
            val vraw: Array[Byte] =
              if (!h.valuesCompressed || col.codec == CodecNone) {
                if (vCompLen != vWant) return None
                java.util.Arrays.copyOfRange(b, vOff, vOff + vCompLen)
              } else if (col.codec == CodecGzip) {
                gunzipExact(b, vOff, vCompLen, vWant).getOrElse(return None)
              } else if (col.codec == CodecZstd) {
                zstdExact(b, vOff, vCompLen, vWant).getOrElse(return None)
              } else if (col.codec == CodecLz4Raw) {
                Lz4.decompressBlock(b, vOff, vCompLen, vWant)
                  .getOrElse(return None)
              } else if (col.codec == CodecLz4) {
                Lz4.decompressFramed(b, vOff, vCompLen, vWant)
                  .getOrElse(return None)
              } else if (col.codec == CodecBrotli) {
                brotliExact(b, vOff, vCompLen, vWant)
                  .getOrElse(return None)
              } else {
                Snappy.uncompress(b, vOff, vCompLen, vWant)
                  .getOrElse(return None)
              }
            if (!dataValues(vraw, 0, h.encoding, present)) return None
            values += h.numValues; pages += 1

          case _ => return None
        }
        pos = h.headerEnd + h.compressed
      }
      Some(ChunkValues(values, longSum, doubleSum, binLen, pages))
    } catch { case _: Damage => None }
  }

  /** Materialized cells of one column chunk: one (repetition,
    * definition) slot per level entry, and the stored value for each
    * slot whose definition level reaches maxDef — numerics
    * (INT32/INT64/BOOL/FLOAT/DOUBLE raw bits, FLBA unscaled long) in
    * `longs`, BYTE_ARRAY contents in `bins`, present-slot order. The
    * caller reassembles nesting from the levels: rep == 0 starts a
    * record (Dremel striping, the public parquet format spec).
    */
  final case class ChunkCells(defs: Array[Int], reps: Array[Int],
                              longs: Array[Long],
                              bins: Array[Array[Byte]]) {
    def numSlots: Int = defs.length
  }

  /** Decode a column chunk to VALUES rather than aggregates — the
    * reader metadata-scale consumers need (a Delta checkpoint's
    * `add.path` strings, `add.partitionValues` MAP entries, q261).
    * Same page walk as [[decodeChunk]] — v1 and v2 data pages, all
    * engine codecs, PLAIN and dictionary encodings — but bounded to
    * [[MaxPageValues]] TOTAL slots, because materialization allocates
    * O(numValues) (aggregation streams; this does not). Nested-STRUCT
    * leaves are just flat chunks at maxDef > 1, and MAP leaves the
    * 3-level repeated layout at maxRep == 1, so nothing here routes
    * by nesting shape beyond the one-repeated-level bound the engine
    * holds everywhere. None on other encodings, INT96, or any
    * malformation.
    */
  def readChunkCells(b: Array[Byte], col: ColMeta,
                     maxDef: Int = 0, maxRep: Int = 0,
                     typeLen: Int = 0): Option[ChunkCells] = {
    try {
      if (col.physType != PhysInt64 && col.physType != PhysDouble &&
        col.physType != PhysByteArray && col.physType != PhysInt32 &&
        col.physType != PhysFloat && col.physType != PhysBool &&
        col.physType != PhysFixed)
        return None
      if (col.physType == PhysFixed && (typeLen <= 0 ||
        typeLen > (1 << 20))) return None
      if (col.codec != CodecNone && col.codec != CodecGzip &&
        col.codec != CodecSnappy && col.codec != CodecZstd &&
        col.codec != CodecLz4 && col.codec != CodecLz4Raw &&
        col.codec != CodecBrotli) return None
      if (maxDef < 0 || maxDef > 7 || maxRep < 0 || maxRep > 1)
        return None
      if (maxRep > maxDef) return None
      if (col.numValues < 0 || col.numValues > MaxPageValues) return None
      val total = col.numValues.toInt
      val defs = new Array[Int](total)
      val reps = new Array[Int](total)
      val isBin = col.physType == PhysByteArray
      val longs = if (isBin) null else new Array[Long](total)
      val bins = if (isBin) new Array[Array[Byte]](total) else null
      var nPresent = 0
      var slot = 0
      var longDict: Array[Long] = null
      var binDict: Array[Array[Byte]] = null
      var pages = 0

      val first =
        if (col.dictPageOffset >= 0) col.dictPageOffset
        else col.dataPageOffset
      if (first < 0 || first > Int.MaxValue) return None
      if (col.dictPageOffset >= 0 &&
        col.dictPageOffset > col.dataPageOffset) return None
      var pos = first.toInt

      def dataValues(raw: Array[Byte], off: Int, encoding: Int,
                     present: Int): Boolean = encoding match {
        case EncPlain =>
          if (isBin) {
            val (arr, end) = plainBins(raw, off, present)
            if (end != raw.length) return false
            var i = 0
            while (i < present) { bins(nPresent) = arr(i); nPresent += 1
              i += 1 }
          } else {
            val (arr, end) = plainVals(raw, off, present, col.physType,
              typeLen)
            if (end != raw.length) return false
            var i = 0
            while (i < present) { longs(nPresent) = arr(i); nPresent += 1
              i += 1 }
          }
          true
        case EncPlainDict | EncRleDict =>
          if (longDict == null && binDict == null) return false
          if (present == 0)
            // an ALL-NULL page still carries its bit-width byte
            // (parquet-cpp writes one even with zero indices)
            return off == raw.length ||
              (off + 1 == raw.length && (raw(off) & 0xff) <= 32)
          if (off >= raw.length) return false
          val bw = raw(off) & 0xff
          if (bw > 30) return false
          val idx = readHybrid(raw, off + 1, raw.length, bw, present,
            strict = true)
          val dictLen = if (isBin) binDict.length else longDict.length
          var i = 0
          while (i < present) {
            val k = idx(i)
            if (k < 0 || k >= dictLen) return false
            if (isBin) bins(nPresent) = binDict(k)
            else longs(nPresent) = longDict(k)
            nPresent += 1
            i += 1
          }
          true
        case EncDeltaBinPacked
          if col.physType == PhysInt32 || col.physType == PhysInt64 =>
          val (arr, end) = deltaBinPacked(raw, off, present)
          if (end != raw.length) return false
          var i = 0
          while (i < present) {
            val v = arr(i)
            if (col.physType == PhysInt32 &&
              (v < Int.MinValue || v > Int.MaxValue)) return false
            longs(nPresent) = v; nPresent += 1
            i += 1
          }
          true
        case EncDeltaLenBA if isBin =>
          // DELTA_BINARY_PACKED lengths, then the concatenated bytes
          val (lens, dataOff) = deltaBinPacked(raw, off, present)
          var p = dataOff.toLong
          var i = 0
          while (i < present) {
            if (lens(i) < 0 || p + lens(i) > raw.length) return false
            bins(nPresent) = java.util.Arrays.copyOfRange(raw,
              p.toInt, (p + lens(i)).toInt)
            nPresent += 1
            p += lens(i)
            i += 1
          }
          p == raw.length
        case EncDeltaBA if isBin =>
          // prefix lengths + suffix lengths + concatenated suffixes;
          // value i = value[i-1].take(prefix(i)) ++ suffix(i) — what
          // parquet-mr's v2 writer emits for EVERY string column
          val (pre, sufOff) = deltaBinPacked(raw, off, present)
          val (suf, dataOff) = deltaBinPacked(raw, sufOff, present)
          var p = dataOff.toLong
          var prev = Array.emptyByteArray
          var i = 0
          while (i < present) {
            if (pre(i) < 0 || suf(i) < 0) return false
            if (pre(i) > prev.length) return false
            if (p + suf(i) > raw.length) return false
            val v = new Array[Byte]((pre(i) + suf(i)).toInt)
            System.arraycopy(prev, 0, v, 0, pre(i).toInt)
            System.arraycopy(raw, p.toInt, v, pre(i).toInt, suf(i).toInt)
            bins(nPresent) = v; nPresent += 1
            prev = v
            p += suf(i)
            i += 1
          }
          p == raw.length
        case EncByteStreamSplit
          if col.physType == PhysFloat || col.physType == PhysDouble ||
            col.physType == PhysInt32 || col.physType == PhysInt64 =>
          val width = col.physType match {
            case PhysFloat | PhysInt32 => 4
            case _ => 8
          }
          if (raw.length - off != present.toLong * width) return false
          var i = 0
          while (i < present) {
            var v = 0L
            var k = 0
            while (k < width) {
              v |= (raw(off + k * present + i) & 0xffL) << (8 * k)
              k += 1
            }
            if (col.physType == PhysInt32) v = v.toInt.toLong
            longs(nPresent) = v; nPresent += 1
            i += 1
          }
          true
        case _ => false
      }

      while (slot < total) {
        val h = parsePageHeader(b, pos)
        if (h.compressed < 0 || h.headerEnd + h.compressed > b.length ||
          h.headerEnd + h.compressed < 0) return None
        if (h.uncompressed < 0 || h.uncompressed > (1 << 26)) return None
        if (!h.crcOk(b)) return None // recorded checksum must verify
        h.pageType match {
          case 2 => // DICTIONARY_PAGE
            if (longDict != null || binDict != null || pages > 0)
              return None
            if (h.encoding != EncPlain && h.encoding != EncPlainDict)
              return None
            if (h.numValues < 0) return None
            if (col.physType == PhysBool) return None
            val raw = pagePayload(b, h, col.codec)
            if (isBin) {
              val (arr, end) = plainBins(raw, 0, h.numValues)
              if (end != raw.length) return None
              binDict = arr
            } else {
              val (arr, end) = plainVals(raw, 0, h.numValues,
                col.physType, typeLen)
              if (end != raw.length) return None
              longDict = arr
            }

          case 0 => // DATA_PAGE v1
            if (h.numValues <= 0 || h.numValues > MaxPageValues ||
              slot + h.numValues > total) return None
            val raw = pagePayload(b, h, col.codec)
            var valuesStart = 0
            if (maxRep > 0) {
              val (levels, repEnd) =
                readLevelsV1(raw, 0, h.numValues, bitsFor(maxRep))
              var i = 0
              while (i < h.numValues) { reps(slot + i) = levels(i)
                i += 1 }
              valuesStart = repEnd
            }
            var present = h.numValues
            if (maxDef > 0) {
              val (levels, defEnd) =
                readLevelsV1(raw, valuesStart, h.numValues,
                  bitsFor(maxDef))
              valuesStart = defEnd
              present = 0
              var i = 0
              while (i < h.numValues) {
                defs(slot + i) = levels(i)
                if (levels(i) == maxDef) present += 1
                i += 1
              }
            }
            if (!dataValues(raw, valuesStart, h.encoding, present))
              return None
            slot += h.numValues; pages += 1

          case 3 => // DATA_PAGE_V2
            if (h.numValues <= 0 || h.numValues > MaxPageValues ||
              slot + h.numValues > total) return None
            if (maxRep == 0 && h.repLen != 0) return None
            if (h.repLen < 0 || h.defLen < 0 || h.numNulls < 0 ||
              h.numNulls > h.numValues) return None
            val levelLen = h.repLen.toLong + h.defLen
            if (levelLen > h.compressed || levelLen > h.uncompressed)
              return None
            if (maxRep > 0) {
              val levels = readHybrid(b, h.headerEnd,
                h.headerEnd + h.repLen, bitsFor(maxRep), h.numValues,
                strict = false)
              var i = 0
              while (i < h.numValues) { reps(slot + i) = levels(i)
                i += 1 }
            }
            val present =
              if (maxDef == 0) {
                if (h.defLen != 0 || h.numNulls != 0) return None
                h.numValues
              } else {
                val levels = readHybrid(b, h.headerEnd + h.repLen,
                  h.headerEnd + h.repLen + h.defLen, bitsFor(maxDef),
                  h.numValues, strict = false)
                var c = 0
                var i = 0
                while (i < h.numValues) {
                  defs(slot + i) = levels(i)
                  if (levels(i) == maxDef) c += 1
                  i += 1
                }
                if (h.numValues - c != h.numNulls) return None
                c
              }
            val vOff = h.headerEnd + levelLen.toInt
            val vCompLen = h.compressed - levelLen.toInt
            val vWant = h.uncompressed - levelLen.toInt
            val vraw: Array[Byte] =
              if (!h.valuesCompressed || col.codec == CodecNone) {
                if (vCompLen != vWant) return None
                java.util.Arrays.copyOfRange(b, vOff, vOff + vCompLen)
              } else if (col.codec == CodecGzip) {
                gunzipExact(b, vOff, vCompLen, vWant).getOrElse(return None)
              } else if (col.codec == CodecZstd) {
                zstdExact(b, vOff, vCompLen, vWant).getOrElse(return None)
              } else if (col.codec == CodecLz4Raw) {
                Lz4.decompressBlock(b, vOff, vCompLen, vWant)
                  .getOrElse(return None)
              } else if (col.codec == CodecLz4) {
                Lz4.decompressFramed(b, vOff, vCompLen, vWant)
                  .getOrElse(return None)
              } else if (col.codec == CodecBrotli) {
                brotliExact(b, vOff, vCompLen, vWant)
                  .getOrElse(return None)
              } else {
                Snappy.uncompress(b, vOff, vCompLen, vWant)
                  .getOrElse(return None)
              }
            if (!dataValues(vraw, 0, h.encoding, present)) return None
            slot += h.numValues; pages += 1

          case _ => return None
        }
        pos = h.headerEnd + h.compressed
      }
      Some(ChunkCells(defs, reps,
        if (isBin) Array.emptyLongArray
        else java.util.Arrays.copyOf(longs, nPresent),
        if (isBin) java.util.Arrays.copyOf(bins, nPresent)
        else Array.empty[Array[Byte]]))
    } catch { case _: Damage => None }
  }

  /** All PRESENT values of one leaf column across row groups, in row
    * order — convenience over [[readChunkCells]] for flat
    * metadata-scale files (an Iceberg positional-delete file's `pos`
    * column, q262). None when the leaf is missing from the footer or
    * any chunk routes away.
    */
  def columnLongs(b: Array[Byte], path: String): Option[Array[Long]] =
    columnCells(b, path).map(_.flatMap(_.longs).toArray)

  /** String twin of [[columnLongs]] (UTF-8 decode of BYTE_ARRAY
    * leaves — an Iceberg positional-delete file's `file_path`).
    */
  def columnStrings(b: Array[Byte],
                    path: String): Option[Array[String]] =
    columnCells(b, path).map(_.flatMap(_.bins.map(
      new String(_, java.nio.charset.StandardCharsets.UTF_8))).toArray)

  /** Raw-bytes twin of [[columnStrings]] (BYTE_ARRAY leaves whose
    * content is BINARY, not text — a variant column's metadata/value
    * blobs, q414).
    */
  def columnBins(b: Array[Byte],
                 path: String): Option[Array[Array[Byte]]] =
    columnCells(b, path).map(_.flatMap(_.bins).toArray)

  private def columnCells(b: Array[Byte],
                          path: String): Option[Seq[ChunkCells]] =
    parseFooter(b).flatMap { fm =>
      fm.leafLevels.get(path).flatMap { case (d, r) =>
        val tl = fm.leafTypeLengths.getOrElse(path, 0)
        val per = fm.rowGroups.map(rg =>
          rg.cols.find(_.path == path)
            .flatMap(c => readChunkCells(b, c, d, r, tl)))
        if (per.exists(_.isEmpty)) None else Some(per.map(_.get))
      }
    }

  // ---- page index (PARQUET-922: ColumnIndex / OffsetIndex) -------------

  /** One OffsetIndex entry: where a data page starts, its TOTAL length
    * (header included), and the row index of its first row within the
    * row group — the structure page-level skipping addresses pages by.
    */
  final case class PageLoc(offset: Long, compressedSize: Int,
                           firstRowIndex: Long)

  /** One ColumnIndex: per-page null flags and min/max value bounds
    * (PLAIN-encoded, same byte layout the footer Statistics use), the
    * declared boundary order (0 unordered / 1 ascending / 2
    * descending), and per-page null counts when written.
    */
  final case class ColIndex(nullPages: Seq[Boolean],
                            minValues: Seq[Array[Byte]],
                            maxValues: Seq[Array[Byte]],
                            boundaryOrder: Int,
                            nullCounts: Seq[Long]) {
    /** Page min/max as sign-extended longs (INT32/INT64 leaves). */
    def minLong(i: Int): Option[Long] = statLong(minValues(i))
    def maxLong(i: Int): Option[Long] = statLong(maxValues(i))
    private def statLong(v: Array[Byte]): Option[Long] =
      if (v == null) None
      else if (v.length == 4)
        Some(Bytes.le32(v, 0).toLong)
      else if (v.length == 8) {
        Some(Bytes.le64(v, 0))
      } else None
  }

  /** Parse a ColumnChunk's OffsetIndex at its footer-recorded
    * location. None on malformation or when the chunk carries none —
    * the caller falls back to the sequential chunk walk, never to a
    * guess.
    */
  def parseOffsetIndex(b: Array[Byte], col: ColMeta):
      Option[Seq[PageLoc]] = {
    try {
      val off = col.offsetIndexOffset
      val len = col.offsetIndexLength
      if (off < 0 || len <= 0 || off > Int.MaxValue ||
        off + len > b.length) return None
      val tc = new Reader(b, off.toInt, off.toInt + len)
      var locs = Seq.empty[PageLoc]
      struct(tc, 0) { (id, tpe) =>
        id match {
          case 1 =>
            if (tpe != 9) damage()
            val (n, et) = listHeader(tc)
            if (et != 12) damage()
            locs = Seq.fill(n) {
              var o = -1L; var cs = -1; var fri = -1L
              struct(tc, 1) { (pid, pt) =>
                pid match {
                  case 1 => o = i64(tc, pt); true
                  case 2 => cs = i32(tc, pt); true
                  case 3 => fri = i64(tc, pt); true
                  case _ => false
                }
              }
              if (o < 0 || cs <= 0 || fri < 0) damage()
              PageLoc(o, cs, fri)
            }
            true
          case _ => false
        }
      }
      // first_row_index must be strictly increasing from 0 — an index
      // violating its own ordering law is malformation
      if (locs.isEmpty || locs.head.firstRowIndex != 0L) return None
      var i = 1
      while (i < locs.length) {
        if (locs(i).firstRowIndex <= locs(i - 1).firstRowIndex)
          return None
        i += 1
      }
      Some(locs)
    } catch { case _: Damage => None }
  }

  /** Parse a ColumnChunk's ColumnIndex. The three per-page lists must
    * agree in length (one entry per data page); null_counts may be
    * absent (empty).
    */
  def parseColumnIndex(b: Array[Byte], col: ColMeta):
      Option[ColIndex] = {
    try {
      val off = col.columnIndexOffset
      val len = col.columnIndexLength
      if (off < 0 || len <= 0 || off > Int.MaxValue ||
        off + len > b.length) return None
      val tc = new Reader(b, off.toInt, off.toInt + len)
      var nulls = Seq.empty[Boolean]
      var mins = Seq.empty[Array[Byte]]
      var maxs = Seq.empty[Array[Byte]]
      var order = -1
      var nullCounts = Seq.empty[Long]
      def binList(): Seq[Array[Byte]] = {
        val (n, et) = listHeader(tc)
        if (et != 8) damage()
        Seq.fill(n) {
          val sz = tc.uvarint()
          if (sz > (1 << 16)) damage() // bounds are small scalars
          tc.bytes(sz.toInt)
        }
      }
      struct(tc, 0) { (id, tpe) =>
        id match {
          case 1 => // null_pages: list<bool>, one byte per element
            if (tpe != 9) damage()
            val (n, et) = listHeader(tc)
            if (et != 1 && et != 2) damage()
            nulls = Seq.fill(n)(tc.u8() == 1)
            true
          case 2 => if (tpe != 9) damage(); mins = binList(); true
          case 3 => if (tpe != 9) damage(); maxs = binList(); true
          case 4 => order = i32(tc, tpe); true
          case 5 =>
            if (tpe != 9) damage()
            val (n, et) = listHeader(tc)
            if (et != 6) damage()
            nullCounts = Seq.fill(n)(tc.zigzag())
            true
          case _ => false
        }
      }
      if (nulls.isEmpty || mins.length != nulls.length ||
        maxs.length != nulls.length || order < 0 || order > 2)
        return None
      if (nullCounts.nonEmpty && nullCounts.length != nulls.length)
        return None
      Some(ColIndex(nulls, mins, maxs, order, nullCounts))
    } catch { case _: Damage => None }
  }

  /** Decode ONE data page addressed by an OffsetIndex entry — the
    * page-skip read path (q263): pages the index rules out are never
    * touched. Self-contained (dictionary-less) pages only: a page
    * read out of sequence has no dictionary context, which is exactly
    * why writers targeting index-skips keep dictionaries off or
    * whole-chunk. The page's header-inclusive length must equal the
    * index's compressed_page_size — a forged index fails closed here.
    */
  def readPageCells(b: Array[Byte], loc: PageLoc, col: ColMeta,
                    maxDef: Int = 0, maxRep: Int = 0,
                    typeLen: Int = 0): Option[ChunkCells] = {
    try {
      if (loc.offset < 0 || loc.offset > Int.MaxValue ||
        loc.offset >= b.length) return None
      val h = parsePageHeader(b, loc.offset.toInt)
      if (h.pageType != 0 && h.pageType != 3) return None
      if (h.numValues <= 0 || h.numValues > MaxPageValues) return None
      if (!h.crcOk(b)) return None // recorded checksum must verify
      val headerLen = h.headerEnd - loc.offset.toInt
      if (headerLen.toLong + h.compressed != loc.compressedSize)
        return None // index disagrees with the page it points at
      val one = col.copy(dataPageOffset = loc.offset,
        dictPageOffset = -1L, numValues = h.numValues.toLong)
      readChunkCells(b, one, maxDef, maxRep, typeLen)
    } catch { case _: Damage => None }
  }

  // ---- bloom filters (PARQUET-41: split-block bloom) -------------------

  /** One column chunk's split-block bloom filter (format spec,
    * BloomFilter.md): the bitset is a run of 256-bit (32-byte) blocks,
    * a key hashes with XXH64 seed 0 over its PLAIN encoding, the HIGH
    * 32 bits pick the block and the LOW 32 bits drive eight salted
    * 5-bit positions — one per 32-bit word. Membership = all eight
    * bits set; absence proof is one-sided (no false negatives), which
    * is exactly what makes "bloom says no → skip the chunk" sound at
    * scale: a point lookup touches ~32 bytes instead of the chunk.
    */
  final class BloomFilter private[sources] (bits: Array[Byte]) {
    private val nBlocks = bits.length / 32
    def numBytes: Int = bits.length
    def mightContainHash(h: Long): Boolean = {
      val block = (((h >>> 32) * nBlocks) >>> 32).toInt
      val x = h.toInt
      var i = 0
      while (i < 8) {
        // u32 multiply-then-shift: Int wrap IS the spec arithmetic
        val bit = (x * BloomSalt(i)) >>> 27
        val w = block * 32 + i * 4
        val word = Bytes.le32(bits, w)
        if (((word >>> bit) & 1) == 0) return false
        i += 1
      }
      true
    }
    /** INT64 keys hash over their 8-byte LE PLAIN encoding. */
    def mightContainLong(v: Long): Boolean = {
      val b = new Array[Byte](8)
      var i = 0
      while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
      mightContainHash(XxHash64.hash(b, 0L))
    }
    /** BYTE_ARRAY keys hash over their raw bytes (no length prefix). */
    def mightContainBinary(v: Array[Byte]): Boolean =
      mightContainHash(XxHash64.hash(v, 0L))
  }

  private val BloomSalt = Array(0x47b6137b, 0x44974d91, 0x8824ad5b,
    0xa2b7289d, 0x705495c7, 0x2df1424b, 0x9efc4947, 0x5c6bfb31)

  /** Parse a chunk's BloomFilterHeader + bitset at the footer-recorded
    * offset. The header's unions must name the ONLY shipped layout
    * (BLOCK algorithm, XXHASH, UNCOMPRESSED); numBytes must be a
    * positive multiple of 32 inside the file (and agree with the
    * footer's bloom_filter_length when present) — anything else
    * refuses, a forged pointer fails closed.
    */
  def parseBloomFilter(b: Array[Byte], col: ColMeta):
      Option[BloomFilter] = {
    try {
      val off = col.bloomFilterOffset
      if (off < 0 || off >= b.length || off > Int.MaxValue) return None
      val tc = new Reader(b, off.toInt, b.length)
      var numBytes = -1
      var algOk = false
      var hashOk = false
      var compOk = false
      def unionMember1(flag: => Unit): Unit =
        struct(tc, 1) { (uid, utpe) =>
          if (uid == 1) {
            if (utpe != 12) damage()
            struct(tc, 2)((_, _) => false) // empty member struct
            flag
            true
          } else false
        }
      struct(tc, 0) { (id, tpe) =>
        id match {
          case 1 => numBytes = i32(tc, tpe); true
          case 2 =>
            if (tpe != 12) damage(); unionMember1 { algOk = true }; true
          case 3 =>
            if (tpe != 12) damage(); unionMember1 { hashOk = true }; true
          case 4 =>
            if (tpe != 12) damage(); unionMember1 { compOk = true }; true
          case _ => false
        }
      }
      if (!algOk || !hashOk || !compOk) return None
      if (numBytes <= 0 || numBytes % 32 != 0 ||
        numBytes > (1 << 26)) return None
      val bitsetOff = tc.pos
      if (bitsetOff.toLong + numBytes > b.length) return None
      if (col.bloomFilterLength >= 0 &&
        (bitsetOff - off.toInt) + numBytes != col.bloomFilterLength)
        return None // header+bitset must tile the declared length
      Some(new BloomFilter(java.util.Arrays.copyOfRange(
        b, bitsetOff, bitsetOff + numBytes)))
    } catch { case _: Damage => None }
  }

  /** PLAIN-decode `n` BYTE_ARRAY values capturing CONTENT (LE32
    * length + bytes each) — the materializing twin of [[plainVals]]'s
    * length fold. Returns the values and the end offset.
    */
  private def plainBins(raw: Array[Byte], off: Int,
                        n: Int): (Array[Array[Byte]], Int) = {
    if (n < 0 || off < 0 || off > raw.length) damage()
    if (n.toLong > (raw.length - off).toLong / 4 + 1) damage()
    val arr = new Array[Array[Byte]](n)
    var p = off
    var i = 0
    while (i < n) {
      if (p + 4 > raw.length) damage()
      val len = Bytes.le32(raw, p)
      // Long math: p + 4 + len can wrap Int for a forged len near 2^31
      if (len < 0 || (p + 4).toLong + len > raw.length) damage()
      arr(i) = java.util.Arrays.copyOfRange(raw, p + 4, p + 4 + len)
      p += 4 + len
      i += 1
    }
    (arr, p)
  }

  /** Whole-payload page decompression (v1 data pages + dictionary
    * pages, where levels and values share the codec).
    */
  private def pagePayload(b: Array[Byte], h: PageHead,
                          codec: Int): Array[Byte] = codec match {
    case CodecNone =>
      if (h.compressed != h.uncompressed) damage()
      java.util.Arrays.copyOfRange(b, h.headerEnd,
        h.headerEnd + h.compressed)
    case CodecGzip =>
      gunzipExact(b, h.headerEnd, h.compressed, h.uncompressed)
        .getOrElse(damage())
    case CodecSnappy =>
      Snappy.uncompress(b, h.headerEnd, h.compressed, h.uncompressed)
        .getOrElse(damage())
    case CodecZstd =>
      zstdExact(b, h.headerEnd, h.compressed, h.uncompressed)
        .getOrElse(damage())
    case CodecLz4Raw =>
      Lz4.decompressBlock(b, h.headerEnd, h.compressed, h.uncompressed)
        .getOrElse(damage())
    case CodecLz4 =>
      Lz4.decompressFramed(b, h.headerEnd, h.compressed, h.uncompressed)
        .getOrElse(damage())
    case CodecBrotli =>
      brotliExact(b, h.headerEnd, h.compressed, h.uncompressed)
        .getOrElse(damage())
    case _ => damage()
  }

  /** One brotli stream per page payload (codec 4), size-pinned. */
  private def brotliExact(b: Array[Byte], off: Int, len: Int,
                          want: Int): Option[Array[Byte]] = {
    if (off < 0 || len < 0 || want < 0 || off + len > b.length)
      return None
    Brotli.decode(java.util.Arrays.copyOfRange(b, off, off + len),
      maxOut = want).filter(_.length == want)
  }

  /** PLAIN-decode `n` values starting at `off`: per-value sum
    * contributions (INT64/INT32 value sign-extended / DOUBLE raw bits /
    * FLOAT raw bits / BOOLEAN 0|1 from LSB-first bit packing /
    * BYTE_ARRAY length / INT96 epoch SECONDS / FLBA big-endian two's-
    * complement unscaled value, which must FIT 64 bits — wider
    * decimals with pure sign-extension upper bytes decode, anything
    * else damages rather than silently truncating) and the end
    * offset. Allocation-bounded before the array exists: the cheapest
    * PLAIN value is 1 bit (boolean), everything else at least 4 bytes
    * (INT96 is 12, FLBA its declared width).
    */
  private def plainVals(raw: Array[Byte], off: Int, n: Int,
                        physType: Int,
                        typeLen: Int = 0): (Array[Long], Int) = {
    if (n < 0 || off < 0 || off > raw.length) damage()
    val avail = (raw.length - off).toLong
    if (physType == PhysBool) { if (n.toLong > 8 * avail + 8) damage() }
    else if (physType == PhysInt96) { if (n.toLong > avail / 12 + 1) damage() }
    else if (physType == PhysFixed) {
      if (typeLen <= 0 || n.toLong > avail / typeLen + 1) damage()
    }
    else if (n.toLong > avail / 4 + 1) damage()
    val arr = new Array[Long](n)
    var p = off
    var i = 0
    if (physType == PhysBool) {
      // PLAIN booleans are bit-packed LSB-first, 1 bit per value
      while (i < n) {
        val at = p + (i >> 3)
        if (at >= raw.length) damage()
        arr(i) = (raw(at) >> (i & 7)) & 1
        i += 1
      }
      return (arr, p + (n + 7) / 8)
    }
    while (i < n) {
      physType match {
        case PhysByteArray =>
          if (p + 4 > raw.length) damage()
          val len = Bytes.le32(raw, p)
          if (len < 0 || (p + 4).toLong + len > raw.length) damage()
          arr(i) = len.toLong
          p += 4 + len
        case PhysInt32 | PhysFloat =>
          if (p + 4 > raw.length) damage()
          val v = Bytes.le32(raw, p)
          // INT32 carries sign; FLOAT carries raw bits (addVal decides)
          arr(i) = if (physType == PhysInt32) v.toLong else v.toLong & 0xffffffffL
          p += 4
        case PhysInt96 =>
          // legacy timestamp: LE64 nanos-of-day, then LE32 Julian day
          if (p + 12 > raw.length) damage()
          val nanos = Bytes.le64(raw, p)
          val jd = Bytes.le32(raw, p + 8)
          if (nanos < 0 || nanos >= 86400000000000L) damage()
          // 2440588 = Julian day of 1970-01-01; contribution = epoch s
          arr(i) = (jd.toLong - 2440588L) * 86400L + nanos / 1000000000L
          p += 12
        case PhysFixed =>
          if (p + typeLen > raw.length) damage()
          // big-endian two's complement; must FIT a long — upper bytes
          // beyond 8 must be pure sign extension of what follows
          var v = 0L
          var k = 0
          val start = math.max(0, typeLen - 8)
          val sign: Int = if ((raw(p) & 0x80) != 0) 0xff else 0x00
          while (k < start) {
            if ((raw(p + k) & 0xff) != sign) damage()
            k += 1
          }
          if (typeLen > 8 && start > 0) {
            // the 64-bit window's own sign must agree with the bytes
            // dropped above, or the value silently changed sign
            if (((raw(p + start) & 0x80) != 0) != (sign == 0xff)) damage()
          }
          v = if (sign == 0xff) -1L else 0L
          while (k < typeLen) { v = (v << 8) | (raw(p + k) & 0xffL); k += 1 }
          arr(i) = v
          p += typeLen
        case _ =>
          if (p + 8 > raw.length) damage()
          arr(i) = Bytes.le64(raw, p)
          p += 8
      }
      i += 1
    }
    (arr, p)
  }

  /** Read the v1-page definition-level block (bit width 1): a LE32
    * byte-length prefix, then RLE/bit-packed hybrid runs. Returns the
    * level per value slot and the offset where values start.
    */
  /** DELTA_BINARY_PACKED (Encodings.md): ULEB128 header
    * `<blockSize> <miniblocksPerBlock> <totalCount> <zigzag first>`,
    * then per block `<zigzag minDelta> <miniblock bit widths> <LSB-
    * first bit-packed (delta - minDelta) miniblocks>`. Returns the
    * decoded values and the END offset (the trailing partial block is
    * consumed in full — writers pad it, and the next section starts
    * after the padding). `n` is the caller's presence count; a header
    * claiming a different total is malformation, as are a block size
    * not a positive multiple of 128, a miniblock size not a multiple
    * of 32, or a bit width over 64.
    */
  private def deltaBinPacked(raw: Array[Byte], off: Int,
                             n: Int): (Array[Long], Int) = {
    if (n < 0 || n > MaxPageValues) damage()
    val r = new Reader(raw, off, raw.length)
    val blockSize = r.uvarint()
    val numMini = r.uvarint()
    val total = r.uvarint()
    val first = r.zigzag()
    if (blockSize <= 0 || blockSize % 128 != 0 ||
      blockSize > MaxPageValues) damage()
    if (numMini <= 0 || blockSize % numMini != 0) damage()
    val miniSize = (blockSize / numMini).toInt
    if (miniSize % 32 != 0) damage()
    if (total != n.toLong) damage()
    val out = new Array[Long](n)
    if (n > 0) out(0) = first
    var got = math.min(1, n)
    while (got < n) {
      val minDelta = r.zigzag()
      val nm = numMini.toInt
      val widths = new Array[Int](nm)
      var i = 0
      while (i < nm) { widths(i) = r.u8(); i += 1 }
      i = 0
      while (i < nm) {
        // Encodings.md: in the last block, UNNEEDED miniblocks keep
        // their width byte (arbitrary value — only validate widths we
        // use) but their payloads are ABSENT
        if (got < n) {
          val w = widths(i)
          if (w > 64) damage()
          // miniSize is a multiple of 32, so the payload is exact bytes
          val bytes = miniSize / 8 * w
          val p = r.pos
          r.skip(bytes)
          var j = 0
          var bitPos = 0
          while (j < miniSize) {
            if (got < n) {
              var v = 0L
              var k = 0
              while (k < w) {
                val bit = bitPos + k
                v |= (((raw(p + (bit >> 3)) & 0xff) >> (bit & 7)) & 1)
                  .toLong << k
                k += 1
              }
              out(got) = out(got - 1) + minDelta + v
              got += 1
            }
            bitPos += w
            j += 1
          }
        }
        i += 1
      }
    }
    (out, r.pos)
  }

  /** Bits needed for levels 0..m (m >= 1). */
  private def bitsFor(m: Int): Int =
    32 - Integer.numberOfLeadingZeros(m)

  /** One v1 level section at `off`: LE32 byte-length prefix, then
    * RLE/bit-packed hybrid runs at the given width. Returns the
    * decoded levels and the end offset (where the next section — def
    * levels after rep levels, or values — starts).
    */
  private def readLevelsV1(raw: Array[Byte], off: Int, numValues: Int,
                           width: Int): (Array[Int], Int) = {
    if (off < 0 || off + 4 > raw.length) damage()
    val len = Bytes.le32(raw, off)
    if (len < 0 || (off + 4).toLong + len > raw.length) damage()
    val end = off + 4 + len
    (readHybrid(raw, off + 4, end, width, numValues, strict = false), end)
  }

  /** RLE / bit-packed hybrid runs (the parquet levels-and-indices
    * encoding) at an arbitrary bit width over `raw[start, end)`.
    * `strict` requires the runs to consume the slice exactly (the
    * dictionary-index section of a data page has no other terminator).
    * The final bit-packed group may pad up to 7 phantom values; both
    * run kinds clamp at `n`. `n` is header-controlled: bounded by
    * [[MaxPageValues]] BEFORE the array is allocated.
    */
  private def readHybrid(raw: Array[Byte], start: Int, end: Int,
                         bitWidth: Int, n: Int,
                         strict: Boolean): Array[Int] = {
    if (n < 0 || n > MaxPageValues) damage()
    if (start < 0 || end > raw.length || start > end) damage()
    if (bitWidth < 0 || bitWidth > 30) damage()
    val out = new Array[Int](n)
    val byteWidth = (bitWidth + 7) / 8
    var li = 0
    var p = start
    while (li < n) {
      if (p >= end) damage()
      // run header: LSB 0 = RLE run, LSB 1 = bit-packed group count
      var h = 0L; var shift = 0; var cont = true
      while (cont) {
        if (p >= end || shift > 35) damage()
        val x = raw(p) & 0xff; p += 1
        h |= (x & 0x7fL) << shift; shift += 7
        cont = (x & 0x80) != 0
      }
      // run length is varint-controlled (up to 2^34): bound it before
      // the Int truncation, or a forged run spins or wraps negative
      val runLen = h >>> 1
      if (runLen <= 0 || runLen > MaxPageValues) damage()
      if ((h & 1L) == 0) { // RLE: one byteWidth-wide LE value, repeated
        if (p + byteWidth > end) damage()
        var v = 0
        var k = 0
        while (k < byteWidth) { v |= (raw(p + k) & 0xff) << (8 * k); k += 1 }
        p += byteWidth
        if (bitWidth != 0 && (v & ~((1 << bitWidth) - 1)) != 0) damage()
        if (bitWidth == 0 && v != 0) damage()
        var i = runLen.toInt
        while (i > 0 && li < n) { out(li) = v; li += 1; i -= 1 }
      } else { // bit-packed: (h >>> 1) groups of 8 values
        var g = runLen.toInt
        var acc = 0L
        var accBits = 0
        while (g > 0) {
          var vals = 8
          while (vals > 0) {
            while (accBits < bitWidth) {
              if (p >= end) damage()
              acc |= (raw(p) & 0xffL) << accBits; accBits += 8; p += 1
            }
            val v = (acc & ((1L << bitWidth) - 1)).toInt
            acc >>>= bitWidth; accBits -= bitWidth
            if (li < n) { out(li) = v; li += 1 }
            vals -= 1
          }
          // byte-aligned between groups by construction (8*bw bits)
          g -= 1
        }
      }
    }
    if (strict && p != end) damage()
    out
  }

  /** Inflate one RFC 1952 gzip stream to EXACTLY `want` bytes. The
    * GZIPInputStream CONSTRUCTOR already reads the 10-byte header and
    * throws on forged magic or truncation, so it must sit inside the
    * try with the read loop — otherwise a corrupted first page byte
    * crashes the task instead of damaging to None.
    */
  private def gunzipExact(b: Array[Byte], off: Int, len: Int,
                          want: Int): Option[Array[Byte]] = {
    var in: java.util.zip.GZIPInputStream = null
    try {
      in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b, off, len))
      val out = new Array[Byte](want)
      var got = 0
      var n = 0
      while (got < want && n >= 0) {
        n = in.read(out, got, want - got)
        if (n > 0) got += n
      }
      // exactly `want` bytes, and the stream must END there
      if (got == want && in.read() == -1) Some(out) else None
    } catch {
      case _: java.io.IOException => None
    } finally if (in != null) in.close()
  }

  /** Decode one zstd frame to EXACTLY `want` bytes through the
    * engine's own RFC 8878 decoder. parquet-format scopes the codec to
    * the page payload, and every real writer emits it as a SINGLE
    * frame — a multi-frame payload, trailing bytes, a skippable frame,
    * or a length mismatch is malformation. [[Zstd.walk]] already keeps
    * the totality law (None, never a throw), and `cap = want` bounds
    * the decode allocation at exactly the claimed page size.
    */
  private def zstdExact(b: Array[Byte], off: Int, len: Int,
                        want: Int): Option[Array[Byte]] = {
    if (off < 0 || len < 0 || want < 0 ||
      off.toLong + len > b.length) return None
    val slice = java.util.Arrays.copyOfRange(b, off, off + len)
    Zstd.walk(slice, cap = want) match {
      case Some(Seq(f)) if f.kind == "zstd" && f.decoded.length == want =>
        Some(f.decoded)
      case _ => None
    }
  }
}
