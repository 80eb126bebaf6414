package graft.sources

/** A from-scratch MINIMAL parquet writer — the inverse of the
  * engine's byte-level reader: PAR1 magic, one row group, REQUIRED
  * INT64 columns as single PLAIN v1 data pages (no level bytes — a
  * required flat leaf has none), and a thrift-COMPACT FileMetaData
  * footer emitted by the encoder below (the write twin of the
  * reader's thrift walk). No compression, no statistics: the smallest
  * layout every parquet reader must accept.
  *
  * The layout is fully DETERMINISTIC — same rows, same bytes — so an
  * independent Python reimplementation pins the output byte for byte
  * (md5), and parquet-mr (Spark's reader) + pyarrow serve as
  * independent READERS of what this writes (ParquetSpec / the
  * fixture script). That closes the loop: the engine can write the
  * format it reads, from first principles on both sides.
  *
  * Spec source: parquet-format's parquet.thrift + the thrift compact
  * protocol spec (field-delta headers, zigzag varints, size-prefixed
  * lists).
  */
object ParquetWrite {
  import Bytes.{putLe32, putLe64, putUvarint, putZigzag, toLe32, toLe64}

  // ---- thrift compact encoder -------------------------------------------

  private[sources] final class TCW {
    val out = new java.io.ByteArrayOutputStream()
    private var lastId = List(0) // per-struct field-id stack

    private def fieldHeader(id: Int, tpe: Int): Unit = {
      val delta = id - lastId.head
      if (delta >= 1 && delta <= 15) out.write((delta << 4) | tpe)
      else { out.write(tpe); putZigzag(out, id.toLong) }
      lastId = id :: lastId.tail
    }
    def i32(id: Int, v: Long): Unit = { fieldHeader(id, 5); putZigzag(out, v) }
    def i64(id: Int, v: Long): Unit = { fieldHeader(id, 6); putZigzag(out, v) }
    def str(id: Int, s: String): Unit = { fieldHeader(id, 8); elemStr(s) }
    /** Open a LIST field; caller emits `size` elements of `elemTpe`. */
    def list(id: Int, size: Int, elemTpe: Int): Unit = {
      fieldHeader(id, 9)
      if (size < 15) out.write((size << 4) | elemTpe)
      else { out.write(0xf0 | elemTpe); putUvarint(out, size.toLong) }
    }
    /** A bare i32 list element (zigzag varint, no header). */
    def elemI32(v: Long): Unit = putZigzag(out, v)
    /** A bare string list element. */
    def elemStr(s: String): Unit =
      elemBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    /** A bare binary list element. */
    def elemBytes(b: Array[Byte]): Unit = {
      putUvarint(out, b.length.toLong); out.write(b, 0, b.length)
    }
    /** A bare i64 list element (zigzag varint). */
    def elemI64(v: Long): Unit = putZigzag(out, v)
    def bytesField(id: Int, b: Array[Byte]): Unit = {
      fieldHeader(id, 8); elemBytes(b)
    }
    def structField(id: Int): Unit = { fieldHeader(id, 12); push() }
    /** A bare struct list element. */
    def elemStruct(): Unit = push()
    private def push(): Unit = { lastId = 0 :: lastId }
    def end(): Unit = { out.write(0); lastId = lastId.tail }
  }

  // ---- generalized writer (q310+): schema tree + shredded leaves -------

  /** Schema tree node for [[writeFile]]. `repetition` uses the footer
    * codes (0 REQUIRED, 1 OPTIONAL, 2 REPEATED); `convertedType` -1
    * for none (0 = UTF8, 2 = MAP/KEY_VALUE legacy codes as needed by
    * the caller).
    */
  sealed trait Node { def name: String; def repetition: Int }
  final case class Leaf(name: String, repetition: Int, physType: Int,
                        convertedType: Int = -1) extends Node
  final case class Group(name: String, repetition: Int,
                         children: Seq[Node],
                         convertedType: Int = -1) extends Node

  /** One leaf's pre-shredded Dremel columns: `defs`/`reps` carry one
    * entry per SLOT; values (one per slot whose def reaches the
    * leaf's max def level, in slot order) sit in `longs` for numeric
    * leaves (DOUBLE as raw IEEE bits) or `bins` for BYTE_ARRAY.
    * `dict = true` dictionary-encodes the chunk (PLAIN dict page in
    * first-appearance order + RLE_DICTIONARY data pages).
    */
  final case class LeafData(defs: Array[Int], reps: Array[Int],
                            longs: Array[Long] = null,
                            bins: Array[Array[Byte]] = null,
                            dict: Boolean = false,
                            enc: Int = 0)

  // ---- v2 value encodings, write side (q341) ------------------------------

  /** DELTA_BINARY_PACKED (Encodings.md §5): block 128, 4 miniblocks
    * of 32 — the exact inverse of the engine's own reader
    * ([[Parquet]] `deltaBinPacked`): ULEB header, zigzag first value,
    * per block zigzag min-delta + 4 width bytes, then LSB-first
    * bit-packed (delta - min) miniblocks; in the last block unneeded
    * miniblocks keep the width byte but have NO payload.
    */
  def encodeDeltaBinPacked(vals: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    putUvarint(out, 128L); putUvarint(out, 4L)
    putUvarint(out, vals.length.toLong)
    putZigzag(out, if (vals.isEmpty) 0L else vals(0))
    var at = 1
    while (at < vals.length) {
      val nDeltas = math.min(128, vals.length - at)
      val deltas = new Array[Long](nDeltas)
      var i = 0
      while (i < nDeltas) {
        deltas(i) = vals(at + i) - vals(at + i - 1); i += 1
      }
      var minD = deltas(0)
      i = 1
      while (i < nDeltas) {
        if (deltas(i) < minD) minD = deltas(i); i += 1
      }
      putZigzag(out, minD)
      val widths = new Array[Int](4)
      var mb = 0
      while (mb < 4) {
        var maxAdj = 0L
        var j = mb * 32
        while (j < math.min((mb + 1) * 32, nDeltas)) {
          val adj = deltas(j) - minD
          // unsigned max (wrap-around deltas pack at full width)
          if ((adj ^ Long.MinValue) > (maxAdj ^ Long.MinValue))
            maxAdj = adj
          j += 1
        }
        widths(mb) = 64 - java.lang.Long.numberOfLeadingZeros(maxAdj)
        mb += 1
      }
      widths.foreach(out.write)
      mb = 0
      while (mb < 4) {
        if (mb * 32 < nDeltas) {
          val w = widths(mb)
          val payload = new Array[Byte](32 / 8 * w)
          var bitPos = 0
          var j = mb * 32
          while (j < (mb + 1) * 32) {
            if (j < nDeltas) {
              val adj = deltas(j) - minD
              var k = 0
              while (k < w) {
                if (((adj >>> k) & 1L) != 0) {
                  val bit = bitPos + k
                  payload(bit >> 3) =
                    (payload(bit >> 3) | (1 << (bit & 7))).toByte
                }
                k += 1
              }
            }
            bitPos += w
            j += 1
          }
          out.write(payload, 0, payload.length)
        }
        mb += 1
      }
      at += nDeltas
    }
    out.toByteArray
  }

  /** DELTA_LENGTH_BYTE_ARRAY: DBP-coded lengths, then the
    * concatenated bytes.
    */
  def encodeDeltaLenBA(bins: Array[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val lens = encodeDeltaBinPacked(bins.map(_.length.toLong))
    out.write(lens, 0, lens.length)
    bins.foreach(b => out.write(b, 0, b.length))
    out.toByteArray
  }

  /** DELTA_BYTE_ARRAY: DBP prefix lengths + DBP suffix lengths +
    * concatenated suffixes (value i = previous.take(prefix) ++
    * suffix — the front-coding sorted string columns live on).
    */
  def encodeDeltaBA(bins: Array[Array[Byte]]): Array[Byte] = {
    val n = bins.length
    val pre = new Array[Long](n)
    val suf = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      var p = 0
      if (i > 0) {
        val prev = bins(i - 1)
        val cap = math.min(prev.length, bins(i).length)
        while (p < cap && prev(p) == bins(i)(p)) p += 1
      }
      pre(i) = p.toLong
      suf(i) = java.util.Arrays.copyOfRange(bins(i), p, bins(i).length)
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    val pb = encodeDeltaBinPacked(pre)
    out.write(pb, 0, pb.length)
    val sb = encodeDeltaBinPacked(suf.map(_.length.toLong))
    out.write(sb, 0, sb.length)
    suf.foreach(b => out.write(b, 0, b.length))
    out.toByteArray
  }

  /** BYTE_STREAM_SPLIT: k streams of one byte position each (k =
    * type width) — the transposed layout that makes IEEE exponent
    * bytes compress, the embedding-column encoding at scale.
    */
  def encodeByteStreamSplit(vals: Array[Long],
                            width: Int): Array[Byte] = {
    val n = vals.length
    val out = new Array[Byte](n * width)
    var k = 0
    while (k < width) {
      var i = 0
      while (i < n) {
        out(k * n + i) = ((vals(i) >>> (8 * k)) & 0xff).toByte
        i += 1
      }
      k += 1
    }
    out
  }

  /** Per-leaf derived shape: dotted path, max def/rep, phys type. */
  private final case class LeafShape(path: Seq[String], maxDef: Int,
                                     maxRep: Int, physType: Int)

  private def flattenLeaves(fields: Seq[Node]): Seq[LeafShape] = {
    val out = Seq.newBuilder[LeafShape]
    def walk(n: Node, prefix: Seq[String], d0: Int, r0: Int): Unit = {
      val d = d0 + (if (n.repetition != 0) 1 else 0)
      val r = r0 + (if (n.repetition == 2) 1 else 0)
      n match {
        case l: Leaf => out += LeafShape(prefix :+ l.name, d, r, l.physType)
        case g: Group => g.children.foreach(walk(_, prefix :+ g.name, d, r))
      }
    }
    fields.foreach(walk(_, Nil, 0, 0))
    out.result()
  }

  /** Hybrid RLE runs over maximal constant stretches (the levels /
    * dictionary-index encoding): header varint (runLen << 1), value
    * in ceil(width/8) LE bytes. Pure-RLE output is spec-legal for
    * every input and keeps the layout trivially deterministic for
    * the independent Python twin.
    */
  private def hybridRle(vals: Array[Int], from: Int, until: Int,
                        width: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val byteWidth = (width + 7) / 8
    var i = from
    while (i < until) {
      var j = i
      while (j < until && vals(j) == vals(i)) j += 1
      putUvarint(out, (j - i).toLong << 1)
      var k = 0
      var v = vals(i)
      while (k < byteWidth) { out.write(v & 0xff); v >>>= 8; k += 1 }
      i = j
    }
    out.toByteArray
  }

  private def bitsFor(m: Int): Int =
    32 - Integer.numberOfLeadingZeros(m)

  /** PLAIN encoding of one value (the same bytes Statistics /
    * ColumnIndex bounds and bloom hashing use).
    */
  private def plainOne(physType: Int, long: Long,
                       bin: Array[Byte]): Array[Byte] = physType match {
    case 2 /* INT64 */ | 5 /* DOUBLE */ => toLe64(long)
    case 1 /* INT32 */ | 4 /* FLOAT */ => toLe32(long.toInt)
    case 6 /* BYTE_ARRAY */ => bin
    case t => throw new IllegalArgumentException(s"physType $t")
  }

  /** Unsigned-lexicographic byte compare (BYTE_ARRAY bound order). */
  private def binLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  // split-block bloom constants (format spec BloomFilter.md)
  private val BloomSalt = Array(0x47b6137b, 0x44974d91, 0x8824ad5b,
    0xa2b7289d, 0x705495c7, 0x2df1424b, 0x9efc4947, 0x5c6bfb31)

  /** Build a split-block bloom bitset over the PLAIN encodings of the
    * present values: numBytes = the smallest power of two >= max(32,
    * ndv) — ~8 bits per distinct key, the spec's ~1% FPP sizing.
    */
  private[sources] def bloomBits(keys: Iterator[Array[Byte]],
                                 ndv: Int): Array[Byte] = {
    var numBytes = 32
    while (numBytes < ndv && numBytes < (1 << 24)) numBytes <<= 1
    val bits = new Array[Byte](numBytes)
    val nBlocks = numBytes / 32
    while (keys.hasNext) {
      val h = XxHash64.hash(keys.next(), 0L)
      val block = (((h >>> 32) * nBlocks) >>> 32).toInt
      var i = 0
      while (i < 8) {
        val bit = (h.toInt * BloomSalt(i)) >>> 27
        val w = block * 32 + i * 4 + (bit >> 3)
        bits(w) = (bits(w) | (1 << (bit & 7))).toByte
        i += 1
      }
    }
    bits
  }

  /** Write a single-row-group parquet file from a schema tree and
    * pre-shredded leaf data (the Dremel striping the reader's
    * [[Parquet.readChunkCells]] reassembles). Capabilities over
    * [[writeInt64]]: BYTE_ARRAY (UTF8-annotated) and DOUBLE leaves,
    * OPTIONAL/REPEATED leaves via v1 level sections, per-leaf
    * dictionary encoding (PLAIN dict page + RLE_DICTIONARY indices),
    * multi-page chunks (`pageRows` records per page), footer
    * Statistics, the PARQUET-922 ColumnIndex/OffsetIndex pair, and
    * PARQUET-41 split-block blooms — each opt-in so the q295 minimal
    * layout stays available.
    *
    * Layout (deterministic, byte-for-byte reproducible): PAR1; per
    * leaf: [dict page][data pages]; per bloom'd leaf: header+bitset;
    * per indexed leaf: ColumnIndex, then per leaf OffsetIndex;
    * footer; LE32 len; PAR1.
    */
  def writeFile(fields: Seq[Node], data: Seq[LeafData],
                codec: Int = 0, withStats: Boolean = false,
                pageRows: Int = 0, withIndex: Boolean = false,
                bloomCols: Set[Int] = Set.empty,
                pageV2: Boolean = false,
                withCrc: Boolean = false): Array[Byte] = {
    val shapes = flattenLeaves(fields)
    require(shapes.length == data.length, "leaf count mismatch")
    // 0 = UNCOMPRESSED, 1 = SNAPPY (own LZ77), 2 = GZIP (own DEFLATE
    // encoder inside the engine's own gzip member framing), 4 =
    // BROTLI (own RFC 7932 encoder, one stream per page payload),
    // 6 = ZSTD (one own-encoder frame per page payload), 7 = LZ4_RAW
    // (own LZ4 block encoder)
    require(codec == 0 || codec == 1 || codec == 2 || codec == 4 ||
      codec == 6 || codec == 7, s"codec $codec")
    def compressBody(plain: Array[Byte]): Array[Byte] = codec match {
      case 1 => Snappy.compress(plain)
      case 2 => Gzip.writeMemberOwnBest(plain)
      case 4 => BrotliEncode.compress(plain)
      case 6 => ZstdEncode.compress(plain)
      case 7 => Lz4Encode.compressBlock(plain)
      case _ => plain
    }
    shapes.zip(data).foreach { case (sh, ld) =>
      require(ld.defs != null && ld.defs.length <= (1 << 24))
      if (sh.maxRep > 0)
        require(ld.reps != null && ld.reps.length == ld.defs.length)
      val present = ld.defs.count(_ == sh.maxDef)
      if (sh.physType == 6)
        require(ld.bins != null && ld.bins.length == present)
      else require(ld.longs != null && ld.longs.length == present)
    }
    // row count = records on the first leaf (rep == 0 starts a record)
    val numRows =
      if (shapes.isEmpty) 0L
      else if (shapes.head.maxRep == 0) data.head.defs.length.toLong
      else data.head.reps.count(_ == 0).toLong
    val out = new java.io.ByteArrayOutputStream()
    out.write('P'); out.write('A'); out.write('R'); out.write('1')

    // per-leaf chunk bookkeeping for the footer
    val nLeaves = shapes.length
    val dictOffsets = Array.fill(nLeaves)(-1L)
    val dataOffsets = new Array[Long](nLeaves)
    val chunkComp = new Array[Long](nLeaves)
    val chunkUncomp = new Array[Long](nLeaves)
    val bloomOffsets = Array.fill(nLeaves)(-1L)
    val bloomLengths = Array.fill(nLeaves)(-1)
    // per-leaf, per-page records for the index structures
    val pageLocs = Array.fill(nLeaves)(
      Seq.newBuilder[(Long, Int, Long)]) // offset, size, firstRow
    val pageMins = Array.fill(nLeaves)(Seq.newBuilder[Array[Byte]])
    val pageMaxs = Array.fill(nLeaves)(Seq.newBuilder[Array[Byte]])
    val pageNullCounts = Array.fill(nLeaves)(Seq.newBuilder[Long])
    val pageNullPages = Array.fill(nLeaves)(Seq.newBuilder[Boolean])
    // chunk-level stats
    val statNullCount = new Array[Long](nLeaves)
    val statMin = new Array[Array[Byte]](nLeaves)
    val statMax = new Array[Array[Byte]](nLeaves)
    // dictionaries (for the footer's encodings list + bloom ndv)
    val usedDict = new Array[Boolean](nLeaves)

    def crcOf(parts: Array[Byte]*): Option[Int] =
      if (!withCrc) None
      else {
        val c = new java.util.zip.CRC32()
        parts.foreach(p => c.update(p, 0, p.length))
        Some(c.getValue.toInt)
      }

    def pageHeader(pageType: Int, uncomp: Int, comp: Int,
                   numVals: Int, encoding: Int,
                   crc: Option[Int] = None): Array[Byte] = {
      val h = new TCW
      h.i32(1, pageType.toLong)
      h.i32(2, uncomp.toLong)
      h.i32(3, comp.toLong)
      crc.foreach(v => h.i32(4, v.toLong))
      if (pageType == 0) {
        h.structField(5)
        h.i32(1, numVals.toLong)
        h.i32(2, encoding.toLong)
        h.i32(3, 3) // definition_level_encoding = RLE
        h.i32(4, 3) // repetition_level_encoding = RLE
        h.end()
      } else {
        h.structField(7)
        h.i32(1, numVals.toLong)
        h.i32(2, encoding.toLong)
        h.end()
      }
      h.end()
      h.out.toByteArray
    }

    /** DATA_PAGE_V2 header: levels sit OUTSIDE the codec, their RLE
      * byte lengths declared (no LE32 prefixes in the body).
      */
    def pageHeaderV2(uncomp: Int, comp: Int, numVals: Int,
                     numNulls: Int, numRows: Int, encoding: Int,
                     dlBytes: Int, rlBytes: Int,
                     crc: Option[Int] = None): Array[Byte] = {
      val h = new TCW
      h.i32(1, 3L) // DATA_PAGE_V2
      h.i32(2, uncomp.toLong)
      h.i32(3, comp.toLong)
      crc.foreach(v => h.i32(4, v.toLong))
      h.structField(8)
      h.i32(1, numVals.toLong)
      h.i32(2, numNulls.toLong)
      h.i32(3, numRows.toLong)
      h.i32(4, encoding.toLong)
      h.i32(5, dlBytes.toLong)
      h.i32(6, rlBytes.toLong)
      h.end()
      h.end()
      h.out.toByteArray
    }

    for (c <- shapes.indices) {
      val sh = shapes(c)
      val ld = data(c)
      val isBin = sh.physType == 6
      val slots = ld.defs.length
      // ---- dictionary (first-appearance order over present values)
      var binDict: IndexedSeq[Array[Byte]] = null
      var longDict: IndexedSeq[Long] = null
      var indices: Array[Int] = null
      if (ld.dict) {
        usedDict(c) = true
        if (isBin) {
          val order = scala.collection.mutable.LinkedHashMap
            .empty[String, Int]
          indices = ld.bins.map { v =>
            val k = java.util.Base64.getEncoder.encodeToString(v)
            order.getOrElseUpdate(k, order.size)
          }
          val inv = new Array[Array[Byte]](order.size)
          var i = 0
          while (i < ld.bins.length) {
            inv(indices(i)) = ld.bins(i); i += 1
          }
          binDict = inv.toIndexedSeq
        } else {
          val order = scala.collection.mutable.LinkedHashMap
            .empty[Long, Int]
          indices = ld.longs.map(v => order.getOrElseUpdate(v, order.size))
          longDict = order.keys.toIndexedSeq
        }
      }
      // ---- chunk-level stats over present values
      if (withStats) {
        statNullCount(c) = slots - (if (isBin) ld.bins.length
                                    else ld.longs.length)
        if (isBin) {
          var i = 0
          while (i < ld.bins.length) {
            val v = ld.bins(i)
            if (statMin(c) == null || binLt(v, statMin(c))) statMin(c) = v
            if (statMax(c) == null || binLt(statMax(c), v)) statMax(c) = v
            i += 1
          }
        } else if (ld.longs.length > 0) {
          if (sh.physType == 5) {
            var mn = java.lang.Double.longBitsToDouble(ld.longs(0))
            var mx = mn
            var i = 1
            while (i < ld.longs.length) {
              val d = java.lang.Double.longBitsToDouble(ld.longs(i))
              if (d < mn) mn = d
              if (d > mx) mx = d
              i += 1
            }
            statMin(c) = toLe64(java.lang.Double.doubleToLongBits(mn))
            statMax(c) = toLe64(java.lang.Double.doubleToLongBits(mx))
          } else {
            var mn = ld.longs(0); var mx = ld.longs(0)
            var i = 1
            while (i < ld.longs.length) {
              if (ld.longs(i) < mn) mn = ld.longs(i)
              if (ld.longs(i) > mx) mx = ld.longs(i)
              i += 1
            }
            statMin(c) = plainOne(sh.physType, mn, null)
            statMax(c) = plainOne(sh.physType, mx, null)
          }
        }
      }
      val chunkStart = out.size().toLong
      // ---- dict page
      if (ld.dict) {
        dictOffsets(c) = out.size().toLong
        val pb = new java.io.ByteArrayOutputStream()
        if (isBin) binDict.foreach { v =>
          putLe32(pb, v.length); pb.write(v, 0, v.length)
        }
        else longDict.foreach(putLe64(pb, _))
        val plain = pb.toByteArray
        val body = compressBody(plain)
        val nd = if (isBin) binDict.length else longDict.length
        val hb = pageHeader(2, plain.length, body.length, nd, 0,
          crcOf(body))
        out.write(hb, 0, hb.length); out.write(body, 0, body.length)
        chunkComp(c) += hb.length + body.length
        chunkUncomp(c) += hb.length + plain.length
      }
      // ---- data pages: split slots on record boundaries
      val perPage = if (pageRows <= 0) Int.MaxValue else pageRows
      dataOffsets(c) = out.size().toLong
      var slotAt = 0
      var presentAt = 0 // values consumed so far
      var rowAt = 0L
      while (slotAt < slots) {
        // take the slot range covering the next `perPage` records
        // (a record = a rep-0 slot plus its rep>0 continuation slots)
        var slotEnd = slotAt
        var recs = 0
        while (slotEnd < slots && recs < perPage) {
          slotEnd += 1
          while (sh.maxRep > 0 && slotEnd < slots &&
            ld.reps(slotEnd) != 0) slotEnd += 1
          recs += 1
        }
        {
          val nVals = slotEnd - slotAt
          val repRuns =
            if (sh.maxRep > 0) hybridRle(ld.reps, slotAt, slotEnd,
              bitsFor(sh.maxRep))
            else Array.emptyByteArray
          val defRuns =
            if (sh.maxDef > 0) hybridRle(ld.defs, slotAt, slotEnd,
              bitsFor(sh.maxDef))
            else Array.emptyByteArray
          val body0 = new java.io.ByteArrayOutputStream()
          if (!pageV2) {
            if (sh.maxRep > 0) {
              putLe32(body0, repRuns.length)
              body0.write(repRuns, 0, repRuns.length)
            }
            if (sh.maxDef > 0) {
              putLe32(body0, defRuns.length)
              body0.write(defRuns, 0, defRuns.length)
            }
          }
          var present = nVals
          if (sh.maxDef > 0) {
            present = 0
            var i = slotAt
            while (i < slotEnd) {
              if (ld.defs(i) == sh.maxDef) present += 1
              i += 1
            }
          }
          // page-level bounds for the ColumnIndex
          if (withIndex) {
            var pMin: Array[Byte] = null
            var pMax: Array[Byte] = null
            var i = 0
            while (i < present) {
              val enc =
                if (isBin) ld.bins(presentAt + i)
                else plainOne(sh.physType, ld.longs(presentAt + i), null)
              val lt =
                if (isBin) binLt _
                else if (sh.physType == 5) (a: Array[Byte], b: Array[Byte]) =>
                  java.lang.Double.longBitsToDouble(Bytes.le64(a, 0)) <
                    java.lang.Double.longBitsToDouble(Bytes.le64(b, 0))
                else (a: Array[Byte], b: Array[Byte]) =>
                  Bytes.le64(a, 0) < Bytes.le64(b, 0)
              if (pMin == null || lt(enc, pMin)) pMin = enc
              if (pMax == null || lt(pMax, enc)) pMax = enc
              i += 1
            }
            pageNullPages(c) += (present == 0)
            pageMins(c) += (if (pMin == null) Array.emptyByteArray else pMin)
            pageMaxs(c) += (if (pMax == null) Array.emptyByteArray else pMax)
            pageNullCounts(c) += (nVals - present).toLong
          }
          val encoding =
            if (ld.dict) {
              if (present > 0) {
                val dictSize = if (isBin) binDict.length else longDict.length
                val bw = math.max(1, bitsFor(math.max(0, dictSize - 1)))
                body0.write(bw)
                val idxArr = new Array[Int](present)
                var i = 0
                while (i < present) {
                  idxArr(i) = indices(presentAt + i); i += 1
                }
                val runs = hybridRle(idxArr, 0, present, bw)
                body0.write(runs, 0, runs.length)
              } else body0.write(1) // all-null page: bare width byte
              8 // RLE_DICTIONARY
            } else if (ld.enc == 5 &&
              (sh.physType == 1 || sh.physType == 2)) {
              val vs = java.util.Arrays.copyOfRange(ld.longs,
                presentAt, presentAt + present)
              val b = encodeDeltaBinPacked(vs)
              body0.write(b, 0, b.length)
              5 // DELTA_BINARY_PACKED
            } else if (ld.enc == 6 && isBin) {
              val vs = java.util.Arrays.copyOfRange(ld.bins,
                presentAt, presentAt + present)
              val b = encodeDeltaLenBA(vs)
              body0.write(b, 0, b.length)
              6 // DELTA_LENGTH_BYTE_ARRAY
            } else if (ld.enc == 7 && isBin) {
              val vs = java.util.Arrays.copyOfRange(ld.bins,
                presentAt, presentAt + present)
              val b = encodeDeltaBA(vs)
              body0.write(b, 0, b.length)
              7 // DELTA_BYTE_ARRAY
            } else if (ld.enc == 9 && !isBin && sh.physType != 0) {
              val vs = java.util.Arrays.copyOfRange(ld.longs,
                presentAt, presentAt + present)
              val w =
                if (sh.physType == 1 || sh.physType == 4) 4 else 8
              val b = encodeByteStreamSplit(vs, w)
              body0.write(b, 0, b.length)
              9 // BYTE_STREAM_SPLIT
            } else {
              require(ld.enc == 0, s"enc ${ld.enc} on phys ${
                sh.physType}")
              var i = 0
              while (i < present) {
                if (isBin) {
                  val v = ld.bins(presentAt + i)
                  putLe32(body0, v.length)
                  body0.write(v, 0, v.length)
                } else {
                  val enc = plainOne(sh.physType, ld.longs(presentAt + i),
                    null)
                  body0.write(enc, 0, enc.length)
                }
                i += 1
              }
              0 // PLAIN
            }
          // v1: body0 = prefixed levels + values, one codec pass;
          // v2: body0 = values only — levels ride OUTSIDE the codec
          val plain = body0.toByteArray
          val pageOff = out.size().toLong
          if (!pageV2) {
            val body = compressBody(plain)
            val hb = pageHeader(0, plain.length, body.length, nVals,
              encoding, crcOf(body))
            out.write(hb, 0, hb.length); out.write(body, 0, body.length)
            chunkComp(c) += hb.length + body.length
            chunkUncomp(c) += hb.length + plain.length
            pageLocs(c) += ((pageOff, hb.length + body.length, rowAt))
          } else {
            val vbody = compressBody(plain)
            val unc = repRuns.length + defRuns.length + plain.length
            val comp = repRuns.length + defRuns.length + vbody.length
            val hb = pageHeaderV2(unc, comp, nVals, nVals - present,
              recs, encoding, defRuns.length, repRuns.length,
              crcOf(repRuns, defRuns, vbody))
            out.write(hb, 0, hb.length)
            out.write(repRuns, 0, repRuns.length)
            out.write(defRuns, 0, defRuns.length)
            out.write(vbody, 0, vbody.length)
            chunkComp(c) += hb.length + comp
            chunkUncomp(c) += hb.length + unc
            pageLocs(c) += ((pageOff, hb.length + comp, rowAt))
          }
          rowAt += recs
          presentAt += present
          slotAt = slotEnd
        }
      }
    }
    // ---- blooms (after data, before indexes — offsets in the footer)
    for (c <- shapes.indices if bloomCols.contains(c)) {
      val sh = shapes(c)
      val ld = data(c)
      val isBin = sh.physType == 6
      val distinct: Seq[Array[Byte]] =
        if (isBin) {
          val seen = scala.collection.mutable.LinkedHashMap
            .empty[String, Array[Byte]]
          ld.bins.foreach { v =>
            seen.getOrElseUpdate(
              java.util.Base64.getEncoder.encodeToString(v), v)
          }
          seen.values.toSeq
        } else {
          val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
          ld.longs.foreach(seen.add)
          seen.toSeq.map(v => plainOne(sh.physType, v, null))
        }
      val bits = bloomBits(distinct.iterator, distinct.length)
      val h = new TCW
      h.i32(1, bits.length.toLong)
      def union1(id: Int): Unit = {
        h.structField(id); h.structField(1); h.end(); h.end()
      }
      union1(2) // algorithm = BLOCK
      union1(3) // hash = XXHASH
      union1(4) // compression = UNCOMPRESSED
      h.end()
      val hb = h.out.toByteArray
      bloomOffsets(c) = out.size().toLong
      out.write(hb, 0, hb.length)
      out.write(bits, 0, bits.length)
      bloomLengths(c) = hb.length + bits.length
    }
    // ---- ColumnIndex / OffsetIndex (all CIs, then all OIs) -----------
    val ciOffsets = Array.fill(nLeaves)(-1L)
    val ciLengths = Array.fill(nLeaves)(-1)
    val oiOffsets = Array.fill(nLeaves)(-1L)
    val oiLengths = Array.fill(nLeaves)(-1)
    if (withIndex) {
      for (c <- shapes.indices) {
        val t = new TCW
        val nulls = pageNullPages(c).result()
        t.list(1, nulls.length, 1)
        nulls.foreach(b => t.out.write(if (b) 1 else 2))
        val mins = pageMins(c).result()
        t.list(2, mins.length, 8)
        mins.foreach(t.elemBytes)
        val maxs = pageMaxs(c).result()
        t.list(3, maxs.length, 8)
        maxs.foreach(t.elemBytes)
        t.i32(4, 0) // boundary_order = UNORDERED
        val ncs = pageNullCounts(c).result()
        t.list(5, ncs.length, 6)
        ncs.foreach(t.elemI64)
        t.end()
        val b = t.out.toByteArray
        ciOffsets(c) = out.size().toLong
        ciLengths(c) = b.length
        out.write(b, 0, b.length)
      }
      for (c <- shapes.indices) {
        val t = new TCW
        val locs = pageLocs(c).result()
        t.list(1, locs.length, 12)
        locs.foreach { case (off, sz, fri) =>
          t.elemStruct()
          t.i64(1, off)
          t.i32(2, sz.toLong)
          t.i64(3, fri)
          t.end()
        }
        t.end()
        val b = t.out.toByteArray
        oiOffsets(c) = out.size().toLong
        oiLengths(c) = b.length
        out.write(b, 0, b.length)
      }
    }
    // ---- footer ------------------------------------------------------
    val f = new TCW
    f.i32(1, 1) // version
    // schema: flatten the tree in preorder under a synthetic root
    val flat = Seq.newBuilder[(Node, Int)] // node, numChildren
    def flatten(n: Node): Unit = n match {
      case l: Leaf => flat += ((l, 0))
      case g: Group =>
        flat += ((g, g.children.length)); g.children.foreach(flatten)
    }
    fields.foreach(flatten)
    val flatSeq = flat.result()
    f.list(2, flatSeq.length + 1, 12)
    f.elemStruct()
    f.str(4, "schema")
    f.i32(5, fields.length.toLong)
    f.end()
    flatSeq.foreach { case (n, nc) =>
      f.elemStruct()
      n match {
        case l: Leaf =>
          f.i32(1, l.physType.toLong)
          f.i32(3, l.repetition.toLong)
          f.str(4, l.name)
          if (l.convertedType >= 0) f.i32(6, l.convertedType.toLong)
        case g: Group =>
          f.i32(3, g.repetition.toLong)
          f.str(4, g.name)
          f.i32(5, nc.toLong)
          if (g.convertedType >= 0) f.i32(6, g.convertedType.toLong)
      }
      f.end()
    }
    f.i64(3, numRows)
    f.list(4, 1, 12) // row_groups
    f.elemStruct()
    f.list(1, nLeaves, 12)
    for (c <- shapes.indices) {
      val sh = shapes(c)
      f.elemStruct() // ColumnChunk
      f.i64(2, if (dictOffsets(c) >= 0) dictOffsets(c) else dataOffsets(c))
      f.structField(3) // ColumnMetaData
      f.i32(1, sh.physType.toLong)
      if (usedDict(c)) {
        f.list(2, 3, 5)
        f.elemI32(0); f.elemI32(3); f.elemI32(8) // PLAIN, RLE, RLE_DICT
      } else {
        f.list(2, 2, 5)
        f.elemI32(data(c).enc.toLong) // value encoding (PLAIN or v2)
        f.elemI32(3) // RLE levels
      }
      f.list(3, sh.path.length, 8)
      sh.path.foreach(f.elemStr)
      f.i32(4, codec.toLong)
      f.i64(5, data(c).defs.length.toLong) // num_values = slots
      f.i64(6, chunkUncomp(c))
      f.i64(7, chunkComp(c))
      f.i64(9, dataOffsets(c))
      if (dictOffsets(c) >= 0) f.i64(11, dictOffsets(c))
      if (withStats) {
        f.structField(12)
        f.i64(3, statNullCount(c))
        if (statMax(c) != null) f.bytesField(5, statMax(c))
        if (statMin(c) != null) f.bytesField(6, statMin(c))
        f.end()
      }
      if (bloomOffsets(c) >= 0) {
        f.i64(14, bloomOffsets(c))
        f.i32(15, bloomLengths(c).toLong)
      }
      f.end() // ColumnMetaData
      if (oiOffsets(c) >= 0) {
        f.i64(4, oiOffsets(c))
        f.i32(5, oiLengths(c).toLong)
      }
      if (ciOffsets(c) >= 0) {
        f.i64(6, ciOffsets(c))
        f.i32(7, ciLengths(c).toLong)
      }
      f.end() // ColumnChunk
    }
    f.i64(2, chunkComp.sum) // total_byte_size
    f.i64(3, numRows)
    f.end() // RowGroup
    f.str(6, "graft parquet writer")
    f.end()
    val fb = f.out.toByteArray
    out.write(fb, 0, fb.length)
    Bytes.putLe32(out, fb.length)
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    out.toByteArray
  }

  /** Write `names.length` REQUIRED INT64 columns across MULTIPLE ROW
    * GROUPS — the parquet unit a 100 TB scan plans on: each group's
    * chunks carry their own footer Statistics, so a range-sorted
    * layout lets the reader prune whole groups from the footer alone
    * (q249's skip level, now on engine-written files). One PLAIN
    * page per chunk, uncompressed, deterministic; the independent
    * Python twin pins the bytes.
    */
  def writeInt64RowGroups(names: Seq[String],
                          groups: Seq[Seq[Array[Long]]],
                          withStats: Boolean = true): Array[Byte] = {
    require(names.nonEmpty && groups.nonEmpty)
    // an empty inner group would emit a 0-row row group (num_values=0
    // pages, no Statistics) — a layout some readers reject
    require(groups.forall(_.nonEmpty), "empty row group")
    groups.foreach(g => require(g.forall(_.length == names.length)))
    require(groups.map(_.length.toLong).sum <= (1 << 26))
    val out = new java.io.ByteArrayOutputStream()
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    // per group, per column: offset, chunk size, min, max
    final case class Chunk(offset: Long, size: Long, n: Int,
                           mn: Long, mx: Long)
    val chunks = groups.map { rows =>
      val n = rows.length
      names.indices.map { c =>
        val off = out.size().toLong
        val plain = new Array[Byte](8 * n)
        var mn = Long.MaxValue
        var mx = Long.MinValue
        val it = rows.iterator
        var i = 0
        while (it.hasNext) {
          val v0 = it.next()(c)
          if (v0 < mn) mn = v0
          if (v0 > mx) mx = v0
          var v = v0
          var k = 0
          while (k < 8) {
            plain(i * 8 + k) = (v & 0xff).toByte; v >>>= 8; k += 1
          }
          i += 1
        }
        val h = new TCW
        h.i32(1, 0)
        h.i32(2, plain.length.toLong)
        h.i32(3, plain.length.toLong)
        h.structField(5)
        h.i32(1, n.toLong)
        h.i32(2, 0)
        h.i32(3, 3)
        h.i32(4, 3)
        h.end()
        h.end()
        val hb = h.out.toByteArray
        out.write(hb, 0, hb.length)
        out.write(plain, 0, plain.length)
        Chunk(off, hb.length.toLong + plain.length, n, mn, mx)
      }
    }
    val f = new TCW
    f.i32(1, 1)
    f.list(2, names.length + 1, 12)
    f.elemStruct()
    f.str(4, "schema")
    f.i32(5, names.length.toLong)
    f.end()
    for (nm <- names) {
      f.elemStruct()
      f.i32(1, 2)
      f.i32(3, 0)
      f.str(4, nm)
      f.end()
    }
    f.i64(3, groups.map(_.length.toLong).sum)
    f.list(4, groups.length, 12)
    chunks.foreach { cs =>
      f.elemStruct() // RowGroup
      f.list(1, names.length, 12)
      for (c <- names.indices) {
        val ch = cs(c)
        f.elemStruct()
        f.i64(2, ch.offset)
        f.structField(3)
        f.i32(1, 2)
        f.list(2, 1, 5); f.elemI32(0)
        f.list(3, 1, 8); f.elemStr(names(c))
        f.i32(4, 0)
        f.i64(5, ch.n.toLong)
        f.i64(6, ch.size)
        f.i64(7, ch.size)
        f.i64(9, ch.offset)
        if (withStats && ch.n > 0) {
          f.structField(12)
          f.i64(3, 0L)
          f.bytesField(5, toLe64(ch.mx))
          f.bytesField(6, toLe64(ch.mn))
          f.end()
        }
        f.end()
        f.end()
      }
      f.i64(2, cs.map(_.size).sum)
      f.i64(3, cs.head.n.toLong)
      f.end()
    }
    f.str(6, "graft parquet writer")
    // column_orders: TYPE_ORDER per leaf — without this, readers
    // must not trust min_value/max_value (parquet.thrift's rule;
    // pyarrow enforces it)
    f.list(7, names.length, 12)
    for (_ <- names.indices) {
      f.elemStruct()
      f.structField(1)
      f.end()
      f.end()
    }
    f.end()
    val fb = f.out.toByteArray
    out.write(fb, 0, fb.length)
    Bytes.putLe32(out, fb.length)
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    out.toByteArray
  }

  /** Write `names.length` REQUIRED INT64 columns; `rows(i)(c)` is the
    * value of column c in row i. One row group, one PLAIN page per
    * column. `codec` 0 = UNCOMPRESSED (byte layout unchanged from the
    * q295 md5-pinned form), 1 = SNAPPY through the engine's OWN
    * compressor ([[Snappy.compress]] — real LZ77, snappy-java-pinned).
    */
  def writeInt64(names: Seq[String], rows: Seq[Array[Long]],
                 codec: Int = 0, withStats: Boolean = false)
      : Array[Byte] = {
    require(names.nonEmpty && rows.forall(_.length == names.length))
    require(codec == 0 || codec == 1, s"codec $codec")
    // single-page writer: 8 * n must stay far from Int overflow
    require(rows.length <= (1 << 26), s"too many rows: ${rows.length}")
    val out = new java.io.ByteArrayOutputStream()
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    val n = rows.length
    // ---- column chunks: page header + PLAIN payload per column ----
    val offsets = new Array[Long](names.length)
    val chunkSizes = new Array[Long](names.length)
    val uncompSizes = new Array[Long](names.length)
    for (c <- names.indices) {
      offsets(c) = out.size().toLong
      val plain = new Array[Byte](8 * n)
      // iterate, never index: a List-backed Seq would turn indexed
      // access into O(n^2)
      val it = rows.iterator
      var i = 0
      while (it.hasNext) {
        var v = it.next()(c)
        var k = 0
        while (k < 8) {
          plain(i * 8 + k) = (v & 0xff).toByte; v >>>= 8; k += 1
        }
        i += 1
      }
      val body = if (codec == 1) Snappy.compress(plain) else plain
      val h = new TCW
      h.i32(1, 0)                 // page_type = DATA_PAGE
      h.i32(2, plain.length.toLong) // uncompressed_page_size
      h.i32(3, body.length.toLong)  // compressed_page_size
      h.structField(5)            // data_page_header
      h.i32(1, n.toLong)          // num_values
      h.i32(2, 0)                 // encoding = PLAIN
      h.i32(3, 3)                 // definition_level_encoding = RLE
      h.i32(4, 3)                 // repetition_level_encoding = RLE
      h.end()
      h.end()                     // PageHeader stop
      val hb = h.out.toByteArray
      out.write(hb, 0, hb.length)
      out.write(body, 0, body.length)
      chunkSizes(c) = hb.length + body.length
      uncompSizes(c) = hb.length + plain.length
    }
    // ---- footer ----------------------------------------------------
    val f = new TCW
    f.i32(1, 1)                         // version
    f.list(2, names.length + 1, 12)     // schema
    f.elemStruct()                      // root
    f.str(4, "schema")
    f.i32(5, names.length.toLong)       // num_children
    f.end()
    for (nm <- names) {
      f.elemStruct()
      f.i32(1, 2)                       // type = INT64
      f.i32(3, 0)                       // repetition = REQUIRED
      f.str(4, nm)
      f.end()
    }
    f.i64(3, n.toLong)                  // num_rows
    f.list(4, 1, 12)                    // row_groups
    f.elemStruct()
    f.list(1, names.length, 12)         // columns
    for (c <- names.indices) {
      f.elemStruct()                    // ColumnChunk
      f.i64(2, offsets(c))              // file_offset
      f.structField(3)                  // meta_data
      f.i32(1, 2)                       // type = INT64
      f.list(2, 1, 5); f.elemI32(0)     // encodings = [PLAIN]
      f.list(3, 1, 8); f.elemStr(names(c)) // path_in_schema
      f.i32(4, codec.toLong)            // codec
      f.i64(5, n.toLong)                // num_values
      f.i64(6, uncompSizes(c))          // total_uncompressed_size
      f.i64(7, chunkSizes(c))           // total_compressed_size
      f.i64(9, offsets(c))              // data_page_offset
      if (withStats && n > 0) {
        // footer Statistics: the stats-driven skip loop's write side
        // (null_count, min_value/max_value as PLAIN LE64)
        var mn = Long.MaxValue
        var mx = Long.MinValue
        val it2 = rows.iterator
        while (it2.hasNext) {
          val v = it2.next()(c)
          if (v < mn) mn = v
          if (v > mx) mx = v
        }
        f.structField(12)
        f.i64(3, 0L)                    // null_count
        f.bytesField(5, toLe64(mx))        // max_value
        f.bytesField(6, toLe64(mn))        // min_value
        f.end()
      }
      f.end()                           // ColumnMetaData
      f.end()                           // ColumnChunk
    }
    f.i64(2, chunkSizes.sum)            // total_byte_size
    f.i64(3, n.toLong)                  // num_rows
    f.end()                             // RowGroup
    f.str(6, "graft parquet writer")    // created_by
    f.end()                             // FileMetaData stop
    val fb = f.out.toByteArray
    out.write(fb, 0, fb.length)
    Bytes.putLe32(out, fb.length)
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    out.toByteArray
  }
}
