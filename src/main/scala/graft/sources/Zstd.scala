package graft.sources

/** Zstandard frame walk (RFC 8878), COMPLETE: frame and block headers,
  * skippable frames, RAW/RLE block payloads, and — through
  * [[ZstdEntropy]] — the full compressed-block decode (Huffman
  * literals, FSE sequences, repeat offsets, window matches), with
  * frame content-size accounting and XXH64 content-checksum
  * verification. A member census or a full decode over `.zst` corpora
  * (recent Common Crawl segments, HF dataset shards) is a
  * zero-exchange scan-task map either way.
  *
  * Format sources are public: RFC 8878 (magic 0xFD2FB528,
  * frame-header descriptor, window descriptor, LE24 block headers,
  * skippable frames 0x184D2A5?, the literals/sequences block format)
  * and the xxHash specification. Nothing links against zstd-jni or
  * lz4-java — ZstdSpec pins this decoder AGAINST zstd-jni (libzstd,
  * the reference implementation) as writer and [[XxHash64]] against
  * lz4-java's independent xxhash.
  *
  * Totality law (the house posture): malformation — bad magic, a
  * reserved block type, a reserved descriptor bit, blocks past the
  * input, a decoded size disagreeing with the declared frame content
  * size, a checksum mismatch, any entropy-stream malformation — yields
  * None, never a throw and never partial garbage.
  */
object Zstd {

  import Bytes.{Damage, Reader, damage}

  /** One walked frame. `kind` is "zstd" or "skip". `declaredSize` is
    * the frame-header content size (-1 when the header omits it) or
    * the skippable payload size. `decoded` carries the FULL content —
    * skippable payloads verbatim, zstd frames through the complete
    * block decode. `checksumState`: "ok" (verified) or "none" (flag
    * clear); a mismatch is Damage, so "bad" cannot be observed.
    */
  case class Frame(kind: String, declaredSize: Long,
                   nBlocks: Int, rawBlocks: Int, rleBlocks: Int,
                   compBlocks: Int, checksumState: String,
                   decoded: Array[Byte])

  /** Encode `raw` as one RFC 8878-legal zstd frame of RAW blocks (no
    * entropy coding) — the deterministic writer twin of the decoder,
    * for producers that need zstd framing without a compressor (the
    * Avro `zstandard` codec writer; size-oracle fixtures reimplement
    * this layout byte for byte). Single-segment frame, 4-byte content
    * size, 128 KiB raw blocks.
    */
  def frameStored(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length + 16)
    out.write(0x28); out.write(0xb5); out.write(0x2f); out.write(0xfd)
    // descriptor: FCS code 2 (4-byte size) | Single_Segment_Flag
    out.write(0xa0)
    val n = raw.length
    Bytes.putLe32(out, n)
    val BlockMax = 128 * 1024
    var p = 0
    do {
      val len = math.min(BlockMax, n - p)
      val last = if (p + len >= n) 1 else 0
      val hdr = (len << 3) | last // block_type raw = 0
      out.write(hdr & 0xff); out.write((hdr >> 8) & 0xff)
      out.write((hdr >> 16) & 0xff)
      out.write(raw, p, len)
      p += len
    } while (p < n)
    out.toByteArray
  }

  /** Walk a complete multi-frame `.zst` byte stream. Decoded output is
    * capped at `cap` bytes per frame (adversarial-allocation bound).
    */
  def walk(b: Array[Byte], cap: Int = 1 << 26): Option[Seq[Frame]] =
    walkImpl(b, cap, Array.emptyByteArray, Map.empty)

  /** [[walk]] with a PREFIX DICTIONARY (RFC 8878 raw-content
    * dictionary, what libzstd's ZSTD_decompress_usingDict does with
    * un-magic'd dict bytes): each frame's window is primed with
    * `dict`, so matches may reach before the frame's own output;
    * content size, block bound, and checksum all measure the content
    * alone. Raw-content dictionaries carry no ID, so the
    * no-dictID law still holds.
    */
  def walkWithDict(b: Array[Byte], dict: Array[Byte],
                   cap: Int = 1 << 26): Option[Seq[Frame]] =
    walkImpl(b, cap, dict, Map.empty)

  // ---- structured dictionaries (q395) ----------------------------------------

  /** The zstd dictionary magic (RFC 8878 §5), little-endian. */
  val DictMagic = 0xec30a437L

  /** A parsed dictionary: STRUCTURED (magic ‖ id ‖ entropy tables ‖
    * 3 repeat offsets ‖ content — libzstd `--train`'s output) or RAW
    * CONTENT (no magic, id 0, every byte window). `contentStart`
    * marks where window bytes begin; `entropyStart` is -1 for raw.
    */
  final case class Dict(id: Long, bytes: Array[Byte],
                        entropyStart: Int, contentStart: Int) {
    def content: Array[Byte] = java.util.Arrays.copyOfRange(
      bytes, contentStart, bytes.length)
  }

  /** Parse dictionary bytes: the magic routes structured vs raw
    * content (libzstd's loading rule). A structured dictionary with
    * id 0, malformed entropy tables, or invalid repeat offsets is
    * None — a dictionary that cannot prime a decoder correctly must
    * not be accepted at all.
    */
  def parseDictionary(b: Array[Byte]): Option[Dict] =
    try {
      if (b.length >= 8 &&
        ((b(0) & 0xffL) | (b(1) & 0xffL) << 8 | (b(2) & 0xffL) << 16 |
          (b(3) & 0xffL) << 24) == DictMagic) {
        val id = (b(4) & 0xffL) | (b(5) & 0xffL) << 8 |
          (b(6) & 0xffL) << 16 | (b(7) & 0xffL) << 24
        if (id == 0L) damage() // a structured dict must be nameable
        val probe = new ZstdEntropy.FrameCtx(1)
        val cs = ZstdEntropy.loadDictEntropy(b, 8, b.length, probe)
        Some(Dict(id, b, 8, cs))
      } else if (b.nonEmpty) Some(Dict(0L, b, -1, 0))
      else None
    } catch { case _: Damage => None }

  /** [[walk]] accepting frames that NAME a dictionary (dictIdFlag
    * != 0): the named id resolves against `dicts`; the dictionary's
    * content primes the window AND its entropy tables prime the
    * first block's Treeless/Repeat modes. A frame naming a
    * dictionary this reader does NOT have still fails CLOSED —
    * RFC 8878 §3.1.1's MUST, now with the have-it path implemented.
    */
  def walkWithDicts(b: Array[Byte], dicts: Seq[Dict],
                    cap: Int = 1 << 26): Option[Seq[Frame]] =
    walkImpl(b, cap, Array.emptyByteArray,
      dicts.filter(_.id != 0L).map(d => d.id -> d).toMap)

  private def walkImpl(b: Array[Byte], cap: Int, dict: Array[Byte],
                       dicts: Map[Long, Dict]): Option[Seq[Frame]] = {
    try {
      val r = new Reader(b, 0, b.length)
      val out = Seq.newBuilder[Frame]
      if (b.length == 0) damage() // an empty object is not a .zst
      while (r.remaining > 0) {
        val magic = r.le32u()
        if ((magic & 0xfffffff0L) == 0x184d2a50L) {
          // skippable frame: LE32 size + payload, content surfaced raw
          val sz = r.le32u()
          if (sz > cap) damage()
          val payload = r.bytes(sz.toInt)
          out += Frame("skip", sz, 0, 0, 0, 0, "none", payload)
        } else if (magic == 0xfd2fb528L) {
          // frame header descriptor
          val fhd = r.u8()
          val fcsFlag = (fhd >> 6) & 3
          val singleSegment = ((fhd >> 5) & 1) == 1
          if (((fhd >> 3) & 1) != 0) damage() // reserved bit
          val hasChecksum = ((fhd >> 2) & 1) == 1
          val dictIdFlag = fhd & 3
          if (!singleSegment) {
            val wd = r.u8() // window descriptor: exponent+mantissa
            val windowLog = 10 + ((wd >> 3) & 0x1f)
            if (windowLog > 31) damage() // beyond any bounded reader
          }
          // RFC 8878 §3.1.1: a frame naming a dictionary this reader
          // does not HAVE must error — decoding it anyway can surface
          // wrong bytes silently when no content-size/checksum pins
          // it. With the dictionary in hand (q395), the id resolves
          // and the frame decodes.
          val dictId: Long = dictIdFlag match {
            case 0 => 0L
            case 1 => r.u8().toLong
            case 2 => r.le16().toLong
            case _ => r.le32u()
          }
          val frameDict: Option[Dict] =
            if (dictId == 0L) None
            else Some(dicts.getOrElse(dictId, damage()))
          val declared = fcsFlag match {
            case 0 => if (singleSegment) r.u8().toLong else -1L
            case 1 => r.le16() + 256L
            case 2 => r.le32u()
            case _ => r.le64()
          }
          if (declared > cap) damage()
          // blocks: LE24 header = last(bit0) | type(bits1-2) | size<<3
          val prefixLen = frameDict
            .map(d => d.bytes.length - d.contentStart)
            .getOrElse(dict.length)
          val ctx = new ZstdEntropy.FrameCtx(cap + prefixLen)
          frameDict match {
            case Some(d) =>
              // entropy tables + repeat offsets, then the content
              // as the window prefix
              ZstdEntropy.loadDictEntropy(d.bytes, d.entropyStart,
                d.bytes.length, ctx)
              ctx.window.putRaw(d.bytes, d.contentStart,
                d.bytes.length - d.contentStart)
            case None =>
              if (dict.nonEmpty) ctx.window.putRaw(dict, 0, dict.length)
          }
          var nBlocks = 0; var raw = 0; var rle = 0; var comp = 0
          var last = false
          while (!last) {
            val h = r.le16() | r.u8() << 16
            last = (h & 1L) == 1
            val typ = ((h >> 1) & 3).toInt
            val size = (h >> 3).toInt // 21 bits
            val lenBefore = ctx.window.len
            nBlocks += 1
            typ match {
              case 0 => // RAW: size bytes of content, stored
                val at = r.pos
                r.skip(size)
                ctx.window.putRaw(b, at, size)
                raw += 1
              case 1 => // RLE: ONE stored byte, size copies
                val v = r.u8()
                ctx.window.putRle(v.toByte, size)
                rle += 1
              case 2 => // compressed: the full entropy decode (stage 2)
                val at = r.pos
                r.skip(size)
                ZstdEntropy.decompressBlock(b, at, size, ctx)
                comp += 1
              case _ => damage() // reserved
            }
            // RFC: Block_Maximum_Size is 128 KB for every block kind
            if (ctx.window.len - lenBefore > (1 << 17)) damage()
          }
          val all = ctx.window.bytes
          // the dictionary prefix is window, not content
          val decoded = if (prefixLen == 0) all
            else java.util.Arrays.copyOfRange(all, prefixLen,
              all.length)
          if (declared >= 0 && decoded.length != declared)
            damage() // content size is a promise, not a hint
          val checksumState =
            if (!hasChecksum) "none"
            else {
              val want = r.le32u()
              if ((XxHash64.hash(decoded, 0L) & 0xffffffffL) == want) "ok"
              else damage()
            }
          out += Frame("zstd", declared, nBlocks, raw, rle, comp,
            checksumState, decoded)
        } else damage() // neither zstd nor skippable magic
      }
      Some(out.result())
    } catch { case _: Damage => None }
  }
}

/** XXH64 from the public xxHash specification (seed-parameterized;
  * zstd's content checksum is the LOW 32 BITS of XXH64 with seed 0).
  * ZstdSpec pins every path — empty, sub-stripe tails, multi-stripe
  * bodies — against lz4-java's independent implementation.
  */
object XxHash64 {
  private val P1 = 0x9e3779b185ebca87L
  private val P2 = 0xc2b2ae3d27d4eb4fL
  private val P3 = 0x165667b19e3779f9L
  private val P4 = 0x85ebca77c2b2ae63L
  private val P5 = 0x27d4eb2f165667c5L

  def hash(b: Array[Byte], seed: Long): Long = {
    val len = b.length
    def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))
    def round(acc: Long, lane: Long): Long = rotl(acc + lane * P2, 31) * P1

    var p = 0
    var h =
      if (len >= 32) {
        var a1 = seed + P1 + P2
        var a2 = seed + P2
        var a3 = seed
        var a4 = seed - P1
        while (p + 32 <= len) {
          a1 = round(a1, Bytes.le64(b, p))
          a2 = round(a2, Bytes.le64(b, p + 8))
          a3 = round(a3, Bytes.le64(b, p + 16))
          a4 = round(a4, Bytes.le64(b, p + 24))
          p += 32
        }
        var acc = rotl(a1, 1) + rotl(a2, 7) + rotl(a3, 12) + rotl(a4, 18)
        for (a <- Seq(a1, a2, a3, a4))
          acc = (acc ^ round(0L, a)) * P1 + P4
        acc
      } else seed + P5
    h += len
    while (p + 8 <= len) {
      h = rotl(h ^ round(0L, Bytes.le64(b, p)), 27) * P1 + P4
      p += 8
    }
    if (p + 4 <= len) {
      h = rotl(h ^ (Bytes.le32u(b, p) * P1), 23) * P2 + P3
      p += 4
    }
    while (p < len) {
      h = rotl(h ^ ((b(p) & 0xffL) * P5), 11) * P1
      p += 1
    }
    h ^= h >>> 33
    h *= P2
    h ^= h >>> 29
    h *= P3
    h ^= h >>> 32
    h
  }
}
