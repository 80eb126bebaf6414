package graft.sources

/** ORC COLUMN ENCRYPTION (q371) — the ORC spec's answer to
  * column-level governance: selected columns' streams are encrypted
  * with AES/CTR under per-variant LOCAL keys (wrapped by a master
  * key), the plaintext footer carries MASKED statistics for those
  * columns (no bounds — a pruning reader must read, never wrongly
  * skip), and the REAL statistics ride encrypted inside the footer's
  * `encryption` message (Footer field 10: EncryptionKey /
  * EncryptionVariant, orc_proto.proto). Unencrypted columns stay
  * readable by ANY reader — the metadata is additive.
  *
  * Spec source (public): ORCv1 specification "Column Encryption" +
  * orc_proto.proto. CTR IVs follow the spec's layout — column id
  * (3 bytes BE) ‖ stream kind (2 bytes BE) ‖ stripe (3 bytes BE) ‖
  * 8-byte block counter — so no two streams of one key share a
  * counter stream; the variant's file statistics use the
  * one-past-last stripe number. Like the spec's CTR mode, there is
  * NO integrity tag: a flipped ciphertext byte decrypts silently
  * different (q359's contrast law, same trade) — the fail-CLOSED
  * surface is structural (wrong key fails the statistics-parse
  * check, missing variants, malformed framing).
  *
  * Operates as a splice pass over [[OrcWrite.writeTable]]'s
  * compression-NONE envelope (row indexes allowed — an encrypted
  * column's ROW_INDEX and BLOOM streams are encrypted too, per the
  * spec, and its per-stripe statistics in the metadata section are
  * masked alongside the file-footer ones): stream bytes are
  * encrypted IN PLACE (CTR preserves length, so every offset and
  * the stripe footer stay byte-identical), metadata and footer are
  * spliced field-by-field (masked stats + appended encryption
  * message), and the postscript's lengths patched — which makes
  * decrypt(encrypt(f)) == f EXACTLY. Any other layout is
  * refused, never mangled. Local keys come from a CSPRNG by
  * default; determinism (SHA-256 derived) is an explicit opt-in for
  * md5-pinned fixtures, mirroring [[ParquetCrypto]]'s discipline.
  */
object OrcCrypto {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val rng = new java.security.SecureRandom()

  import Bytes.{Damage, Reader, damage, putUvarint}

  // ---- varint + protobuf field walking -------------------------------------

  /** One top-level protobuf field occurrence inside [start, end):
    * (fieldNo, wireType, headerStart, payloadStart, payloadEnd) —
    * for length-delimited fields payload is the content; for varints
    * payload spans the value bytes.
    */
  private def fields(b: Array[Byte], start: Int,
                     end: Int): Vector[(Int, Int, Int, Int, Int)] = {
    val out = Vector.newBuilder[(Int, Int, Int, Int, Int)]
    val r = new Reader(b, start, end)
    while (r.remaining > 0) {
      val hdrStart = r.pos
      val key = r.uvarint()
      val fn = (key >>> 3).toInt
      val wt = (key & 7).toInt
      val payload = wt match {
        case 0 => val p = r.pos; r.uvarint(); p
        case 1 => val p = r.pos; r.skip(8); p
        case 2 => val n = r.len(r.uvarint()); val p = r.pos; r.skip(n); p
        case 5 => val p = r.pos; r.skip(4); p
        case _ => damage()
      }
      out += ((fn, wt, hdrStart, payload, r.pos))
    }
    out.result()
  }

  /** The varint payload of a field from [[fields]]. */
  private def varintAt(b: Array[Byte], f: (Int, Int, Int, Int, Int)): Long =
    new Reader(b, f._4, f._5).uvarint()

  // ---- AES/CTR with the spec's IV layout ------------------------------------

  /** col (3B BE) ‖ kind (2B BE) ‖ stripe (3B BE) ‖ counter (8B, 0).
    * Stream IVs carry the 1-BASED stripe number (orc-core's
    * convention); the statistics variants use nStripes+1 (file) and
    * nStripes+2+si (per-stripe), disjoint from the stream range.
    */
  private def iv(col: Int, kind: Int, stripe: Int): Array[Byte] = {
    val v = new Array[Byte](16)
    v(0) = ((col >> 16) & 0xff).toByte
    v(1) = ((col >> 8) & 0xff).toByte
    v(2) = (col & 0xff).toByte
    v(3) = ((kind >> 8) & 0xff).toByte
    v(4) = (kind & 0xff).toByte
    v(5) = ((stripe >> 16) & 0xff).toByte
    v(6) = ((stripe >> 8) & 0xff).toByte
    v(7) = (stripe & 0xff).toByte
    v
  }

  private def ctr(key: Array[Byte], ivb: Array[Byte],
                  b: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AES/CTR/NoPadding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(ivb))
    c.doFinal(b, off, len)
  }

  /** Local key for one variant: CSPRNG by default, SHA-256-derived
    * on explicit opt-in (fixture reproducibility, not a security
    * posture).
    */
  private def localKeyFor(deterministic: Boolean, master: Array[Byte],
                          keyName: String, col: Int): Array[Byte] =
    if (deterministic) {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(master); md.update(keyName.getBytes(Utf8))
      md.update(s"local:$col".getBytes(Utf8))
      java.util.Arrays.copyOf(md.digest(), 16)
    } else {
      val k = new Array[Byte](16)
      rng.nextBytes(k)
      k
    }

  /** encryptedKey wire form: wrap-IV(16) ‖ AES/CTR(master, iv)(local). */
  private def wrapKey(master: Array[Byte], local: Array[Byte],
                      deterministic: Boolean, keyName: String,
                      col: Int): Array[Byte] = {
    val wiv =
      if (deterministic) {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        md.update(master); md.update(s"wrap:$keyName:$col".getBytes(Utf8))
        // mix the local key in: two files rotated under one master
        // carry DISTINCT local keys, so without this the same CTR
        // keystream would encrypt both and leak their XOR; the IV is
        // stored in the wire form, so unwrap never recomputes it
        md.update(local)
        java.util.Arrays.copyOf(md.digest(), 16)
      } else {
        val v = new Array[Byte](16)
        rng.nextBytes(v)
        v
      }
    wiv ++ ctr(master, wiv, local, 0, local.length)
  }

  private def unwrapKey(master: Array[Byte],
                        wrapped: Array[Byte]): Array[Byte] = {
    if (wrapped.length != 32) damage()
    val wiv = java.util.Arrays.copyOf(wrapped, 16)
    ctr(master, wiv, wrapped, 16, 16)
  }

  // ---- postscript / footer location -----------------------------------------

  /** (metaStart, footerStart, footerEnd=psStart): bail unless
    * compression NONE (the accepted envelope).
    */
  private def locate(b: Array[Byte]): (Int, Int, Int) = {
    val n = b.length
    if (n < 16 || b(0) != 'O' || b(1) != 'R' || b(2) != 'C') damage()
    val psLen = b(n - 1) & 0xff
    if (psLen <= 0 || n - 1 - psLen < 3) damage()
    val psStart = n - 1 - psLen
    val ps = fields(b, psStart, n - 1)
    val footerLen = ps.find(_._1 == 1).map(f =>
      varintAt(b, f)).getOrElse(damage())
    val comp = ps.find(_._1 == 2).map(f =>
      varintAt(b, f)).getOrElse(damage())
    val metaLen = ps.find(_._1 == 5).map(f =>
      varintAt(b, f)).getOrElse(0L)
    if (comp != 0L) damage()
    val footerStart = psStart - footerLen.toInt
    val metaStart = footerStart - metaLen.toInt
    if (metaStart < 3) damage()
    (metaStart, footerStart, psStart)
  }

  /** Re-emit the postscript with patched footerLength (field 1) and
    * metadataLength (field 5); every other field byte-preserved in
    * order.
    */
  private def patchPs(b: Array[Byte], psStart: Int, psEnd: Int,
                      newFooterLen: Long,
                      newMetaLen: Long): Array[Byte] = {
    val ps = fields(b, psStart, psEnd)
    val out = new java.io.ByteArrayOutputStream()
    ps.foreach { f =>
      f._1 match {
        case 1 if f._2 == 0 =>
          putUvarint(out, (1L << 3) | 0); putUvarint(out, newFooterLen)
        case 5 if f._2 == 0 =>
          putUvarint(out, (5L << 3) | 0); putUvarint(out, newMetaLen)
        case _ => out.write(b, f._3, f._5 - f._3)
      }
    }
    out.toByteArray
  }

  // ---- encrypt ---------------------------------------------------------------

  /** Encrypt `encCols` (1-based leaf column ids) of a
    * [[OrcWrite.writeTable]] compression-NONE envelope under
    * `master`. None on any other layout, an already-encrypted file,
    * or malformed bytes.
    */
  def encryptFile(plain: Array[Byte], master: Array[Byte],
                  keyName: String, encCols: Set[Int],
                  deterministic: Boolean = false): Option[Array[Byte]] =
    try {
      if (encCols.isEmpty) return None
      val tail = Orc.parseTail(plain).getOrElse(return None)
      if (tail.compression != 0) return None
      val nCols = tail.typeKinds.length - 1
      if (!encCols.forall(c => c >= 1 && c <= nCols)) return None
      val (mStart, fStart, fEnd) = locate(plain)
      val foot = fields(plain, fStart, fEnd)
      if (foot.exists(_._1 == 10)) return None // already encrypted
      // field-7 occurrences: root, then one per column, in order
      val statFields = foot.filter(_._1 == 7)
      if (statFields.length != nCols + 1) return None
      val nStripes = tail.stripes.length
      val out = java.util.Arrays.copyOf(plain, plain.length)
      // encrypt stream byte ranges in place — data, PRESENT, LENGTH,
      // DICTIONARY, SECONDARY, and the column's ROW_INDEX and BLOOM
      // streams all carry the column id and all get the treatment
      val localKeys = encCols.toSeq.sorted
        .map(c => c -> localKeyFor(deterministic, master, keyName, c))
        .toMap
      tail.stripes.zipWithIndex.foreach { case (s, si) =>
        val sf = Orc.parseStripeFooter(plain, tail, s)
          .getOrElse(damage())
        var pos = s.offset
        sf.streams.foreach { st =>
          if (pos + st.length > plain.length) damage()
          if (encCols.contains(st.column)) {
            // stripe number is 1-BASED in stream IVs (orc-core's
            // convention); stats variants live above nStripes so the
            // ranges never collide
            val enc = ctr(localKeys(st.column),
              iv(st.column, st.kind, si + 1), plain, pos.toInt,
              st.length.toInt)
            System.arraycopy(enc, 0, out, pos.toInt, enc.length)
          }
          pos += st.length
        }
      }
      // splice the METADATA section: mask encrypted columns'
      // per-stripe statistics, collecting the real payloads
      val realStripe = scala.collection.mutable
        .Map.empty[Int, Vector[Array[Byte]]].withDefaultValue(Vector())
      val nm0 = new java.io.ByteArrayOutputStream()
      if (mStart < fStart) {
        val metaF = fields(plain, mStart, fStart)
        var cur = mStart
        metaF.foreach { sm =>
          nm0.write(plain, cur, sm._3 - cur)
          if (sm._1 == 1 && sm._2 == 2) {
            // one StripeStatistics: walk its ColumnStatistics
            val inner = fields(plain, sm._4, sm._5)
            val body = new java.io.ByteArrayOutputStream()
            var c2 = sm._4
            var k = 0
            inner.foreach { cf =>
              body.write(plain, c2, cf._3 - c2)
              if (cf._1 == 1 && k >= 1 && encCols.contains(k)) {
                realStripe(k) = realStripe(k) :+
                  java.util.Arrays.copyOfRange(plain, cf._4, cf._5)
                putUvarint(body, (1L << 3) | 2)
                putUvarint(body, 2L) // masked: {numberOfValues: 0}
                body.write(0x08); body.write(0x00)
              } else body.write(plain, cf._3, cf._5 - cf._3)
              if (cf._1 == 1) k += 1
              c2 = cf._5
            }
            body.write(plain, c2, sm._5 - c2)
            putUvarint(nm0, (1L << 3) | 2)
            putUvarint(nm0, body.size().toLong)
            body.writeTo(nm0)
          } else nm0.write(plain, sm._3, sm._5 - sm._3)
          cur = sm._5
        }
        nm0.write(plain, cur, fStart - cur)
      }
      val newMeta = nm0.toByteArray
      // splice the footer: masked file stats + encryption message
      val nf = new java.io.ByteArrayOutputStream()
      var cursor = fStart
      val realStats = scala.collection.mutable.Map.empty[Int, Array[Byte]]
      statFields.zipWithIndex.foreach { case (f, k) =>
        nf.write(plain, cursor, f._3 - cursor)
        if (k >= 1 && encCols.contains(k)) {
          realStats(k) =
            java.util.Arrays.copyOfRange(plain, f._4, f._5)
          putUvarint(nf, (7L << 3) | 2)
          putUvarint(nf, 2L) // masked: {numberOfValues: 0}, no bounds
          nf.write(0x08); nf.write(0x00)
        } else nf.write(plain, f._3, f._5 - f._3)
        cursor = f._5
      }
      nf.write(plain, cursor, fEnd - cursor)
      // Encryption message (Footer field 10)
      val encMsg = new java.io.ByteArrayOutputStream()
      locally { // keys[0]
        val k = new java.io.ByteArrayOutputStream()
        putUvarint(k, (1L << 3) | 2)
        val nm = keyName.getBytes(Utf8)
        putUvarint(k, nm.length.toLong); k.write(nm, 0, nm.length)
        putUvarint(k, (2L << 3) | 0); putUvarint(k, 1L) // keyVersion
        putUvarint(k, (3L << 3) | 0); putUvarint(k, 1L) // AES_CTR_128
        putUvarint(encMsg, (1L << 3) | 2)
        putUvarint(encMsg, k.size().toLong)
        k.writeTo(encMsg)
      }
      encCols.toSeq.sorted.foreach { c =>
        val v = new java.io.ByteArrayOutputStream()
        putUvarint(v, (1L << 3) | 0); putUvarint(v, c.toLong) // root
        putUvarint(v, (2L << 3) | 0); putUvarint(v, 0L) // key index
        val wk = wrapKey(master, localKeys(c), deterministic,
          keyName, c)
        putUvarint(v, (3L << 3) | 2)
        putUvarint(v, wk.length.toLong); v.write(wk, 0, wk.length)
        // fileStatistics: FileStatistics{ statistics[0] = real leaf
        // stats }, CTR-encrypted at stripe = one past the last
        val fsPlain = new java.io.ByteArrayOutputStream()
        putUvarint(fsPlain, (1L << 3) | 2)
        putUvarint(fsPlain, realStats(c).length.toLong)
        fsPlain.write(realStats(c), 0, realStats(c).length)
        val fsBytes = fsPlain.toByteArray
        val fsEnc = ctr(localKeys(c), iv(c, 0, nStripes + 1),
          fsBytes, 0, fsBytes.length)
        putUvarint(v, (5L << 3) | 2)
        putUvarint(v, fsEnc.length.toLong); v.write(fsEnc, 0, fsEnc.length)
        // per-stripe real statistics (field 6, one per stripe in
        // stripe order), each encrypted at stripe offset nStripes+2+si
        realStripe(c).zipWithIndex.foreach { case (sb, si) =>
          val se = ctr(localKeys(c), iv(c, 0, nStripes + 2 + si),
            sb, 0, sb.length)
          putUvarint(v, (6L << 3) | 2)
          putUvarint(v, se.length.toLong); v.write(se, 0, se.length)
        }
        putUvarint(encMsg, (2L << 3) | 2)
        putUvarint(encMsg, v.size().toLong)
        v.writeTo(encMsg)
      }
      putUvarint(nf, (10L << 3) | 2)
      putUvarint(nf, encMsg.size().toLong)
      encMsg.writeTo(nf)
      val newFooter = nf.toByteArray
      val newPs = patchPs(plain, fEnd, plain.length - 1,
        newFooter.length.toLong, newMeta.length.toLong)
      if (newPs.length > 255) return None
      val res = new java.io.ByteArrayOutputStream()
      res.write(out, 0, mStart)
      res.write(newMeta, 0, newMeta.length)
      res.write(newFooter, 0, newFooter.length)
      res.write(newPs, 0, newPs.length)
      res.write(newPs.length)
      Some(res.toByteArray)
    } catch {
      case _: Damage => None
      case _: java.security.GeneralSecurityException => None
    }

  // ---- decrypt ----------------------------------------------------------------

  /** Parsed encryption metadata of one variant. */
  final case class Variant(root: Int, keyIndex: Int,
                           encryptedKey: Array[Byte],
                           fileStatsEnc: Array[Byte],
                           stripeStatsEnc: Seq[Array[Byte]])

  /** (key names, variants) from the footer's encryption message —
    * readable WITHOUT any key (that is the point: key discovery).
    */
  def encryptionInfo(enc: Array[Byte])
      : Option[(Seq[String], Seq[Variant])] =
    try {
      val (_, fStart, fEnd) = locate(enc)
      val foot = fields(enc, fStart, fEnd)
      val e = foot.find(_._1 == 10).getOrElse(return None)
      val efs = fields(enc, e._4, e._5)
      val names = efs.filter(_._1 == 1).map { kf =>
        fields(enc, kf._4, kf._5).find(_._1 == 1).map(nf =>
          new String(enc, nf._4, nf._5 - nf._4, Utf8))
          .getOrElse(damage())
      }
      val variants = efs.filter(_._1 == 2).map { vf =>
        val vfs = fields(enc, vf._4, vf._5)
        def u(fn: Int): Int = vfs.find(_._1 == fn).map(f =>
          varintAt(enc, f).toInt).getOrElse(damage())
        def bts(fn: Int): Array[Byte] = vfs.find(_._1 == fn).map(f =>
          java.util.Arrays.copyOfRange(enc, f._4, f._5))
          .getOrElse(damage())
        Variant(u(1), u(2), bts(3), bts(5),
          vfs.filter(_._1 == 6).map(f =>
            java.util.Arrays.copyOfRange(enc, f._4, f._5)))
      }
      if (names.isEmpty || variants.isEmpty) None
      else Some((names, variants))
    } catch { case _: Damage => None }

  /** MASTER-KEY ROTATION (q389) — the only rotation a 100 TB lake
    * can afford: the per-variant LOCAL keys never change (stream
    * bytes and encrypted statistics stay byte-identical), only their
    * 32-byte WRAPPED forms are re-encrypted under the new master and
    * spliced IN PLACE (same length, so every offset in the file is
    * untouched). The old master is verified first by unwrapping each
    * local key and passing the statistics key-check — a wrong old
    * master fails CLOSED, never emits a half-rotated file. After
    * rotation the old master no longer decrypts; the new one yields
    * the exact original plaintext.
    */
  def rotateMaster(enc: Array[Byte], oldMaster: Array[Byte],
                   newMaster: Array[Byte],
                   deterministic: Boolean = false)
      : Option[Array[Byte]] =
    try {
      val tail = Orc.parseTail(enc).getOrElse(return None)
      val (_, fStart, fEnd) = locate(enc)
      val foot = fields(enc, fStart, fEnd)
      val e = foot.find(_._1 == 10).getOrElse(return None)
      val efs = fields(enc, e._4, e._5)
      val nStripes = tail.stripes.length
      val out = java.util.Arrays.copyOf(enc, enc.length)
      val variants = efs.filter(_._1 == 2)
      if (variants.isEmpty) return None
      variants.foreach { vf =>
        val vfs = fields(enc, vf._4, vf._5)
        val root = vfs.find(_._1 == 1).map(f =>
          varintAt(enc, f).toInt).getOrElse(damage())
        val keyField = vfs.find(_._1 == 3).getOrElse(damage())
        if (keyField._5 - keyField._4 != 32) damage()
        val wrapped =
          java.util.Arrays.copyOfRange(enc, keyField._4, keyField._5)
        val local = unwrapKey(oldMaster, wrapped)
        // key check: the local key must decrypt the variant's
        // statistics to a well-formed message (wrong old master
        // fails here, CLOSED)
        val fsField = vfs.find(_._1 == 5).getOrElse(damage())
        val fsPlain = ctr(local, iv(root, 0, nStripes + 1), enc,
          fsField._4, fsField._5 - fsField._4)
        val fs = fields(fsPlain, 0, fsPlain.length)
        if (fs.length != 1 || fs.head._1 != 1 ||
          fs.head._5 != fsPlain.length) damage()
        val rewrapped = wrapKey(newMaster, local, deterministic,
          s"rot:$root", root)
        if (rewrapped.length != 32) damage()
        System.arraycopy(rewrapped, 0, out, keyField._4, 32)
      }
      Some(out)
    } catch {
      case _: Damage => None
      case _: java.security.GeneralSecurityException => None
    }

  /** Decrypt back to the EXACT plaintext file: unwrap each variant's
    * local key, decrypt its streams in place, recover the real
    * statistics from the encrypted fileStatistics (whose successful
    * protobuf parse is the key check — a wrong master key fails
    * CLOSED here), splice them over the masked ones, and drop the
    * encryption message. decrypt(encrypt(f)) == f byte-for-byte.
    */
  def decryptFile(enc: Array[Byte],
                  master: Array[Byte]): Option[Array[Byte]] =
    try {
      val tail = Orc.parseTail(enc).getOrElse(return None)
      if (tail.compression != 0) return None
      val (mStart, fStart, fEnd) = locate(enc)
      val foot = fields(enc, fStart, fEnd)
      val (_, variants) = encryptionInfo(enc).getOrElse(return None)
      val byRoot = variants.map(v => v.root -> v).toMap
      if (byRoot.size != variants.length) return None
      val nStripes = tail.stripes.length
      val keys = variants.map(v =>
        v.root -> unwrapKey(master, v.encryptedKey)).toMap
      // key check + real stats: fileStatistics must decrypt to a
      // well-formed FileStatistics{1: stats} consuming every byte
      val realStats = variants.map { v =>
        val plain = ctr(keys(v.root), iv(v.root, 0, nStripes + 1),
          v.fileStatsEnc, 0, v.fileStatsEnc.length)
        val fs = fields(plain, 0, plain.length)
        if (fs.length != 1 || fs.head._1 != 1 || fs.head._2 != 2 ||
          fs.head._5 != plain.length) damage()
        // the payload must itself walk as a protobuf message
        fields(plain, fs.head._4, fs.head._5)
        v.root -> java.util.Arrays.copyOfRange(plain, fs.head._4,
          fs.head._5)
      }.toMap
      // per-stripe real stats (variant field 6, stripe order)
      val realStripe = variants.map { v =>
        if (v.stripeStatsEnc.nonEmpty &&
          v.stripeStatsEnc.length != nStripes) damage()
        v.root -> v.stripeStatsEnc.zipWithIndex.map { case (sb, si) =>
          ctr(keys(v.root), iv(v.root, 0, nStripes + 2 + si), sb, 0,
            sb.length)
        }
      }.toMap
      val out = java.util.Arrays.copyOf(enc, enc.length)
      tail.stripes.zipWithIndex.foreach { case (s, si) =>
        val sf = Orc.parseStripeFooter(enc, tail, s).getOrElse(damage())
        var pos = s.offset
        sf.streams.foreach { st =>
          if (pos + st.length > enc.length) damage()
          keys.get(st.column).foreach { k =>
            val dec = ctr(k, iv(st.column, st.kind, si + 1), enc,
              pos.toInt, st.length.toInt)
            System.arraycopy(dec, 0, out, pos.toInt, dec.length)
          }
          pos += st.length
        }
      }
      // rebuild the metadata section: per-stripe stats back
      val nm0 = new java.io.ByteArrayOutputStream()
      if (mStart < fStart) {
        val metaF = fields(enc, mStart, fStart)
        var cur = mStart
        var si = 0
        metaF.foreach { sm =>
          nm0.write(enc, cur, sm._3 - cur)
          if (sm._1 == 1 && sm._2 == 2) {
            val inner = fields(enc, sm._4, sm._5)
            val body = new java.io.ByteArrayOutputStream()
            var c2 = sm._4
            var k = 0
            inner.foreach { cf =>
              body.write(enc, c2, cf._3 - c2)
              if (cf._1 == 1 && k >= 1 && byRoot.contains(k)) {
                if (cf._5 - cf._4 != 2 || enc(cf._4) != 0x08 ||
                  enc(cf._4 + 1) != 0x00) damage() // must be masked
                val real = realStripe(k).lift(si).getOrElse(damage())
                putUvarint(body, (1L << 3) | 2)
                putUvarint(body, real.length.toLong)
                body.write(real, 0, real.length)
              } else body.write(enc, cf._3, cf._5 - cf._3)
              if (cf._1 == 1) k += 1
              c2 = cf._5
            }
            body.write(enc, c2, sm._5 - c2)
            putUvarint(nm0, (1L << 3) | 2)
            putUvarint(nm0, body.size().toLong)
            body.writeTo(nm0)
            si += 1
          } else nm0.write(enc, sm._3, sm._5 - sm._3)
          cur = sm._5
        }
        nm0.write(enc, cur, fStart - cur)
      }
      val newMeta = nm0.toByteArray
      // rebuild the footer: real stats back, encryption dropped
      val statFields = foot.filter(_._1 == 7)
      if (statFields.length != tail.typeKinds.length) return None
      val nf = new java.io.ByteArrayOutputStream()
      var cursor = fStart
      foot.foreach { f =>
        nf.write(enc, cursor, f._3 - cursor)
        f._1 match {
          case 10 => () // drop
          case 7 =>
            val k = statFields.indexOf(f)
            if (k >= 1 && byRoot.contains(k)) {
              if (f._5 - f._4 != 2 || enc(f._4) != 0x08 ||
                enc(f._4 + 1) != 0x00) damage() // must be masked
              val real = realStats(k)
              putUvarint(nf, (7L << 3) | 2)
              putUvarint(nf, real.length.toLong)
              nf.write(real, 0, real.length)
            } else nf.write(enc, f._3, f._5 - f._3)
          case _ => nf.write(enc, f._3, f._5 - f._3)
        }
        cursor = f._5
      }
      nf.write(enc, cursor, fEnd - cursor)
      val newFooter = nf.toByteArray
      val newPs = patchPs(enc, fEnd, enc.length - 1,
        newFooter.length.toLong, newMeta.length.toLong)
      val res = new java.io.ByteArrayOutputStream()
      res.write(out, 0, mStart)
      res.write(newMeta, 0, newMeta.length)
      res.write(newFooter, 0, newFooter.length)
      res.write(newPs, 0, newPs.length)
      res.write(newPs.length)
      Some(res.toByteArray)
    } catch {
      case _: Damage => None
      case _: java.security.GeneralSecurityException => None
    }
}
