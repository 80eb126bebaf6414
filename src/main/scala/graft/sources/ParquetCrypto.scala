package graft.sources

/** Parquet Modular Encryption, AES_GCM_V1 (q353) — both directions,
  * from first principles on the JDK's AES-GCM primitive.
  *
  * Spec source (public): parquet-format Encryption.md + parquet.thrift
  * (FileCryptoMetaData, EncryptionAlgorithm/AesGcmV1,
  * ColumnCryptoMetaData, ColumnChunk.encrypted_column_metadata).
  * Layout written and read here:
  *
  * {{{
  * "PARE"
  *   per chunk, in file order:
  *     [enc module: dictionary page header][enc module: dictionary page]?
  *     ([enc module: data page header][enc module: data page])+
  *   FileCryptoMetaData (plain thrift)
  *   [enc module: FileMetaData]            (the encrypted footer)
  * LE32 combined footer length  "PARE"
  * }}}
  *
  * Each encrypted module is `LE32 length ‖ 12-byte nonce ‖ ciphertext
  * ‖ 16-byte GCM tag`; its AAD is `aad_file_unique ‖ module-type byte
  * ‖ LE16 row-group ordinal ‖ LE16 column ordinal ‖ LE16 page ordinal`
  * (ordinal fields per module type, Encryption.md "AAD suffix") — so a
  * module REPLAYED at another position fails the tag even under the
  * right key. Columns encrypted with their own key carry their
  * ColumnMetaData as a separate encrypted module in the ColumnChunk's
  * `encrypted_column_metadata`, keyed for retrieval by `key_metadata`;
  * the plain `meta_data` is omitted for those chunks, exactly the
  * parquet-mr shape.
  *
  * Totality ([[Parquet]]'s law): ANY malformation — wrong key, flipped
  * ciphertext byte, swapped module, truncated tail — yields None,
  * never a throw and never plaintext garbage.
  *
  * Nonces come from a CSPRNG (SecureRandom) by DEFAULT, as the spec
  * requires. Determinism — SHA-256(key‖aad‖plain) truncated to 12
  * bytes, which makes identical plaintexts under one (key, aad) yield
  * identical ciphertexts — is an explicit opt-in
  * ([[encryptFileDeterministic]] / `deterministic = true`) reserved
  * for this repo's byte-reproducible md5-pinned fixtures; no caller
  * gets it silently.
  */
object ParquetCrypto {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  // the deep walks below exit early through [[Bytes.Damage]]; it never
  // escapes this object
  import Bytes.{Damage, damage}

  // module types (Encryption.md "AAD suffix" ordering)
  val ModFooter = 0; val ModColumnMeta = 1; val ModDataPage = 2
  val ModDictPage = 3; val ModDataPageHeader = 4
  val ModDictPageHeader = 5

  /** AAD for one module: file AAD (we write no aad_prefix, so it is
    * aad_file_unique alone) ‖ type byte ‖ LE16 ordinals as the module
    * type requires (rg+col for column modules, +page for data pages).
    */
  def moduleAad(fileAad: Array[Byte], modType: Int, rg: Int = -1,
                col: Int = -1, page: Int = -1): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(fileAad, 0, fileAad.length)
    b.write(modType)
    if (rg >= 0) { Bytes.putLe16(b, rg); Bytes.putLe16(b, col) }
    if (page >= 0) Bytes.putLe16(b, page)
    b.toByteArray
  }

  private val rng = new java.security.SecureRandom()

  /** 12-byte module nonce: CSPRNG unless determinism was explicitly
    * requested (fixture discipline — see the object doc).
    */
  private def nonceFor(deterministic: Boolean, key: Array[Byte],
                       aad: Array[Byte],
                       plain: Array[Byte]): Array[Byte] =
    if (deterministic) {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(key); md.update(aad); md.update(plain)
      java.util.Arrays.copyOf(md.digest(), 12)
    } else {
      val n = new Array[Byte](12)
      rng.nextBytes(n)
      n
    }

  /** Encrypt one module: LE32 length ‖ nonce(12) ‖ ciphertext ‖
    * tag(16). Random nonce by default; deterministic only on opt-in.
    */
  def encryptModule(key: Array[Byte], aad: Array[Byte],
                    plain: Array[Byte],
                    deterministic: Boolean = false): Array[Byte] = {
    val nonce = nonceFor(deterministic, key, aad, plain)
    val c = javax.crypto.Cipher.getInstance("AES/GCM/NoPadding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.GCMParameterSpec(128, nonce))
    c.updateAAD(aad)
    val ct = c.doFinal(plain)
    val n = 12 + ct.length
    val out = new Array[Byte](4 + n)
    out(0) = (n & 0xff).toByte
    out(1) = ((n >> 8) & 0xff).toByte
    out(2) = ((n >> 16) & 0xff).toByte
    out(3) = ((n >> 24) & 0xff).toByte
    System.arraycopy(nonce, 0, out, 4, 12)
    System.arraycopy(ct, 0, out, 16, ct.length)
    out
  }

  /** Decrypt the module at `off`: Some((plaintext, end offset)); any
    * failure — framing, bounds, GCM tag — is None (fail CLOSED).
    */
  def decryptModule(key: Array[Byte], aad: Array[Byte], b: Array[Byte],
                    off: Int): Option[(Array[Byte], Int)] =
    try {
      if (off < 0 || off + 4 > b.length) return None
      val n = Bytes.le32(b, off)
      if (n < 12 + 16 || off + 4 + n > b.length) return None
      val nonce = java.util.Arrays.copyOfRange(b, off + 4, off + 16)
      val c = javax.crypto.Cipher.getInstance("AES/GCM/NoPadding")
      c.init(javax.crypto.Cipher.DECRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.GCMParameterSpec(128, nonce))
      c.updateAAD(aad)
      Some((c.doFinal(b, off + 16, n - 12), off + 4 + n))
    } catch {
      case _: java.security.GeneralSecurityException => None
      case _: IllegalArgumentException => None
    }

  /** AES-CTR module (AES_GCM_CTR_V1 page bodies): LE32 length ‖
    * 12-byte nonce ‖ ciphertext — NO tag, NO AAD (the mode trades
    * page integrity for throughput; headers and footer stay GCM).
    * IV = nonce ‖ big-endian counter starting at 1.
    */
  def encryptModuleCtr(key: Array[Byte], plain: Array[Byte],
                       deterministic: Boolean = false): Array[Byte] = {
    val nonce =
      nonceFor(deterministic, key, "ctr".getBytes(Utf8), plain)
    val iv = java.util.Arrays.copyOf(nonce, 16)
    iv(15) = 1
    val c = javax.crypto.Cipher.getInstance("AES/CTR/NoPadding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    val ct = c.doFinal(plain)
    val n = 12 + ct.length
    val out = new Array[Byte](4 + n)
    out(0) = (n & 0xff).toByte
    out(1) = ((n >> 8) & 0xff).toByte
    out(2) = ((n >> 16) & 0xff).toByte
    out(3) = ((n >> 24) & 0xff).toByte
    System.arraycopy(nonce, 0, out, 4, 12)
    System.arraycopy(ct, 0, out, 16, ct.length)
    out
  }

  /** Decrypt a CTR module at `off`. Framing failures are None; a
    * flipped ciphertext byte is NOT detectable here — that asymmetry
    * vs GCM is q359's contrast law.
    */
  def decryptModuleCtr(key: Array[Byte], b: Array[Byte], off: Int)
      : Option[(Array[Byte], Int)] =
    try {
      if (off < 0 || off + 4 > b.length) return None
      val n = Bytes.le32(b, off)
      if (n < 12 || off + 4 + n > b.length) return None
      val iv = new Array[Byte](16)
      System.arraycopy(b, off + 4, iv, 0, 12)
      iv(15) = 1
      val c = javax.crypto.Cipher.getInstance("AES/CTR/NoPadding")
      c.init(javax.crypto.Cipher.DECRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv))
      Some((c.doFinal(b, off + 16, n - 12), off + 4 + n))
    } catch {
      case _: java.security.GeneralSecurityException => None
      case _: IllegalArgumentException => None
    }

  // ---- FileCryptoMetaData (plain thrift at the file tail) -----------------

  /** FileCryptoMetaData: encryption_algorithm = AES_GCM_V1 with
    * aad_file_unique; key_metadata names the footer key for
    * retriever-style lookup.
    */
  def fileCryptoMetaData(aadFileUnique: Array[Byte],
                         keyMetadata: Array[Byte],
                         ctr: Boolean = false): Array[Byte] = {
    val t = new ParquetWrite.TCW
    t.structField(1) // encryption_algorithm (union)
    t.structField(if (ctr) 2 else 1) // AES_GCM_V1 / AES_GCM_CTR_V1
    t.bytesField(2, aadFileUnique) // aad_file_unique
    t.end()
    t.end()
    if (keyMetadata != null) t.bytesField(2, keyMetadata)
    t.out.write(0) // stop byte of the top-level struct
    t.out.toByteArray
  }

  /** Parse FileCryptoMetaData at [off, end): (aad_file_unique,
    * key_metadata or null, position after the struct). None unless
    * the algorithm is AES_GCM_V1.
    */
  def parseFileCryptoMetaData(b: Array[Byte], off: Int, end: Int)
      : Option[(Array[Byte], Array[Byte], Int, Boolean)] =
    Bytes.total {
      val tc = new Bytes.Reader(b, off, end)
      var aadUnique: Array[Byte] = null
      var keyMeta: Array[Byte] = null
      var gcmV1 = false
      var ctr = false
      def bin(tpe: Int, cap: Int): Array[Byte] = {
        if (tpe != 8) damage()
        val n = tc.uvarint()
        if (n > cap) damage()
        tc.bytes(n.toInt)
      }
      Parquet.struct(tc, 0) { (id, tpe) =>
        id match {
          case 1 =>
            if (tpe != 12) damage()
            Parquet.struct(tc, 1) { (uid, utpe) =>
              uid match {
                case 1 =>
                  if (utpe != 12) damage()
                  gcmV1 = true
                  Parquet.struct(tc, 2) { (aid, atpe) =>
                    aid match {
                      case 2 =>
                        aadUnique = bin(atpe, 1 << 16); true
                      case _ => false
                    }
                  }
                  true
                case 2 =>
                  if (utpe != 12) damage()
                  gcmV1 = true; ctr = true
                  Parquet.struct(tc, 2) { (aid, atpe) =>
                    aid match {
                      case 2 =>
                        aadUnique = bin(atpe, 1 << 16); true
                      case _ => false
                    }
                  }
                  true
                case _ => false
              }
            }
            true
          case 2 => keyMeta = bin(tpe, 1 << 16); true
          case _ => false
        }
      }
      if (!gcmV1 || aadUnique == null) damage()
      (aadUnique, keyMeta, tc.pos, ctr)
    }

  // ---- FileMetaData / ColumnMetaData serialization -------------------------

  /** One chunk's footer decoration: plain meta (offsets into the file
    * being written), plus — for column-key chunks — the encrypted
    * ColumnMetaData module and the key_metadata label.
    */
  final case class ChunkEnc(meta: Parquet.ColMeta,
                            encMeta: Array[Byte] = null,
                            colKeyMeta: Array[Byte] = null,
                            footerKeyEncrypted: Boolean = false)

  private def colMetaFields(f: ParquetWrite.TCW,
                            m: Parquet.ColMeta): Unit = {
    f.i32(1, m.physType.toLong)
    f.list(2, m.encodings.length, 5)
    m.encodings.foreach(e => f.elemI32(e.toLong))
    val parts = m.path.split("\\.").toSeq
    f.list(3, parts.length, 8)
    parts.foreach(f.elemStr)
    f.i32(4, m.codec.toLong)
    f.i64(5, m.numValues)
    f.i64(6, m.totalUncompressed)
    f.i64(7, m.totalCompressed)
    f.i64(9, m.dataPageOffset)
    if (m.dictPageOffset >= 0) f.i64(11, m.dictPageOffset)
    // Statistics (field 12) — byte-mirroring writeFile's emitter, so
    // encrypted files keep min/max pruning (inside the encrypted
    // footer / encrypted column metadata, where the spec puts it)
    if (m.nullCount >= 0 || m.minValue != null || m.maxValue != null) {
      f.structField(12)
      if (m.nullCount >= 0) f.i64(3, m.nullCount)
      if (m.maxValue != null) f.bytesField(5, m.maxValue)
      if (m.minValue != null) f.bytesField(6, m.minValue)
      f.end()
    }
  }

  /** Serialize ONE standalone ColumnMetaData (the plaintext of an
    * encrypted_column_metadata module).
    */
  def serializeColumnMeta(m: Parquet.ColMeta): Array[Byte] = {
    val t = new ParquetWrite.TCW
    colMetaFields(t, m)
    t.out.write(0)
    t.out.toByteArray
  }

  /** Serialize FileMetaData from parsed meta + per-chunk decoration,
    * byte-mirroring [[ParquetWrite.writeFile]]'s footer emitter (same
    * fields, same order) — so decrypt(encrypt(f)) == f for files the
    * encrypted path accepts (no stats / bloom / page index).
    */
  def serializeFooter(fm: Parquet.FileMeta,
                      rgs: Seq[Seq[ChunkEnc]]): Array[Byte] = {
    val f = new ParquetWrite.TCW
    f.i32(1, fm.version.toLong)
    f.list(2, fm.schema.length, 12)
    fm.schema.foreach { e =>
      f.elemStruct()
      if (e.physType >= 0) f.i32(1, e.physType.toLong)
      if (e.physType == Parquet.PhysFixed && e.typeLength > 0)
        f.i32(2, e.typeLength.toLong)
      if (e.repetition >= 0) f.i32(3, e.repetition.toLong)
      f.str(4, e.name)
      if (e.numChildren > 0) f.i32(5, e.numChildren.toLong)
      if (e.convertedType >= 0) f.i32(6, e.convertedType.toLong)
      f.end()
    }
    f.i64(3, fm.numRows)
    f.list(4, rgs.length, 12)
    rgs.zip(fm.rowGroups).foreach { case (cols, rg0) =>
      f.elemStruct()
      f.list(1, cols.length, 12)
      cols.foreach { ch =>
        val m = ch.meta
        f.elemStruct() // ColumnChunk
        f.i64(2, if (m.dictPageOffset >= 0) m.dictPageOffset
               else m.dataPageOffset)
        if (ch.encMeta == null) {
          f.structField(3)
          colMetaFields(f, m)
          f.end()
          if (ch.footerKeyEncrypted) {
            // ENCRYPTION_WITH_FOOTER_KEY — without this marker a
            // parquet-mr reader treats the chunk as PLAINTEXT and
            // walks straight into the encrypted modules
            f.structField(8)
            f.structField(1)
            f.end()
            f.end()
          }
        } else {
          f.structField(8) // ColumnCryptoMetaData union
          f.structField(2) // ENCRYPTION_WITH_COLUMN_KEY
          val parts = m.path.split("\\.").toSeq
          f.list(1, parts.length, 8)
          parts.foreach(f.elemStr)
          if (ch.colKeyMeta != null) f.bytesField(2, ch.colKeyMeta)
          f.end()
          f.end()
          f.bytesField(9, ch.encMeta)
        }
        f.end() // ColumnChunk
      }
      f.i64(2, cols.map(_.meta.totalCompressed).sum)
      f.i64(3, rg0.numRows)
      f.end()
    }
    if (fm.createdBy.nonEmpty) f.str(6, fm.createdBy)
    f.out.write(0)
    f.out.toByteArray
  }

  /** Parse a standalone FileMetaData byte blob by wrapping it in the
    * PAR1 trailer framing [[Parquet.parseFooter]] expects.
    */
  def parseFooterBytes(fb: Array[Byte]): Option[Parquet.FileMeta] = {
    val n = fb.length
    val w = new Array[Byte](n + 12)
    w(0) = 'P'; w(1) = 'A'; w(2) = 'R'; w(3) = '1'
    System.arraycopy(fb, 0, w, 4, n)
    w(n + 4) = (n & 0xff).toByte
    w(n + 5) = ((n >> 8) & 0xff).toByte
    w(n + 6) = ((n >> 16) & 0xff).toByte
    w(n + 7) = ((n >> 24) & 0xff).toByte
    w(n + 8) = 'P'; w(n + 9) = 'A'; w(n + 10) = 'R'; w(n + 11) = '1'
    Parquet.parseFooter(w)
  }

  /** Re-encode the `compressed_page_size` (i32 field 3) of a page
    * header: in encrypted files it must cover the WHOLE encrypted
    * page module (plain size + 4-byte length + 12-byte nonce +
    * 16-byte tag — Encryption.md), so a reader can frame the next
    * module; decrypt patches the true size back. Splices only the
    * one varint — every other header byte is preserved.
    */
  private def patchCompField(header: Array[Byte],
                             newComp: Long): Option[Array[Byte]] =
    Bytes.total {
      val tc = new Bytes.Reader(header, 0, header.length)
      var lastId = 0
      var res: Array[Byte] = null
      while (res == null) {
        val h = tc.u8()
        if (h == 0) damage() // stop byte before field 3
        val tpe = h & 0x0f
        val delta = (h >> 4) & 0x0f
        val id = if (delta == 0) tc.zigzag().toInt else lastId + delta
        lastId = id
        if (id == 3) {
          if (tpe != 5) damage()
          val start = tc.pos
          tc.zigzag()
          val end = tc.pos
          val out = new java.io.ByteArrayOutputStream()
          out.write(header, 0, start)
          Bytes.putZigzag(out, newComp)
          out.write(header, end, header.length - end)
          res = out.toByteArray
        } else {
          // only the i32 type/uncompressed fields precede field 3
          if (tpe != 5) damage()
          tc.zigzag()
        }
      }
      res
    }

  /** GCM module byte overhead over its plaintext: LE32 length +
    * 12-byte nonce + 16-byte tag.
    */
  val ModuleOverhead: Int = 32

  /** CTR module overhead: LE32 length + 12-byte nonce (no tag). */
  val CtrModuleOverhead: Int = 16

  // ---- encrypt -------------------------------------------------------------

  /** Keys for one file: the footer key (also encrypts every column
    * without its own entry) plus per-column-path keys. key_metadata
    * labels are `k:footer` / `k:<path>` — the retrieval handle the
    * reader's key map is indexed by.
    */
  final case class Keys(footer: Array[Byte],
                        columns: Map[String, Array[Byte]] = Map.empty)

  final case class Module(modType: Int, rg: Int, col: Int, page: Int,
                          off: Int, len: Int)
  final case class Encrypted(bytes: Array[Byte], modules: Seq[Module])

  /** Encrypt a plaintext parquet file (the [[ParquetWrite.writeFile]]
    * minimal layout: v1/v2 pages, optional dict page per chunk, NO
    * stats / bloom / page index) into the encrypted-footer form.
    * Returns the bytes plus a module map (for tamper fixtures). None
    * on any unsupported layout or malformed input.
    */
  def encryptFile(plain: Array[Byte], keys: Keys,
                  aadFileUnique: Array[Byte],
                  ctr: Boolean = false,
                  deterministic: Boolean = false): Option[Encrypted] =
    try encryptFileWalk(plain, keys, aadFileUnique, ctr, deterministic)
    catch { case _: Damage => None }

  /** Explicitly-deterministic variant: nonces derived from
    * (key, aad, plaintext) so the output is byte-reproducible — the
    * md5-pinned fixture discipline. Identical plaintexts under one
    * (key, aad) yield identical ciphertexts; NOT a production
    * security posture.
    */
  def encryptFileDeterministic(plain: Array[Byte], keys: Keys,
                               aadFileUnique: Array[Byte],
                               ctr: Boolean = false)
      : Option[Encrypted] =
    encryptFile(plain, keys, aadFileUnique, ctr, deterministic = true)

  private def encryptFileWalk(plain: Array[Byte], keys: Keys,
                              aadFileUnique: Array[Byte],
                              ctr: Boolean,
                              deterministic: Boolean)
      : Option[Encrypted] = {
    val fmOpt = Parquet.parseFooter(plain)
    if (fmOpt.isEmpty) return None
    val fm = fmOpt.get
    val allCols = fm.rowGroups.flatMap(_.cols)
    // layouts the roundtrip law can't carry are refused, not mangled
    // (page index and blooms are separate file regions that would
    // need their own modules; footer Statistics ride along fine)
    if (allCols.exists(c => c.bloomFilterOffset >= 0 ||
      c.offsetIndexOffset >= 0 || c.columnIndexOffset >= 0))
      return None
    val out = new java.io.ByteArrayOutputStream()
    out.write('P'); out.write('A'); out.write('R'); out.write('E')
    val mods = Seq.newBuilder[Module]
    def emit(modType: Int, rg: Int, col: Int, page: Int,
             key: Array[Byte], plainMod: Array[Byte]): Unit = {
      // AES_GCM_CTR_V1: page BODIES ride CTR (no tag, no AAD);
      // headers, column metadata and the footer stay GCM
      val bodyCtr = ctr &&
        (modType == ModDataPage || modType == ModDictPage)
      val m =
        if (bodyCtr) encryptModuleCtr(key, plainMod, deterministic)
        else encryptModule(key,
          moduleAad(aadFileUnique, modType, rg, col, page), plainMod,
          deterministic)
      mods += Module(modType, rg, col, page, out.size(), m.length)
      out.write(m, 0, m.length)
    }
    val rgsOut = fm.rowGroups.zipWithIndex.map { case (rg, g) =>
      rg.cols.zipWithIndex.map { case (m, c) =>
        val key = keys.columns.getOrElse(m.path, keys.footer)
        val ownKey = keys.columns.contains(m.path)
        val start =
          if (m.dictPageOffset >= 0) m.dictPageOffset
          else m.dataPageOffset
        if (start < 0 || start > Int.MaxValue ||
          start + m.totalCompressed > plain.length) damage()
        var pos = start.toInt
        val chunkEnd = (start + m.totalCompressed).toInt
        var pageOrd = 0
        var newDict = -1L
        var newData = -1L
        val newStart = out.size().toLong
        while (pos < chunkEnd) {
          val phOpt =
            Bytes.total(Parquet.parsePageHeader(plain, pos))
          if (phOpt.isEmpty) damage()
          val ph = phOpt.get
          if (ph.compressed < 0 ||
            ph.headerEnd + ph.compressed > chunkEnd) damage()
          val header0 =
            java.util.Arrays.copyOfRange(plain, pos, ph.headerEnd)
          val body = java.util.Arrays.copyOfRange(plain, ph.headerEnd,
            ph.headerEnd + ph.compressed)
          // compressed_page_size must cover the encrypted module
          val bodyOverhead =
            if (ctr) CtrModuleOverhead else ModuleOverhead
          val header = patchCompField(header0,
            ph.compressed.toLong + bodyOverhead) match {
            case Some(x) => x
            case None => damage()
          }
          if (ph.pageType == 2) { // dictionary page
            // one dict page per chunk, and it must be FIRST — a dict
            // module after a data page is a layout decryptFileWalk
            // (which reads the dict module at the chunk start) could
            // never frame back, so it is refused, not emitted
            if (newDict >= 0 || pageOrd > 0) damage()
            newDict = out.size().toLong
            emit(ModDictPageHeader, g, c, -1, key, header)
            emit(ModDictPage, g, c, -1, key, body)
          } else {
            if (newData < 0) newData = out.size().toLong
            emit(ModDataPageHeader, g, c, pageOrd, key, header)
            emit(ModDataPage, g, c, pageOrd, key, body)
            pageOrd += 1
          }
          pos = ph.headerEnd + ph.compressed
        }
        if (newData < 0) damage()
        val patched = m.copy(dataPageOffset = newData,
          dictPageOffset = newDict,
          totalCompressed = out.size().toLong - newStart)
        if (ownKey) {
          val metaPlain = serializeColumnMeta(patched)
          val encMeta = encryptModule(key,
            moduleAad(aadFileUnique, ModColumnMeta, g, c), metaPlain,
            deterministic)
          ChunkEnc(patched, encMeta, s"k:${m.path}".getBytes(Utf8))
        } else ChunkEnc(patched, footerKeyEncrypted = true)
      }
    }
    val footerPlain = serializeFooter(fm, rgsOut)
    val cryptoMd =
      fileCryptoMetaData(aadFileUnique, "k:footer".getBytes(Utf8),
        ctr)
    val tailStart = out.size()
    out.write(cryptoMd, 0, cryptoMd.length)
    val encFooter = encryptModule(keys.footer,
      moduleAad(aadFileUnique, ModFooter), footerPlain, deterministic)
    mods += Module(ModFooter, -1, -1, -1,
      tailStart + cryptoMd.length, encFooter.length)
    out.write(encFooter, 0, encFooter.length)
    val combined = out.size() - tailStart
    Bytes.putLe32(out, combined)
    out.write('P'); out.write('A'); out.write('R'); out.write('E')
    Some(Encrypted(out.toByteArray, mods.result()))
  }

  // ---- decrypt -------------------------------------------------------------

  /** Decrypt an encrypted-footer file back to a PLAIN parquet file —
    * for [[ParquetWrite.writeFile]]-shaped inputs the exact original
    * bytes (ParquetCryptoSpec pins the identity). `columnKeys` is the
    * retriever: key_metadata label (UTF-8) -> key; the footer key
    * decrypts everything without an own-key entry. None on ANY
    * malformation: wrong key, flipped byte, swapped/replayed module,
    * missing key for a column-key chunk, truncated tail.
    */
  def decryptFile(enc: Array[Byte], footerKey: Array[Byte],
                  columnKeys: Map[String, Array[Byte]] = Map.empty)
      : Option[Array[Byte]] =
    try decryptFileWalk(enc, footerKey, columnKeys)
    catch { case _: Damage => None }

  private def decryptFileWalk(enc: Array[Byte],
                              footerKey: Array[Byte],
                              columnKeys: Map[String, Array[Byte]])
      : Option[Array[Byte]] = {
    val n = enc.length
    if (n < 12) return None
    def magicAt(i: Int) = enc(i) == 'P' && enc(i + 1) == 'A' &&
      enc(i + 2) == 'R' && enc(i + 3) == 'E'
    if (!magicAt(0) || !magicAt(n - 4)) return None
    val fl = Bytes.le32(enc, n - 8)
    if (fl <= 0 || fl > n - 12) return None
    val tailStart = n - 8 - fl
    val cm = parseFileCryptoMetaData(enc, tailStart, n - 8)
    if (cm.isEmpty) return None
    val (aadUnique, _, cryptoEnd, ctr) = cm.get
    val fp = decryptModule(footerKey,
      moduleAad(aadUnique, ModFooter), enc, cryptoEnd)
    if (fp.isEmpty) return None
    val (footerPlain, fEnd) = fp.get
    if (fEnd != n - 8) return None
    val fmOpt = parseFooterBytes(footerPlain)
    if (fmOpt.isEmpty) return None
    val fm = fmOpt.get
    val out = new java.io.ByteArrayOutputStream()
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    val rgsOut = fm.rowGroups.zipWithIndex.map { case (rg, g) =>
      rg.cols.zipWithIndex.map { case (m0, c) =>
        val key =
          if (m0.encryptedMeta == null) footerKey
          else {
            if (m0.columnKeyMeta == null) damage()
            columnKeys.get(new String(m0.columnKeyMeta, Utf8)) match {
              case Some(k) => k
              case None => damage()
            }
          }
        val m =
          if (m0.encryptedMeta == null) m0
          else {
            val dm = decryptModule(key,
              moduleAad(aadUnique, ModColumnMeta, g, c),
              m0.encryptedMeta, 0)
            dm match {
              case Some((plainMeta, end))
                if end == m0.encryptedMeta.length =>
                Parquet.parseColumnMetaBytes(plainMeta) match {
                  case Some(pm) => pm
                  case None => damage()
                }
              case _ => damage()
            }
          }
        val start =
          if (m.dictPageOffset >= 0) m.dictPageOffset
          else m.dataPageOffset
        if (start < 0 || start > Int.MaxValue ||
          start + m.totalCompressed > n) damage()
        var pos = start.toInt
        val chunkEnd = (start + m.totalCompressed).toInt
        var pageOrd = 0
        var first = true
        var newDict = -1L
        var newData = -1L
        val newStart = out.size().toLong
        while (pos < chunkEnd) {
          val isDict = first && m.dictPageOffset >= 0
          first = false
          val hAad =
            if (isDict) moduleAad(aadUnique, ModDictPageHeader, g, c)
            else moduleAad(aadUnique, ModDataPageHeader, g, c, pageOrd)
          val hm = decryptModule(key, hAad, enc, pos)
          if (hm.isEmpty) damage()
          val (header, hEnd) = hm.get
          val phOpt =
            Bytes.total(Parquet.parsePageHeader(header, 0))
          if (phOpt.isEmpty) damage()
          val ph = phOpt.get
          if (ph.headerEnd != header.length) damage()
          // the header must agree with the module type the AAD named
          if (isDict != (ph.pageType == 2)) damage()
          val bm =
            if (ctr) decryptModuleCtr(key, enc, hEnd)
            else decryptModule(key,
              if (isDict) moduleAad(aadUnique, ModDictPage, g, c)
              else moduleAad(aadUnique, ModDataPage, g, c, pageOrd),
              enc, hEnd)
          if (bm.isEmpty) damage()
          val (body, bEnd) = bm.get
          // header declared the MODULE size, plaintext + overhead
          val bodyOverhead =
            if (ctr) CtrModuleOverhead else ModuleOverhead
          if (body.length + bodyOverhead != ph.compressed) damage()
          val headerPlain =
            patchCompField(header, body.length.toLong) match {
              case Some(x) => x
              case None => damage()
            }
          if (isDict) newDict = out.size().toLong
          else if (newData < 0) newData = out.size().toLong
          out.write(headerPlain, 0, headerPlain.length)
          out.write(body, 0, body.length)
          if (!isDict) pageOrd += 1
          pos = bEnd
        }
        if (newData < 0) damage()
        ChunkEnc(m.copy(dataPageOffset = newData,
          dictPageOffset = newDict,
          totalCompressed = out.size().toLong - newStart,
          encryptedMeta = null, columnKeyMeta = null))
      }
    }
    val footerOut = serializeFooter(fm, rgsOut)
    out.write(footerOut, 0, footerOut.length)
    val len = footerOut.length
    Bytes.putLe32(out, len)
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    Some(out.toByteArray)
  }
}
