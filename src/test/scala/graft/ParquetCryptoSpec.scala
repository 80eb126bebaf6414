package graft

import graft.sources.{Parquet, ParquetCrypto, ParquetWrite}
import org.apache.spark.graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite

/** Pins parquet modular encryption (q353): AES_GCM_V1 module framing,
  * AAD ordinal discipline, encrypted footer + encrypted column
  * metadata, the decrypt∘encrypt == identity law against the engine's
  * own writer bytes, fail-closed tamper behavior, and a parquet-mr
  * cross-read of the engine's encrypted bytes through the official
  * crypto classes.
  */
class ParquetCryptoSpec extends AnyFunSuite {

  private def key(seed: Int): Array[Byte] =
    Array.tabulate(16)(i => ((seed * 31 + i * 7) & 0xff).toByte)

  private val footerKey = key(1)
  private val valKey = key(2)
  private val aadUnique = Array.tabulate(8)(i => (0x40 + i).toByte)

  /** Three columns, two pages each (pageRows=16 over 32 rows):
    * rec_id REQUIRED INT64 plain, val REQUIRED INT64 plain (own
    * column key), txt OPTIONAL BYTE_ARRAY dictionary.
    */
  private def plainFile(): Array[Byte] = {
    val W = ParquetWrite
    val n = 32
    val ids = Array.tabulate(n)(_.toLong)
    val vals = Array.tabulate(n)(i => (i * 13 + 5).toLong)
    val defs = Array.tabulate(n)(i => if (i % 5 == 0) 0 else 1)
    val txts = (0 until n).filter(_ % 5 != 0)
      .map(i => s"t-${i % 3}".getBytes("UTF-8")).toArray
    W.writeFile(
      Seq(W.Leaf("rec_id", 0, 2), W.Leaf("val", 0, 2),
        W.Leaf("txt", 1, 6, convertedType = 0)),
      Seq(W.LeafData(Array.fill(n)(0), null, longs = ids),
        W.LeafData(Array.fill(n)(0), null, longs = vals),
        W.LeafData(defs, null, bins = txts, dict = true)),
      pageRows = 16)
  }

  private def encrypted(): (Array[Byte], ParquetCrypto.Encrypted) = {
    val plain = plainFile()
    val enc = ParquetCrypto.encryptFile(plain,
      ParquetCrypto.Keys(footerKey, Map("val" -> valKey)), aadUnique)
      .getOrElse(fail("encrypt"))
    (plain, enc)
  }

  test("decrypt(encrypt(file)) is the identity, byte for byte") {
    val (plain, enc) = encrypted()
    assert(!java.util.Arrays.equals(plain, enc.bytes))
    assert(new String(enc.bytes, 0, 4, "ISO-8859-1") == "PARE")
    val back = ParquetCrypto.decryptFile(enc.bytes, footerKey,
      Map("k:val" -> valKey)).getOrElse(fail("decrypt"))
    assert(java.util.Arrays.equals(back, plain))
    // and the decrypted bytes decode through the ordinary reader
    val rs = Parquet.columnLongs(back, "rec_id").getOrElse(fail("rs"))
    val vs = Parquet.columnLongs(back, "val").getOrElse(fail("vs"))
    assert(rs.toSeq == (0L until 32L) &&
      vs.toSeq == (0 until 32).map(i => (i * 13 + 5).toLong))
    // ciphertext leaks neither plaintext page bytes nor the footer
    val needle = "graft parquet writer".getBytes("UTF-8")
    assert(!enc.bytes.sliding(needle.length).exists(
      _.sameElements(needle)))
  }

  test("module map: headers and pages per column, page ordinals, " +
    "column-key chunk carries encrypted column metadata") {
    val (_, enc) = encrypted()
    val C = ParquetCrypto
    def count(t: Int) = enc.modules.count(_.modType == t)
    // 3 chunks × 2 data pages; 1 dict page (txt); 1 footer
    assert(count(C.ModDataPage) == 6 && count(C.ModDataPageHeader) == 6)
    assert(count(C.ModDictPage) == 1 && count(C.ModDictPageHeader) == 1)
    assert(count(C.ModFooter) == 1)
    assert(enc.modules.filter(_.modType == C.ModDataPage)
      .groupBy(_.col).forall(_._2.map(_.page).sorted == Seq(0, 1)))
    // the val chunk (ordinal 1) omits plain meta: the decrypted
    // footer must carry its encrypted_column_metadata instead
    val fp = C.decryptModule(footerKey, C.moduleAad(aadUnique, 0),
      enc.bytes, enc.modules.find(_.modType == C.ModFooter).get.off)
      .getOrElse(fail("footer module"))._1
    val fm = C.parseFooterBytes(fp).getOrElse(fail("footer parse"))
    val cols = fm.rowGroups.head.cols
    assert(cols(0).encryptedMeta == null && cols(0).path == "rec_id")
    assert(cols(1).encryptedMeta != null &&
      new String(cols(1).columnKeyMeta, "UTF-8") == "k:val")
    assert(cols(2).encryptedMeta == null && cols(2).path == "txt")
  }

  test("fail closed: wrong keys, missing column key, any flipped " +
    "module byte, truncation") {
    val (_, enc) = encrypted()
    val colKeys = Map("k:val" -> valKey)
    assert(ParquetCrypto.decryptFile(enc.bytes, key(9), colKeys).isEmpty)
    assert(ParquetCrypto.decryptFile(enc.bytes, footerKey,
      Map("k:val" -> key(9))).isEmpty)
    assert(ParquetCrypto.decryptFile(enc.bytes, footerKey).isEmpty)
    // flip one byte inside EVERY module (nonce, ciphertext, and tag
    // positions): each flip must close the whole read
    enc.modules.foreach { m =>
      Seq(4, m.len / 2, m.len - 1).foreach { d =>
        val t = enc.bytes.clone()
        t(m.off + d) = (t(m.off + d) ^ 0x01).toByte
        assert(ParquetCrypto.decryptFile(t, footerKey, colKeys).isEmpty,
          s"flip in module $m at +$d must fail")
      }
    }
    assert(ParquetCrypto.decryptFile(
      enc.bytes.dropRight(1), footerKey, colKeys).isEmpty)
  }

  test("AAD ordinals: swapping two equal-size data-page modules of " +
    "one chunk fails the tag even under the right key") {
    val (_, enc) = encrypted()
    val pages = enc.modules
      .filter(m => m.modType == ParquetCrypto.ModDataPage && m.col == 0)
      .sortBy(_.page)
    assert(pages.length == 2 && pages(0).len == pages(1).len)
    val t = enc.bytes.clone()
    val a = enc.bytes.slice(pages(0).off, pages(0).off + pages(0).len)
    val b = enc.bytes.slice(pages(1).off, pages(1).off + pages(1).len)
    System.arraycopy(b, 0, t, pages(0).off, b.length)
    System.arraycopy(a, 0, t, pages(1).off, a.length)
    assert(ParquetCrypto.decryptFile(t, footerKey,
      Map("k:val" -> valKey)).isEmpty)
  }

  test("statistics ride inside the encrypted footer: identity " +
    "roundtrip, min/max preserved (pruning without plaintext); page " +
    "index files stay refused") {
    val W = ParquetWrite
    val ids = Array.tabulate(64)(i => (i * 7 % 50).toLong)
    val withStats = W.writeFile(Seq(W.Leaf("rec_id", 0, 2)),
      Seq(W.LeafData(Array.fill(64)(0), null, longs = ids)),
      withStats = true)
    val enc = ParquetCrypto.encryptFile(withStats,
      ParquetCrypto.Keys(footerKey), aadUnique)
      .getOrElse(fail("stats files must encrypt"))
    val back = ParquetCrypto.decryptFile(enc.bytes, footerKey)
      .getOrElse(fail("decrypt"))
    assert(java.util.Arrays.equals(back, withStats))
    val col = Parquet.parseFooter(back).get.rowGroups.head.cols.head
    assert(col.minLong.contains(ids.min) &&
      col.maxLong.contains(ids.max))
    // stats must NOT be readable from the ciphertext
    assert(Parquet.parseFooter(enc.bytes).isEmpty)
    val withIndex = W.writeFile(Seq(W.Leaf("rec_id", 0, 2)),
      Seq(W.LeafData(Array.fill(64)(0), null, longs = ids)),
      withIndex = true)
    assert(ParquetCrypto.encryptFile(withIndex,
      ParquetCrypto.Keys(footerKey), aadUnique).isEmpty)
  }

  test("AES_GCM_CTR_V1: identity roundtrip; the contrast law — a " +
    "flipped GCM header byte fails closed, a flipped CTR page-body " +
    "byte decrypts SILENTLY different (the integrity trade the mode " +
    "makes)") {
    val plain = plainFile()
    val enc = ParquetCrypto.encryptFile(plain,
      ParquetCrypto.Keys(footerKey, Map("val" -> valKey)), aadUnique,
      ctr = true).getOrElse(fail("encrypt"))
    val colKeys = Map("k:val" -> valKey)
    val back = ParquetCrypto.decryptFile(enc.bytes, footerKey,
      colKeys).getOrElse(fail("decrypt"))
    assert(java.util.Arrays.equals(back, plain))
    // CTR bodies are 16 bytes smaller than their GCM twins
    val gcm = ParquetCrypto.encryptFile(plain,
      ParquetCrypto.Keys(footerKey, Map("val" -> valKey)), aadUnique)
      .getOrElse(fail("gcm"))
    assert(enc.bytes.length < gcm.bytes.length)
    // header flip: still GCM -> fails closed
    val hm = enc.modules
      .find(_.modType == ParquetCrypto.ModDataPageHeader).get
    val th = enc.bytes.clone()
    th(hm.off + hm.len / 2) = (th(hm.off + hm.len / 2) ^ 1).toByte
    assert(ParquetCrypto.decryptFile(th, footerKey, colKeys).isEmpty)
    // body flip: CTR has no tag -> decrypts to DIFFERENT bytes
    val bm = enc.modules
      .find(_.modType == ParquetCrypto.ModDataPage).get
    val tb = enc.bytes.clone()
    tb(bm.off + bm.len / 2) = (tb(bm.off + bm.len / 2) ^ 1).toByte
    val corrupted = ParquetCrypto.decryptFile(tb, footerKey, colKeys)
    assert(corrupted.nonEmpty &&
      !java.util.Arrays.equals(corrupted.get, plain))
  }

  test("parquet-mr cross-read, AES_GCM_CTR_V1: the official crypto " +
    "classes decrypt the engine's CTR bytes") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.crypto.{DecryptionKeyRetriever, FileDecryptionProperties}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.ParquetReadOptions
    val enc = ParquetCrypto.encryptFile(plainFile(),
      ParquetCrypto.Keys(footerKey, Map("val" -> valKey)), aadUnique,
      ctr = true).getOrElse(fail("encrypt"))
    val dir = TempDirs.create("pq_ctr")
    val f = dir.resolve("enc.parquet")
    java.nio.file.Files.write(f, enc.bytes)
    val retriever = new DecryptionKeyRetriever {
      override def getKey(km: Array[Byte]): Array[Byte] =
        new String(km, "UTF-8") match {
          case "k:footer" => footerKey
          case "k:val" => valKey
          case other => fail(s"unexpected key metadata: $other")
        }
    }
    val opts = ParquetReadOptions.builder()
      .withDecryption(FileDecryptionProperties.builder()
        .withKeyRetriever(retriever).build()).build()
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(f.toString),
      new org.apache.hadoop.conf.Configuration()), opts)
    try {
      assert(rdr.getRecordCount == 32L)
      val pages = rdr.readNextRowGroup()
      val schema = rdr.getFooter.getFileMetaData.getSchema
      val it = schema.getColumns.iterator()
      var total = 0L
      while (it.hasNext) {
        val pr = pages.getPageReader(it.next())
        pr.readDictionaryPage()
        var p = pr.readPage()
        while (p != null) { total += p.getValueCount; p = pr.readPage() }
      }
      assert(total == 96L) // 3 columns x 32 values
    } finally rdr.close()
  }

  test("parquet-mr cross-read: the official crypto classes decrypt " +
    "the engine's encrypted bytes — footer, both key paths, every " +
    "page") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.crypto.{DecryptionKeyRetriever, FileDecryptionProperties}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.ParquetReadOptions
    val (_, enc) = encrypted()
    val dir = TempDirs.create("pq_crypto")
    val f = dir.resolve("enc.parquet")
    java.nio.file.Files.write(f, enc.bytes)
    val retriever = new DecryptionKeyRetriever {
      override def getKey(keyMetaData: Array[Byte]): Array[Byte] =
        new String(keyMetaData, "UTF-8") match {
          case "k:footer" => footerKey
          case "k:val" => valKey
          case other => fail(s"unexpected key metadata: $other")
        }
    }
    val props = FileDecryptionProperties.builder()
      .withKeyRetriever(retriever).build()
    val opts = ParquetReadOptions.builder()
      .withDecryption(props).build()
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(f.toString),
      new org.apache.hadoop.conf.Configuration()), opts)
    try {
      assert(rdr.getRecordCount == 32L)
      val schema = rdr.getFooter.getFileMetaData.getSchema
      assert(schema.getColumns.size() == 3)
      assert(schema.getColumns.get(1).getPath.toSeq == Seq("val"))
      val pages = rdr.readNextRowGroup()
      assert(pages.getRowCount == 32L)
      // force decryption of every page module through parquet-mr
      val it = schema.getColumns.iterator()
      val perCol = Seq("rec_id", "val", "txt").map { name =>
        val cd = it.next()
        assert(cd.getPath.toSeq == Seq(name))
        val pr = pages.getPageReader(cd)
        if (name == "txt")
          assert(pr.readDictionaryPage().getDictionarySize == 3)
        var vals = 0L
        var p = pr.readPage()
        var nPages = 0
        while (p != null) {
          vals += p.getValueCount; nPages += 1; p = pr.readPage()
        }
        (vals, nPages)
      }
      assert(perCol.forall(_ == ((32L, 2))))
    } finally rdr.close()
  }

  test("nonces: the DEFAULT path draws from a CSPRNG (two encrypts " +
    "of one plaintext differ, both decrypt); determinism is an " +
    "explicit opt-in (encryptFileDeterministic is byte-stable)") {
    val plain = plainFile()
    val keys = ParquetCrypto.Keys(footerKey, Map("val" -> valKey))
    val colKeys = Map("k:val" -> valKey)
    val a = ParquetCrypto.encryptFile(plain, keys, aadUnique)
      .getOrElse(fail("a")).bytes
    val b = ParquetCrypto.encryptFile(plain, keys, aadUnique)
      .getOrElse(fail("b")).bytes
    assert(!java.util.Arrays.equals(a, b),
      "default encryption must NOT be deterministic")
    Seq(a, b).foreach { e =>
      val back = ParquetCrypto.decryptFile(e, footerKey, colKeys)
        .getOrElse(fail("roundtrip"))
      assert(java.util.Arrays.equals(back, plain))
    }
    val d1 = ParquetCrypto.encryptFileDeterministic(plain, keys,
      aadUnique).getOrElse(fail("d1")).bytes
    val d2 = ParquetCrypto.encryptFileDeterministic(plain, keys,
      aadUnique).getOrElse(fail("d2")).bytes
    assert(java.util.Arrays.equals(d1, d2),
      "opt-in deterministic encryption must be byte-stable")
    assert(!java.util.Arrays.equals(d1, a))
  }

  test("unsupported layout fails CLOSED at encrypt time: a (spec-" +
    "invalid) chunk whose dictionary page FOLLOWS a data page is " +
    "refused, never emitted as bytes decryptFile cannot read") {
    val W = ParquetWrite
    val n = 32
    val defs = Array.fill(n)(0)
    val txts = Array.tabulate(n)(i => s"t-${i % 3}".getBytes("UTF-8"))
    val plain = W.writeFile(
      Seq(W.Leaf("txt", 0, 6, convertedType = 0)),
      Seq(W.LeafData(defs, null, bins = txts, dict = true)),
      pageRows = n) // dict page + ONE data page
    val fm = Parquet.parseFooter(plain).getOrElse(fail("footer"))
    val m = fm.rowGroups.head.cols.head
    assert(m.dictPageOffset >= 0 && m.dataPageOffset > m.dictPageOffset)
    val dictOff = m.dictPageOffset.toInt
    val dataOff = m.dataPageOffset.toInt
    val chunkEnd = (m.dictPageOffset + m.totalCompressed).toInt
    val dict = java.util.Arrays.copyOfRange(plain, dictOff, dataOff)
    val data = java.util.Arrays.copyOfRange(plain, dataOff, chunkEnd)
    // rebuild the file with [data][dict], footer declaring NO dict
    // offset — so the page walk starts at the data page and only
    // discovers the dictionary page mid-chunk (self-consistent
    // bytes, spec-invalid order)
    val out = new java.io.ByteArrayOutputStream()
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    out.write(data, 0, data.length)
    out.write(dict, 0, dict.length)
    val patched = m.copy(dataPageOffset = 4L, dictPageOffset = -1L)
    val footer = ParquetCrypto.serializeFooter(fm,
      Seq(Seq(ParquetCrypto.ChunkEnc(patched))))
    out.write(footer, 0, footer.length)
    val fl = footer.length
    out.write(fl & 0xff); out.write((fl >> 8) & 0xff)
    out.write((fl >> 16) & 0xff); out.write((fl >> 24) & 0xff)
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    val swapped = out.toByteArray
    assert(Parquet.parseFooter(swapped).nonEmpty,
      "the swapped file must still parse (it is the ENCRYPTOR's " +
        "job to refuse the layout)")
    assert(ParquetCrypto.encryptFile(swapped,
      ParquetCrypto.Keys(footerKey), aadUnique).isEmpty,
      "dict-after-data layout must be refused at encrypt time")
  }
}
