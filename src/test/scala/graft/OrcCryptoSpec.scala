package graft

import graft.sources.{Orc, OrcCrypto, OrcWrite}
import org.apache.spark.graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite

/** Pins ORC column encryption (q371): decrypt∘encrypt == identity
  * byte-for-byte, unencrypted columns stay readable from the
  * encrypted bytes (own reader AND orc-core), masked statistics
  * expose no bounds (pruning degrades to read-everything, never
  * wrong-skip), the wrong master key fails CLOSED on the statistics
  * key-check, CSPRNG-by-default nonce discipline, and the CTR
  * integrity trade (flipped stream byte decrypts silently
  * different — the q359 contrast, as the ORC spec's CTR mode
  * trades).
  */
class OrcCryptoSpec extends SparkSpec {

  private val master = Array.tabulate(16)(i => (i * 11 + 3).toByte)

  private def plainFile(stride: Int = 128): Array[Byte] = {
    val n = 512
    val W = OrcWrite
    W.writeTable(Seq(
      W.OLongCol("rec_id", (0 until n).map(i => Some(i.toLong))),
      W.OLongCol("salary",
        (0 until n).map(i => Some((i * 131 % 9001).toLong))),
      W.OStringCol("name", (0 until n).map(i => Some(s"emp-$i")))),
      compression = 0, rowIndexStride = stride)
  }

  test("identity: decrypt(encrypt(f)) == f byte-for-byte, with row " +
    "indexes and typed statistics in play; the encrypted file still " +
    "parses and its UNENCRYPTED columns read correctly") {
    val plain = plainFile()
    val enc = OrcCrypto.encryptFile(plain, master, "pii", Set(2, 3),
      deterministic = true).getOrElse(fail("encrypt"))
    assert(!java.util.Arrays.equals(plain, enc))
    val back = OrcCrypto.decryptFile(enc, master)
      .getOrElse(fail("decrypt"))
    assert(java.util.Arrays.equals(back, plain))
    // encrypted file: tail parses, rec_id (unencrypted) reads fine
    val t = Orc.parseTail(enc).getOrElse(fail("enc tail"))
    val ids = Orc.stripeColumnLongs(enc, t, t.stripes.head, 1)
      .getOrElse(fail("unencrypted col"))
    assert(ids.toSeq == (0L until 512L))
    // the ciphertext leaks neither salaries nor names
    val needle = "emp-7".getBytes("UTF-8")
    assert(!enc.sliding(needle.length).exists(_.sameElements(needle)))
    // decrypted bytes decode: salary sum via the own reader
    val tb = Orc.parseTail(back).get
    val sal = Orc.stripeColumnLongs(back, tb, tb.stripes.head, 2).get
    assert(sal.sum == (0 until 512).map(i => (i * 131 % 9001).toLong).sum)
  }

  test("masked statistics: no bounds for encrypted columns in footer " +
    "OR metadata (pruning must degrade to reading, never wrong-" +
    "skip); unencrypted columns keep theirs; decrypt restores all") {
    val plain = plainFile()
    val enc = OrcCrypto.encryptFile(plain, master, "pii", Set(2),
      deterministic = true).getOrElse(fail("encrypt"))
    val tp = Orc.parseTail(plain).get
    val te = Orc.parseTail(enc).get
    // plain file HAS salary bounds; encrypted file must not
    assert(tp.stats(2).intMin.nonEmpty && tp.stats(2).intMax.nonEmpty)
    assert(te.stats(2).intMin.isEmpty && te.stats(2).intMax.isEmpty &&
      te.stats(2).numValues == 0L)
    // unencrypted neighbors keep their statistics
    assert(te.stats(1) == tp.stats(1) && te.stats(3) == tp.stats(3))
    // per-stripe (metadata section) stats masked the same way
    assert(tp.stripeStats.head(2).intMin.nonEmpty)
    assert(te.stripeStats.head(2).intMin.isEmpty)
    assert(te.stripeStats.head(1) == tp.stripeStats.head(1))
    val back = OrcCrypto.decryptFile(enc, master).get
    assert(java.util.Arrays.equals(back, plain))
  }

  test("key discipline: wrong master key fails CLOSED; local keys " +
    "are CSPRNG by default (two encrypts differ, both decrypt); " +
    "determinism is an explicit opt-in; already-encrypted and " +
    "unsupported layouts are refused") {
    val plain = plainFile()
    val enc = OrcCrypto.encryptFile(plain, master, "pii", Set(2),
      deterministic = true).getOrElse(fail("encrypt"))
    assert(OrcCrypto.decryptFile(enc, master.reverse).isEmpty,
      "wrong master key must fail the statistics key-check")
    val a = OrcCrypto.encryptFile(plain, master, "pii", Set(2)).get
    val b = OrcCrypto.encryptFile(plain, master, "pii", Set(2)).get
    assert(!java.util.Arrays.equals(a, b),
      "default local keys must come from a CSPRNG")
    Seq(a, b).foreach { e =>
      assert(java.util.Arrays.equals(
        OrcCrypto.decryptFile(e, master).get, plain))
    }
    val d1 = OrcCrypto.encryptFile(plain, master, "pii", Set(2),
      deterministic = true).get
    val d2 = OrcCrypto.encryptFile(plain, master, "pii", Set(2),
      deterministic = true).get
    assert(java.util.Arrays.equals(d1, d2))
    // double encryption refused; bad column ids refused; compressed
    // layouts refused
    assert(OrcCrypto.encryptFile(enc, master, "k", Set(2)).isEmpty)
    assert(OrcCrypto.encryptFile(plain, master, "k", Set(9)).isEmpty)
    assert(OrcCrypto.encryptFile(plain, master, "k", Set.empty).isEmpty)
    val snappy = OrcWrite.writeLongs(Seq("a", "b"),
      (0L until 64L).map(i => Array(i, i * 3)), compression = 2)
    assert(OrcCrypto.encryptFile(snappy, master, "k", Set(1)).isEmpty)
  }

  test("CTR integrity trade: a flipped encrypted-stream byte " +
    "decrypts SILENTLY different (no tag — the spec's trade); " +
    "key discovery reads names and variants without any key") {
    val plain = plainFile()
    val enc = OrcCrypto.encryptFile(plain, master, "pii", Set(2),
      deterministic = true).get
    val (names, variants) = OrcCrypto.encryptionInfo(enc)
      .getOrElse(fail("info"))
    assert(names == Seq("pii"))
    assert(variants.map(_.root) == Seq(2))
    // flip one byte inside the salary DATA stream region
    val t = Orc.parseTail(enc).get
    val sf = Orc.parseStripeFooter(enc, t, t.stripes.head).get
    var pos = t.stripes.head.offset
    var dataPos = -1L
    sf.streams.foreach { st =>
      if (st.column == 2 && st.kind == 1) dataPos = pos
      pos += st.length
    }
    assert(dataPos > 0)
    val tampered = enc.clone()
    val at = dataPos.toInt + 4
    tampered(at) = (tampered(at) ^ 0x01).toByte
    val back = OrcCrypto.decryptFile(tampered, master)
    assert(back.nonEmpty && !java.util.Arrays.equals(back.get, plain),
      "CTR has no tag: tampering decrypts silently different")
  }

  test("master-key rotation (q389): wrapped keys re-encrypt IN " +
    "PLACE — data region byte-identical, new master decrypts to the " +
    "exact plaintext, old master stops working, wrong old master " +
    "fails closed") {
    val plain = plainFile()
    val newMaster = Array.tabulate(16)(i => (i * 29 + 5).toByte)
    val enc = OrcCrypto.encryptFile(plain, master, "pii", Set(2, 3),
      deterministic = true).getOrElse(fail("encrypt"))
    val rot = OrcCrypto.rotateMaster(enc, master, newMaster,
      deterministic = true).getOrElse(fail("rotate"))
    assert(rot.length == enc.length)
    // ONLY the 2×32 wrapped-key bytes differ
    val diff = rot.indices.count(i => rot(i) != enc(i))
    assert(diff > 0 && diff <= 64,
      s"rotation must touch only the wrapped keys ($diff bytes)")
    assert(java.util.Arrays.equals(
      OrcCrypto.decryptFile(rot, newMaster).get, plain))
    assert(OrcCrypto.decryptFile(rot, master).isEmpty,
      "old master must stop working")
    assert(OrcCrypto.rotateMaster(enc, newMaster, master,
      deterministic = true).isEmpty,
      "wrong OLD master must fail closed before any splice")
    // rotate back: full identity with the deterministic wrap
    val back = OrcCrypto.rotateMaster(rot, newMaster, master,
      deterministic = true).get
    assert(java.util.Arrays.equals(
      OrcCrypto.decryptFile(back, master).get, plain))
  }

  test("deterministic wrap IVs are local-key-unique (r16 ADVICE): " +
    "two files with DISTINCT local keys rotated under one master " +
    "never share a wrap-CTR keystream") {
    val newMaster = Array.tabulate(16)(i => (i * 29 + 5).toByte)
    // CSPRNG local keys => distinct across the two files
    val encA = OrcCrypto.encryptFile(plainFile(), master, "pii",
      Set(2)).getOrElse(fail("encA"))
    val encB = OrcCrypto.encryptFile(plainFile(stride = 64), master,
      "pii", Set(2)).getOrElse(fail("encB"))
    val rotA = OrcCrypto.rotateMaster(encA, master, newMaster,
      deterministic = true).getOrElse(fail("rotA"))
    val rotB = OrcCrypto.rotateMaster(encB, master, newMaster,
      deterministic = true).getOrElse(fail("rotB"))
    def wrapIv(f: Array[Byte]): Seq[Byte] =
      OrcCrypto.encryptionInfo(f).get._2.head.encryptedKey
        .take(16).toSeq
    assert(wrapIv(rotA) != wrapIv(rotB),
      "same master+keyName+col must still yield distinct wrap IVs " +
        "for distinct local keys")
    // and both still decrypt under the new master
    assert(OrcCrypto.decryptFile(rotA, newMaster).isDefined)
    assert(OrcCrypto.decryptFile(rotB, newMaster).isDefined)
  }

  test("orc-core: the encrypted file's unencrypted columns read " +
    "through spark.read.orc; the encrypted column is not silently " +
    "exposed as plaintext") {
    val plain = plainFile(stride = 0) // legacy stats envelope
    val enc = OrcCrypto.encryptFile(plain, master, "pii", Set(2),
      deterministic = true).getOrElse(fail("encrypt"))
    val dir = TempDirs.create("orcenc").toFile
    val p = new java.io.File(dir, "enc.orc")
    java.nio.file.Files.write(p.toPath, enc)
    val expectSalSum =
      (0 until 512).map(i => (i * 131 % 9001).toLong).sum
    val got = scala.util.Try {
      spark.read.orc(p.getAbsolutePath)
        .selectExpr("count(*)", "sum(rec_id)", "sum(salary)")
        .collect()(0)
    }
    got match {
      case scala.util.Success(r) =>
        assert(r.getLong(0) == 512L)
        assert(r.getLong(1) == (0L until 512L).sum)
        // whatever orc-core yields for the encrypted column without
        // a key, it must NOT be the true plaintext sum
        assert(r.isNullAt(2) || r.getLong(2) != expectSalSum,
          "encrypted column must not read as plaintext")
      case scala.util.Failure(_) =>
        // failing closed without a key provider is also acceptable
        ()
    }
    p.delete(); dir.delete()
  }
}
