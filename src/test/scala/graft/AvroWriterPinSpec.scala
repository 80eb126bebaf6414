package graft

import graft.expressions.Md5Hashes
import graft.sources.{Avro, AvroWrite, DeltaWrite, HudiWrite, IcebergWrite}
import graft.sources.AvroGeneric._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bytes of every public Avro-writing entry point: the md5
  * of one fixed-input output each from the Iceberg table writers and
  * metadata operations, the Hudi merge-on-read bundle, [[Avro.write]]
  * and [[AvroWrite.container]] for every codec they take. Size oracles
  * and Python twins (`fixtures/avro_size_oracle.parquet`,
  * `scripts/make_iceberg_*_oracle.py`) depend on these bytes, so a
  * refactor of the writers must leave every digest here unchanged.
  */
class AvroWriterPinSpec extends AnyFunSuite {

  private val ids = (0L until 90L).toSeq
  private def vf(d: Long): Long = (d * 7) % 1000

  private def md5(b: Array[Byte]): String = Md5Hashes.md5Hex(b)
  /** A bundle's digest: each (path, NUL, bytes) in path order. */
  private def md5(files: Map[String, Array[Byte]]): String =
    Md5Hashes.md5HexOfParts(files.toSeq.sortBy(_._1).iterator.flatMap {
      case (p, b) => Iterator(p.getBytes("UTF-8"), Array(0.toByte), b)
    })

  test("Iceberg table writers and metadata operations") {
    val W = IcebergWrite
    val meta1 = "v1.metadata.json"
    val refs = W.writeRefsTable("pin-refs", ids, vf, "v1", 5000L)
    val staged = W.stageBranch(refs, meta1, "audit",
      ids.take(12).map(d => (d + 1000L, vf(d))), 1700000001000L).get
    val ff = W.fastForward(refs ++ staged.newFiles, staged.newMetaName,
      "audit").get
    val evo3 = W.writeSpecEvoTableV3("pin-evo3", ids)
    val stats = W.writePartitionStats(evo3, "v2.metadata.json").get
    val hist = W.writeHistoryTable("pin-hist", ids)
    val expired = W.expireSnapshots(hist, "v3.metadata.json",
      1700000000500L).get
    val sprawl = W.writeSprawlTable("pin-sprawl", ids)
    val rewritten = W.rewriteManifests(sprawl, "v3.metadata.json",
      1700000001000L).get
    val delta = DeltaWrite.writeTable("pin-delta", ids)
    val temporal = ids.map(d => (d, (d - 250L) * 21600000000L, vf(d)))
    val got = Seq(
      "writeTable" -> md5(W.writeTable("pin-t", ids)),
      "writePartitionedTable" -> md5(W.writePartitionedTable("pin-p",
        ids.map(d => (d, d * 3 % 100)))),
      "writeSpecEvoTable" -> md5(W.writeSpecEvoTable("pin-evo", ids)),
      "writeSpecEvoTableV3" -> md5(evo3),
      "writePartitionStats" -> md5(Map(stats._1 -> stats._2,
        "meta" -> stats._3)),
      "writeMorTable" -> md5(W.writeMorTable("pin-mor", ids)),
      "writeHistoryTable" -> md5(hist),
      "expireSnapshots" -> md5(expired.newMeta),
      "writeRefsTable" -> md5(refs),
      "stageBranch" -> md5(staged.newFiles),
      "fastForward" -> md5(ff._2),
      "writeIncrTable" -> md5(W.writeIncrTable("pin-incr", ids, vf)),
      "writeLineageTable" -> md5(W.writeLineageTable("pin-lin", ids,
        vf)),
      "migrateFromDelta" -> md5(W.migrateFromDelta(delta,
        "pin-from-delta").get),
      "migrateFromHudi" -> md5(W.migrateFromHudi(
        HudiWrite.writeTable(ids), "pin-from-hudi").get),
      "writeBucketTable" -> md5(W.writeBucketTable("pin-bk", ids, vf,
        4)),
      "writeTruncTable" -> md5(W.writeTruncTable("pin-tr", ids, vf,
        10)),
      "writeTemporalTable" -> md5(W.writeTemporalTable("pin-day",
        temporal, "day").get),
      "writeDefaultsTable" -> md5(W.writeDefaultsTable("pin-def", ids,
        vf)),
      "writeChangelogTable" -> md5(W.writeChangelogTable("pin-cl", ids,
        vf)),
      "writeDvChangelogTable" -> md5(W.writeDvChangelogTable("pin-dv",
        ids, vf)),
      "writeSprawlTable" -> md5(sprawl),
      "rewriteManifests" -> md5(rewritten.newFiles))
    assert(got == Seq(
      "writeTable" -> "3897c5bf81a3a24754af85d66ae25012",
      "writePartitionedTable" -> "37fe2edab7c65ab365a625b90ac15753",
      "writeSpecEvoTable" -> "99e811b4022ed3a1f8a3a624c9b35d4c",
      "writeSpecEvoTableV3" -> "3705f739343ba65e8c3db8e754191ca3",
      "writePartitionStats" -> "f1b2085022d5371bf134ffe2beb48fb7",
      "writeMorTable" -> "13830440111aa9d137ca1e2338a534e7",
      "writeHistoryTable" -> "1b5404eb168c6b9fee1ef9244d2f731e",
      "expireSnapshots" -> "32d553ca14e6010a166b1c363604de58",
      "writeRefsTable" -> "4ba8c47929116ad9c408c1fd6d9dac83",
      "stageBranch" -> "159270a5004b05a77b562d2dfff5d460",
      "fastForward" -> "3650a3b051578eb0e29f7e4471377404",
      "writeIncrTable" -> "51993e1f14780c8e22e3cb6ede8f6c7f",
      "writeLineageTable" -> "e2391dbf4bd5ebd7dc7575efc054efdc",
      "migrateFromDelta" -> "1a9ff2a7b7b301d5ff83308bbde45cbb",
      "migrateFromHudi" -> "371b39c33fc2c4a0760e1bdeed11a7fb",
      "writeBucketTable" -> "1516cdd227c61a88a3838164c8a95570",
      "writeTruncTable" -> "71c169f9bfe7ee69ed40255c0005198a",
      "writeTemporalTable" -> "b8783c6df41cd4662cd03a87dafa1988",
      "writeDefaultsTable" -> "91419b780d4ad247b2affcaa9457f186",
      "writeChangelogTable" -> "62d78ff456ca342d9167ea6f158c0d20",
      "writeDvChangelogTable" -> "e20e7a8ad901fe93a739e2794ae88f16",
      "writeSprawlTable" -> "c9e06fd19e80d4cda361aaa39c6152a7",
      "rewriteManifests" -> "6f072f0241a10cc228b5ac237263524f"))
  }

  test("Hudi merge-on-read bundle") {
    val got = Seq("writeMorTable" -> md5(HudiWrite.writeMorTable(ids)))
    assert(got == Seq(
      "writeMorTable" -> "9792a03a2e27c45e71510e7c46d5090c"))
  }

  test("Avro.write, every codec") {
    val recs = ids.map(d => (d * 37 - 500L, s"doc-$d-" + "x" * (d % 13).toInt))
    val sync = Array.tabulate[Byte](16)(i => (i * 17 + 3).toByte)
    val got = Seq("null", "deflate", "snappy", "zstandard").map { c =>
      c -> md5(Avro.write(recs, sync, c, blockRecords = 7))
    } :+ ("empty" -> md5(Avro.write(Seq.empty, sync, "deflate")))
    assert(got == Seq(
      "null" -> "9eb6afd113f33953b33785a6299f1035",
      "deflate" -> "372d0caddeef0f274910703997d65e9e",
      "snappy" -> "bbb7d45788e655ab48bb94dae0a81e0a",
      "zstandard" -> "65419466bfe7b788eb8b98462f3f0cc5",
      "empty" -> "a634905d638ab56563aa796d0317f4df"))
  }

  test("AvroWrite.container, every codec") {
    val schema =
      """{"type":"record","name":"r","fields":[{"name":"id","type":"long"},{"name":"name","type":"string"},{"name":"opt","type":["null","int"]},{"name":"xs","type":{"type":"array","items":"long"}},{"name":"m","type":{"type":"map","values":"double"}},{"name":"raw","type":"bytes"},{"name":"flag","type":"boolean"}]}"""
    val recs = ids.map { d =>
      VRecord(Vector(
        "id" -> VLong(d * 1001 - 40000L),
        "name" -> VString(s"name-$d"),
        "opt" -> (if (d % 3 == 0) VNull else VLong(d)),
        "xs" -> VArray((0L until d % 4).map(j => VLong(d + j)).toVector),
        "m" -> VMap((0L until d % 3).map(j =>
          s"k$j" -> VDouble(d * 0.5 + j)).toVector),
        "raw" -> VBytes((d % 5).toInt,
          Array.tabulate[Byte]((d % 5).toInt)(i => (d + i).toByte)),
        "flag" -> VBool(d % 2 == 0)))
    }
    val got = Seq("null", "deflate", "snappy", "zstandard", "bzip2",
      "xz").map { c =>
      c -> md5(AvroWrite.container(schema, recs, c, "pin", 32))
    } :+ ("empty" -> md5(AvroWrite.container(schema, Nil)))
    assert(got == Seq(
      "null" -> "ae7b864278ef9d5f34734072b778c1fc",
      "deflate" -> "5260210d4a05fa13f7fbd49236f3534f",
      "snappy" -> "c7a546d39108b6b8e9701611bbb8b437",
      "zstandard" -> "8752a0df8f8feefc6017f36a418a51ea",
      "bzip2" -> "b8b8f237278dbe17233ef22a4222c8af",
      "xz" -> "9db108c6cffd9431dfea129343adda6e",
      "empty" -> "0e0dfa3a354a1fe659cddbbf5c5db1d7"))
  }
}
