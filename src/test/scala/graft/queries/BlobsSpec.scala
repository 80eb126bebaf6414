package graft.queries

import java.nio.file.Files

import graft.SparkSpec
import graft.expressions.Md5Hashes
import org.apache.spark.graft.TempDirs
import org.scalacheck.{Arbitrary, Prop, Test}
import org.scalacheck.rng.Seed

/** [[Blobs]] against the spellings it replaced, kept here as the
  * reference: the blob key is the md5 hex (`%02x` per byte) of the tag
  * and the blob's ascending ids, the payload is `doc-<d>-` and
  * `d % 17` x's, and a 60-bit hash is the first 15 hex digits of md5.
  */
class BlobsSpec extends SparkSpec {
  import BlobsSpec._

  test("fixture joins each blob to the row filed under md5(tag + its sorted ids)") {
    val s = spark
    import s.implicits._
    val dir = TempDirs.create("blobs_spec").toString
    try {
      val ids = Seq(5L, 41L, 0L, 12L, 97L, 1000L, 6L, 33L, 7L, 12345L, 2L, 60L, 9L)
      ids.toDF("doc_id").repartition(3).write.parquet(s"$dir/documents.parquet")
      val tag = "spec:"
      val blobs = ids.groupBy(_ % 6).map { case (b, xs) => b -> refKey(tag, xs.sorted) }
      blobs.toSeq.map { case (b, k) => (k, b) }.toDF("blob_key", "filed_for")
        .write.parquet(s"$dir/fixture.parquet")
      val got = Blobs.fixture(spark, dir, tag, s"$dir/fixture.parquet")
        .select("blob_id", "filed_for").as[(Long, Long)].collect().toSeq.sorted
      assert(got == blobs.keys.toSeq.sorted.map(b => (b, b)))
      blobs.foreach { case (b, k) => assert(Blobs.key(tag, ids.filter(_ % 6 == b).sorted) == k) }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("payload is the literal doc text for d in 0..100") {
    (0L to 100L).foreach { d =>
      assert(Blobs.payload(d) == "doc-" + d + "-" + ("x" * (d % 17).toInt))
    }
  }

  test("hash60Bytes of a string's UTF-8 bytes is the first 15 hex digits of its md5") {
    val prop = Prop.forAll(Arbitrary.arbitrary[String]) { x =>
      Md5Hashes.hash60Bytes(x.getBytes("UTF-8")) == refH60(x) &&
        Md5Hashes.md5Hex(x) == refMd5(x)
    }
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000)
      .withInitialSeed(Seed(11L)), prop)
    assert(r.passed, r.status.toString)
  }
}

object BlobsSpec {
  def refMd5(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
  def refKey(tag: String, ids: Seq[Long]): String = refMd5(tag + ids.mkString(","))
  def refH60(x: String): Long = java.lang.Long.parseLong(refMd5(x).take(15), 16)
}
