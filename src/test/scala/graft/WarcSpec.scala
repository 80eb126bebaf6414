package graft

import graft.sources.Warc
import graft.sources.Warc.{WarcBlob, WarcRecord}
import org.apache.spark.graft.TempDirs

/** WARC record framing: the length-strided walk plus the dirty-data arms
  * a real crawl needs (resync after garbage, truncated tails, multibyte
  * payloads measured in BYTES).
  */
class WarcSpec extends SparkSpec {

  private def rec(uri: String, payload: Array[Byte],
                  extra: String = ""): Array[Byte] = {
    val hdr = s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: $uri\r\n$extra" +
      s"Content-Length: ${payload.length}\r\n\r\n"
    hdr.getBytes("US-ASCII") ++ payload ++ "\r\n\r\n".getBytes("US-ASCII")
  }

  test("walk recovers every record through the length stride") {
    val blob = rec("http://a/1", "hello".getBytes) ++
      rec("http://a/2", ("x" * 1000).getBytes) ++
      rec("http://a/3", Array.emptyByteArray)
    val rs = Warc.parse(7L, blob)
    assert(rs.map(_.target_uri) == Seq("http://a/1", "http://a/2", "http://a/3"))
    assert(rs.map(_.content_length) == Seq(5L, 1000L, 0L))
    assert(rs.head.payload == "hello" && rs.head.record_type == "response")
    assert(rs(1).offset > 0 && rs(2).offset > rs(1).offset)
  }

  test("Content-Length counts BYTES: multibyte payloads stride correctly") {
    val utf8 = "héllo wörld — ünïcode".getBytes("UTF-8")
    assert(utf8.length > "héllo wörld — ünïcode".length) // really multibyte
    val blob = rec("http://u/1", utf8) ++ rec("http://u/2", "after".getBytes)
    val rs = Warc.parse(1L, blob)
    assert(rs.map(_.target_uri) == Seq("http://u/1", "http://u/2"))
    assert(rs.head.payload == "héllo wörld — ünïcode")
  }

  test("resync: garbage between records costs the garbage, not the blob") {
    val blob = rec("http://a/1", "one".getBytes) ++
      "CORRUPT JUNK NO FRAMING AT ALL".getBytes ++
      rec("http://a/2", "two".getBytes)
    val rs = Warc.parse(1L, blob)
    assert(rs.map(_.payload) == Seq("one", "two"))
  }

  test("truncated tail ends the walk without fabricating a record") {
    val whole = rec("http://a/1", "complete".getBytes)
    val cut = rec("http://a/2", "chopped-off-payload".getBytes).dropRight(12)
    val rs = Warc.parse(1L, whole ++ cut)
    assert(rs.map(_.payload) == Seq("complete"))
  }

  test("record missing Content-Length is skipped by resync to next magic") {
    val bad = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://bad\r\n\r\npayload??\r\n\r\n").getBytes("US-ASCII")
    val rs = Warc.parse(1L, bad ++ rec("http://good", "fine".getBytes))
    assert(rs.map(_.target_uri) == Seq("http://good"))
  }

  test("header field names are case-insensitive (ISO 28500 §4)") {
    // tools emitting lowercase/mixed-case field names must still frame:
    // the length stride and typed fields all come from the header map
    val payload = "cased".getBytes("US-ASCII")
    val hdr = "WARC/1.0\r\nwarc-type: response\r\n" +
      "Warc-Target-Uri: http://mixed\r\n" +
      s"content-length: ${payload.length}\r\n\r\n"
    val blob = hdr.getBytes("US-ASCII") ++ payload ++
      "\r\n\r\n".getBytes("US-ASCII") ++ rec("http://after", "ok".getBytes)
    val rs = Warc.parse(1L, blob)
    assert(rs.map(_.target_uri) == Seq("http://mixed", "http://after"))
    assert(rs.head.record_type == "response" && rs.head.payload == "cased")
  }

  test("gunzip: member-per-record .warc.gz (the Common Crawl layout) parses whole") {
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    // one gzip member PER RECORD, concatenated — exactly how CC publishes
    val blob = gz(rec("http://g/1", "one".getBytes)) ++
      gz(rec("http://g/2", "two".getBytes)) ++
      gz(rec("http://g/3", "three".getBytes))
    val rs = Warc.parseAuto(5L, blob)
    assert(rs.map(_.payload) == Seq("one", "two", "three"))
    // plain bytes pass straight through
    assert(Warc.parseAuto(6L, rec("http://p/1", "plain".getBytes))
      .map(_.payload) == Seq("plain"))
    // gzip magic but corrupt stream: empty, never a throw
    val corrupt = Array(0x1F, 0x8B, 0x08, 0x00, 0x41, 0x42).map(_.toByte)
    assert(Warc.parseAuto(7L, corrupt).isEmpty)
    // truncated mid-member: records before the cut survive
    val cut = gz(rec("http://g/4", "kept".getBytes)) ++
      gz(rec("http://g/5", "lost".getBytes)).dropRight(9)
    assert(Warc.parseAuto(8L, cut).map(_.payload).headOption.contains("kept"))
  }

  test("recordStream: WARC files landing in a directory stream out as records") {
    import spark.implicits._
    val dir = TempDirs.create("warc_in").toFile
    val cp = TempDirs.create("warc_cp").toFile
    (0 to 2).foreach { i =>
      val blob = rec(s"http://w/$i/a", s"p$i-a".getBytes) ++
        rec(s"http://w/$i/b", s"p$i-b".getBytes)
      java.nio.file.Files.write(new java.io.File(dir, s"f$i.warc").toPath, blob)
    }
    val files = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("maxFilesPerTrigger", 1) // force one file per micro-batch
      .load(dir.getAbsolutePath)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    val q = Warc.recordStream(files).writeStream
      .option("checkpointLocation", cp.getAbsolutePath)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[WarcRecord], _: Long) =>
        seen.synchronized {
          seen ++= batch.collect().map(r => (r.blob_id, r.target_uri, r.payload))
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(seen.size == 6)
    assert(seen.map(_._2).toSet ==
      (0 to 2).flatMap(i => Seq(s"http://w/$i/a", s"http://w/$i/b")).toSet)
    // per-file blob ids: 3 distinct, 2 records each
    assert(seen.groupBy(_._1).size == 3)
    assert(seen.groupBy(_._1).forall(_._2.size == 2))
  }

  test("records() explodes blobs on scan tasks with no shuffle") {
    import spark.implicits._
    val blobs = (0L to 9L).map { i =>
      WarcBlob(i, rec(s"http://b/$i/a", s"p$i-a".getBytes) ++
        rec(s"http://b/$i/b", s"p$i-b".getBytes))
    }
    val ds = spark.createDataset(blobs).repartition(4)
    val out = Warc.records(ds)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") || plan.contains("REPARTITION"),
      s"record explode must not shuffle beyond the input repartition:\n$plan")
    val rows = out.collect()
    assert(rows.length == 20)
    assert(rows.groupBy(_.blob_id).forall(_._2.length == 2))
  }
  test("CDXJ write side: SURT transform, the well-known empty-payload " +
    "sha1-base32 digest, sorted capture lines, and slice-fetch " +
    "through one gzip member") {
    val W = graft.sources.WarcWrite
    // SURT: reversed host, lowercased, scheme dropped
    assert(W.surt("https://News.Example.org/A/b?q=1") ==
      "org,example,news)/a/b?q=1")
    assert(W.surt("http://a.b.c/") == "c,b,a)/")
    assert(W.surt("https://host.tld") == "tld,host)/")
    // the digest every WARC tool emits for an empty payload
    assert(W.sha1B32(Array.emptyByteArray) ==
      "3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ")
    // index a 3-record archive; lines must come out SURT-sorted even
    // though the records were appended in URL order
    val uris = Seq("https://zz.org/1", "https://aa.org/2",
      "https://mm.org/3")
    val recs = uris.zipWithIndex.map { case (u, i) =>
      W.record("response", u, f"$i%08d", "2026-01-01T00:00:00Z",
        s"body-$i".getBytes("UTF-8"))
    }
    val (gz, offs) = W.writeGzIndexed(recs)
    val entries = uris.zip(offs).zipWithIndex.map {
      case ((u, (off, len)), i) =>
        W.CdxEntry(u, "20260101000000", off, len,
          W.sha1B32(s"body-$i".getBytes("UTF-8")), "t.warc.gz")
    }
    val lines = new String(W.cdxj(entries), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    assert(lines.length == 3)
    assert(lines.map(_.split(" ")(0)).toSeq ==
      Seq("org,aa)/2", "org,mm)/3", "org,zz)/1"))
    // fetch record 1 (aa.org) through its member slice alone
    val e = entries(1)
    val slice = java.util.Arrays.copyOfRange(gz, e.offset.toInt,
      (e.offset + e.length).toInt)
    val got = graft.sources.Warc.gunzip(slice)
      .map(graft.sources.Warc.parse(7L, _))
      .getOrElse(fail("member gunzip"))
    assert(got.length == 1 && got.head.target_uri == "https://aa.org/2"
      && got.head.payload == "body-1")
    // offsets tile the archive exactly
    assert(offs.map(_._2).sum == gz.length.toLong)
    assert(offs.zip(offs.drop(1)).forall { case ((o1, l1), (o2, _)) =>
      o1 + l1 == o2 })
  }
}

