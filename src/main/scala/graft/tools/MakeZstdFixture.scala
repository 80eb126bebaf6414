package graft.tools

/** Build the q243 zstd census fixture. The INDEPENDENT writer is
  * libzstd itself (zstd-jni, shipped on Spark's classpath — the
  * reference implementation); the engine's stage-1 walk
  * (sources/Zstd.scala) must read its framing back from raw bytes.
  *
  * One blob per document, a multi-frame `.zst` object:
  *   1. skippable frame (magic 0x184D2A50 + doc_id % 16) carrying
  *      "meta:<doc_id>" — the sidecar-metadata idiom real `.zst`
  *      corpora use;
  *   2. zstd frame, checksum ON: content = unhex(h1 || .. || h_k1),
  *      the md5 HEX-STRING chain seeded by the doc text (binary,
  *      incompressible -> libzstd stores it in RAW blocks, so the
  *      walk fully decodes and must verify the XXH64 checksum);
  *   3. zstd frame, checksum OFF: a second chain seeded 'f2:'+text;
  *   4. zstd frame, checksum ON, COMPRESSIBLE content ('a' * n) ->
  *      entropy-coded blocks the stage-1 walk strides but does not
  *      decode (declared content size still surfaces).
  *
  * Every expected value is a direct formula over (doc_id, n_chars,
  * md5(text)) — no codec in the oracle's loop; the compressed SIZE is
  * the only fixture-derived fact (octet_length of the blob).
  *
  * Usage: sbt "runMain graft.tools.MakeZstdFixture"
  */
object MakeZstdFixture {
  import graft.expressions.Md5Hashes.md5Hex

  /** h1 = md5(seed), h_{i+1} = md5(h_i) — all over HEX STRINGS, so
    * DuckDB's VARCHAR-only md5 can replay the chain.
    */
  def chainHex(seed: String, k: Int): String = {
    val sb = new StringBuilder
    var h = md5Hex(seed)
    sb.append(h)
    var i = 1
    while (i < k) { h = md5Hex(h); sb.append(h); i += 1 }
    sb.toString
  }

  def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  def blobFor(docId: Long, nChars: Long, text: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // skippable frame
    val meta = s"meta:$docId".getBytes("US-ASCII")
    val magic = 0x184d2a50L + (docId % 16)
    for (i <- 0 until 4) out.write(((magic >> (8 * i)) & 0xff).toInt)
    for (i <- 0 until 4) out.write((meta.length >> (8 * i)) & 0xff)
    out.write(meta)
    def frame(content: Array[Byte], checksum: Boolean): Unit = {
      val ctx = new com.github.luben.zstd.ZstdCompressCtx()
      ctx.setLevel(3).setChecksum(checksum)
      out.write(ctx.compress(content))
    }
    frame(unhex(chainHex(text, (1 + nChars % 8).toInt)), checksum = true)
    frame(unhex(chainHex("f2:" + text, (1 + docId % 5).toInt)),
      checksum = false)
    frame(("a" * (50 + docId % 200).toInt).getBytes("US-ASCII"),
      checksum = true)
    out.toByteArray
  }

  /** q244's blob: ONE frame of compressible ASCII (the q238 payload
    * shape), entropy-coded by libzstd at a doc-cycled level — the
    * stage-2 FSE/Huffman decode is the only way back to the bytes.
    * Levels 1/3/9/19 pick different match-finding strategies and so
    * different block/table layouts for the SAME content.
    */
  def fullBlobFor(docId: Long, nChars: Long, text: String): Array[Byte] = {
    val payload = md5Hex(text) * (1 + nChars % 5).toInt +
      "!" * (docId % 300).toInt
    val level = Seq(1, 3, 9, 19)((docId % 4).toInt)
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    ctx.setLevel(level).setChecksum(true)
    ctx.compress(payload.getBytes("US-ASCII"))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("make-zstd-fixture")
    import spark.implicits._
    val census = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
    val full = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(s"$dir/documents.parquet").exists()) {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "n_chars", "text")
          .collect() // fixture generation only: bounded by sf0.1 docs
        for (r <- docs) {
          val docId = r.getAs[Long]("doc_id")
          val nChars = r.getAs[Long]("n_chars")
          val text = Option(r.getAs[String]("text")).getOrElse("")
          val key = md5Hex(
            s"zstd:$docId:$nChars:${md5Hex(text)}")
          if (!census.contains(key))
            census(key) = blobFor(docId, nChars, text)
          if (!full.contains(key))
            full(key) = fullBlobFor(docId, nChars, text)
        }
      }
    }
    def write(blobs: scala.collection.Map[String, Array[Byte]],
              name: String): Unit = {
      val tmp = s"/root/repo/fixtures/${name}_tmp"
      blobs.toSeq.sortBy(_._1).toDF("blob_key", "zst")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      // repack as a single tidy file like the python fixture writers
      val part = new java.io.File(tmp)
        .listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"/root/repo/fixtures/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(tmp))
      println(s"$name.parquet: ${blobs.size} blobs " +
        s"(${blobs.valuesIterator.map(_.length).sum} bytes)")
    }
    write(census, "zstd_blobs")
    write(full, "zstd_full_blobs")

    // q247 stage 2: libzstd compresses the CPython-tarfile archives
    // staged by scripts/make_tarzst_stage.py — both .tar.zst layers
    // come from independent reference writers (level 19: the optimal
    // parser emits the hardest FSE/Huffman streams)
    val stage = new java.io.File("/root/repo/fixtures/tar_stage_blobs.parquet")
    if (stage.exists()) {
      val ctx = new com.github.luben.zstd.ZstdCompressCtx()
      ctx.setLevel(19).setChecksum(true)
      val tarzst = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
      for (r <- spark.read.parquet(stage.getPath).collect()) {
        tarzst(r.getAs[String]("blob_key")) =
          ctx.compress(r.getAs[Array[Byte]]("tar"))
      }
      write(tarzst, "tarzst_blobs")
    }
    spark.stop()
  }
}
