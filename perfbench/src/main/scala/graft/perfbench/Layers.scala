package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import graft.Checkpoints
import graft.queries.BenchMedia
import graft.sources._
import graft.operators.{Curation, Dedup, Multimodal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-layer probes of the traced run, each timed from outside the layer:
  * Spark-free kernel loops for the byte decoders and image decoders, a
  * one-stage projection per native expression, and one forced call per
  * curation operator.
  */
object Layers {
  import Workloads.secs

  private val KernelSeconds = 0.4

  /** Decode `inputs` repeatedly for KernelSeconds after one warm-up sweep;
    * returns compressed MB/s and the number of inputs that failed.
    */
  private def kernel(inputs: Seq[Array[Byte]], decode: Array[Byte] => Boolean): (Double, Int) = {
    var errors = 0
    inputs.foreach(b => if (!decode(b)) errors += 1)
    val total = inputs.map(_.length.toLong).sum
    var bytes = 0L
    val t0 = System.nanoTime()
    while (secs(t0) < KernelSeconds) {
      inputs.foreach(b => decode(b))
      bytes += total
    }
    (bytes / 1e6 / secs(t0), errors)
  }

  private def payloads(n: Int): Seq[Array[Byte]] = {
    val rng = new scala.util.Random(7)
    val words = Seq("spark", "window", "merge", "table", "column", "stream",
      "value", "data", "join", "filter", "hash", "sort", "row", "key")
    (0 until n).map { _ =>
      Iterator.fill(400 + rng.nextInt(1600))(words(rng.nextInt(words.size)))
        .mkString(" ").getBytes("UTF-8")
    }
  }

  private def deflateRaw(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6, true)
    d.setInput(b); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  def sources(c: Ctx, workbooks: Seq[String], out: Outcome): Unit = {
    val spark = c.spark
    import spark.implicits._
    def fixture(name: String, col0: String): Seq[Array[Byte]] =
      spark.read.parquet(s"${c.fixtures}/$name.parquet").select(col(col0))
        .as[Array[Byte]].collect().toSeq
    val raw = payloads(48)
    val brotli = Option(new File(s"${c.fixtures}/brotli_spec").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".br")).sortBy(_.getName)
      .map(f => Files.readAllBytes(f.toPath))
    val lz4 = raw.map(r => (Lz4Encode.compressBlock(r), r.length))
    val snappy = raw.map(r => (Snappy.compress(r), r.length))
    val xlsx = workbooks.map(p => Files.readAllBytes(Paths.get(p)))
    val probes: Seq[(String, () => (Double, Int))] = Seq(
      "sources.inflate_mb_per_s" -> (() => kernel(raw.map(deflateRaw), b => Inflate.inflateRaw(b).isDefined)),
      "sources.zstd_mb_per_s" -> (() => kernel(fixture("zstd_full_blobs", "zst"),
        b => Zstd.walk(b).exists(_.forall(_.checksumState == "ok")))),
      "sources.bzip2_mb_per_s" -> (() => kernel(fixture("bz2_blobs", "bz"), b => Bzip2.decompress(b).isDefined)),
      "sources.brotli_mb_per_s" -> (() => kernel(brotli, b => Brotli.decode(b).isDefined)),
      "sources.xz_mb_per_s" -> (() => kernel(raw.take(8).map(LzmaEncode.alone), b => Lzma2.decodeAlone(b).isDefined)),
      "sources.lz4_mb_per_s" -> { () =>
        val lens = lz4.map(t => t._1 -> t._2).toMap
        kernel(lz4.map(_._1), b => Lz4.decompressBlock(b, 0, b.length, lens(b)).isDefined)
      },
      "sources.snappy_mb_per_s" -> { () =>
        val lens = snappy.map(t => t._1 -> t._2).toMap
        kernel(snappy.map(_._1), b => Snappy.uncompressSelf(b, 0, b.length, lens(b)).isDefined)
      },
      "sources.xlsx_mb_per_s" -> (() => kernel(xlsx, { b =>
        XlsxParser.parseSheet(b, "Compras").rows.nonEmpty &&
          XlsxParser.parseSheet(b, "Precios").rows.nonEmpty
      })))
    var errors = 0
    probes.foreach { case (name, p) =>
      val (mbps, err) = c.tracer.span("sources", name)(p())
      out.metrics(name) = mbps
      errors += err
    }
    out.metrics("sources.decode_errors") = errors.toDouble
  }

  def media(c: Ctx, texts: Seq[String], out: Outcome): Unit = {
    val jpegs = texts.map(BenchMedia.jpeg)
    val pngs = texts.map(BenchMedia.png)
    val (j, je) = c.tracer.span("operators", "Multimodal.parseJpegPixels") {
      kernel(jpegs, b => Multimodal.parseJpegPixels(0L, b).isDefined)
    }
    val (p, pe) = c.tracer.span("operators", "Multimodal.parsePngPixels") {
      kernel(pngs, b => Multimodal.parsePngPixels(0L, b).isDefined)
    }
    out.metrics("operators.jpeg_mb_per_s") = j
    out.metrics("operators.png_mb_per_s") = p
    out.metrics("sources.decode_errors") = out.metrics.getOrElse("sources.decode_errors", 0.0) + je + pe
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One-stage projections of the native expressions over the corpus. */
  def expressions(c: Ctx, docs: DataFrame, out: Outcome): Unit = {
    val n = docs.count().toDouble
    val text = col("text")
    val url = concat(lit("https://www."), col("source"), lit(".com/"), col("lang"))
    val probes: Seq[(String, DataFrame)] = Seq(
      "expressions.hash60_rows_per_s" -> docs.select(graft.functions.hash60(text)),
      "expressions.minhash_rows_per_s" -> Dedup.minHashSignatures(docs, text, col("doc_id")),
      "expressions.simhash_rows_per_s" -> Dedup.simHash(docs, text, col("doc_id")),
      "functions.c_round_rows_per_s" -> docs.select(graft.functions.c_round(col("n_chars") / 7.0, 2)),
      "functions.store_name_rows_per_s" -> docs.select(graft.functions.store_name(url)))
    probes.foreach { case (name, df) =>
      noop(df) // warm
      val t0 = System.nanoTime()
      c.tracer.span("expressions", name)(noop(df))
      out.metrics(name) = n / secs(t0)
    }
  }

  /** One forced call per public curation operator. */
  def operators(c: Ctx, docs: DataFrame, out: Outcome): Unit = {
    val text = col("text")
    val id = col("doc_id")
    val eval = docs.where(col("doc_id") % 50 === 0)
    val probes: Seq[(String, () => DataFrame)] = Seq(
      "operators.dedup_exact_s" -> (() => Dedup.exact(docs, text, id)),
      "operators.minhash_lsh_s" -> (() => Dedup.minHashLshPairs(docs, text, id)),
      "operators.simhash_pairs_s" -> (() =>
        Dedup.simHashNearDupPairs(Dedup.simHash(docs, text, id), "__id", "simhash")),
      "operators.bloom_decontaminate_s" -> (() => Curation.bloomDecontaminate(docs, eval, text, id)),
      "operators.remove_boilerplate_s" -> (() => Curation.removeBoilerplate(docs, text, id)),
      "operators.token_budget_s" -> (() =>
        Curation.tokenBudget(docs, "lang", col("n_chars"), id, col("n_chars"), 100000L)))
    probes.foreach { case (name, f) =>
      val t0 = System.nanoTime()
      c.tracer.span("operators", name)(noop(f()))
      out.metrics(name) = secs(t0)
      Checkpoints.release()
    }
  }
}
