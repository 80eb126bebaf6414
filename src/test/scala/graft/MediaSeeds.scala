package graft

import graft.operators.Multimodal
import graft.sources.Bytes
import java.io.ByteArrayOutputStream

/** Well-formed media payloads for the decoder totality property: the
  * outputs of the in-repo encoders, a few javax.imageio files (its
  * progressive JPEG script runs the successive-approximation paths the
  * in-repo encoder never writes), and hand-built WAV, G.711, MP3, MP4,
  * ID3, BMP, big-endian TIFF and WebP payloads. Each is small, so one
  * damaged copy decodes in well under a millisecond.
  */
object MediaSeeds {

  private def out(f: ByteArrayOutputStream => Unit): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    f(o)
    o.toByteArray
  }

  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private def pix3(x: Int, y: Int): (Int, Int, Int) =
    ((7 * y + 11 * x) % 256, (13 * y + 3 * x + 101) % 256,
      (5 * y + 17 * x + 202) % 256)

  private def pixc(c: Int, x: Int, y: Int): Int =
    (c * 41 + x * 7 + y * 13 + (x * y) % 5) % 256

  private def imageIo(fmt: String, w: Int, h: Int, imageType: Int,
                      progressive: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, imageType)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pix3(x, y)
      img.setRGB(x, y, r << 16 | g << 8 | b)
    }
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName(fmt).next()
    val prm = wr.getDefaultWriteParam
    if (progressive)
      prm.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    wr.setOutput(ios)
    wr.write(null, new javax.imageio.IIOImage(img, null, null), prm)
    wr.dispose(); ios.close()
    bos.toByteArray
  }

  private def riff(form: String, chunks: Array[Byte]): Array[Byte] = out { o =>
    o.write(ascii("RIFF")); Bytes.putLe32(o, 4 + chunks.length)
    o.write(ascii(form)); o.write(chunks)
  }

  private def chunk(id: String, body: Array[Byte]): Array[Byte] = out { o =>
    o.write(ascii(id)); Bytes.putLe32(o, body.length); o.write(body)
    if (body.length % 2 == 1) o.write(0)
  }

  private def wavFmt(code: Int, bits: Int, extra: Boolean): Array[Byte] =
    out { o =>
      Bytes.putLe16(o, code); Bytes.putLe16(o, 1) // mono
      Bytes.putLe32(o, 8000); Bytes.putLe32(o, 8000 * bits / 8)
      Bytes.putLe16(o, bits / 8); Bytes.putLe16(o, bits)
      if (extra) Bytes.putLe16(o, 0)
    }

  private def pcm16: Array[Byte] = {
    val samples = out(o => (0 until 40).foreach(i =>
      Bytes.putLe16(o, (i * 1637 - 30000) & 0xffff)))
    riff("WAVE", chunk("fmt ", wavFmt(1, 16, extra = false)) ++
      chunk("data", samples))
  }

  private def g711(code: Int): Array[Byte] =
    riff("WAVE", chunk("fmt ", wavFmt(code, 8, extra = true)) ++
      chunk("fact", out(o => Bytes.putLe32(o, 33))) ++
      chunk("data", Array.tabulate[Byte](33)(i => (i * 37).toByte)))

  private def mp3: Array[Byte] = {
    // MPEG-1 Layer III, 128 kbps, 44.1 kHz: 417-byte frames (+1 padded)
    def frame(pad: Int) = Array(0xff, 0xfb, 0x90 | pad << 1, 0x00)
      .map(_.toByte) ++ Array.fill[Byte](413 + pad)(0x55)
    Array[Byte](1, 2, 3) ++ frame(0) ++ frame(1) ++ frame(0)
  }

  private def box(typ: String, body: Array[Byte]): Array[Byte] = out { o =>
    Bytes.putBe32(o, 8 + body.length); o.write(ascii(typ)); o.write(body)
  }

  private def mp4(large: Boolean): Array[Byte] = {
    val mvhd = box("mvhd", new Array[Byte](12) ++
      out { o => Bytes.putBe32(o, 600); Bytes.putBe32(o, 7320) } ++
      new Array[Byte](8))
    val mdat =
      if (!large) box("mdat", new Array[Byte](64))
      else out { o =>
        Bytes.putBe32(o, 1); o.write(ascii("mdat")); Bytes.putBe64(o, 80L)
        o.write(new Array[Byte](64))
      }
    box("ftyp", ascii("isom") ++ out(Bytes.putBe32(_, 0x200))) ++
      box("free", new Array[Byte](11)) ++ mdat ++
      box("moov", box("udta", new Array[Byte](23)) ++ mvhd)
  }

  private def id3(ver: Int): Array[Byte] = {
    def ss32(o: ByteArrayOutputStream, v: Int): Unit =
      Seq(21, 14, 7, 0).foreach(s => o.write((v >> s) & 0x7f))
    def frame(fid: String, body: Array[Byte]) = out { o =>
      o.write(ascii(fid))
      if (ver == 4) ss32(o, body.length) else Bytes.putBe32(o, body.length)
      o.write(0); o.write(0); o.write(body)
    }
    val frames = frame("TIT2", 0.toByte +: ascii("a title ")) ++
      frame("APIC", Array.fill[Byte](40)(9)) ++
      frame("TALB", 3.toByte +: "ünïcode".getBytes("UTF-8"))
    out { o =>
      o.write(ascii("ID3")); o.write(ver); o.write(0); o.write(0)
      ss32(o, frames.length + 7); o.write(frames); o.write(new Array[Byte](7))
    } ++ mp3
  }

  private def bmp(w: Int, h: Int): Array[Byte] = {
    val stride = (w * 3 + 3) / 4 * 4
    out { o =>
      o.write(ascii("BM")); Bytes.putLe32(o, 54 + stride * h)
      Bytes.putLe32(o, 0); Bytes.putLe32(o, 54)
      Bytes.putLe32(o, 40); Bytes.putLe32(o, w); Bytes.putLe32(o, h)
      Bytes.putLe16(o, 1); Bytes.putLe16(o, 24); Bytes.putLe32(o, 0)
      Bytes.putLe32(o, stride * h); (0 until 4).foreach(_ => Bytes.putLe32(o, 0))
      for (y <- 0 until h; i <- 0 until stride) o.write(3 * i + 29 * y)
    }
  }

  /** Big-endian uncompressed gray TIFF, one strip (the in-repo writers
    * and the JDK's write little-endian only).
    */
  private def tiffMM(w: Int, h: Int): Array[Byte] = out { o =>
    val entries = Seq((256, 3, w), (257, 3, h), (258, 3, 8), (259, 3, 1),
      (262, 3, 1), (273, 4, 8), (277, 3, 1), (278, 3, h), (279, 4, w * h))
    o.write(ascii("MM")); Bytes.putBe16(o, 42)
    Bytes.putBe32(o, 8 + w * h)
    for (i <- 0 until w * h) o.write(i * 3)
    Bytes.putBe16(o, entries.length)
    entries.foreach { case (tag, typ, v) =>
      Bytes.putBe16(o, tag); Bytes.putBe16(o, typ); Bytes.putBe32(o, 1)
      if (typ == 3) { Bytes.putBe16(o, v); Bytes.putBe16(o, 0) }
      else Bytes.putBe32(o, v)
    }
    Bytes.putBe32(o, 0)
  }

  private def webp: Seq[Array[Byte]] = {
    def le24(o: ByteArrayOutputStream, v: Int): Unit = {
      Bytes.putLe16(o, v); o.write(v >>> 16)
    }
    Seq(
      riff("WEBP", ascii("VP8 ") ++ out { o =>
        Bytes.putLe32(o, 10); o.write(Array[Byte](0, 0, 0))
        o.write(Array(0x9d, 0x01, 0x2a).map(_.toByte))
        Bytes.putLe16(o, 800); Bytes.putLe16(o, 600)
      }),
      riff("WEBP", ascii("VP8L") ++ out { o =>
        Bytes.putLe32(o, 5); o.write(0x2f)
        o.write(Array(0xff, 0xc3, 0xbf, 0x10).map(_.toByte))
      }),
      riff("WEBP", ascii("VP8X") ++ out { o =>
        Bytes.putLe32(o, 10); o.write(Array[Byte](0x10, 0, 0, 0))
        le24(o, 1919); le24(o, 1079)
      }))
  }

  /** (name, bytes) for every seed payload. */
  lazy val all: Seq[(String, Array[Byte])] = {
    import java.awt.image.BufferedImage._
    val pal = Array.tabulate[Byte](3 * 16)(i => (i * 37 + 5).toByte)
    def idx(n: Int)(x: Int, y: Int) = (3 * x + 7 * y) % n
    val png = Seq(
      "png_rgb" -> Multimodal.encodePngRgb(13, 9, pix3, _ % 5),
      "png_rgb_adam7" -> Multimodal.encodePngRgb(11, 7, pix3, _ % 5, true),
      "png_pal1" -> Multimodal.encodePngPaletted(9, 5, pal.take(6), idx(2),
        _ % 5, 1),
      "png_pal4_adam7" -> Multimodal.encodePngPaletted(10, 9, pal, idx(16),
        _ % 5, 4, true),
      "png_pal8" -> Multimodal.encodePngPaletted(7, 6, pal, idx(16), _ % 5, 8),
      "png_gray_imageio" -> imageIo("png", 9, 7, TYPE_BYTE_GRAY))
    val gif = Seq(
      "gif" -> Multimodal.encodeGifRgb(22, 17,
        Array.tabulate(64)(i => (i * 4, 255 - i * 4, i * 7 % 256)),
        (x, y) => (x * 3 + y * 5) % 64),
      "gif_imageio" -> imageIo("gif", 12, 9, TYPE_INT_RGB))
    val tiff = Seq(
      "tiff_lzw_rgb" -> Multimodal.encodeTiffCompressed(17, 9, 3, pixc, 5),
      "tiff_packbits_gray" ->
        Multimodal.encodeTiffCompressed(9, 5, 1, pixc, 32773),
      "tiff_lzw_planar" ->
        Multimodal.encodeTiffCompressed(7, 6, 3, pixc, 5, planar = 2),
      "tiff_tiled_rgb" -> Multimodal.encodeTiffTiled(33, 20, 3, pixc, 1,
        pad = 7),
      "tiff_tiled_lzw_gray" -> Multimodal.encodeTiffTiled(20, 17, 1, pixc, 5),
      "tiff_tiled_packbits_planar" -> Multimodal.encodeTiffTiled(18, 5, 3,
        pixc, 32773, planar = 2),
      "tiff_mm" -> tiffMM(6, 4),
      "tiff_imageio" -> imageIo("tiff", 7, 5, TYPE_INT_RGB))
    val jpeg = Seq(
      "jpeg_gray" -> Multimodal.encodeJpegBaseline(13, 7, 1, pixc),
      "jpeg_444_rst" -> Multimodal.encodeJpegBaseline(17, 9, 3, pixc,
        restartInterval = 2),
      "jpeg_420" -> Multimodal.encodeJpegBaseline(19, 18, 3, pixc,
        chroma420 = true),
      "jpeg_422_rst" -> Multimodal.encodeJpegBaseline(17, 9, 3, pixc,
        restartInterval = 1, chroma422 = true),
      "jpeg_prog_gray" -> Multimodal.encodeJpegProgressive(13, 7, 1, pixc),
      "jpeg_prog_420" -> Multimodal.encodeJpegProgressive(19, 18, 3, pixc,
        chroma420 = true),
      "jpeg_imageio" -> imageIo("jpg", 21, 13, TYPE_INT_RGB),
      "jpeg_imageio_prog_gray" -> imageIo("jpg", 21, 13, TYPE_BYTE_GRAY,
        progressive = true),
      "jpeg_imageio_prog_rgb" -> imageIo("jpg", 18, 11, TYPE_INT_RGB,
        progressive = true))
    val y4m = Seq(
      "y4m_420" -> Multimodal.encodeY4m(6, 4, 3, (x, y, f) => x + y * 9 + f,
        (x, y, f) => x * 5 + y + f, chroma420 = true),
      "y4m_mono" -> Multimodal.encodeY4m(5, 3, 2, (x, y, f) => x * y + f,
        (_, _, _) => 0, chroma420 = false))
    val audio = Seq("wav_pcm16" -> pcm16, "wav_ulaw" -> g711(7),
      "wav_alaw" -> g711(6), "mp3" -> mp3, "id3v3" -> id3(3),
      "id3v4" -> id3(4))
    val other = Seq("mp4" -> mp4(false), "mp4_large" -> mp4(true),
      "bmp" -> bmp(5, 3), "bmp_imageio" -> imageIo("bmp", 6, 4, TYPE_INT_RGB)) ++
      webp.zipWithIndex.map { case (b, i) => s"webp$i" -> b }
    png ++ gif ++ tiff ++ jpeg ++ y4m ++ audio ++ other
  }
}
