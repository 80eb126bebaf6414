package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.Payload
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Totality of every media decoder under damage. Each case takes a
  * well-formed payload from [[MediaSeeds]] and damages it once: a
  * truncation, 1–4 flipped bits, or one random byte spliced in. Every
  * decoder then runs on the damaged bytes and must return a value,
  * None or Nil — never throw — within a per-call time bound. The
  * property runs with a fixed seed and a fixed case count, as
  * BytesSpec's do, so a failure reproduces exactly.
  */
class MediaTotalitySpec extends AnyFunSuite {

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(5000)
    .withInitialSeed(Seed(20261019L))
    .withWorkers(1)

  private def codec(c: Multimodal.Codec): Array[Byte] => Any =
    b => c(Payload(0L, "image", b))

  private val decoders: Seq[(String, Array[Byte] => Any)] = Seq(
    "StubCodec" -> codec(Multimodal.StubCodec),
    "PngCodec" -> codec(Multimodal.PngCodec),
    "GifCodec" -> codec(Multimodal.GifCodec),
    "BmpCodec" -> codec(Multimodal.BmpCodec),
    "JpegCodec" -> codec(Multimodal.JpegCodec),
    "TiffCodec" -> codec(Multimodal.TiffCodec),
    "WebPCodec" -> codec(Multimodal.WebPCodec),
    "MediaCodec" -> codec(Multimodal.MediaCodec),
    "parseWav" -> (Multimodal.parseWav(0L, _)),
    "parseWavSamples" -> (Multimodal.parseWavSamples(0L, _)),
    "parseWavG711" -> (Multimodal.parseWavG711(0L, _)),
    "parseMp3" -> (Multimodal.parseMp3(0L, _)),
    "parseMp4" -> (Multimodal.parseMp4(0L, _)),
    "parseId3v2" -> (Multimodal.parseId3v2(0L, _)),
    "parseBmpPixels" -> (Multimodal.parseBmpPixels(0L, _)),
    "parseTiffPixels" -> (Multimodal.parseTiffPixels(0L, _)),
    "parseY4mFrames" -> (Multimodal.parseY4mFrames(0L, _, 2)),
    "parsePngPixels" -> (Multimodal.parsePngPixels(0L, _)),
    "parseGifPixels" -> (Multimodal.parseGifPixels(0L, _)),
    "parseJpegPixels" -> (Multimodal.parseJpegPixels(0L, _)),
    "decodeJpegPlanes" -> (Multimodal.decodeJpegPlanes(_)),
    "tiffLzwDecode" -> (b => Multimodal.tiffLzwDecode(b, 0, b.length, 256)),
    "packBitsDecode" -> (b => Multimodal.packBitsDecode(b, 0, b.length, 256)))

  /** Far above any one call on these small payloads (well under a
    * millisecond each), so only a hang or a runaway loop trips it.
    */
  private val boundNanos = 2000000000L

  /** (what was done, damaged bytes) */
  private val damaged: Gen[(String, Array[Byte])] =
    Gen.oneOf(MediaSeeds.all).flatMap { case (name, b) =>
      val cut = Gen.choose(0, b.length - 1).map(n => (s"$name cut to $n", b.take(n)))
      val flip = Gen.choose(1, 4).flatMap(k => Gen.listOfN(k,
        Gen.zip(Gen.choose(0, b.length - 1), Gen.choose(0, 7)))).map { fs =>
        val c = b.clone()
        fs.foreach { case (i, bit) => c(i) = (c(i) ^ (1 << bit)).toByte }
        (s"$name bits flipped at ${fs.mkString(",")}", c)
      }
      val splice = Gen.zip(Gen.choose(0, b.length), Gen.choose(0, 255)).map {
        case (i, v) =>
          (s"$name byte $v spliced in at $i",
            (b.take(i) :+ v.toByte) ++ b.drop(i))
      }
      Gen.oneOf(cut, flip, splice)
    }

  test("every media decoder is total on damaged payloads") {
    assert(MediaSeeds.all.size >= 40)
    val p = Prop.forAllNoShrink(damaged) { case (what, b) =>
      val faults = decoders.flatMap { case (name, decode) =>
        val t0 = System.nanoTime()
        val thrown =
          try { decode(b); None }
          catch { case e: Exception => Some(s"$name threw $e") }
        val took = System.nanoTime() - t0
        thrown.orElse(
          if (took > boundNanos) Some(s"$name took ${took / 1000000} ms")
          else None)
      }
      faults.isEmpty :| s"$what: ${faults.mkString("; ")}"
    }
    val r = Test.check(params, p)
    assert(r.passed, r.status.toString)
  }

  test("the undamaged seeds decode") {
    // the property means something only if the seeds reach the deep
    // paths: each must decode fully through its own format's decoder
    val full: Map[String, Array[Byte] => Boolean] = Map(
      "png" -> (Multimodal.parsePngPixels(0L, _).isDefined),
      "gif" -> (Multimodal.parseGifPixels(0L, _).isDefined),
      "tiff" -> (Multimodal.parseTiffPixels(0L, _).isDefined),
      "jpeg" -> (Multimodal.parseJpegPixels(0L, _).isDefined),
      "y4m" -> (Multimodal.parseY4mFrames(0L, _, 1).exists(_.nonEmpty)),
      "wav_pcm16" -> (Multimodal.parseWavSamples(0L, _).isDefined),
      "wav_ulaw" -> (Multimodal.parseWavG711(0L, _).isDefined),
      "wav_alaw" -> (Multimodal.parseWavG711(0L, _).isDefined),
      "mp3" -> (Multimodal.parseMp3(0L, _).isDefined),
      "id3" -> (b => Multimodal.parseId3v2(0L, b).size == 2),
      "mp4" -> (Multimodal.parseMp4(0L, _).isDefined),
      "bmp" -> (Multimodal.parseBmpPixels(0L, _).isDefined),
      "webp" -> (b => Set(800, 1024, 1920)
        .contains(Multimodal.WebPCodec(Payload(0L, "image", b)).width)))
    for ((name, b) <- MediaSeeds.all) {
      val checks = full.collect { case (prefix, ok) if name.startsWith(prefix) => ok }
      assert(checks.nonEmpty, s"no decoder check for seed $name")
      assert(checks.forall(_(b)), s"seed $name does not decode")
    }
  }
}
