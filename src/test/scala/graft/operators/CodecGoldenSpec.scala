package graft.operators

import java.nio.charset.StandardCharsets.US_ASCII

import org.scalatest.funsuite.AnyFunSuite

/** Byte-level pins of the pure-JVM codecs: the md5 of every encoder's
  * output and of every decoder's pixels over seeded rasters. The
  * round-trip specs bound the lossy paths by a tolerance; these pin the
  * exact bytes, so an optimization of a codec kernel must leave every
  * encoded byte and every decoded sample as it was. The digests were
  * recorded from the codecs as they stood before the header-segment,
  * DC-only-block and AVI-walk optimizations. */
class CodecGoldenSpec extends AnyFunSuite {
  import CodecGolden._

  cases.foreach { case (name, bytes) =>
    test(s"$name matches its recorded digest") {
      assert(md5(bytes()) == Expected(name))
    }
  }

  test("every case has a recorded digest and no digest is orphaned") {
    assert(cases.map(_._1).toSet == Expected.keySet)
  }
}

private[operators] object CodecGolden {

  def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private def floats(a: Array[Float]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * a.length)
    bb.asFloatBuffer().put(a)
    bb.array()
  }

  private def sized(w: Int, h: Int, px: Array[Byte]): Array[Byte] =
    s"${w}x$h:".getBytes(US_ASCII) ++ px

  /** A `w`×`h` raster whose 8×8 cells are, at random, constant (DC-only
    * after any quant table), a shallow ramp (DC-only after the Annex K
    * table, not after the exact one) or noise (every coefficient). */
  def raster(seed: Long, w: Int, h: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val cells = (w + 7) / 8
    val kinds = Array.fill(cells * ((h + 7) / 8))(rnd.nextInt(3))
    val levels = Array.fill(kinds.length)(rnd.nextInt(256))
    Array.tabulate(w * h) { i =>
      val (x, y) = (i % w, i / w)
      val c = (y / 8) * cells + x / 8
      val v = kinds(c) match {
        case 0 => levels(c)
        case 1 => levels(c) / 2 + (x % 8 + y % 8) / 4
        case _ => rnd.nextInt(256)
      }
      v.toByte
    }
  }

  private val W = 37 // not a multiple of 8: edge blocks replicate
  private val H = 29
  private val gray = raster(1L, W, H)
  private val cw = (W + 1) / 2
  private val ch = (H + 1) / 2
  private val (cb, cr) = (raster(2L, cw, ch), raster(3L, cw, ch))

  /** Frames as the `mm_video_mjpeg` rows synthesize them (one 16×16
    * frame of four constant blocks per four raster pixels), followed by
    * seeded general frames. */
  private val mjpegFrames: Seq[Array[Byte]] =
    Multimodal.mjpegFrames(raster(4L, 16, 4)) ++
      (5L to 7L).map(s => raster(s, 16, 16))

  private val quants = Seq("std" -> Jpeg.StdQuant, "exact" -> Jpeg.ExactQuant,
    "unit" -> Jpeg.UnitQuant)

  private val grayJpegs: Seq[(String, Array[Byte])] =
    for ((qn, q) <- quants; r <- Seq(0, 3))
      yield s"gray_${qn}_rst$r" -> Jpeg.encodeGray(gray, W, q, r)

  private def decodedGray(jpeg: Array[Byte]): Array[Byte] = {
    val (w, h, px) = Jpeg.decodeGray(jpeg)
    sized(w, h, px)
  }

  private def decodedColor(jpeg: Array[Byte]): Array[Byte] = {
    val (w, h, px) = Jpeg.decodeColor(jpeg)
    sized(w, h, px)
  }

  val cases: Seq[(String, () => Array[Byte])] = {
    val prog = Jpeg.encodeGrayProgressive(gray, W)
    val progBands = Jpeg.encodeGrayProgressive(gray, W, Jpeg.StdQuant,
      Seq((1, 5), (6, 63)))
    val color = Jpeg.encodeYcbcr420(gray, cb, cr, W, H)
    val colorRst = Jpeg.encodeYcbcr420(gray, cb, cr, W, H, restartEvery = 2)
    val colorProg = Jpeg.encodeYcbcr420Progressive(gray, cb, cr, W, H)
    val mjpeg = Multimodal.aviEncodeMjpeg(mjpegFrames, 16, 16)
    val dib = Multimodal.aviEncode(Seq(gray, gray.reverse), W, H)
    val png = Multimodal.pngEncode(gray, W)
    grayJpegs.flatMap { case (n, j) =>
      Seq(s"encode_$n" -> (() => j), s"decode_$n" -> (() => decodedGray(j)))
    } ++ Seq(
      "encode_gray_prog" -> (() => prog),
      "decode_gray_prog" -> (() => decodedGray(prog)),
      "encode_gray_prog_bands" -> (() => progBands),
      "decode_gray_prog_bands" -> (() => decodedGray(progBands)),
      "encode_ycbcr420" -> (() => color),
      "decode_ycbcr420" -> (() => decodedColor(color)),
      "encode_ycbcr420_rst2" -> (() => colorRst),
      "decode_ycbcr420_rst2" -> (() => decodedColor(colorRst)),
      "encode_ycbcr420_prog" -> (() => colorProg),
      "decode_ycbcr420_prog" -> (() => decodedColor(colorProg)),
      "jpeg_decoder_floats" -> (() => floats(Multimodal.jpegDecoder(grayJpegs.head._2))),
      "mjpeg_frames" -> (() => mjpegFrames.toArray.flatten),
      "encode_avi_mjpeg" -> (() => mjpeg),
      "sample_avi_mjpeg_every1" -> (() => floats(Multimodal.aviFrameSampler(1)(mjpeg))),
      "sample_avi_mjpeg_every2" -> (() => floats(Multimodal.aviFrameSampler(2)(mjpeg))),
      "encode_avi_dib" -> (() => dib),
      "sample_avi_dib_every1" -> (() => floats(Multimodal.aviFrameSampler(1)(dib))),
      "encode_png" -> (() => png),
      "decode_png" -> (() => floats(Multimodal.pngDecoder(png))))
  }

  val Expected: Map[String, String] = Map(
    "encode_gray_std_rst0" -> "28b0598b9c8a66090792b3120b45ee7c",
    "decode_gray_std_rst0" -> "43d514dc3703e5b3339879d503713164",
    "encode_gray_std_rst3" -> "10a003837dfe6679d2814b46c983544b",
    "decode_gray_std_rst3" -> "43d514dc3703e5b3339879d503713164",
    "encode_gray_exact_rst0" -> "725956e169a7a7dc48d9679ce805a087",
    "decode_gray_exact_rst0" -> "37e87ab55bc09e68729172260aa1dc96",
    "encode_gray_exact_rst3" -> "4641bb0e44946e16b163a8a266bd043e",
    "decode_gray_exact_rst3" -> "37e87ab55bc09e68729172260aa1dc96",
    "encode_gray_unit_rst0" -> "5abdf1116d09a1f11c63e8f6f0c5fd34",
    "decode_gray_unit_rst0" -> "ddf919dde25c0945212400710cee3f6b",
    "encode_gray_unit_rst3" -> "23a043c832d1a847775a7c591e14a776",
    "decode_gray_unit_rst3" -> "ddf919dde25c0945212400710cee3f6b",
    "encode_gray_prog" -> "08df93f4630fe6b7a477eccb5e174e78",
    "decode_gray_prog" -> "43d514dc3703e5b3339879d503713164",
    "encode_gray_prog_bands" -> "c32cd6b5cfc82356d8e36dc3aab33b57",
    "decode_gray_prog_bands" -> "43d514dc3703e5b3339879d503713164",
    "encode_ycbcr420" -> "1fffff5ed37d2b755dc5b0fb1ba76eb2",
    "decode_ycbcr420" -> "51edb39e0b1acfe4d9a55b847e13c14e",
    "encode_ycbcr420_rst2" -> "b86e0850bd8a6c291de49fc64bdbfcc9",
    "decode_ycbcr420_rst2" -> "51edb39e0b1acfe4d9a55b847e13c14e",
    "encode_ycbcr420_prog" -> "d4aece3236eee8a10dfa9d1daea64db9",
    "decode_ycbcr420_prog" -> "51edb39e0b1acfe4d9a55b847e13c14e",
    "jpeg_decoder_floats" -> "0c3130be5bbf3a51c263e5c8c23a5ab4",
    "mjpeg_frames" -> "06453b2db9523f379327c1d0980ef477",
    "encode_avi_mjpeg" -> "701cc86edea41be9f4ff06caca07769e",
    "sample_avi_mjpeg_every1" -> "1a38c71515f553ce231308d4d89d853b",
    "sample_avi_mjpeg_every2" -> "f0b4a9389a2e3c830c6bdba1f59fa101",
    "encode_avi_dib" -> "28342e6263b068580167e623b469a83c",
    "sample_avi_dib_every1" -> "393cd829b5014e362534805fffc0857f",
    "encode_png" -> "06a81b3b8821fd05d3df5435f6ed0c7f",
    "decode_png" -> "16b183096b46a595c84334b74d6955d2")
}
