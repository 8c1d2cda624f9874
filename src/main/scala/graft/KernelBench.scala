package graft

import graft.operators.{Jpeg, Multimodal}

/** Single-thread throughput of the pure-JVM codec kernels, with no
  * Spark session: JPEG gray encode and decode (the 16×16 frames the
  * `mm_video_mjpeg` rows encode, and a 256×256 mixed raster), the
  * AVI-MJPEG round trip the media stage runs per document, and PNG
  * encode and decode. Inputs are seeded, so two builds measure the same
  * work and their output digests must agree.
  *
  * {{{
  * sbt "runMain graft.KernelBench [seconds per window, default 1] [seed, default 1]"
  * }}}
  *
  * Each kernel loops over its inputs for one warm-up window, then three
  * timed windows; the median window is reported. Prints one JSON line:
  * per kernel, frames (codec calls' images) per second, raster MB/s
  * (1 MB = 10^6 pixel bytes in or out), and the md5 of one pass's
  * outputs. */
object KernelBench {

  private final case class Kernel(name: String, inputs: IndexedSeq[Array[Byte]],
      framesPerInput: Int, pxPerInput: Int, run: Array[Byte] => Array[Byte])

  private def floatBytes(a: Array[Float]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * a.length)
    bb.asFloatBuffer().put(a)
    bb.array()
  }

  private def kernels(seed: Long): Seq[Kernel] = {
    val rnd = new scala.util.Random(seed)
    def bytes(n: Int, lo: Int, hi: Int): Array[Byte] =
      Array.fill(n)((lo + rnd.nextInt(hi - lo)).toByte)
    // text-like raster values, as `pngPixels` derives them from documents
    val docs = IndexedSeq.fill(16)(bytes(300, 32, 127))
    val frames = docs.flatMap(Multimodal.mjpegFrames)
    val frameJpegs = frames.map(Jpeg.encodeGray(_, 16, Jpeg.ExactQuant))
    val rasters = IndexedSeq.fill(4) {
      // half flat 8×8 cells, half noise: both decode paths
      val cells = bytes(32 * 32, 0, 256)
      val noise = bytes(256 * 256, 0, 256)
      Array.tabulate(256 * 256) { i =>
        val c = (i / 256 / 8) * 32 + (i % 256) / 8
        if (c % 2 == 0) cells(c) else noise(i)
      }
    }
    val rasterJpegs = rasters.map(Jpeg.encodeGray(_, 256))
    val avis = docs.map(d => Multimodal.aviEncodeMjpeg(Multimodal.mjpegFrames(d), 16, 16))
    val pngRasters = docs.map(d => d ++ d ++ d ++ d) // 16×75
    val pngs = pngRasters.map(Multimodal.pngEncode(_, 16))
    Seq(
      Kernel("jpeg_encode_frame16", frames, 1, 256,
        Jpeg.encodeGray(_, 16, Jpeg.ExactQuant)),
      Kernel("jpeg_decode_frame16", frameJpegs, 1, 256, Jpeg.decodeGray(_)._3),
      Kernel("jpeg_encode_raster256", rasters, 1, 256 * 256,
        Jpeg.encodeGray(_, 256)),
      Kernel("jpeg_decode_raster256", rasterJpegs, 1, 256 * 256,
        Jpeg.decodeGray(_)._3),
      Kernel("avi_mjpeg_roundtrip", docs, 75, 75 * 256, d =>
        floatBytes(Multimodal.aviFrameSampler(2)(
          Multimodal.aviEncodeMjpeg(Multimodal.mjpegFrames(d), 16, 16)))),
      Kernel("avi_mjpeg_sample", avis, 38, 38 * 256, a =>
        floatBytes(Multimodal.aviFrameSampler(2)(a))),
      Kernel("png_encode", pngRasters, 1, 1200, Multimodal.pngEncode(_, 16)),
      Kernel("png_decode", pngs, 1, 1200, p => floatBytes(Multimodal.pngDecoder(p))))
  }

  // the output sizes land here, so the JIT cannot drop a codec call
  @volatile private var sink = 0L

  /** Calls per second over one window of at least `seconds`. */
  private def window(k: Kernel, seconds: Double): Double = {
    val t0 = System.nanoTime()
    val until = t0 + (seconds * 1e9).toLong
    var calls = 0L
    var acc = 0L
    var now = t0
    while (now < until) {
      var i = 0
      while (i < k.inputs.length) { acc += k.run(k.inputs(i)).length; i += 1 }
      calls += k.inputs.length
      now = System.nanoTime()
    }
    sink += acc
    calls / ((now - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val seconds = args.headOption.map(_.toDouble).getOrElse(1.0)
    val seed = args.lift(1).map(_.toLong).getOrElse(1L)
    val rows = kernels(seed).map { k =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
      k.inputs.foreach(in => md5.update(k.run(in)))
      window(k, seconds)
      val callsPerS = Seq.fill(3)(window(k, seconds)).sorted.apply(1)
      val digest = md5.digest().map(b => f"${b & 0xff}%02x").mkString
      f""""${k.name}":{"frames_per_s":${callsPerS * k.framesPerInput}%.1f,""" +
        f""""px_mb_per_s":${callsPerS * k.pxPerInput / 1e6}%.3f,"md5":"$digest"}"""
    }
    println(s"""{"metric":"kernel_bench","seconds":$seconds,"seed":$seed,""" +
      s""""threads":1,"kernels":{${rows.mkString(",")}}}""")
  }
}
