package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{NormText, PiiMask, PolyHash, QualityKeep}
import graft.operators.{Jpeg, Multimodal}

/** Single-thread throughput of the pure-JVM kernels, with no Spark
  * session.
  *
  * Codecs: JPEG gray encode and decode (the 16×16 frames the
  * `mm_video_mjpeg` rows encode, and a 256×256 mixed raster), the
  * AVI-MJPEG round trip the media stage runs per document, and PNG
  * encode and decode.
  *
  * Text: the curation projection's `norm_text`, `quality_keep` and
  * `pii_mask` kernels and `poly_hash`, each on a clean corpus
  * (fixture-like lowercase ASCII words) and a dirty one
  * ([[textCorpus]]'s fuzz mix: case, punctuation, tabs and newlines,
  * space runs, non-ASCII rows, PII in about 30% of rows). Next to each
  * kernel the chain of built-ins it replaced is run on the same inputs
  * (as a codegen'd Catalyst projection; for `poly_hash`, the fold over
  * the decoded string); the two md5s must agree.
  *
  * Inputs are seeded, so two builds measure the same work and their
  * output digests must agree.
  *
  * {{{
  * sbt "runMain graft.KernelBench [seconds per window, default 1] [seed, default 1]"
  * }}}
  *
  * Each kernel loops over its inputs for one warm-up window, then three
  * timed windows; the median window is reported. Prints one JSON line:
  * per codec kernel, frames (codec calls' images) per second, raster
  * MB/s (1 MB = 10^6 pixel bytes in or out), and the md5 of one pass's
  * outputs; per text kernel and corpus, documents per second, text MB/s
  * (10^6 input bytes) and the md5, the same three for the chain, and
  * whether the two md5s match. */
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

  /** A seeded text corpus of `n` documents (UTF-8 bytes). Clean:
    * fixture-like single-space-separated lowercase ASCII words. Dirty:
    * mixed case, punctuation, tabs and newlines, runs of spaces, leading
    * and trailing spaces, short digit groups, non-ASCII words in about
    * 5% of rows, and a planted email, SSN, phone or long number in about
    * 30%. */
  private[graft] def textCorpus(seed: Long, n: Int, dirty: Boolean): IndexedSeq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    val words = IndexedSeq("the", "a", "of", "is", "and", "data", "model",
      "corpus", "spark", "query", "index", "vector", "shard", "token", "page",
      "scale", "join", "filter", "cluster", "stream", "batch", "record")
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))
    def digits(k: Int): String = Seq.fill(k)(rnd.nextInt(10)).mkString
    val nonAscii = IndexedSeq("café", "naïve", "İstanbul", "\u212Aelvin",
      "straße", "日本語", "\uD83D\uDE00", "ÅNGSTRÖM")
    val punct = IndexedSeq(",", ".", "!", "?", ";", ":", "'s", "-x", "(", ")", "\"")
    val seps = IndexedSeq(" ", " ", " ", " ", " ", " ", "  ", "   ", "\t", "\n", " \t ")
    val pii = IndexedSeq(
      () => s"user${digits(3)}@example.com",
      () => s"${digits(3)}-${digits(2)}-${digits(4)}",
      () => s"(${digits(3)}) ${digits(3)}-${digits(4)}",
      () => s"${digits(3)}.${digits(3)}.${digits(4)}",
      () => digits(8 + rnd.nextInt(6)))
    IndexedSeq.fill(n) {
      val len = if (dirty) rnd.nextInt(60) else 40 + rnd.nextInt(80)
      val toks = IndexedSeq.fill(len) {
        val w = pick(words)
        if (!dirty) w
        else rnd.nextInt(20) match {
          case 0 => w.toUpperCase
          case 1 => w.capitalize
          case 2 | 3 => w + pick(punct)
          case 4 => digits(1 + rnd.nextInt(4))
          case _ => w
        }
      }
      val planted =
        if (!dirty) toks
        else {
          val withPii =
            if (rnd.nextInt(10) < 3) toks.patch(rnd.nextInt(len + 1), Seq(pick(pii)()), 0)
            else toks
          if (rnd.nextInt(20) == 0)
            withPii.patch(rnd.nextInt(withPii.length + 1), Seq(pick(nonAscii)), 0)
          else withPii
        }
      val body =
        if (!dirty) planted.mkString(" ")
        else planted.map(_ + pick(seps)).mkString.dropRight(rnd.nextInt(2))
      val text = if (dirty && rnd.nextInt(8) == 0) "  " + body else body
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  /** The one string input of the text kernels' projections. */
  private val text = BoundReference(0, StringType, nullable = true)

  /** The chain of built-ins each curation kernel replaced, as resolved
    * Catalyst expressions over [[text]]. */
  private object Chains {
    private def lit(v: Any): Literal = Literal(v)
    private def replace(e: Expression, re: String, rep: String): Expression =
      new RegExpReplace(e, lit(re), lit(rep))
    private def dbl(e: Expression): Expression = Cast(e, DoubleType)

    val normText: Expression = StringTrim(
      replace(replace(Lower(text), "[^a-z0-9 ]", ""), "  +", " "))

    val piiMask: Expression = PiiMask.Patterns.foldLeft(text: Expression) {
      case (e, (re, rep)) => replace(e, re, rep)
    }

    val qualityKeep: Expression = {
      val toks = StringSplit(text, lit(" "), lit(-1))
      val nTok = new Size(toks)
      val meanWordLen = Divide(dbl(Length(replace(text, " ", ""))), dbl(nTok))
      val symbolRatio = Divide(
        dbl(Subtract(Length(text), Length(replace(text, "[^a-zA-Z0-9 ]", "")))),
        dbl(Length(text)))
      val w = NamedLambdaVariable("w", StringType, nullable = true)
      val isStop = QualityKeep.Stopwords.map(s => EqualTo(w, lit(s)): Expression)
        .reduce(Or(_, _))
      val nStop = new Size(ArrayFilter(toks, LambdaFunction(isStop, Seq(w))))
      And(And(And(
        And(GreaterThanOrEqual(nTok, lit(5)), LessThanOrEqual(nTok, lit(10000))),
        And(GreaterThanOrEqual(meanWordLen, lit(2.0)),
          LessThanOrEqual(meanWordLen, lit(12.0)))),
        LessThanOrEqual(symbolRatio, lit(0.2))),
        GreaterThanOrEqual(nStop, lit(1)))
    }
  }

  /** One expression over a string input, as a codegen'd projection. */
  private def projected(e: Expression): UTF8String => Array[Byte] = {
    val proj = UnsafeProjection.create(Seq(e))
    val row = new GenericInternalRow(1)
    val out: InternalRow => Array[Byte] = e.dataType match {
      case StringType => r => r.getUTF8String(0).getBytes
      case BooleanType => r => Array[Byte](if (r.getBoolean(0)) 1 else 0)
    }
    s => { row.update(0, s); out(proj(row)) }
  }

  private def longBytes(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(v).array()

  /** (name, kernel, the replaced chain) per text kernel. */
  private def textKernels: Seq[(String, UTF8String => Array[Byte], UTF8String => Array[Byte])] =
    Seq(
      ("norm_text", projected(NormText(text)), projected(Chains.normText)),
      ("quality_keep", projected(QualityKeep(text)), projected(Chains.qualityKeep)),
      ("pii_mask", projected(PiiMask(text)), projected(Chains.piiMask)),
      ("poly_hash", s => longBytes(PolyHash.compute(s)),
        s => longBytes(PolyHash.computeDecoded(s, 31))))

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

  /** The md5 of one pass's outputs, then the median of three timed
    * windows (calls per second) after a warm-up window. */
  private def measure(k: Kernel, seconds: Double): (String, Double) = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    k.inputs.foreach(in => md5.update(k.run(in)))
    window(k, seconds)
    val callsPerS = Seq.fill(3)(window(k, seconds)).sorted.apply(1)
    (md5.digest().map(b => f"${b & 0xff}%02x").mkString, callsPerS)
  }

  def main(args: Array[String]): Unit = {
    val seconds = args.headOption.map(_.toDouble).getOrElse(1.0)
    val seed = args.lift(1).map(_.toLong).getOrElse(1L)
    val codecRows = kernels(seed).map { k =>
      val (digest, callsPerS) = measure(k, seconds)
      f""""${k.name}":{"frames_per_s":${callsPerS * k.framesPerInput}%.1f,""" +
        f""""px_mb_per_s":${callsPerS * k.pxPerInput / 1e6}%.3f,"md5":"$digest"}"""
    }
    val corpora = Seq(
      "clean" -> textCorpus(seed, 2000, dirty = false),
      "dirty" -> textCorpus(seed, 2000, dirty = true))
    val textRows = for {
      (corpus, docs) <- corpora
      (name, kernel, chain) <- textKernels
    } yield {
      val bytesPerDoc = docs.map(_.length.toLong).sum.toDouble / docs.length
      def stats(label: String, f: UTF8String => Array[Byte]): (String, String) = {
        val (digest, docsPerS) = measure(
          Kernel(name, docs, 1, 0, d => f(UTF8String.fromBytes(d))), seconds)
        (digest, f""""${label}docs_per_s":$docsPerS%.1f,""" +
          f""""${label}mb_per_s":${docsPerS * bytesPerDoc / 1e6}%.3f,""" +
          s""""${label}md5":"$digest"""")
      }
      val (kd, ks) = stats("", kernel)
      val (cd, cs) = stats("chain_", chain)
      s""""${name}_$corpus":{$ks,$cs,"md5_match":${kd == cd}}"""
    }
    println(s"""{"metric":"kernel_bench","seconds":$seconds,"seed":$seed,""" +
      s""""threads":1,"kernels":{${(codecRows ++ textRows).mkString(",")}}}""")
  }
}
