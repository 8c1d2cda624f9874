package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Multimodal-column plumbing: media (image/audio/video) modeled as opaque
  * `binary` payloads with typed metadata, plus the four pipeline stages a
  * training-data pipeline needs over them — decode, feature-extract,
  * resize, frame-sample (SURVEY §2.4 extension surface).
  *
  * Seven REAL pure-JVM decoders run through the `mapPartitions` batch
  * plumbing ([[decodeMedia]]): WAV/PCM audio ([[wavPcmDecoder]]), 24bpp
  * BMP ([[bmpDecoder]]), compressed PNG ([[pngDecoder]] — zlib inflate
  * via `java.util.zip.Inflater` + all five scanline filters, grayscale
  * and truecolor, CRC-checked), compressed GIF ([[gifDecoder]] — a full
  * LZW decompressor with variable code widths, clear/EOI and the KwKwK
  * case, palette mapping), compressed JPEG ([[jpegDecoder]] — a full
  * decoder in [[Jpeg]]: canonical Huffman reconstruction, entropy
  * decode with byte unstuffing and restart markers, dequantize,
  * separable IDCT; baseline AND progressive scan scripts, grayscale
  * and YCbCr color), RIFF/AVI uncompressed-video frame sampling, and
  * MJPEG compressed-video frame sampling (both [[aviFrameSampler]] —
  * container walk + every-Nth-frame DIB or JPEG decode). Every mm query
  * is oracle-gated end to end over REAL codec output: payloads are
  * synthesized from the corpus text with real encoders ([[pngEncode]] —
  * deflate, filters cycled per row, multi-IDAT; [[gifEncode]] — real
  * LZW with table growth and reset; [[Jpeg.encodeGray]] — FDCT +
  * quantization + Annex K Huffman coding;
  * [[aviEncode]]/[[aviEncodeMjpeg]]), so DuckDB replays the decoded
  * pixels from the text directly — any decode defect breaks the hash.
  *
  * The four pipeline-stage queries consume the real codecs too:
  * `mm_metadata` parses container headers via [[mediaMetadata]] without
  * touching pixel data, `mm_features` histograms PNG-decoded pixels,
  * `mm_frame_sample` samples real AVI frames, `mm_resize`
  * nearest-neighbor-resamples the PNG-decoded raster. Each runs its
  * whole encode→decode→feature pass inside the partition iterator —
  * one JVM loop, codegen-independent, no interpreted expression HOFs.
  *
  * Scale: every stage is a single-pass narrow projection over the scan —
  * no shuffle, embarrassingly parallel across splits; payload bytes never
  * leave their partition. A real decoder runs inside [[decodeMedia]]'s
  * partition iterator, amortizing per-batch setup exactly where
  * vectorized UDF batches would.
  */
object Multimodal {

  /** Shared pixel-derivation CTEs: codepoint % 256, space-padded to a
    * full 16-wide raster — what [[pngPixels]] computes in the JVM.
    * (Declared ahead of the oracle strings below that interpolate it —
    * object vals initialize in declaration order.) */
  private val pixelCtes: String =
    """w AS (SELECT doc_id,
      |             list_transform(
      |               list_filter(string_split(text, ''), c -> len(c) = 1),
      |               c -> ord(c) % 256) AS px0
      |      FROM documents),
      |p AS (SELECT doc_id, px0,
      |             greatest(16, CAST(ceil(len(px0) / 16.0) AS INT) * 16) AS n
      |      FROM w)""".stripMargin

  /** Karp–Rabin fold (base 31, mod 1e9+7) over gray levels — the one
    * fingerprint every mm query and every DuckDB oracle shares. */
  private def krFold(acc: Long, grayLevel: Int): Long =
    (acc * 31L + grayLevel) % 1000000007L

  /** Unit-float luma back to its 0–255 gray level (the synthesized byte
    * for an exact decode — every codec here is lossless on its fixtures). */
  private def grayLevel(f: Float): Int = math.round(f * 255f)

  /** Header-only container probe: sniffs the magic bytes and parses
    * `(format, width, height, n_frames)` from the container header WITHOUT
    * decoding any pixel/sample data — the metadata pass a 100 TB media
    * crawl runs first (cheap, scan-side) to route payloads to per-format
    * decode stages. Understands the six container families the decoders
    * above handle: PNG (IHDR), GIF (logical screen descriptor), BMP
    * (BITMAPINFOHEADER), raw JPEG (SOI → SOFn marker walk — the web's
    * DOMINANT image format; `jpeg` for sequential frames, `jpeg_prog`
    * for progressive SOF2, so the router can steer the two memory
    * profiles apart), RIFF/AVI (avih main header: dwTotalFrames,
    * dwWidth, dwHeight) and RIFF/WAVE (fmt + data chunks: width = samples
    * per channel, height = channel count). Hostile lengths are walked in
    * Long arithmetic with the same bounds discipline as the decoders. */
  def mediaMetadata(payload: Array[Byte]): (String, Int, Int, Int) = {
    def u16(i: Int): Int =
      (payload(i) & 0xff) | ((payload(i + 1) & 0xff) << 8)
    def u32(i: Int): Long =
      (u16(i).toLong | (u16(i + 2).toLong << 16)) & 0xffffffffL
    def be32(i: Int): Int =
      ((payload(i) & 0xff) << 24) | ((payload(i + 1) & 0xff) << 16) |
        ((payload(i + 2) & 0xff) << 8) | (payload(i + 3) & 0xff)
    def tag(i: Int): String = new String(payload, i, 4,
      java.nio.charset.StandardCharsets.US_ASCII)
    def checkDims(w: Int, h: Int): Unit =
      require(w >= 1 && h >= 1 && w < (1 << 16) && h < (1 << 16),
        s"implausible dimensions ${w}x$h")
    if (payload.length >= 33 &&
      (0 until 8).forall(i => payload(i) == PngSignature(i))) {
      require(tag(12) == "IHDR", "PNG missing leading IHDR")
      val w = be32(16); val h = be32(20)
      checkDims(w, h)
      ("png", w, h, 1)
    } else if (payload.length >= 13 &&
      (tag(0).startsWith("GIF") &&
        (new String(payload, 0, 6, java.nio.charset.StandardCharsets.US_ASCII) == "GIF87a" ||
         new String(payload, 0, 6, java.nio.charset.StandardCharsets.US_ASCII) == "GIF89a"))) {
      val w = u16(6); val h = u16(8)
      checkDims(w, h)
      ("gif", w, h, 1)
    } else if (payload.length >= 54 &&
      payload(0) == 'B'.toByte && payload(1) == 'M'.toByte) {
      val w = u32(18).toInt // LE i32
      val hRaw = u32(22).toInt
      val h = math.abs(hRaw)
      checkDims(w, h)
      ("bmp", w, h, 1)
    } else if (payload.length >= 4 && (payload(0) & 0xff) == 0xff &&
      (payload(1) & 0xff) == 0xd8) {
      // raw JPEG: walk SOI → SOFn for (height, width, components); the
      // walk skips length-prefixed segments and never touches
      // entropy-coded data. All true SOFn codes are parsed (a metadata
      // router reports dimensions even for frames the decode stage
      // would reject); C4/C8/CC are DHT/JPG/DAC, not frame headers.
      def u16be(i: Int): Int =
        ((payload(i) & 0xff) << 8) | (payload(i + 1) & 0xff)
      var pos = 2
      var res: (String, Int, Int, Int) = null
      while (res == null) {
        require(pos + 2 <= payload.length, "JPEG truncated before SOF")
        require((payload(pos) & 0xff) == 0xff, "JPEG marker desync")
        var m = payload(pos + 1) & 0xff
        // any number of 0xff fill bytes may precede a marker code
        while (m == 0xff) {
          pos += 1
          require(pos + 2 <= payload.length, "JPEG truncated in fill bytes")
          m = payload(pos + 1) & 0xff
        }
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          require(pos + 10 <= payload.length, "truncated SOF header")
          val h = u16be(pos + 5); val w = u16be(pos + 7)
          val comps = payload(pos + 9) & 0xff
          checkDims(w, h)
          require(comps >= 1 && comps <= 4, s"implausible component count $comps")
          res = (if (m == 0xc2) "jpeg_prog" else "jpeg", w, h, 1)
        } else if (m == 0xd9 || m == 0xda) {
          throw new IllegalArgumentException("JPEG EOI/SOS before SOF")
        } else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
          pos += 2 // standalone TEM/RSTn: no length field
        } else {
          require(pos + 4 <= payload.length, "truncated JPEG segment")
          val len = u16be(pos + 2)
          require(len >= 2, "invalid JPEG segment length")
          pos += 2 + len
        }
      }
      res
    } else if (payload.length >= 12 && tag(0) == "RIFF" && tag(8) == "AVI ") {
      var pos = 12
      var res: (String, Int, Int, Int) = null
      while (pos + 8 <= payload.length && res == null) {
        val len = u32(pos + 4)
        if (tag(pos) == "LIST" && len >= 4 &&
          pos + 12 <= payload.length && tag(pos + 8) == "hdrl") {
          val ap = pos + 12 // the avih main header leads the hdrl list
          require(ap + 8 <= payload.length && tag(ap) == "avih",
            "hdrl list does not start with avih")
          require(u32(ap + 4) >= 40 && ap + 48 <= payload.length,
            "truncated avih chunk")
          val frames = u32(ap + 8 + 16).toInt
          val w = u32(ap + 8 + 32).toInt
          val h = u32(ap + 8 + 36).toInt
          checkDims(w, h)
          require(frames >= 0, "negative frame count")
          res = ("avi", w, h, frames)
        }
        val next = pos.toLong + 8L + len + (len & 1L)
        pos = math.min(next, payload.length.toLong).toInt
      }
      require(res != null, "AVI without an hdrl header list")
      res
    } else if (payload.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE") {
      var pos = 12
      var channels = -1
      var dataLen = -1L
      while (pos + 8 <= payload.length && (channels < 0 || dataLen < 0)) {
        val id = tag(pos)
        val len = u32(pos + 4)
        if (id == "fmt ") {
          require(len >= 16 && pos + 24 <= payload.length, "truncated fmt chunk")
          channels = u16(pos + 10)
          require(channels >= 1, "zero channels")
        } else if (id == "data") {
          dataLen = math.min(len, (payload.length - pos - 8).toLong)
        }
        val next = pos.toLong + 8L + len + (len & 1L)
        pos = math.min(next, payload.length.toLong).toInt
      }
      require(channels >= 1 && dataLen >= 0, "missing fmt/data chunk")
      ("wav", (dataLen / 2 / channels).toInt, channels, 1)
    } else throw new IllegalArgumentException(
      "unrecognized container (png/gif/bmp/jpeg/avi/wav supported)")
  }

  /** `mm_metadata`: REAL container-header metadata extraction — each
    * document's raster is packaged into a real container (format cycled
    * by `doc_id % 6`: compressed PNG, LZW GIF, a multi-frame DIB AVI,
    * a raw BASELINE grayscale JPEG, a raw PROGRESSIVE 4:2:0 color
    * JPEG — raw JPEG being the single most common image format in a
    * real crawl — or a RIFF/WAVE PCM clip, so the routing pass covers
    * the audio modality too) and [[mediaMetadata]] parses
    * format/dimensions/frame-count back from the container bytes alone,
    * never touching pixel/entropy data. Scan-side narrow map, no
    * shuffle. The DuckDB oracle replays the dimensions from the text
    * length (the raster is 16 wide for images, 4×4-frame video for
    * AVI), so a header mis-parse on any row breaks the match. */
  def metadata(spark: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val px = pngPixels(text)
        val payload = (id % 6) match {
          case 0 => pngEncode(px, PngWidth)
          case 1 => gifEncode(px, PngWidth)
          case 2 => aviEncode(px.grouped(FrameW * FrameH).toSeq, FrameW, FrameH)
          case 3 => Jpeg.encodeGray(px, PngWidth)
          case 5 =>
            // audio: the same int16 synthesis the audio feature head
            // ([[audioFeatures]]) decodes — mono, so width = samples
            val samples = new Array[Short](px.length)
            var i = 0
            while (i < px.length) {
              samples(i) = (((px(i) & 0xff) - 128) * 256).toShort
              i += 1
            }
            wavEncode(samples)
          case _ =>
            // progressive color on the raw raster: chroma planes take
            // each 2×2 raster group's top-left/top-right values (the
            // metadata pass reads only the SOF2 header, so the plane
            // CONTENT just has to satisfy the encoder's contract)
            val h = px.length / PngWidth
            val cw = PngWidth / 2
            val ch = (h + 1) / 2
            val cbP = new Array[Byte](cw * ch)
            val crP = new Array[Byte](cw * ch)
            var cy = 0
            while (cy < ch) {
              val sr = math.min(cy * 2, h - 1) * PngWidth
              var cx = 0
              while (cx < cw) {
                cbP(cy * cw + cx) = px(sr + cx * 2)
                crP(cy * cw + cx) = px(sr + cx * 2 + 1)
                cx += 1
              }
              cy += 1
            }
            Jpeg.encodeYcbcr420Progressive(px, cbP, crP, PngWidth, h)
        }
        val (format, w, h, frames) = mediaMetadata(payload)
        (id, format, w.toLong, h.toLong, frames.toLong)
      }(enc)
      .toDF("doc_id", "format", "width", "height", "n_frames")
  }

  val metadataOracle: String =
    s"""WITH $pixelCtes
       |SELECT doc_id,
       |       CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
       |            WHEN 2 THEN 'avi' WHEN 3 THEN 'jpeg'
       |            WHEN 4 THEN 'jpeg_prog' ELSE 'wav' END AS format,
       |       CAST(CASE doc_id % 6 WHEN 2 THEN 4 WHEN 5 THEN n
       |            ELSE 16 END AS BIGINT) AS width,
       |       CAST(CASE doc_id % 6 WHEN 2 THEN 4 WHEN 5 THEN 1
       |            ELSE n // 16 END AS BIGINT) AS height,
       |       CAST(CASE WHEN doc_id % 6 = 2 THEN n // 16 ELSE 1 END AS BIGINT) AS n_frames
       |FROM p ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** `mm_features`: 16-bin histogram over REAL PNG-decoded pixels — the
    * color-histogram feature head of an image pipeline, computed from an
    * actual compressed payload: encode the document raster as a real PNG
    * (deflate, cycled filters, multi-IDAT), decode it back with
    * [[pngDecoder]], histogram the decoded gray levels mod 16. The whole
    * encode→decode→histogram runs inside the partition iterator — one
    * JVM pass, no shuffle, payload bytes never leave their split. Any
    * filter/inflate defect moves a pixel between bins and breaks the
    * oracle match. */
  def features(spark: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(
      StructField("doc_id", LongType, nullable = false) +:
        (0 until 16).map(b => StructField(s"h$b", LongType, nullable = false)))
    val rowEnc = Encoders.row(outSchema)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val gray = pngDecoder(pngEncode(pngPixels(text), PngWidth))
        val bins = new Array[Long](16)
        var i = 0
        while (i < gray.length) {
          bins(grayLevel(gray(i)) % 16) += 1L
          i += 1
        }
        Row.fromSeq(id +: bins.toSeq)
      }(rowEnc).toDF()
  }

  val featuresOracle: String = {
    val bins = (0 until 16).map(b =>
      s"CAST(len(list_filter(bins, x -> x = $b)) AS BIGINT) AS h$b")
    s"""WITH $pixelCtes,
       |f AS (SELECT doc_id,
       |             [coalesce(px0[i], 32) % 16 for i in range(1, n + 1)] AS bins
       |      FROM p)
       |SELECT doc_id, ${bins.mkString(",\n       ")}
       |FROM f ORDER BY ${(1 to 17).mkString(", ")}""".stripMargin
  }

  /** `mm_audio_features`: the audio modality's feature head — synthesize
    * a REAL RIFF/WAVE 16-bit PCM payload per document ([[wavEncode]],
    * int16 sample `(codepoint%256 - 128) * 256` per text position),
    * decode it back with [[wavPcmDecoder]], and extract the features an
    * audio curation pass filters on: sample count, peak amplitude,
    * total energy (Σ s²) and zero-crossing count — all integer-exact
    * over the recovered int16 samples (`s = round(f·32768)` is exact
    * because `f = s/32768` is), so DuckDB replays them from the text
    * like the pixel histogram. Encode → decode → features run in one
    * JVM pass inside the partition iterator — scan-side, no shuffle;
    * a sample-order, sign or chunk-walk defect breaks every row. */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val px = pngPixels(text)
        val samples = new Array[Short](px.length)
        var i = 0
        while (i < px.length) {
          samples(i) = (((px(i) & 0xff) - 128) * 256).toShort
          i += 1
        }
        val pcm = wavPcmDecoder(wavEncode(samples))
        var peak = 0L; var energy = 0L; var zc = 0L
        var prevNeg = false
        i = 0
        while (i < pcm.length) {
          val s = math.round(pcm(i) * 32768f).toLong
          if (math.abs(s) > peak) peak = math.abs(s)
          energy += s * s
          val neg = s < 0
          if (i > 0 && neg != prevNeg) zc += 1
          prevNeg = neg
          i += 1
        }
        (id, pcm.length.toLong, peak, energy, zc)
      }(enc)
      .toDF("doc_id", "n_samples", "peak", "energy", "zero_cross")
  }

  val audioFeaturesOracle: String =
    s"""WITH $pixelCtes,
       |a AS (SELECT doc_id, n,
       |             [(coalesce(px0[i], 32) - 128) * 256
       |              for i in range(1, n + 1)] AS s
       |      FROM p)
       |SELECT doc_id,
       |       CAST(n AS BIGINT) AS n_samples,
       |       CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak,
       |       CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS energy,
       |       CAST(list_sum([CASE WHEN (s[i] < 0) != (s[i + 1] < 0)
       |                           THEN 1 ELSE 0 END
       |                      for i in range(1, n)]) AS BIGINT) AS zero_cross
       |FROM a ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** Stride for [[frameSample]] — deliberately different from
    * [[FrameEvery]] so this query and `mm_video_frames` pin different
    * sampling paths. */
  private[operators] val FrameSampleEvery = 4

  /** `mm_frame_sample`: REAL video frame sampling — package the document
    * raster as a real RIFF/AVI (one 4×4 DIB frame per 16 pixels), then
    * keep every 4th frame via [[aviFrameSampler]] (dropped frames are
    * never pixel-decoded — the decode-only-what-you-keep shape a video
    * ingest pipeline needs) and report the kept-frame count plus a
    * Karp–Rabin fingerprint of the sampled pixels. Scan-side, no
    * shuffle. The oracle replays the frame partition + stride in SQL —
    * a wrong frame boundary, row flip or stride breaks the hash. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val px = pngPixels(text)
        val avi = aviEncode(px.grouped(FrameW * FrameH).toSeq, FrameW, FrameH)
        val gray = aviFrameSampler(FrameSampleEvery)(avi)
        var fp = 0L
        var i = 0
        while (i < gray.length) { fp = krFold(fp, grayLevel(gray(i))); i += 1 }
        (id, (gray.length / (FrameW * FrameH)).toLong, fp)
      }(enc)
      .toDF("doc_id", "n_frames", "frame_fp")
  }

  val frameSampleOracle: String =
    s"""WITH $pixelCtes,
       |f AS (SELECT doc_id,
       |             [CAST(coalesce(px0[i], 32) AS BIGINT)
       |              for i in range(1, n + 1)] AS px,
       |             n // 16 AS nf
       |      FROM p),
       |s AS (SELECT doc_id,
       |             flatten([px[(fr - 1) * 16 + 1 : fr * 16]
       |                      for fr in range(1, nf + 1, 4)]) AS spx,
       |             len([fr for fr in range(1, nf + 1, 4)]) AS n_frames
       |      FROM f)
       |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT), spx),
       |                   (a, b) -> (a * 31 + b) % 1000000007) AS frame_fp
       |FROM s ORDER BY 1, 2, 3""".stripMargin

  /** Output side of [[resize]]'s fixed thumbnail. */
  private[operators] val ResizeTo = 8

  /** `mm_resize`: REAL raster resize — decode the document's compressed
    * PNG back to its 16×H raster, nearest-neighbor resample to a fixed
    * 8×8 thumbnail (the embedding-head input shape), fingerprint the 64
    * resized pixels. Decode + resample run in one JVM pass inside the
    * partition iterator; no shuffle. The oracle replays the
    * nearest-neighbor index arithmetic (`sy = ty*H/8`, `sx = tx*2`)
    * against the text-derived raster. */
  def resize(spark: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val gray = pngDecoder(pngEncode(pngPixels(text), PngWidth))
        val h = gray.length / PngWidth
        var fp = 0L
        var ty = 0
        while (ty < ResizeTo) {
          val sy = ty * h / ResizeTo
          var tx = 0
          while (tx < ResizeTo) {
            val sx = tx * PngWidth / ResizeTo
            fp = krFold(fp, grayLevel(gray(sy * PngWidth + sx)))
            tx += 1
          }
          ty += 1
        }
        (id, fp)
      }(enc)
      .toDF("doc_id", "resized_fp")
  }

  val resizeOracle: String =
    s"""WITH $pixelCtes
       |SELECT doc_id,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                     flatten([[CAST(coalesce(
       |                         px0[(ty * (n // 16) // 8) * 16 + tx * 2 + 1],
       |                         32) AS BIGINT)
       |                       for tx in range(0, 8)]
       |                      for ty in range(0, 8)])),
       |                   (a, b) -> (a * 31 + b) % 1000000007) AS resized_fp
       |FROM p ORDER BY 1, 2""".stripMargin

  // --- mapPartitions batch plumbing (where a REAL codec slots in) ----------

  /** One media row as the decoder sees it. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte])

  /** Generic batched decode: any (doc_id, payload) frame through any
    * `Array[Byte] => Array[Float]` codec, one codec init per PARTITION —
    * the Spark-side shape a vectorized decode UDF has. */
  def decodeMedia(source: DataFrame,
      decoder: Array[Byte] => Array[Float]): DataFrame = {
    val enc = Encoders.product[MediaRow]
    val ds: Dataset[MediaRow] =
      source.select(col("doc_id"), col("payload")).as(enc)
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val rowEnc = Encoders.row(outSchema)
    ds.mapPartitions { rows =>
      // per-partition setup would init the codec once, here
      rows.map(r => Row(r.doc_id, decoder(r.payload).toSeq))
    }(rowEnc).toDF()
  }

  /** RIFF/WAVE 16-bit PCM mono encoder — the write side of
    * [[wavPcmDecoder]], used to synthesize real audio payloads from the
    * corpus text (`mm_audio_features`) exactly as [[pngEncode]] does for
    * the image modality. Fixed 8 kHz mono: the features the pipeline
    * extracts are rate-independent, and the decoder reads the sample
    * data regardless of rate. */
  def wavEncode(samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .putInt(36 + dataLen)
      .put("WAVE".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .put("fmt ".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(8000) // sample rate
      .putInt(8000 * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
      .put("data".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .putInt(dataLen)
    var i = 0
    while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
    bb.array()
  }

  /** A REAL decoder with zero external dependencies: RIFF/WAVE 16-bit PCM
    * (the uncompressed audio interchange format) — byte arithmetic only.
    * Parses the chunked RIFF container (fmt: PCM, 16-bit), then decodes
    * little-endian int16 samples to [-1, 1) floats. Interleaved channels
    * come back as-is (channel count is in the fmt chunk). This is the
    * audio modality's actual decode. `MultimodalSpec` decodes
    * synthesized WAV payloads through [[decodeMedia]] and checks samples
    * round-trip exactly. */
  def wavPcmDecoder(payload: Array[Byte]): Array[Float] = {
    def u16(i: Int): Int =
      (payload(i) & 0xff) | ((payload(i + 1) & 0xff) << 8)
    def u32(i: Int): Long =
      (u16(i).toLong | (u16(i + 2).toLong << 16)) & 0xffffffffL
    def tag(i: Int): String =
      new String(payload.slice(i, i + 4), java.nio.charset.StandardCharsets.US_ASCII)
    require(payload.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE",
      "not a RIFF/WAVE payload")
    var pos = 12
    var dataAt = -1
    var dataLen = 0L
    var bits = -1
    while (pos + 8 <= payload.length && (dataAt < 0 || bits < 0)) {
      val id = tag(pos)
      val len = u32(pos + 4)
      if (id == "fmt ") {
        require(len >= 16 && pos + 24 <= payload.length, "truncated fmt chunk")
        require(u16(pos + 8) == 1, "only PCM (format 1) supported")
        bits = u16(pos + 22)
        require(bits == 16, "only 16-bit PCM supported")
      } else if (id == "data") {
        dataAt = pos + 8
        dataLen = len
      }
      // advance in Long: a crafted u32 len near 2^32 would wrap to a
      // negative Int and make the advance 0 — an infinite chunk-walk loop
      val next = pos.toLong + 8L + len + (len & 1L) // chunks 2-byte aligned
      pos = math.min(next, payload.length.toLong).toInt
    }
    require(dataAt >= 0 && bits == 16, "missing fmt/data chunk")
    val n = (math.min(dataLen, payload.length - dataAt) / 2).toInt
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = u16(dataAt + 2 * i).toShort / 32768.0f
      i += 1
    }
    out
  }

  /** A REAL image decoder with zero external dependencies: BMP
    * (BITMAPINFOHEADER, 24-bit uncompressed) — the image modality's
    * uncompressed interchange format, parsed with byte arithmetic only,
    * exactly as [[wavPcmDecoder]] does for audio. Decodes BGR pixel rows
    * (4-byte padded, bottom-up by default, top-down when height < 0) to
    * row-major top-down grayscale floats in [0, 1] via the Rec.601 luma
    * weights — the uncompressed sibling of [[pngDecoder]]/[[gifDecoder]]/
    * [[jpegDecoder]]. `MultimodalSpec` decodes synthesized BMPs through
    * [[decodeMedia]] and checks pixels round-trip exactly. */
  def bmpDecoder(payload: Array[Byte]): Array[Float] = {
    def u16(i: Int): Int =
      (payload(i) & 0xff) | ((payload(i + 1) & 0xff) << 8)
    def i32(i: Int): Int =
      u16(i) | (u16(i + 2) << 16)
    require(payload.length >= 54 &&
      payload(0) == 'B'.toByte && payload(1) == 'M'.toByte,
      "not a BMP payload")
    val dataAt = i32(10)
    require(dataAt >= 54 && dataAt <= payload.length,
      "pixel-data offset outside the payload")
    require(i32(14) >= 40, "BITMAPINFOHEADER required")
    val width = i32(18)
    val heightRaw = i32(22)
    require(u16(26) == 1, "planes must be 1")
    require(u16(28) == 24, "only 24bpp uncompressed supported")
    require(i32(30) == 0, "only BI_RGB (uncompressed) supported")
    val height = math.abs(heightRaw)
    val topDown = heightRaw < 0
    require(width > 0 && height > 0, "degenerate dimensions")
    // Long arithmetic + a dimension ceiling: a hostile header width must
    // surface as this clear error, not an Int overflow that sneaks past
    // the truncation check into a raw ArrayIndexOutOfBounds
    require(width < (1 << 16) && height < (1 << 16),
      s"implausible dimensions ${width}x$height")
    val rowBytes = (((24L * width + 31) / 32) * 4).toInt
    require(dataAt.toLong + rowBytes.toLong * height <= payload.length,
      "truncated pixel data")
    val out = new Array[Float](width * height)
    var y = 0
    while (y < height) {
      val srcRow = if (topDown) y else height - 1 - y
      val base = dataAt + srcRow * rowBytes
      var x = 0
      while (x < width) {
        val b = payload(base + 3 * x) & 0xff
        val g = payload(base + 3 * x + 1) & 0xff
        val r = payload(base + 3 * x + 2) & 0xff
        out(y * width + x) =
          (0.299f * r + 0.587f * g + 0.114f * b) / 255.0f
        x += 1
      }
      y += 1
    }
    out
  }

  // --- PNG: the compressed-image decode path --------------------------------

  private val PngSignature: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Paeth predictor (PNG spec §9, filter type 4): the tie-break order
    * (left, up, up-left) is normative — both codec sides share this. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** A REAL compressed-image ENCODER with zero external dependencies:
    * 8-bit grayscale PNG. Scanlines are filtered with the type cycling
    * `y % 5` — every row of a tall image exercises a different one of
    * the five PNG filters (None/Sub/Up/Average/Paeth) — then deflated
    * with `java.util.zip.Deflater` (real zlib) and emitted as MULTIPLE
    * IDAT chunks (≤512 B each) so the decoder's chunk-reassembly path is
    * always on. Chunk CRCs are real CRC-32s. Used to synthesize the
    * `mm_decode_png` fixtures and by `MultimodalSpec`'s round-trips. */
  def pngEncode(pixels: Array[Byte], width: Int): Array[Byte] = {
    require(width > 0 && pixels.length > 0 && pixels.length % width == 0,
      "pixels must be a positive multiple of width")
    val height = pixels.length / width
    // filter the scanlines: 1 filter-type byte + width filtered bytes each
    val raw = new Array[Byte]((width + 1) * height)
    var y = 0
    while (y < height) {
      val f = y % 5
      raw(y * (width + 1)) = f.toByte
      var x = 0
      while (x < width) {
        val cur = pixels(y * width + x) & 0xff
        val left = if (x > 0) pixels(y * width + x - 1) & 0xff else 0
        val up = if (y > 0) pixels((y - 1) * width + x) & 0xff else 0
        val upLeft = if (x > 0 && y > 0) pixels((y - 1) * width + x - 1) & 0xff else 0
        val filtered = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case 4 => cur - paeth(left, up, upLeft)
        }
        raw(y * (width + 1) + 1 + x) = (filtered & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!deflater.finished()) zbuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSignature)
    def be32(v: Long): Unit = {
      out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
      out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    def chunk(typ: String, data: Array[Byte]): Unit = {
      be32(data.length.toLong)
      val typBytes = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(typBytes)
      out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typBytes); crc.update(data)
      be32(crc.getValue)
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte)  // bit depth
      .put(0.toByte)  // color type: grayscale
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, no interlace
      .array()
    chunk("IHDR", ihdr)
    zbuf.toByteArray.grouped(512).foreach(g => chunk("IDAT", g))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** A REAL compressed-image DECODER with zero external dependencies:
    * PNG, 8-bit grayscale (color type 0) and truecolor RGB (color type
    * 2), non-interlaced. Walks the chunk stream verifying every CRC-32,
    * reassembles multi-IDAT zlib data, inflates with
    * `java.util.zip.Inflater`, reverses all five scanline filters
    * (None/Sub/Up/Average/Paeth), and emits row-major grayscale floats
    * in [0, 1] (RGB via the Rec.601 luma weights, like [[bmpDecoder]]).
    * Size arithmetic is done in Long with a dimension ceiling, so a
    * hostile header fails with a clear message rather than an overflow.
    * Oracle-gated end to end by `mm_decode_png` and round-trip/corrupt-
    * payload gated by `MultimodalSpec`. */
  def pngDecoder(payload: Array[Byte]): Array[Float] = {
    require(payload.length >= 8 &&
      (0 until 8).forall(i => payload(i) == PngSignature(i)),
      "not a PNG payload")
    def be32(i: Int): Long =
      ((payload(i) & 0xffL) << 24) | ((payload(i + 1) & 0xffL) << 16) |
        ((payload(i + 2) & 0xffL) << 8) | (payload(i + 3) & 0xffL)
    var width = -1
    var height = -1
    var bpp = -1
    val idat = new java.io.ByteArrayOutputStream()
    var pos = 8
    var seenIend = false
    while (pos + 8 <= payload.length && !seenIend) {
      val len = be32(pos)
      require(pos + 12 + len <= payload.length, "truncated chunk")
      val typ = new String(payload, pos + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32()
      crc.update(payload, pos + 4, 4 + len.toInt)
      require(crc.getValue == be32(pos + 8 + len.toInt), s"bad CRC in $typ")
      typ match {
        case "IHDR" =>
          require(len == 13, "malformed IHDR")
          width = be32(pos + 8).toInt
          height = be32(pos + 12).toInt
          require(width >= 1 && height >= 1 &&
            width < (1 << 16) && height < (1 << 16),
            s"implausible dimensions ${width}x$height")
          require((payload(pos + 16) & 0xff) == 8, "only bit depth 8 supported")
          bpp = (payload(pos + 17) & 0xff) match {
            case 0 => 1 // grayscale
            case 2 => 3 // truecolor
            case ct => throw new IllegalArgumentException(
              s"unsupported color type $ct (grayscale/truecolor only)")
          }
          require((payload(pos + 18) & 0xff) == 0, "unknown compression method")
          require((payload(pos + 19) & 0xff) == 0, "unknown filter method")
          require((payload(pos + 20) & 0xff) == 0, "interlaced PNG not supported")
        case "IDAT" =>
          require(width > 0, "IDAT before IHDR")
          idat.write(payload, pos + 8, len.toInt)
        case "IEND" => seenIend = true
        case _ => () // ancillary chunks (tEXt, pHYs, ...) are skippable
      }
      pos += 12 + len.toInt
    }
    require(seenIend, "missing IEND")
    require(width > 0 && idat.size() > 0, "missing IHDR/IDAT")
    val stride = width * bpp
    val rawLenL = (stride.toLong + 1L) * height
    require(rawLenL <= (1L << 28), "decoded image too large")
    val rawLen = rawLenL.toInt
    val raw = new Array[Byte](rawLen)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    var off = 0
    while (off < rawLen && !inflater.finished()) {
      val n = inflater.inflate(raw, off, rawLen - off)
      // a zlib header with FDICT set yields n=0, needsInput=false,
      // needsDictionary=true forever — without the dictionary check the
      // loop spins, hanging the task (PNG forbids FDICT; reject it)
      require(!inflater.needsDictionary(), "zlib preset dictionary not allowed in PNG")
      require(n > 0 || !inflater.needsInput(), "truncated zlib stream")
      off += n
    }
    val fullyDrained = inflater.finished() ||
      inflater.inflate(new Array[Byte](1)) == 0
    inflater.end()
    require(off == rawLen && fullyDrained, "inflated size mismatch")
    // reverse the per-scanline filters: recon needs only the previous
    // reconstructed row, so two stride-sized buffers suffice
    val out = new Array[Float](width * height)
    val prevRow = new Array[Byte](stride) // all-zero above row 0, per spec
    val curRow = new Array[Byte](stride)
    var y = 0
    while (y < height) {
      val rowAt = y * (stride + 1)
      val filter = raw(rowAt) & 0xff
      require(filter <= 4, s"unknown filter type $filter")
      var x = 0
      while (x < stride) {
        val cur = raw(rowAt + 1 + x) & 0xff
        val left = if (x >= bpp) curRow(x - bpp) & 0xff else 0
        val up = prevRow(x) & 0xff
        val upLeft = if (x >= bpp) prevRow(x - bpp) & 0xff else 0
        val recon = filter match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + (left + up) / 2
          case 4 => cur + paeth(left, up, upLeft)
        }
        curRow(x) = (recon & 0xff).toByte
        x += 1
      }
      var px = 0
      if (bpp == 1) {
        while (px < width) {
          out(y * width + px) = (curRow(px) & 0xff) / 255.0f
          px += 1
        }
      } else {
        while (px < width) {
          val r = curRow(3 * px) & 0xff
          val g = curRow(3 * px + 1) & 0xff
          val b = curRow(3 * px + 2) & 0xff
          out(y * width + px) =
            (0.299f * r + 0.587f * g + 0.114f * b) / 255.0f
          px += 1
        }
      }
      System.arraycopy(curRow, 0, prevRow, 0, stride)
      y += 1
    }
    out
  }

  // --- GIF: the LZW-compressed image decode path ----------------------------

  /** GIF's LZW: variable-width codes (min+1 up to 12 bits, LSB-first bit
    * packing), clear/EOI codes, code width growing when the NEXT code to
    * assign would overflow the current width, full table → clear+reset.
    * One definition of the width-growth convention shared by both sides
    * (the round-trip spec exercises table growth past 4096 entries). */
  private def lzwEncode(data: Array[Byte], minCodeSize: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L
    var nBits = 0
    var codeSize = minCodeSize + 1
    def putCode(code: Int): Unit = {
      bitBuf |= code.toLong << nBits; nBits += codeSize
      while (nBits >= 8) {
        out.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; nBits -= 8
      }
    }
    var dict = new java.util.HashMap[Long, Integer]()
    var next = eoi + 1
    putCode(clear)
    var w = -1
    var i = 0
    while (i < data.length) {
      val k = data(i) & 0xff
      if (w < 0) w = k
      else {
        val key = (w.toLong << 8) | k
        val e = dict.get(key)
        if (e != null) w = e.intValue()
        else {
          putCode(w)
          if (next < 4096) {
            dict.put(key, next)
            next += 1
            // a code of value 2^codeSize now exists, so subsequent codes
            // need the wider width
            if (next == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          } else { // table full at 12 bits: clear and start over
            putCode(clear)
            dict = new java.util.HashMap[Long, Integer]()
            next = eoi + 1
            codeSize = minCodeSize + 1
          }
          w = k
        }
      }
      i += 1
    }
    if (w >= 0) putCode(w)
    putCode(eoi)
    if (nBits > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  private def lzwDecode(data: Array[Byte], minCodeSize: Int,
      maxPixels: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var codeSize = minCodeSize + 1
    var bitBuf = 0L
    var nBits = 0
    var pos = 0
    def readCode(): Int = {
      while (nBits < codeSize && pos < data.length) {
        bitBuf |= (data(pos) & 0xffL) << nBits; nBits += 8; pos += 1
      }
      if (nBits < codeSize) return eoi // truncated stream ends the image
      val c = (bitBuf & ((1L << codeSize) - 1)).toInt
      bitBuf >>>= codeSize; nBits -= codeSize
      c
    }
    // code table: prefix link + last byte (GIF tables are ≤ 4096 entries)
    val prefix = new Array[Int](4096)
    val last = new Array[Byte](4096)
    var next = eoi + 1
    def emit(code: Int): Byte = { // append code's sequence; return first byte
      if (code < clear) { out.write(code); code.toByte }
      else {
        val head = emit(prefix(code))
        out.write(last(code) & 0xff)
        head
      }
    }
    var prev = -1
    var done = false
    while (!done && out.size() <= maxPixels) {
      val code = readCode()
      if (code == eoi) done = true
      else if (code == clear) {
        next = eoi + 1; codeSize = minCodeSize + 1; prev = -1
      } else if (prev < 0) {
        require(code < clear, "first code after clear must be a literal")
        out.write(code)
        prev = code
      } else {
        require(code <= next, s"corrupt LZW code $code (next=$next)")
        val head =
          if (code < next && (code < clear || code >= eoi + 1)) emit(code)
          else { // code == next: the KwKwK case
            val h = emit(prev)
            out.write(h & 0xff)
            h
          }
        if (next < 4096) {
          prefix(next) = prev; last(next) = head
          next += 1
          // the decoder's table lags the encoder's by one entry (an entry
          // completes only when the NEXT code reveals its first byte), so
          // it widens at 2^codeSize where the encoder widens at +1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    require(out.size() <= maxPixels, "LZW stream decodes past the image size")
    out.toByteArray
  }

  /** A REAL LZW-compressed image ENCODER with zero external dependencies:
    * GIF89a, 8-bit indexed with a 256-entry grayscale palette (entry i =
    * (i, i, i)) — a genuinely different compression family from PNG's
    * deflate. Used to synthesize the `mm_decode_gif` fixtures and by
    * `MultimodalSpec`'s round-trips. */
  def gifEncode(pixels: Array[Byte], width: Int): Array[Byte] = {
    require(width > 0 && pixels.length > 0 && pixels.length % width == 0,
      "pixels must be a positive multiple of width")
    val height = pixels.length / width
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    le16(width); le16(height)
    out.write(0xF7) // global color table, 8-bit resolution, 256 entries
    out.write(0); out.write(0) // background index, aspect
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    out.write(0x2C) // image descriptor
    le16(0); le16(0); le16(width); le16(height)
    out.write(0) // no local table, not interlaced
    out.write(8) // LZW minimum code size
    val lzw = lzwEncode(pixels, 8)
    lzw.grouped(255).foreach { g =>
      out.write(g.length); out.write(g)
    }
    out.write(0) // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** A REAL LZW-compressed image DECODER with zero external dependencies:
    * GIF87a/89a, non-interlaced, global or local color table. Walks the
    * block stream (extensions skipped), reassembles the data sub-blocks,
    * LZW-decompresses with variable code widths and clear/EOI handling
    * (including the KwKwK case and the 4096-entry reset), then maps
    * indices through the palette to row-major grayscale floats in [0, 1]
    * via the Rec.601 luma weights — the same output contract as
    * [[bmpDecoder]]/[[pngDecoder]]. Oracle-gated end to end by
    * `mm_decode_gif` (the GIF round trip is lossless for ≤256-value
    * pixels, so DuckDB replays the decoded pixels straight from the
    * text). */
  def gifDecoder(payload: Array[Byte]): Array[Float] = {
    require(payload.length >= 13, "not a GIF payload")
    val magic = new String(payload, 0, 6,
      java.nio.charset.StandardCharsets.US_ASCII)
    require(magic == "GIF87a" || magic == "GIF89a", "not a GIF payload")
    def u16(i: Int): Int = (payload(i) & 0xff) | ((payload(i + 1) & 0xff) << 8)
    val packed = payload(10) & 0xff
    var pos = 13
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 1 << ((packed & 7) + 1)
      gct = java.util.Arrays.copyOfRange(payload, pos, pos + 3 * n)
      pos += 3 * n
    }
    while (pos < payload.length) {
      (payload(pos) & 0xff) match {
        case 0x21 => // extension: label + sub-blocks
          pos += 2
          while ((payload(pos) & 0xff) != 0) pos += 1 + (payload(pos) & 0xff)
          pos += 1
        case 0x2C => // image descriptor — decode and return
          val width = u16(pos + 5)
          val height = u16(pos + 7)
          val ipacked = payload(pos + 9) & 0xff
          require(width >= 1 && height >= 1 &&
            width < (1 << 16) && height < (1 << 16),
            s"implausible dimensions ${width}x$height")
          // per-dim bounds still admit a ~4.3e9-pixel claim from a tiny
          // header — cap the PRODUCT in Long before any allocation sized
          // from it (same bound as the PNG/JPEG decoders)
          require(width.toLong * height.toLong <= (1L << 28),
            s"decoded image too large: ${width}x$height")
          require((ipacked & 0x40) == 0, "interlaced GIF not supported")
          pos += 10
          var palette = gct
          if ((ipacked & 0x80) != 0) {
            val n = 1 << ((ipacked & 7) + 1)
            palette = java.util.Arrays.copyOfRange(payload, pos, pos + 3 * n)
            pos += 3 * n
          }
          require(palette != null, "missing color table")
          val minCodeSize = payload(pos) & 0xff
          require(minCodeSize >= 2 && minCodeSize <= 8, "bad LZW code size")
          pos += 1
          val lzw = new java.io.ByteArrayOutputStream()
          while ((payload(pos) & 0xff) != 0) {
            val n = payload(pos) & 0xff
            require(pos + 1 + n <= payload.length, "truncated sub-block")
            lzw.write(payload, pos + 1, n)
            pos += 1 + n
          }
          val nPx = width * height
          val idx = lzwDecode(lzw.toByteArray, minCodeSize, nPx)
          require(idx.length == nPx,
            s"decoded ${idx.length} pixels, expected $nPx")
          val out = new Array[Float](nPx)
          val maxIdx = palette.length / 3
          var i = 0
          while (i < nPx) {
            val c = idx(i) & 0xff
            require(c < maxIdx, s"palette index $c out of range")
            val r = palette(3 * c) & 0xff
            val g = palette(3 * c + 1) & 0xff
            val b = palette(3 * c + 2) & 0xff
            out(i) = (0.299f * r + 0.587f * g + 0.114f * b) / 255.0f
            i += 1
          }
          return out
        case 0x3B => throw new IllegalArgumentException("GIF has no image")
        case other => throw new IllegalArgumentException(
          s"unknown GIF block 0x${other.toHexString}")
      }
    }
    throw new IllegalArgumentException("truncated GIF (no trailer)")
  }

  // --- JPEG: the transform-coding image decode path -------------------------

  /** A REAL baseline JPEG image DECODER with zero external dependencies
    * ([[Jpeg.decodeGray]]): marker walk, canonical Huffman table
    * reconstruction, entropy decode with stuffed-byte/restart-marker
    * handling, dequantization, separable IDCT — the transform-coding
    * compression family, alongside PNG's deflate and GIF's LZW. Emits
    * the same output contract as the other image decoders: row-major
    * grayscale floats in [0, 1]. Oracle-gated end to end by
    * `mm_decode_jpeg` and round-trip/corrupt-payload gated by
    * `MultimodalSpec`. */
  def jpegDecoder(payload: Array[Byte]): Array[Float] = {
    val (w, h, px) = Jpeg.decodeGray(payload)
    val out = new Array[Float](w * h)
    var i = 0
    while (i < out.length) { out(i) = (px(i) & 0xff) / 255.0f; i += 1 }
    out
  }

  // --- AVI: the video frame-sampling decode path ----------------------------

  private[operators] val FrameW = 4
  private[operators] val FrameH = 4
  private[operators] val FrameEvery = 2

  /** A REAL video CONTAINER writer with zero external dependencies:
    * minimal RIFF/AVI holding uncompressed 24bpp DIB frames ('00db'
    * chunks inside LIST movi; bottom-up BGR rows, 4-byte padded — the
    * same pixel block as [[bmpDecoder]]). `frames` are row-major
    * TOP-DOWN grayscale bytes. */
  def aviEncode(frames: Seq[Array[Byte]], width: Int, height: Int): Array[Byte] = {
    require(frames.nonEmpty && frames.forall(_.length == width * height),
      "every frame must be width*height bytes")
    val rowBytes = ((24 * width + 31) / 32) * 4
    val frameBytes = rowBytes * height
    val bb = new java.io.ByteArrayOutputStream()
    def tag(s: String): Unit =
      bb.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def le32(v: Int): Unit = {
      bb.write(v & 0xff); bb.write((v >>> 8) & 0xff)
      bb.write((v >>> 16) & 0xff); bb.write((v >>> 24) & 0xff)
    }
    val avihSize = 56
    val strhSize = 56
    val strfSize = 40
    val hdrlSize = 4 + (8 + avihSize) + (8 + 4 + (8 + strhSize) + (8 + strfSize))
    val moviSize = 4 + frames.length * (8 + frameBytes)
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    tag("RIFF"); le32(riffSize); tag("AVI ")
    tag("LIST"); le32(hdrlSize); tag("hdrl")
    tag("avih"); le32(avihSize)
    le32(40000); le32(0); le32(0); le32(0) // usec/frame, maxbps, pad, flags
    le32(frames.length); le32(0); le32(1); le32(0) // frames, initial, streams, bufsize
    le32(width); le32(height)
    le32(0); le32(0); le32(0); le32(0) // reserved
    tag("LIST"); le32(4 + (8 + strhSize) + (8 + strfSize)); tag("strl")
    tag("strh"); le32(strhSize)
    tag("vids"); tag("DIB ")
    le32(0); le32(0); le32(0) // flags, prio+lang, initial frames
    le32(1); le32(25) // scale, rate
    le32(0); le32(frames.length); le32(frameBytes) // start, length, bufsize
    le32(0); le32(0) // quality, sample size
    le32(0); le32(0) // frame rect: 4 int16s = 8 bytes
    tag("strf"); le32(strfSize)
    le32(40); le32(width); le32(height)
    bb.write(1); bb.write(0); bb.write(24); bb.write(0) // planes=1, bpp=24
    le32(0); le32(frameBytes); le32(2835); le32(2835); le32(0); le32(0)
    tag("LIST"); le32(moviSize); tag("movi")
    frames.foreach { f =>
      tag("00db"); le32(frameBytes)
      var y = height - 1 // DIB stores bottom-up
      while (y >= 0) {
        var x = 0
        while (x < width) {
          val v = f(y * width + x) & 0xff
          bb.write(v); bb.write(v); bb.write(v) // BGR of a gray pixel
          x += 1
        }
        var padi = 3 * width
        while (padi < rowBytes) { bb.write(0); padi += 1 }
        y -= 1
      }
    }
    bb.toByteArray
  }

  /** The 'MJPG' fourcc as the little-endian u32 biCompression value. */
  private val MjpgFourcc = 0x47504a4dL

  /** A REAL COMPRESSED-video writer with zero external dependencies:
    * RIFF/AVI with fourcc 'MJPG' — every frame is an independently
    * decodable baseline JPEG ([[Jpeg.encodeGray]], [[Jpeg.ExactQuant]])
    * in a '00dc' chunk (odd-length chunks padded per RIFF). `frames`
    * are row-major top-down grayscale bytes. MJPEG is the simplest
    * genuinely compressed video interchange form — and because frames
    * are independent, a frame-sampling decoder can skip the entropy
    * decode of frames it drops. */
  def aviEncodeMjpeg(frames: Seq[Array[Byte]], width: Int,
      height: Int): Array[Byte] = {
    require(frames.nonEmpty && frames.forall(_.length == width * height),
      "every frame must be width*height bytes")
    val encoded = frames.map(f => Jpeg.encodeGray(f, width, Jpeg.ExactQuant))
    val bb = new java.io.ByteArrayOutputStream()
    def tag(s: String): Unit =
      bb.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def le32(v: Int): Unit = {
      bb.write(v & 0xff); bb.write((v >>> 8) & 0xff)
      bb.write((v >>> 16) & 0xff); bb.write((v >>> 24) & 0xff)
    }
    val avihSize = 56
    val strhSize = 56
    val strfSize = 40
    val hdrlSize = 4 + (8 + avihSize) + (8 + 4 + (8 + strhSize) + (8 + strfSize))
    val maxFrame = encoded.map(_.length).max
    val moviSize = 4 + encoded.map(e => 8 + e.length + (e.length & 1)).sum
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    tag("RIFF"); le32(riffSize); tag("AVI ")
    tag("LIST"); le32(hdrlSize); tag("hdrl")
    tag("avih"); le32(avihSize)
    le32(40000); le32(0); le32(0); le32(0) // usec/frame, maxbps, pad, flags
    le32(encoded.length); le32(0); le32(1); le32(0) // frames, initial, streams, bufsize
    le32(width); le32(height)
    le32(0); le32(0); le32(0); le32(0) // reserved
    tag("LIST"); le32(4 + (8 + strhSize) + (8 + strfSize)); tag("strl")
    tag("strh"); le32(strhSize)
    tag("vids"); tag("MJPG")
    le32(0); le32(0); le32(0) // flags, prio+lang, initial frames
    le32(1); le32(25) // scale, rate
    le32(0); le32(encoded.length); le32(maxFrame) // start, length, bufsize
    le32(0); le32(0) // quality, sample size
    le32(0); le32(0) // frame rect
    tag("strf"); le32(strfSize)
    le32(40); le32(width); le32(height)
    bb.write(1); bb.write(0); bb.write(8); bb.write(0) // planes=1, bpp=8
    le32(MjpgFourcc.toInt) // biCompression = 'MJPG'
    le32(maxFrame); le32(2835); le32(2835); le32(0); le32(0)
    tag("LIST"); le32(moviSize); tag("movi")
    encoded.foreach { e =>
      tag("00dc"); le32(e.length)
      bb.write(e)
      if ((e.length & 1) == 1) bb.write(0) // RIFF chunks are 2-byte aligned
    }
    bb.toByteArray
  }

  /** A REAL video frame-sampling DECODER with zero external dependencies:
    * parses the RIFF/AVI container (header LIST for the frame format,
    * LIST movi for the '00db'/'00dc' frame chunks), decodes every
    * `every`-th frame, and concatenates the sampled frames — frame
    * sampling as a decode-time operation, the shape a video ingest
    * pipeline needs (decode only the frames you keep). Two frame codecs:
    * uncompressed 24bpp DIB (bottom-up BGR rows → top-down grayscale
    * luma) and COMPRESSED MJPEG (biCompression 'MJPG': each frame chunk
    * is a baseline JPEG, decoded via [[Jpeg.decodeGray]] — skipped
    * frames skip the entropy decode entirely). */
  def aviFrameSampler(every: Int)(payload: Array[Byte]): Array[Float] = {
    require(every >= 1, "sampling stride must be >= 1")
    def u16(i: Int): Int = (payload(i) & 0xff) | ((payload(i + 1) & 0xff) << 8)
    def u32(i: Int): Long =
      (u16(i).toLong | (u16(i + 2).toLong << 16)) & 0xffffffffL
    // tags compare as little-endian ints; the String is for messages only
    def tagAt(i: Int): String = new String(payload, i, 4,
      java.nio.charset.StandardCharsets.US_ASCII)
    require(payload.length >= 12 && u32(0).toInt == RiffTag &&
      u32(8).toInt == AviTag, "not a RIFF/AVI payload")
    var width = -1
    var height = -1
    var mjpeg = false
    val sampled = new scala.collection.mutable.ArrayBuffer[SampledFrame]
    var samples = 0L
    var frameIdx = 0
    def walk(from: Int, to: Int): Unit = {
      var pos = from
      while (pos + 8 <= to) {
        val id = u32(pos).toInt
        val len = u32(pos + 4)
        require(pos + 8 + len <= to, s"truncated chunk ${tagAt(pos)}")
        if (id == ListTag) walk(pos + 12, pos + 8 + len.toInt)
        else if (id == StrfTag) {
          // the fields read below sit at data offsets 4..27 — a shorter
          // declared len would read bytes belonging to the next chunk
          require(len >= 28, "truncated strf chunk")
          width = u32(pos + 12).toInt
          height = u32(pos + 16).toInt
          require(width >= 1 && height >= 1 &&
            width < (1 << 16) && height < (1 << 16),
            s"implausible dimensions ${width}x$height")
          val compression = u32(pos + 24)
          mjpeg = compression == MjpgFourcc
          require(mjpeg || compression == 0L,
            f"unsupported biCompression 0x$compression%08x (DIB/MJPG only)")
          require(mjpeg || u16(pos + 22) == 24,
            "only 24bpp uncompressed DIB frames supported")
        } else if (id == DibFrameTag || id == MjpegFrameTag) {
          require(width > 0, "frame chunk before the strf header")
          if (frameIdx % every == 0) {
            if (mjpeg) {
              val (fw, fh, px) = Jpeg.decodeGray(
                java.util.Arrays.copyOfRange(payload, pos + 8, pos + 8 + len.toInt))
              require(fw == width && fh == height,
                s"frame is ${fw}x$fh, header says ${width}x$height")
              sampled += new SampledFrame(px, 0, width, height)
            } else {
              val rowBytes = (((24L * width + 31) / 32) * 4).toInt
              require(rowBytes.toLong * height <= len, "truncated frame")
              sampled += new SampledFrame(null, pos + 8, width, height)
            }
            samples += width.toLong * height
          }
          frameIdx += 1
        }
        pos += 8 + len.toInt + (len.toInt & 1) // RIFF chunks 2-byte aligned
      }
    }
    walk(12, payload.length)
    require(frameIdx > 0, "no frames in the movi list")
    require(samples <= MaxArrayLength,
      s"sampled frames hold $samples samples, more than one array can")
    val out = new Array[Float](samples.toInt)
    var o = 0
    var k = 0
    while (k < sampled.length) {
      val f = sampled(k)
      if (f.px != null) {
        var i = 0
        while (i < f.px.length) { out(o) = (f.px(i) & 0xff) / 255.0f; o += 1; i += 1 }
      } else {
        val rowBytes = ((24 * f.width + 31) / 32) * 4
        var y = 0
        while (y < f.height) {
          val row = f.at + (f.height - 1 - y) * rowBytes
          var x = 0
          while (x < f.width) {
            val b = payload(row + 3 * x) & 0xff
            val g = payload(row + 3 * x + 1) & 0xff
            val r = payload(row + 3 * x + 2) & 0xff
            out(o) = (0.299f * r + 0.587f * g + 0.114f * b) / 255.0f
            o += 1
            x += 1
          }
          y += 1
        }
      }
      k += 1
    }
    out
  }

  private def fourcc(tag: String): Int =
    tag(0) | (tag(1) << 8) | (tag(2) << 16) | (tag(3) << 24)
  private val RiffTag = fourcc("RIFF")
  private val AviTag = fourcc("AVI ")
  private val ListTag = fourcc("LIST")
  private val StrfTag = fourcc("strf")
  private val DibFrameTag = fourcc("00db")
  private val MjpegFrameTag = fourcc("00dc")

  /** The largest array length every JVM allocates. */
  private val MaxArrayLength = Int.MaxValue - 8

  /** A frame [[aviFrameSampler]] keeps, held until the output is sized:
    * its decoded MJPEG pixels, or (`px` null) the payload offset `at` of
    * its DIB rows. */
  private final class SampledFrame(val px: Array[Byte], val at: Int,
      val width: Int, val height: Int)

  /** The frames the `mm_video_mjpeg` rows encode from a raster whose
    * length is a multiple of four ([[pngPixels]] gives a multiple of 16):
    * one 16×16 frame per four pixels, each pixel a constant 8×8 block of
    * the 2×2 grid. */
  private[graft] def mjpegFrames(px: Array[Byte]): Seq[Array[Byte]] =
    px.grouped(4).map { g =>
      val frame = new Array[Byte](256)
      var i = 0
      while (i < 256) { // one 8-pixel run: block (row / 8, column / 8)
        java.util.Arrays.fill(frame, i, i + 8, g((i / 128) * 2 + (i % 16) / 8))
        i += 8
      }
      frame
    }.toSeq

  private[operators] val PngWidth = 16

  /** Deterministic pixel synthesis both engines can derive from `text`:
    * codepoint % 256 per character, space-padded (32) to a full
    * `PngWidth`-wide raster. The PNG round trip is lossless, so DuckDB
    * replays the DECODED pixels straight from the text — the oracle
    * never needs zlib. */
  private[operators] def pngPixels(text: String): Array[Byte] = {
    val cps = text.codePoints().toArray
    val n = math.max(PngWidth,
      ((cps.length + PngWidth - 1) / PngWidth) * PngWidth)
    val px = Array.fill[Byte](n)(32)
    var i = 0
    while (i < cps.length) { px(i) = (cps(i) % 256).toByte; i += 1 }
    px
  }

  /** `mm_decode_png`: synthesize a REAL compressed PNG per document
    * (deflate + cycled filters + multi-IDAT), decode it back through the
    * [[decodeMedia]] batch path with [[pngDecoder]], and fingerprint the
    * decoded pixels (Karp–Rabin over `round(gray*255)` — exactly the
    * synthesized byte for a correct decode). Encode and decode both run
    * inside the partition iterator — payload bytes never leave their
    * split, no shuffle. The DuckDB oracle derives the same fingerprint
    * from `text` directly: any filter/inflate/chunk defect breaks the
    * hash on every row. */
  def decodePng(spark: SparkSession, dir: String): DataFrame =
    decodePngOn(Tables.documents(spark, dir))

  /** The `mm_decode_png` dataflow over ANY `(doc_id, text)` frame —
    * batch or STREAMING: synthesis, the codec `mapPartitions` pass and
    * the fingerprint projection are all stateless, so the same code
    * streams as a plain per-batch projection
    * (`StreamingDecodeSpec` pins stream ≡ batch equality — the
    * "streaming-friendly decode slot" claim as a spec, not a comment). */
  def decodePngOn(docs: DataFrame): DataFrame = {
    val enc = Encoders.product[MediaRow]
    val src = docs
      .select(col("doc_id"), col("text"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        MediaRow(id, pngEncode(pngPixels(text), PngWidth))
      }(enc).toDF()
    val decoded = decodeMedia(src, pngDecoder)
    rasterFingerprinted(decoded)
  }

  /** Shared tail of every real-codec decode query: gray levels back
    * from unit floats, Karp–Rabin fingerprint over ALL decoded pixels,
    * `(doc_id, n_px, px_fp)`. ONE definition so the five codecs cannot
    * drift from each other or from the shared DuckDB raster oracle. */
  private def rasterFingerprinted(decoded: DataFrame): DataFrame = {
    val px = transform(col("features"),
      f => round(f.cast("double") * 255).cast("long"))
    val fp = aggregate(px, lit(0L),
      (acc, v) => (acc * lit(31L) + v) % lit(1000000007L))
    decoded.select(
      col("doc_id"),
      size(col("features")).cast("long").as("n_px"),
      fp.as("px_fp"))
  }

  /** The whole-raster fingerprint both lossless image round trips
    * (deflate/PNG and LZW/GIF) must reproduce. */
  private val rasterFpOracle: String =
    s"""WITH $pixelCtes
       |SELECT doc_id, CAST(n AS BIGINT) AS n_px,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                     [CAST(coalesce(px0[i], 32) AS BIGINT)
       |                      for i in range(1, n + 1)]),
       |                   (a, b) -> (a * 31 + b) % 1000000007) AS px_fp
       |FROM p ORDER BY 1, 2, 3""".stripMargin

  val decodePngOracle: String = rasterFpOracle

  /** `mm_decode_gif`: the [[decodePng]] contract through the OTHER
    * compression family — synthesize a real LZW-compressed GIF per
    * document from the same pixel derivation, decode through
    * [[decodeMedia]] with [[gifDecoder]], fingerprint the pixels. Same
    * oracle as PNG (both round trips are lossless over the same raster);
    * only the engine-side codec differs. */
  def decodeGif(spark: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.product[MediaRow]
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        MediaRow(id, gifEncode(pngPixels(text), PngWidth))
      }(enc).toDF()
    val decoded = decodeMedia(src, gifDecoder)
    rasterFingerprinted(decoded)
  }

  val decodeGifOracle: String = rasterFpOracle

  /** `mm_decode_jpeg`: the transform-coding family end to end —
    * upsample the document's raster so every raster pixel becomes a
    * CONSTANT 8×8 block (a constant block has only a DC coefficient, so
    * with [[Jpeg.ExactQuant]] the lossy pipeline is exact — see
    * [[Jpeg]]), encode a real baseline JPEG (FDCT + quantization +
    * Annex K Huffman + a restart marker per block row), decode back
    * through the [[decodeMedia]] batch path with [[jpegDecoder]], and
    * fingerprint ALL decoded pixels. The DuckDB oracle replays the
    * 8×8 upsampling from `text` directly: any Huffman/DCT/restart/
    * quantization defect breaks the hash on every row. */
  def decodeJpeg(spark: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.product[MediaRow]
    // The synthesis+codec map inflates each text byte ~64× and is
    // CPU-bound, so scan splits (sized for IO) under-provision it —
    // spread the small (doc_id, text) rows across the cluster BEFORE
    // the heavy map. One pinned shuffle of the narrow projection.
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val img = upsample8x(pngPixels(text))
        MediaRow(id, Jpeg.encodeGray(img, PngWidth * 8, Jpeg.ExactQuant,
          restartEvery = PngWidth)) // one restart per block row
      }(enc).toDF()
    val decoded = decodeMedia(src, jpegDecoder)
    rasterFingerprinted(decoded)
  }

  /** The raster blown up so every pixel becomes a constant 8×8 block —
    * the geometry that makes the DCT round trip exact (see [[Jpeg]]). */
  private def upsample8x(px: Array[Byte]): Array[Byte] = {
    val h = px.length / PngWidth
    val img = new Array[Byte](px.length * 64)
    var yy = 0
    while (yy < h * 8) {
      var xx = 0
      while (xx < PngWidth * 8) {
        img(yy * PngWidth * 8 + xx) = px((yy / 8) * PngWidth + (xx / 8))
        xx += 1
      }
      yy += 1
    }
    img
  }

  /** `mm_decode_jpeg_prog`: the [[decodeJpeg]] contract through the
    * PROGRESSIVE grammar — the same constant-block payload synthesis,
    * but encoded as a 4-scan successive-approximation SOF2 stream
    * ([[Jpeg.encodeGrayProgressive]]: DC/AC first scans at Al=1,
    * refinement to Al=0 with EOB-run coding). The decoder accumulates
    * coefficients across all four scans before reconstructing, so this
    * row gates the whole progressive pipeline — scan scripts, EOB
    * runs, refinement bits — against the same DuckDB replay as the
    * baseline row (the decoded pixels are identical by construction). */
  def decodeJpegProg(spark: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.product[MediaRow]
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val img = upsample8x(pngPixels(text))
        MediaRow(id, Jpeg.encodeGrayProgressive(img, PngWidth * 8,
          Jpeg.ExactQuant))
      }(enc).toDF()
    val decoded = decodeMedia(src, jpegDecoder)
    rasterFingerprinted(decoded)
  }

  val decodeJpegOracle: String =
    s"""WITH $pixelCtes,
       |f AS (SELECT doc_id,
       |             [CAST(coalesce(px0[i], 32) AS BIGINT)
       |              for i in range(1, n + 1)] AS px,
       |             n FROM p),
       |s AS (SELECT doc_id,
       |             flatten([[px[(yy // 8) * 16 + (xx // 8) + 1]
       |                       for xx in range(0, 128)]
       |                      for yy in range(0, (n // 16) * 8)]) AS spx
       |      FROM f)
       |SELECT doc_id, CAST(len(spx) AS BIGINT) AS n_px,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT), spx),
       |                   (a, b) -> (a * 31 + b) % 1000000007) AS px_fp
       |FROM s ORDER BY 1, 2, 3""".stripMargin

  /** The 3-component batch-path hook for [[decodeMedia]]: full color
    * decode ([[Jpeg.decodeColor]] — interleaved MCUs, per-component
    * tables, chroma upsample, JFIF YCbCr→RGB) to interleaved unit
    * floats, 3 per pixel. */
  def jpegColorDecoder(payload: Array[Byte]): Array[Float] = {
    val (_, _, rgb) = Jpeg.decodeColor(payload)
    val out = new Array[Float](rgb.length)
    var i = 0
    while (i < rgb.length) { out(i) = (rgb(i) & 0xff) / 255f; i += 1 }
    out
  }

  /** `mm_decode_jpeg_color`: the [[decodeJpeg]] contract through the
    * COLOR path — the shape of essentially every crawl JPEG: 3-component
    * YCbCr baseline with 4:2:0 chroma subsampling, interleaved 16×16
    * MCUs, per-component quant/Huffman tables, restart markers.
    * Synthesis keeps every component block CONSTANT so [[Jpeg.ExactQuant]]
    * makes each plane's round trip bit-exact (see [[Jpeg]]): luma is the
    * raster upsampled 8× (one constant 8×8 block per raster pixel, as in
    * [[decodeJpeg]]), and the half-resolution chroma planes take the
    * top-left/top-right raster value of each 2×2 raster group (constant
    * per 8×8 chroma block = per 16×16 image region — exactly the 4:2:0
    * geometry). The decoder's JFIF YCbCr→RGB tail is deterministic
    * binary64 arithmetic (`floor(v + 0.5)`, clamp), so the DuckDB oracle
    * replays the full RGB stream from `text` — any defect in the
    * interleave order, predictor handling, chroma upsample or color
    * conversion breaks the hash on every row. */
  def decodeJpegColor(spark: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.product[MediaRow]
    // CPU-bound ~192× inflation per text byte: decouple codec
    // parallelism from scan-split count, as in [[decodeJpeg]]
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val px = pngPixels(text)
        val h = px.length / PngWidth
        val hh = h + (h & 1) // 4:2:0 needs an even raster-row count
        val w = PngWidth * 8
        val ih = hh * 8
        val yPlane = new Array[Byte](w * ih)
        var yy = 0
        while (yy < ih) {
          val sr = math.min(yy / 8, h - 1) * PngWidth
          var xx = 0
          while (xx < w) {
            yPlane(yy * w + xx) = px(sr + xx / 8)
            xx += 1
          }
          yy += 1
        }
        val cw = w / 2
        val chh = ih / 2
        val cbPlane = new Array[Byte](cw * chh)
        val crPlane = new Array[Byte](cw * chh)
        var cy = 0
        while (cy < chh) {
          val sr = math.min((cy / 8) * 2, h - 1) * PngWidth
          var cx = 0
          while (cx < cw) {
            cbPlane(cy * cw + cx) = px(sr + (cx / 8) * 2)
            crPlane(cy * cw + cx) = px(sr + (cx / 8) * 2 + 1)
            cx += 1
          }
          cy += 1
        }
        MediaRow(id, Jpeg.encodeYcbcr420(yPlane, cbPlane, crPlane, w, ih,
          Jpeg.ExactQuant, Jpeg.ExactQuant, restartEvery = PngWidth / 2))
      }(enc).toDF()
    val decoded = decodeMedia(src, jpegColorDecoder)
    rasterFingerprinted(decoded)
  }

  /** Replays the decoder's output pixel-for-pixel: the Y/Cb/Cr planes
    * from the raster geometry above, then the SAME JFIF conversion
    * (binary64 literals, left-associated, floor(v + 0.5), clamp). */
  val decodeJpegColorOracle: String =
    s"""WITH $pixelCtes,
       |f AS (SELECT doc_id,
       |             [CAST(coalesce(px0[i], 32) AS BIGINT)
       |              for i in range(1, n + 1)] AS px,
       |             n // 16 AS h FROM p),
       |yc AS (SELECT doc_id,
       |              flatten(
       |                [[[px[least(yy // 8, h - 1) * 16 + xx // 8 + 1],
       |                   px[least((yy // 16) * 2, h - 1) * 16
       |                      + (xx // 16) * 2 + 1],
       |                   px[least((yy // 16) * 2, h - 1) * 16
       |                      + (xx // 16) * 2 + 2]]
       |                  for xx in range(0, 128)]
       |                 for yy in range(0, (h + h % 2) * 8)]) AS t
       |       FROM f),
       |s AS (SELECT doc_id,
       |             flatten(list_transform(t, v ->
       |               [greatest(0, least(255, CAST(floor(
       |                  v[1] + 1.402 * (v[3] - 128) + 0.5) AS BIGINT))),
       |                greatest(0, least(255, CAST(floor(
       |                  v[1] - 0.344136 * (v[2] - 128)
       |                       - 0.714136 * (v[3] - 128) + 0.5) AS BIGINT))),
       |                greatest(0, least(255, CAST(floor(
       |                  v[1] + 1.772 * (v[2] - 128) + 0.5) AS BIGINT)))]))
       |               AS spx
       |      FROM yc)
       |SELECT doc_id, CAST(len(spx) AS BIGINT) AS n_px,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT), spx),
       |                   (a, b) -> (a * 31 + b) % 1000000007) AS px_fp
       |FROM s ORDER BY 1, 2, 3""".stripMargin

  /** `mm_video_mjpeg`: COMPRESSED video decode + frame sampling — a
    * 16×16 MJPEG frame per FOUR raster pixels (each pixel a constant
    * 8×8 block in a 2×2 grid → exact round trip, as in [[decodeJpeg]],
    * while amortizing the per-frame JPEG header/table cost), every 2nd
    * frame decoded via [[aviFrameSampler]]'s MJPEG path (dropped frames
    * never pay the entropy decode), decoded pixels fingerprinted. The
    * oracle replays sampling + the block layout in SQL. */
  def videoMjpeg(spark: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.product[MediaRow]
    // same CPU-bound inflation as [[decodeJpeg]]: decouple codec
    // parallelism from scan-split count with one narrow-row shuffle
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val frames = mjpegFrames(pngPixels(text))
        MediaRow(id, aviEncodeMjpeg(frames, 16, 16))
      }(enc).toDF()
    val decoded = decodeMedia(src, aviFrameSampler(FrameEvery))
    rasterFingerprinted(decoded)
  }

  val videoMjpegOracle: String =
    s"""WITH $pixelCtes,
       |f AS (SELECT doc_id,
       |             [CAST(coalesce(px0[i], 32) AS BIGINT)
       |              for i in range(1, n + 1)] AS px,
       |             n FROM p),
       |s AS (SELECT doc_id,
       |             flatten([flatten([[px[(fr - 1) * 4
       |                                  + (yy // 8) * 2 + (xx // 8) + 1]
       |                                for xx in range(0, 16)]
       |                               for yy in range(0, 16)])
       |                      for fr in range(1, n // 4 + 1, 2)]) AS spx
       |      FROM f)
       |SELECT doc_id, CAST(len(spx) AS BIGINT) AS n_px,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT), spx),
       |                   (a, b) -> (a * 31 + b) % 1000000007) AS px_fp
       |FROM s ORDER BY 1, 2, 3""".stripMargin

  /** `mm_video_frames`: video-modality decode + frame sampling —
    * synthesize a real RIFF/AVI of 4×4 uncompressed DIB frames from the
    * document's raster (one frame per 16 pixels), then decode every 2nd
    * frame through [[decodeMedia]] with [[aviFrameSampler]] and
    * fingerprint the sampled pixels. The oracle replays the
    * frame-partition + stride in SQL — a wrong frame boundary, row
    * flip, or stride breaks the hash. */
  def videoFrames(spark: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.product[MediaRow]
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val px = pngPixels(text) // multiple of 16 = one 4x4 frame each
        val frames = px.grouped(FrameW * FrameH).toSeq
        MediaRow(id, aviEncode(frames, FrameW, FrameH))
      }(enc).toDF()
    val decoded = decodeMedia(src, aviFrameSampler(FrameEvery))
    rasterFingerprinted(decoded)
  }

  val videoFramesOracle: String =
    s"""WITH $pixelCtes,
       |f AS (SELECT doc_id,
       |             [CAST(coalesce(px0[i], 32) AS BIGINT)
       |              for i in range(1, n + 1)] AS px,
       |             n // 16 AS n_frames
       |      FROM p),
       |s AS (SELECT doc_id,
       |             flatten([px[(fr - 1) * 16 + 1 : fr * 16]
       |                      for fr in range(1, n_frames + 1, 2)]) AS spx
       |      FROM f)
       |SELECT doc_id, CAST(len(spx) AS BIGINT) AS n_px,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT), spx),
       |                   (a, b) -> (a * 31 + b) % 1000000007) AS px_fp
       |FROM s ORDER BY 1, 2, 3""".stripMargin

  /** Inter-frame abs-diff sum above which a frame counts as a scene cut
    * for [[videoFeatures]]: an average per-pixel jump of more than 32
    * gray levels across a 16-px frame. */
  private[operators] val SceneCutDiff = 512L

  /** `mm_video_features`: the video modality's feature head — synthesize
    * the document's real RIFF/AVI ([[aviEncode]], one 4×4 DIB frame per
    * 16 raster pixels), decode EVERY frame back through
    * [[aviFrameSampler]], and extract the features a video curation pass
    * filters on: frame count, total motion (Σ over consecutive frames of
    * Σ|px_f − px_{f−1}|; a static slideshow scores 0 and gets dropped),
    * peak per-frame luma sum, and scene-cut count (frames whose diff to
    * the previous frame exceeds [[SceneCutDiff]]) — all integer-exact
    * over the recovered 0–255 gray levels, so DuckDB replays them from
    * the text like the pixel histogram. Encode → full decode → features
    * run in one JVM pass inside the partition iterator — scan-side, no
    * shuffle; a frame-boundary, bottom-up-row or BGR-unpack defect
    * breaks every row. */
  def videoFeatures(spark: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val px = pngPixels(text)
        val frames = px.grouped(FrameW * FrameH).toSeq
        val gray = aviFrameSampler(1)(aviEncode(frames, FrameW, FrameH))
        val fpx = FrameW * FrameH
        val nf = gray.length / fpx
        var motion = 0L; var peak = 0L; var cuts = 0L
        var f = 0
        while (f < nf) {
          var luma = 0L; var diff = 0L
          var i = 0
          while (i < fpx) {
            val g = grayLevel(gray(f * fpx + i))
            luma += g
            if (f > 0) diff += math.abs(g - grayLevel(gray((f - 1) * fpx + i)))
            i += 1
          }
          if (luma > peak) peak = luma
          if (f > 0) {
            motion += diff
            if (diff > SceneCutDiff) cuts += 1
          }
          f += 1
        }
        (id, nf.toLong, motion, peak, cuts)
      }(enc)
      .toDF("doc_id", "n_frames", "motion", "peak_luma", "scene_cuts")
  }

  val videoFeaturesOracle: String =
    s"""WITH $pixelCtes,
       |f AS (SELECT doc_id,
       |             [CAST(coalesce(px0[i], 32) AS BIGINT)
       |              for i in range(1, n + 1)] AS px,
       |             n // 16 AS nf
       |      FROM p),
       |d AS (SELECT doc_id, nf,
       |             [list_sum(px[(fr - 1) * 16 + 1 : fr * 16])
       |              for fr in range(1, nf + 1)] AS luma,
       |             [list_sum([abs(px[(fr - 1) * 16 + i]
       |                            - px[(fr - 2) * 16 + i])
       |                        for i in range(1, 17)])
       |              for fr in range(2, nf + 1)] AS diffs
       |      FROM f)
       |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
       |       CAST(coalesce(list_sum(diffs), 0) AS BIGINT) AS motion,
       |       CAST(list_max(luma) AS BIGINT) AS peak_luma,
       |       CAST(coalesce(len(list_filter(diffs, x -> x > $SceneCutDiff)), 0)
       |            AS BIGINT) AS scene_cuts
       |FROM d ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** Scene-cut threshold for [[videoMjpegFeatures]]'s 256-px frames —
    * the same avg-per-pixel jump (> 32 gray levels) as the uncompressed
    * head's [[SceneCutDiff]], scaled to the MJPEG frame size. */
  private[operators] val MjpegSceneCutDiff = 8192L

  /** `mm_video_mjpeg_features`: the feature head over COMPRESSED video —
    * the same motion / peak-luma / scene-cut features as
    * [[videoFeatures]], but each frame is a baseline JPEG inside the AVI
    * ([[aviEncodeMjpeg]], one 16×16 frame per four raster pixels in a
    * 2×2 grid of constant 8×8 blocks), and EVERY frame pays the real
    * entropy decode + IDCT on the way back. Constant blocks round-trip
    * the DCT bit-exactly, so the recovered gray levels equal the source
    * pixels and DuckDB replays the features from the text with no
    * codec: per frame, luma = 64·Σ(4 block levels), inter-frame diff =
    * 64·Σ|block − prev block|. A curation pass over a real crawl runs
    * exactly this shape — features over decoded MJPEG/H.26x frames —
    * and the cost is the codec, not the arithmetic, which is why the
    * decode runs inside the partition iterator after one narrow-row
    * repartition (codec parallelism decoupled from scan splits, as in
    * [[videoMjpeg]]). */
  def videoMjpegFeatures(spark: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val frames = mjpegFrames(pngPixels(text))
        val gray = aviFrameSampler(1)(aviEncodeMjpeg(frames, 16, 16))
        val fpx = 256
        val nf = gray.length / fpx
        var motion = 0L; var peak = 0L; var cuts = 0L
        var f = 0
        while (f < nf) {
          var luma = 0L; var diff = 0L
          var i = 0
          while (i < fpx) {
            val g = grayLevel(gray(f * fpx + i))
            luma += g
            if (f > 0) diff += math.abs(g - grayLevel(gray((f - 1) * fpx + i)))
            i += 1
          }
          if (luma > peak) peak = luma
          if (f > 0) {
            motion += diff
            if (diff > MjpegSceneCutDiff) cuts += 1
          }
          f += 1
        }
        (id, nf.toLong, motion, peak, cuts)
      }(enc)
      .toDF("doc_id", "n_frames", "motion", "peak_luma", "scene_cuts")
  }

  val videoMjpegFeaturesOracle: String =
    s"""WITH $pixelCtes,
       |f AS (SELECT doc_id,
       |             [CAST(coalesce(px0[i], 32) AS BIGINT)
       |              for i in range(1, n + 1)] AS px,
       |             n // 4 AS nf
       |      FROM p),
       |d AS (SELECT doc_id, nf,
       |             [64 * list_sum(px[(fr - 1) * 4 + 1 : fr * 4])
       |              for fr in range(1, nf + 1)] AS luma,
       |             [64 * list_sum([abs(px[(fr - 1) * 4 + i]
       |                                 - px[(fr - 2) * 4 + i])
       |                             for i in range(1, 5)])
       |              for fr in range(2, nf + 1)] AS diffs
       |      FROM f)
       |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
       |       CAST(coalesce(list_sum(diffs), 0) AS BIGINT) AS motion,
       |       CAST(list_max(luma) AS BIGINT) AS peak_luma,
       |       CAST(coalesce(len(list_filter(diffs, x -> x > $MjpegSceneCutDiff)), 0)
       |            AS BIGINT) AS scene_cuts
       |FROM d ORDER BY 1, 2, 3, 4, 5""".stripMargin

  // --- registry ------------------------------------------------------------

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_metadata" -> (metadata _),
    "mm_features" -> (features _),
    "mm_audio_features" -> (audioFeatures _),
    "mm_frame_sample" -> (frameSample _),
    "mm_resize" -> (resize _),
    "mm_decode_png" -> (decodePng _),
    "mm_decode_gif" -> (decodeGif _),
    "mm_decode_jpeg" -> (decodeJpeg _),
    "mm_decode_jpeg_prog" -> (decodeJpegProg _),
    "mm_decode_jpeg_color" -> (decodeJpegColor _),
    "mm_video_frames" -> (videoFrames _),
    "mm_video_features" -> (videoFeatures _),
    "mm_video_mjpeg" -> (videoMjpeg _),
    "mm_video_mjpeg_features" -> (videoMjpegFeatures _))

  val oracles: Map[String, String] = Map(
    "mm_metadata" -> metadataOracle,
    "mm_features" -> featuresOracle,
    "mm_audio_features" -> audioFeaturesOracle,
    "mm_frame_sample" -> frameSampleOracle,
    "mm_resize" -> resizeOracle,
    "mm_decode_png" -> decodePngOracle,
    "mm_decode_gif" -> decodeGifOracle,
    "mm_decode_jpeg" -> decodeJpegOracle,
    "mm_decode_jpeg_prog" -> decodeJpegOracle, // identical pixels by construction
    "mm_decode_jpeg_color" -> decodeJpegColorOracle,
    "mm_video_frames" -> videoFramesOracle,
    "mm_video_features" -> videoFeaturesOracle,
    "mm_video_mjpeg" -> videoMjpegOracle,
    "mm_video_mjpeg_features" -> videoMjpegFeaturesOracle)
}
