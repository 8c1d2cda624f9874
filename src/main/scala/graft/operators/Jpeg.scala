package graft.operators

/** A REAL baseline-sequential JPEG codec (ITU T.81) with zero external
  * dependencies — 8-bit grayscale (one component) AND 3-component
  * YCbCr color with 4:2:0 chroma subsampling. This is the
  * transform-coding compression family (DCT + quantization + Huffman
  * entropy coding), genuinely different from PNG's deflate and GIF's
  * LZW:
  *
  *   - encoders: level shift → separable FDCT per 8×8 block (edge
  *     blocks padded by replication) → quantization (zigzag order) →
  *     DC prediction + magnitude-category Huffman coding, AC
  *     run-length (ZRL/EOB) coding with the standard Annex K tables
  *     (K.3/K.5 luminance; K.4/K.6 chrominance for the color path) →
  *     entropy bytes with 0xFF stuffing, optional DRI/RSTn restart
  *     markers. [[encodeGray]] emits SOI/APP0(JFIF)/DQT/SOF0/DHT×2/
  *     [DRI]/SOS/EOI; [[encodeYcbcr420]] takes Y at full resolution
  *     plus half-resolution Cb/Cr planes (color conversion is a JFIF
  *     concern, outside T.81 — the caller owns it) and emits
  *     interleaved 16×16 MCUs (four Y blocks + Cb + Cr) with
  *     per-component quant/Huffman table selection.
  *   - decoder ([[decode]]): marker walk (APPn/COM skipped, multiple
  *     DQT/DHT segments supported), canonical Huffman table
  *     reconstruction (mincode/maxcode/valptr per spec §F.2.2.3),
  *     interleaved-MCU entropy decode with per-component sampling
  *     factors and predictors, stuffed-byte and restart handling,
  *     dequantize → separable IDCT → level shift + clamp, chroma
  *     upsample by sample replication, JFIF YCbCr→RGB, MCU-grid crop
  *     to the SOF dimensions. [[decodeGray]]/[[decodeColor]] are the
  *     single/3-component fronts over the same core.
  *
  * Exactness contract the `mm_decode_jpeg[_color]` oracles lean on: a
  * block that is CONSTANT has only a DC coefficient (8·(v−128), the AC
  * sums cancel), so with [[ExactQuant]] (DC step 8) the quantized DC is
  * the level-shifted value itself and the round trip is bit-exact for
  * every v ∈ [0, 255]. The argument extends per component: constant
  * 8×8 luma blocks and constant 8×8 chroma blocks (= constant chroma
  * over a 16×16 image region) each round-trip exactly, and the
  * YCbCr→RGB step is deterministic binary64 arithmetic
  * (floor(v + 0.5), clamp) that DuckDB replays bit-identically —
  * decoded pixels derive straight from the text with no DCT. General
  * images take the normal lossy path, bounded by `MultimodalSpec`'s
  * tolerance round-trips (all-ones and Annex K quantization).
  */
object Jpeg {

  /** Zigzag scan: zigzag position → natural (row-major) position. */
  private[operators] val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K Table K.1 luminance quantization (natural order) — the
    * realistic lossy table, spec-gated with a tolerance round trip. */
  val StdQuant: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** DC step 8, AC step 1: constant blocks (DC = 8·shifted, ACs = 0)
    * quantize to the shifted value exactly → lossless round trip. */
  val ExactQuant: Array[Int] = Array.tabulate(64)(i => if (i == 0) 8 else 1)

  /** All-ones: the minimal-loss general table for tolerance specs. */
  val UnitQuant: Array[Int] = Array.fill(64)(1)

  /** Annex K Table K.2 chrominance quantization (natural order). */
  val StdQuantChroma: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  // Annex K Tables K.3/K.5: standard luminance Huffman specs.
  // bits(l) = number of codes of length l (1-indexed, 1..16).
  private val DcBits: Array[Int] =
    Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals: Array[Int] = (0 to 11).toArray
  private val AcBits: Array[Int] =
    Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  // Annex K Tables K.4/K.6: standard chrominance Huffman specs.
  private val DcBitsCh: Array[Int] =
    Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcValsCh: Array[Int] = (0 to 11).toArray
  private val AcBitsCh: Array[Int] =
    Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcValsCh: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** Canonical code assignment (spec §C.2): per symbol, (code, length). */
  private def encoderCodes(bits: Array[Int],
      vals: Array[Int]): Array[(Int, Int)] = {
    val out = new Array[(Int, Int)](256)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len)) {
        out(vals(k)) = (code, len)
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    out
  }

  private val DcEnc = encoderCodes(DcBits, DcVals)
  private val AcEnc = encoderCodes(AcBits, AcVals)
  private val DcEncCh = encoderCodes(DcBitsCh, DcValsCh)
  private val AcEncCh = encoderCodes(AcBitsCh, AcValsCh)

  // Progressive AC scans emit EOBn (0x10..0xE0) and correction-run
  // symbols the sequential Annex K table has no codes for; this flat
  // canonical table (255 codes at 8 bits + one at 9, Kraft sum < 1)
  // covers all 256 symbol values. Emitted in the DHT like any other
  // table — the decoder reconstructs it generically.
  private val FlatAcBits: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0)
  private val FlatAcVals: Array[Int] = (0 to 255).toArray
  private val FlatAcEnc = encoderCodes(FlatAcBits, FlatAcVals)

  // The header segments that do not depend on the image are built once,
  // so an encoder writes each one with one bulk write: for a 16×16 MJPEG
  // frame they are ~330 of its ~350 bytes.

  private def bytes(v: Int*): Array[Byte] = v.map(_.toByte).toArray

  /** SOI + APP0 (JFIF 1.1, 1:1 aspect ratio, no thumbnail). */
  private val SoiApp0: Array[Byte] = bytes(0xff, 0xd8, 0xff, 0xe0, 0, 16,
    'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)

  private val Soi: Array[Byte] = bytes(0xff, 0xd8)

  /** A Huffman table as a DHT segment carries it: the 16 code-length
    * counts, then the symbols. */
  private def huffSpec(bits: Array[Int], vals: Array[Int]): Array[Byte] =
    (bits.slice(1, 17) ++ vals).map(_.toByte)

  /** One DHT segment holding one table as table class/id `tcTh`. */
  private def dhtSegment(tcTh: Int, spec: Array[Byte]): Array[Byte] = {
    val len = 2 + 1 + spec.length
    bytes(0xff, 0xc4, len >>> 8, len & 0xff, tcTh) ++ spec
  }

  private val DcSpec = huffSpec(DcBits, DcVals)
  private val AcSpec = huffSpec(AcBits, AcVals)
  private val DcSpecCh = huffSpec(DcBitsCh, DcValsCh)
  private val AcSpecCh = huffSpec(AcBitsCh, AcValsCh)
  private val FlatAcSpec = huffSpec(FlatAcBits, FlatAcVals)

  private val DhtDc = dhtSegment(0x00, DcSpec)
  private val DhtDcCh = dhtSegment(0x01, DcSpecCh)
  private val DhtFlatAc = dhtSegment(0x10, FlatAcSpec)
  /** Baseline gray: DC and AC luminance tables. */
  private val GrayDht = DhtDc ++ dhtSegment(0x10, AcSpec)
  /** Baseline color: luminance tables 0, chrominance tables 1. */
  private val YcbcrDht = GrayDht ++ DhtDcCh ++ dhtSegment(0x11, AcSpecCh)

  /** Baseline SOS, one component: DC/AC tables 0, full spectral range. */
  private val GraySos = bytes(0xff, 0xda, 0, 8, 1, 1, 0x00, 0, 63, 0)
  /** Baseline SOS, three components: luma tables 0/0, chroma 1/1. */
  private val YcbcrSos =
    bytes(0xff, 0xda, 0, 12, 3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0)

  /** DQT segment: table i of `quants` as id i, 8-bit, zigzag order. */
  private def dqtSegment(quants: Array[Int]*): Array[Byte] = {
    val len = 2 + 65 * quants.length
    val seg = new Array[Byte](2 + len)
    seg(0) = 0xff.toByte; seg(1) = 0xdb.toByte
    seg(2) = (len >>> 8).toByte; seg(3) = len.toByte
    var p = 4
    var id = 0
    while (id < quants.length) {
      seg(p) = id.toByte
      var zz = 0
      while (zz < 64) { seg(p + 1 + zz) = quants(id)(ZigZag(zz)).toByte; zz += 1 }
      p += 65
      id += 1
    }
    seg
  }

  /** SOFn segment (`marker` 0xc0 or 0xc2), 8-bit precision; `comps` holds
    * (component id, h << 4 | v, quant id) per component. */
  private def sofSegment(marker: Int, width: Int, height: Int,
      comps: Array[Int]): Array[Byte] = {
    val len = 8 + comps.length
    val seg = new Array[Byte](2 + len)
    seg(0) = 0xff.toByte; seg(1) = marker.toByte
    seg(2) = (len >>> 8).toByte; seg(3) = len.toByte
    seg(4) = 8
    seg(5) = (height >>> 8).toByte; seg(6) = height.toByte
    seg(7) = (width >>> 8).toByte; seg(8) = width.toByte
    seg(9) = (comps.length / 3).toByte
    var i = 0
    while (i < comps.length) { seg(10 + i) = comps(i).toByte; i += 1 }
    seg
  }

  /** DRI segment: a restart marker every `every` MCUs. */
  private def driSegment(every: Int): Array[Byte] =
    bytes(0xff, 0xdd, 0, 4, every >>> 8, every & 0xff)

  private def marker(out: java.io.ByteArrayOutputStream, m: Int): Unit = {
    out.write(0xff); out.write(m)
  }

  // 1D DCT basis: cosTab(u)(x) = C(u)/2 · cos((2x+1)uπ/16), C(0)=1/√2 —
  // applying it twice (rows then columns) is the 2D 0.25·C(u)C(v) form.
  private val cosTab: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    0.5 * c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  /** Separable 2D FDCT of a level-shifted 8×8 block (row-major). */
  private def fdct(block: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) { // 1D over each row: tmp(y, u) = Σ_x block(y, x)·c(u, x)
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) { s += block(y * 8 + x) * cosTab(u)(x); x += 1 }
        tmp(y * 8 + u) = s
        u += 1
      }
      y += 1
    }
    val out = new Array[Double](64)
    var v = 0
    while (v < 8) { // 1D down each column
      var u = 0
      while (u < 8) {
        var s = 0.0
        var yy = 0
        while (yy < 8) { s += tmp(yy * 8 + u) * cosTab(v)(yy); yy += 1 }
        out(v * 8 + u) = s
        u += 1
      }
      v += 1
    }
    out
  }

  /** Separable 2D IDCT (the exact transpose of [[fdct]]). */
  private def idct(coef: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64)
    var v = 0
    while (v < 8) { // 1D over each coefficient row: tmp(v, x) = Σ_u coef(v, u)·c(u, x)
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += coef(v * 8 + u) * cosTab(u)(x); u += 1 }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) { s += tmp(vv * 8 + x) * cosTab(vv)(y); vv += 1 }
        out(y * 8 + x) = s
        x += 1
      }
      y += 1
    }
    out
  }

  /** Magnitude category: number of bits in |v| (0 for v = 0). */
  private def category(v: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** MSB-first bit accumulator with JPEG byte stuffing (0xFF → 0xFF 00). */
  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var buf = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        buf = (buf << 1) | ((code >>> i) & 1)
        n += 1
        if (n == 8) {
          out.write(buf & 0xff)
          if ((buf & 0xff) == 0xff) out.write(0x00)
          buf = 0; n = 0
        }
        i -= 1
      }
    }
    /** Pad the tail with 1-bits to a byte boundary (spec §F.1.2.3). */
    def flush(): Unit = if (n > 0) { put(0x7f, 8 - n) }
  }

  /** Load one level-shifted 8×8 block from a `pw`×`ph` plane at block
    * position (`bx`, `by`), edge samples replicated past the border. */
  private def loadBlock(plane: Array[Byte], pw: Int, ph: Int,
      bx: Int, by: Int, block: Array[Double]): Unit = {
    var y = 0
    while (y < 8) {
      val sy = math.min(by * 8 + y, ph - 1)
      var x = 0
      while (x < 8) {
        val sx = math.min(bx * 8 + x, pw - 1)
        block(y * 8 + x) = (plane(sy * pw + sx) & 0xff) - 128.0
        x += 1
      }
      y += 1
    }
  }

  /** FDCT + quantize + Huffman-emit one level-shifted block against the
    * given quant/Huffman tables; returns the quantized DC (the scan's
    * next predictor for this component). Shared by the grayscale and
    * interleaved-color encoders so the bitstream grammar cannot drift. */
  private def emitBlock(bw: BitWriter, block: Array[Double],
      quant: Array[Int], dcEnc: Array[(Int, Int)], acEnc: Array[(Int, Int)],
      pred: Int): Int = {
    var constant = true
    var ci = 1
    while (ci < 64 && constant) {
      constant = block(ci) == block(0); ci += 1
    }
    val q = new Array[Int](64)
    if (constant) {
      // flat-block fast path: the AC basis sums cancel exactly, so a
      // uniform block's FDCT is DC-only (8·shifted) — skip the
      // transform and quantize the DC directly. This is the common
      // case for synthetic/flat regions and what makes the constant-
      // block oracle queries cheap; the emitted bitstream is the same
      // DC + EOB the general path produces.
      q(0) = Math.round(block(0) * 8.0 / quant(0)).toInt
    } else {
      val coef = fdct(block)
      var i = 0 // quantize in zigzag order
      while (i < 64) {
        val nat = ZigZag(i)
        q(i) = Math.round(coef(nat) / quant(nat)).toInt
        i += 1
      }
    }
    val diff = q(0) - pred
    val s = category(diff)
    val (dcCode, dcLen) = dcEnc(s)
    bw.put(dcCode, dcLen)
    if (s > 0)
      bw.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
    var k = 1
    var run = 0
    while (k < 64) {
      if (q(k) == 0) run += 1
      else {
        while (run > 15) { // ZRL: 16 zeros
          val (c, l) = acEnc(0xf0); bw.put(c, l); run -= 16
        }
        val sz = category(q(k))
        val (c, l) = acEnc((run << 4) | sz)
        bw.put(c, l)
        bw.put(if (q(k) < 0) q(k) + (1 << sz) - 1 else q(k), sz)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (c, l) = acEnc(0x00); bw.put(c, l) } // EOB
    q(0)
  }

  /** Encode a grayscale raster as a baseline JPEG. `restartEvery` > 0
    * emits a DRI segment and RSTn markers every that many MCUs (blocks),
    * exercising the decoder's restart path. */
  def encodeGray(pixels: Array[Byte], width: Int,
      quant: Array[Int] = StdQuant, restartEvery: Int = 0): Array[Byte] = {
    require(width > 0 && pixels.length > 0 && pixels.length % width == 0,
      "pixels must be a positive multiple of width")
    require(quant.length == 64 && quant.forall(q => q >= 1 && q <= 255),
      "quant table must be 64 entries in [1, 255]")
    val height = pixels.length / width
    require(width < (1 << 16) && height < (1 << 16), "dimensions exceed u16")
    val out = new java.io.ByteArrayOutputStream()
    out.write(SoiApp0)
    out.write(dqtSegment(quant))
    // SOF0: 1 component, 1×1 sampling, quant table 0
    out.write(sofSegment(0xc0, width, height, Array(1, 0x11, 0)))
    out.write(GrayDht)
    if (restartEvery > 0) out.write(driSegment(restartEvery))
    out.write(GraySos)
    val bw = new BitWriter(out)
    val blocksX = (width + 7) / 8
    val blocksY = (height + 7) / 8
    val block = new Array[Double](64)
    var pred = 0
    var mcu = 0
    var by = 0
    while (by < blocksY) {
      var bx = 0
      while (bx < blocksX) {
        if (restartEvery > 0 && mcu > 0 && mcu % restartEvery == 0) {
          bw.flush()
          marker(out, 0xd0 + ((mcu / restartEvery - 1) % 8))
          pred = 0
        }
        loadBlock(pixels, width, height, bx, by, block)
        pred = emitBlock(bw, block, quant, DcEnc, AcEnc, pred)
        mcu += 1
        bx += 1
      }
      by += 1
    }
    bw.flush()
    marker(out, 0xd9) // EOI
    out.toByteArray
  }

  /** One component's progressive-encode state: quantized coefficients
    * on the MCU-padded block grid plus grid geometry and table
    * bindings. `blocksX` is the padded grid width (DC scans cover it);
    * `dataBX`/`dataBY` bound the per-component AC scans to the actual
    * data units, exactly as the decoder iterates them. */
  private final class ProgComp(val id: Int, val h: Int, val v: Int,
      val dcId: Int, val dcEnc: Array[(Int, Int)], val qcoef: Array[Int],
      val blocksX: Int, val dataBX: Int, val dataBY: Int)

  /** Quantize a plane's blocks on the padded grid (natural order per
    * block) — the same loadBlock/fdct/flat-fast-path arithmetic the
    * sequential encoder uses, so baseline and progressive streams carry
    * IDENTICAL coefficients. */
  private def quantizePlane(plane: Array[Byte], pw: Int, ph: Int,
      blocksX: Int, blocksY: Int, quant: Array[Int]): Array[Int] = {
    val q = new Array[Int](blocksX * blocksY * 64)
    val block = new Array[Double](64)
    var b = 0
    var by = 0
    while (by < blocksY) {
      var bx = 0
      while (bx < blocksX) {
        loadBlock(plane, pw, ph, bx, by, block)
        val base = b * 64
        var constant = true
        var ci = 1
        while (ci < 64 && constant) { constant = block(ci) == block(0); ci += 1 }
        if (constant) q(base) = Math.round(block(0) * 8.0 / quant(0)).toInt
        else {
          val coef = fdct(block)
          var i = 0
          while (i < 64) { q(base + i) = Math.round(coef(i) / quant(i)).toInt; i += 1 }
        }
        b += 1
        bx += 1
      }
      by += 1
    }
    q
  }

  /** The shared progressive scan writer: interleaved DC first scan at
    * Al=1, per-component AC first scans over band 1-63 at Al=1 (EOB-run
    * coding on the flat AC table), interleaved DC refinement (raw
    * bits), per-component AC refinement to Al=0 (newly-significant
    * symbols + inline correction bits, EOB runs carrying buffered bits
    * - the T.81 §G.1.2.3 flow; the ZRL fold runs at EVERY nonzero
    * coefficient so buffered bits land exactly where the decoder reads
    * them). Refinement reaches Al=0, so decoded coefficients equal the
    * baseline quantized values exactly. */
  private def writeProgressiveScans(out: java.io.ByteArrayOutputStream,
      comps: Array[ProgComp], mcusX: Int, mcusY: Int,
      acBands: Seq[(Int, Int)]): Unit = {
    require(acBands.nonEmpty && acBands.head._1 == 1 &&
      acBands.last._2 == 63 &&
      acBands.sliding(2).forall {
        case Seq((_, e), (s2, _)) => s2 == e + 1
        case _ => true
      } && acBands.forall { case (a, b) => a <= b },
      "acBands must partition 1..63 contiguously")
    def u16v(v: Int): Unit = { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    def sos(scan: Seq[(Int, Int)], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(out, 0xda)
      u16v(6 + 2 * scan.length)
      out.write(scan.length)
      scan.foreach { case (id, tt) => out.write(id); out.write(tt) }
      out.write(ss); out.write(se); out.write((ah << 4) | al)
    }
    // interleaved MCU order over every component's v*h blocks - also
    // plain row-major block order for a single 1*1 component
    def dcOrder(f: (Int, Int) => Unit): Unit = {
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var ci = 0
          while (ci < comps.length) {
            val c = comps(ci)
            var vy = 0
            while (vy < c.v) {
              var hx = 0
              while (hx < c.h) {
                f(ci, ((my * c.v + vy) * c.blocksX + (mx * c.h + hx)) * 64)
                hx += 1
              }
              vy += 1
            }
            ci += 1
          }
          mx += 1
        }
        my += 1
      }
    }
    def acBlocks(c: ProgComp)(f: Int => Unit): Unit = {
      var by = 0
      while (by < c.dataBY) {
        var bx = 0
        while (bx < c.dataBX) { f((by * c.blocksX + bx) * 64); bx += 1 }
        by += 1
      }
    }

    // scan 1: DC first, Al=1 - sequential DC grammar over coef >> 1
    // (arithmetic shift: the refinement bit restores the dropped LSB by
    // OR, which is exact for negatives in two's complement)
    sos(comps.toSeq.map(c => (c.id, c.dcId << 4)), 0, 0, 0, 1)
    var bw = new BitWriter(out)
    val preds = new Array[Int](comps.length)
    dcOrder { (ci, base) =>
      val c = comps(ci)
      val v = c.qcoef(base) >> 1
      val diff = v - preds(ci)
      preds(ci) = v
      val s = category(diff)
      val (cc, l) = c.dcEnc(s)
      bw.put(cc, l)
      if (s > 0) bw.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
    }
    bw.flush()

    // per-component AC first scans per spectral band, Al=1, EOB-run
    // grammar (real crawl scripts split the band, e.g. 1-5 then 6-63)
    for ((bandSs, bandSe) <- acBands; c <- comps) {
      sos(Seq((c.id, 0x00)), bandSs, bandSe, 0, 1) // AC table 0: flat
      val w = new BitWriter(out)
      var eobrun = 0
      def flushEob(): Unit = if (eobrun > 0) {
        val r = 31 - Integer.numberOfLeadingZeros(eobrun)
        val (cc, l) = FlatAcEnc(r << 4)
        w.put(cc, l)
        if (r > 0) w.put(eobrun - (1 << r), r)
        eobrun = 0
      }
      acBlocks(c) { base =>
        var k = bandSs
        var run = 0
        while (k <= bandSe) {
          val c0 = c.qcoef(base + ZigZag(k))
          val t = (if (c0 >= 0) c0 else -c0) >> 1
          if (t == 0) run += 1
          else {
            flushEob()
            while (run > 15) {
              val (cc, l) = FlatAcEnc(0xf0); w.put(cc, l); run -= 16
            }
            val v = if (c0 >= 0) t else -t
            val sz = category(v)
            val (cc, l) = FlatAcEnc((run << 4) | sz)
            w.put(cc, l)
            w.put(if (v < 0) v + (1 << sz) - 1 else v, sz)
            run = 0
          }
          k += 1
        }
        if (run > 0) { eobrun += 1; if (eobrun == 0x7fff) flushEob() }
      }
      flushEob()
      w.flush()
    }

    // interleaved DC refinement: one raw bit per block, no Huffman
    sos(comps.toSeq.map(c => (c.id, c.dcId << 4)), 0, 0, 1, 0)
    bw = new BitWriter(out)
    dcOrder { (ci, base) => bw.put(comps(ci).qcoef(base) & 1, 1) }
    bw.flush()

    // per-component AC refinement per spectral band, Ah=1 Al=0
    for ((bandSs, bandSe) <- acBands; c <- comps) {
      sos(Seq((c.id, 0x00)), bandSs, bandSe, 1, 0)
      val w = new BitWriter(out)
      var eobrun = 0
      val pendGlobal = scala.collection.mutable.ArrayBuffer.empty[Int]
      val pendBlock = scala.collection.mutable.ArrayBuffer.empty[Int]
      def flushEob(): Unit = if (eobrun > 0) {
        val r = 31 - Integer.numberOfLeadingZeros(eobrun)
        val (cc, l) = FlatAcEnc(r << 4)
        w.put(cc, l)
        if (r > 0) w.put(eobrun - (1 << r), r)
        eobrun = 0
        pendGlobal.foreach(bit => w.put(bit, 1))
        pendGlobal.clear()
      }
      def drainBlock(): Unit = {
        pendBlock.foreach(bit => w.put(bit, 1))
        pendBlock.clear()
      }
      acBlocks(c) { base =>
        var eobPos = 0 // last newly-significant position bounds ZRL folding
        var k = bandSs
        while (k <= bandSe) {
          val c0 = c.qcoef(base + ZigZag(k))
          if (c0 == 1 || c0 == -1) eobPos = k
          k += 1
        }
        var r = 0
        k = bandSs
        while (k <= bandSe) {
          val c0 = c.qcoef(base + ZigZag(k))
          val t = if (c0 >= 0) c0 else -c0
          if (t == 0) r += 1
          else {
            while (r > 15 && k <= eobPos) {
              flushEob()
              val (cc, l) = FlatAcEnc(0xf0)
              w.put(cc, l)
              r -= 16
              drainBlock()
            }
            if (t > 1) pendBlock += (t & 1) // correction bit
            else { // newly significant: symbol, sign, then buffered bits
              flushEob()
              val (cc, l) = FlatAcEnc((r << 4) | 1)
              w.put(cc, l)
              w.put(if (c0 >= 0) 1 else 0, 1)
              drainBlock()
              r = 0
            }
          }
          k += 1
        }
        if (r > 0 || pendBlock.nonEmpty) { // block tail rides the EOB run
          eobrun += 1
          pendGlobal ++= pendBlock
          pendBlock.clear()
          if (eobrun == 0x7fff) flushEob()
        }
      }
      flushEob()
      w.flush()
    }
  }

  /** Encode a grayscale raster as a PROGRESSIVE JPEG (SOF2) with the
    * standard successive-approximation scan script (see
    * [[writeProgressiveScans]]). Decoded coefficients equal the
    * baseline quantized values exactly, so progressive and baseline
    * round trips are pixel-identical for the same quant table
    * (spec-pinned for arbitrary images). */
  def encodeGrayProgressive(pixels: Array[Byte], width: Int,
      quant: Array[Int] = StdQuant,
      acBands: Seq[(Int, Int)] = Seq((1, 63))): Array[Byte] = {
    require(width > 0 && pixels.length > 0 && pixels.length % width == 0,
      "pixels must be a positive multiple of width")
    require(quant.length == 64 && quant.forall(q => q >= 1 && q <= 255),
      "quant table must be 64 entries in [1, 255]")
    val height = pixels.length / width
    require(width < (1 << 16) && height < (1 << 16), "dimensions exceed u16")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Soi)
    out.write(dqtSegment(quant))
    // SOF2: 1 component, 1x1 sampling, quant table 0
    out.write(sofSegment(0xc2, width, height, Array(1, 0x11, 0)))
    out.write(DhtDc)
    out.write(DhtFlatAc)
    val blocksX = (width + 7) / 8
    val blocksY = (height + 7) / 8
    val q = quantizePlane(pixels, width, height, blocksX, blocksY, quant)
    val comp = new ProgComp(1, 1, 1, 0, DcEnc, q, blocksX, blocksX, blocksY)
    writeProgressiveScans(out, Array(comp), blocksX, blocksY, acBands)
    marker(out, 0xd9) // EOI
    out.toByteArray
  }

  /** [[encodeYcbcr420]] through the PROGRESSIVE grammar - progressive
    * color, the single most common web-JPEG shape. Same plane contract
    * as [[encodeYcbcr]] at (2,2); DC scans interleave the three
    * components over 16x16 MCUs, AC scans run per component over its
    * own data-unit grid, refinement reaches Al=0 - so the decoded
    * pixels equal the BASELINE color round trip bit for bit
    * (spec-pinned). */
  def encodeYcbcr420Progressive(y: Array[Byte], cb: Array[Byte],
      cr: Array[Byte], width: Int, height: Int,
      quantY: Array[Int] = StdQuant,
      quantC: Array[Int] = StdQuantChroma,
      acBands: Seq[(Int, Int)] = Seq((1, 63))): Array[Byte] = {
    require(width > 0 && height > 0 && y.length == width * height,
      "luma plane must be width*height bytes")
    val cw = (width + 1) / 2
    val ch = (height + 1) / 2
    require(cb.length == cw * ch && cr.length == cw * ch,
      "chroma planes must be ceil(w/2)*ceil(h/2) bytes")
    require(width < (1 << 16) && height < (1 << 16), "dimensions exceed u16")
    Seq(quantY, quantC).foreach(q =>
      require(q.length == 64 && q.forall(v => v >= 1 && v <= 255),
        "quant tables must be 64 entries in [1, 255]"))
    val out = new java.io.ByteArrayOutputStream()
    out.write(Soi)
    out.write(dqtSegment(quantY, quantC)) // id 0 luma, 1 chroma
    // SOF2: 3 components, Y 2x2 / chroma 1x1
    out.write(sofSegment(0xc2, width, height,
      Array(1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)))
    out.write(DhtDc)
    out.write(DhtDcCh)
    out.write(DhtFlatAc)
    val mcusX = (width + 15) / 16
    val mcusY = (height + 15) / 16
    val qY = quantizePlane(y, width, height, mcusX * 2, mcusY * 2, quantY)
    val qCb = quantizePlane(cb, cw, ch, mcusX, mcusY, quantC)
    val qCr = quantizePlane(cr, cw, ch, mcusX, mcusY, quantC)
    val comps = Array(
      new ProgComp(1, 2, 2, 0, DcEnc, qY, mcusX * 2,
        (width + 7) / 8, (height + 7) / 8),
      new ProgComp(2, 1, 1, 1, DcEncCh, qCb, mcusX,
        (cw + 7) / 8, (ch + 7) / 8),
      new ProgComp(3, 1, 1, 1, DcEncCh, qCr, mcusX,
        (cw + 7) / 8, (ch + 7) / 8))
    writeProgressiveScans(out, comps, mcusX, mcusY, acBands)
    marker(out, 0xd9) // EOI
    out.toByteArray
  }

  /** [[encodeYcbcr]] at 4:2:0 — the shape of essentially every
    * camera/crawl JPEG. */
  def encodeYcbcr420(y: Array[Byte], cb: Array[Byte], cr: Array[Byte],
      width: Int, height: Int, quantY: Array[Int] = StdQuant,
      quantC: Array[Int] = StdQuantChroma,
      restartEvery: Int = 0): Array[Byte] =
    encodeYcbcr(y, cb, cr, width, height, 2, 2, quantY, quantC, restartEvery)

  /** Encode a YCbCr image as a 3-component baseline JPEG with the luma
    * sampling grid (`hSamp`, `vSamp`) ∈ {1, 2}²: (2,2) = 4:2:0,
    * (2,1) = 4:2:2, (1,1) = 4:4:4 — the three grids real crawls carry
    * (and the three the decoder accepts). `y` is the full-resolution
    * `width`×`height` luma plane; `cb`/`cr` are the
    * `ceil(w/hSamp)`×`ceil(h/vSamp)` chroma planes (RGB→YCbCr
    * conversion and the chroma box filter are JFIF-level concerns that
    * sit with the caller, outside T.81). The scan is interleaved MCUs —
    * `vSamp`×`hSamp` Y blocks then one Cb and one Cr — with
    * per-component quant (luma id 0, chroma id 1) and Huffman (Annex K
    * luminance/chrominance) tables, independent DC predictors, and
    * optional restart markers every `restartEvery` MCUs. */
  def encodeYcbcr(y: Array[Byte], cb: Array[Byte], cr: Array[Byte],
      width: Int, height: Int, hSamp: Int, vSamp: Int,
      quantY: Array[Int] = StdQuant, quantC: Array[Int] = StdQuantChroma,
      restartEvery: Int = 0): Array[Byte] = {
    require(hSamp >= 1 && hSamp <= 2 && vSamp >= 1 && vSamp <= 2,
      s"unsupported sampling factor ${hSamp}x$vSamp")
    require(width > 0 && height > 0 && y.length == width * height,
      "luma plane must be width*height bytes")
    val cw = (width + hSamp - 1) / hSamp
    val ch = (height + vSamp - 1) / vSamp
    require(cb.length == cw * ch && cr.length == cw * ch,
      "chroma planes must be ceil(w/hSamp)*ceil(h/vSamp) bytes")
    require(width < (1 << 16) && height < (1 << 16), "dimensions exceed u16")
    Seq(quantY, quantC).foreach(q =>
      require(q.length == 64 && q.forall(v => v >= 1 && v <= 255),
        "quant tables must be 64 entries in [1, 255]"))
    val out = new java.io.ByteArrayOutputStream()
    out.write(SoiApp0)
    out.write(dqtSegment(quantY, quantC)) // id 0 luma, 1 chroma
    // SOF0: Y hSamp×vSamp with quant 0, Cb and Cr 1×1 with quant 1
    out.write(sofSegment(0xc0, width, height,
      Array(1, (hSamp << 4) | vSamp, 0, 2, 0x11, 1, 3, 0x11, 1)))
    out.write(YcbcrDht)
    if (restartEvery > 0) out.write(driSegment(restartEvery))
    out.write(YcbcrSos)
    val bw = new BitWriter(out)
    val mcusX = (width + 8 * hSamp - 1) / (8 * hSamp)
    val mcusY = (height + 8 * vSamp - 1) / (8 * vSamp)
    val block = new Array[Double](64)
    var predY = 0
    var predCb = 0
    var predCr = 0
    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartEvery > 0 && mcu > 0 && mcu % restartEvery == 0) {
          bw.flush()
          marker(out, 0xd0 + ((mcu / restartEvery - 1) % 8))
          predY = 0; predCb = 0; predCr = 0
        }
        var vy = 0 // the vSamp×hSamp luma blocks, raster order within the MCU
        while (vy < vSamp) {
          var hx = 0
          while (hx < hSamp) {
            loadBlock(y, width, height, mx * hSamp + hx, my * vSamp + vy, block)
            predY = emitBlock(bw, block, quantY, DcEnc, AcEnc, predY)
            hx += 1
          }
          vy += 1
        }
        loadBlock(cb, cw, ch, mx, my, block)
        predCb = emitBlock(bw, block, quantC, DcEncCh, AcEncCh, predCb)
        loadBlock(cr, cw, ch, mx, my, block)
        predCr = emitBlock(bw, block, quantC, DcEncCh, AcEncCh, predCr)
        mcu += 1
        mx += 1
      }
      my += 1
    }
    bw.flush()
    marker(out, 0xd9) // EOI
    out.toByteArray
  }

  /** Decoder-side canonical Huffman table (spec §F.2.2.3). */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes of this length
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l) == 0) maxCode(l) = -1
        else {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l); k += bits(l)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def value(len: Int, code: Int): Int = vals(valPtr(len) + code - minCode(len))
    def inRange(len: Int, code: Int): Boolean =
      maxCode(len) >= 0 && code <= maxCode(len)
  }

  /** Decoder tables of the Huffman specs the encoders write, so that
    * decoding their streams (every MJPEG frame) builds no table. */
  private val KnownHuff: Array[(Array[Byte], HuffTable)] = Array(
    DcSpec -> new HuffTable(DcBits, DcVals),
    AcSpec -> new HuffTable(AcBits, AcVals),
    DcSpecCh -> new HuffTable(DcBitsCh, DcValsCh),
    AcSpecCh -> new HuffTable(AcBitsCh, AcValsCh),
    FlatAcSpec -> new HuffTable(FlatAcBits, FlatAcVals))

  /** The known table whose spec is `payload(at until at + n)`, else null. */
  private def knownHuff(payload: Array[Byte], at: Int, n: Int): HuffTable = {
    var i = 0
    while (i < KnownHuff.length) {
      val spec = KnownHuff(i)._1
      if (java.util.Arrays.equals(payload, at, at + n, spec, 0, spec.length))
        return KnownHuff(i)._2
      i += 1
    }
    null
  }

  /** Entropy-segment bit reader: unstuffs 0xFF 00, surfaces RSTn and EOI
    * as events rather than data. */
  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var buf = 0
    private var n = 0
    var atMarker: Int = -1 // the marker byte when one interrupts the stream
    def nextBit(): Int = {
      if (n == 0) {
        require(pos < data.length, "entropy stream ran past the payload")
        var b = data(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          require(pos < data.length, "dangling 0xFF at payload end")
          val m = data(pos) & 0xff
          pos += 1
          if (m == 0x00) () // stuffed literal 0xFF
          else { atMarker = m; b = 0 } // marker: feed zero bits (spec §F.2.2.5 handles via restart/EOI)
        }
        buf = b; n = 8
      }
      n -= 1
      (buf >>> n) & 1
    }
    def decodeHuff(t: HuffTable): Int = {
      var code = nextBit()
      var len = 1
      while (!t.inRange(len, code)) {
        require(len < 16, "invalid Huffman code")
        code = (code << 1) | nextBit()
        len += 1
      }
      t.value(len, code)
    }
    def receive(s: Int): Int = {
      var v = 0
      var i = 0
      while (i < s) { v = (v << 1) | nextBit(); i += 1 }
      v
    }
    /** Byte-align and consume an expected RSTn marker. */
    def consumeRestart(expected: Int): Unit = {
      n = 0
      if (atMarker < 0) {
        require(pos + 1 < data.length && (data(pos) & 0xff) == 0xff,
          "expected restart marker")
        atMarker = data(pos + 1) & 0xff
        pos += 2
      }
      require(atMarker == 0xd0 + expected,
        f"expected RST$expected, got marker 0x${atMarker}%02x")
      atMarker = -1
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Decode a baseline grayscale JPEG → (width, height, row-major pixel
    * bytes). Accepts any single-component baseline stream (multiple
    * DQT/DHT segments, APPn/COM, DRI/RSTn), not just this encoder's. */
  def decodeGray(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
    val (w, h, nc, px) = decode(payload)
    require(nc == 1, "only single-component (grayscale) JPEG supported")
    (w, h, px)
  }

  /** Decode a 3-component baseline JPEG → (width, height, interleaved
    * row-major RGB bytes, JFIF-converted). Accepts 4:4:4, 4:2:2 and
    * 4:2:0 sampling grids. */
  def decodeColor(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
    val (w, h, nc, px) = decode(payload)
    require(nc == 3, "expected a 3-component (color) JPEG")
    (w, h, px)
  }

  /** One component's SOF description plus its SOS table bindings. */
  private final class Component(val id: Int, val h: Int, val v: Int,
      val qId: Int) {
    var dcId: Int = -1
    var acId: Int = -1
  }

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** A frame's sampling geometry, fixed at its first SOS: the MCU grid,
    * each component's MCU-padded plane and actual data-unit grid, and
    * (progressive only) the coefficient store every scan accumulates
    * into. A class rather than vars of [[decode]], so the scan decoders
    * read fields instead of `IntRef`/`ObjectRef` boxes. */
  private final class Geometry(width: Int, height: Int,
      val comps: Array[Component], progressive: Boolean) {
    private val nc = comps.length
    val hMax: Int = {
      var m = 1; var i = 0
      while (i < nc) { m = math.max(m, comps(i).h); i += 1 }
      m
    }
    val vMax: Int = {
      var m = 1; var i = 0
      while (i < nc) { m = math.max(m, comps(i).v); i += 1 }
      m
    }
    val mcusX: Int = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY: Int = (height + 8 * vMax - 1) / (8 * vMax)
    val planeW = new Array[Int](nc)
    val planeH = new Array[Int](nc)
    // non-interleaved progressive scans cover only the ACTUAL data
    // units (ceil(compDim/8)), not the MCU-padded grid
    val dataBX = new Array[Int](nc)
    val dataBY = new Array[Int](nc)
    locally {
      var totalSamples = 0L
      var i = 0
      while (i < nc) {
        val c = comps(i)
        planeW(i) = mcusX * c.h * 8
        planeH(i) = mcusY * c.v * 8
        dataBX(i) = ((width * c.h + hMax - 1) / hMax + 7) / 8
        dataBY(i) = ((height * c.v + vMax - 1) / vMax + 7) / 8
        totalSamples += planeW(i).toLong * planeH(i).toLong
        i += 1
      }
      // u16 dims can claim ~4.3e9 px from a 20-byte header — cap BEFORE
      // allocating, in Long so the product cannot wrap into a
      // NegativeArraySizeException. The cap bounds TOTAL samples across
      // all component planes (a crafted 3-component header otherwise
      // allocates ~3-6× the grayscale bound), so color payloads get the
      // same absolute memory ceiling as grayscale. Progressive holds
      // every coefficient in memory (4 B/sample/component), so its cap
      // is tighter than the baseline streaming path's.
      require(totalSamples <= (if (progressive) 1L << 26 else 1L << 28),
        s"decoded image too large: ${width}x$height, " +
          s"$nc component(s), $totalSamples plane samples")
    }
    val coefs: Array[Array[Int]] =
      if (!progressive) null
      else {
        val cs = new Array[Array[Int]](nc)
        var i = 0
        while (i < nc) {
          cs(i) = new Array[Int]((planeW(i) / 8) * (planeH(i) / 8) * 64)
          i += 1
        }
        cs
      }
  }

  /** The general decoder both fronts share → (width, height, component
    * count, pixels): grayscale bytes for one component, interleaved
    * JFIF-converted RGB for three. Handles BASELINE (SOF0: one
    * interleaved scan, streamed block by block) and PROGRESSIVE (SOF2:
    * any spectral-selection + successive-approximation scan script —
    * interleaved or single-component DC scans, per-component AC band
    * scans, DC/AC refinement with EOB-run coding; coefficients
    * accumulate across scans and reconstruct once at EOI). Any h,v ∈
    * {1,2} sampling grid, per-component quant/Huffman table selection,
    * tables redefinable between scans, restart markers, multiple
    * DQT/DHT segments, APPn/COM — any real crawl stream, not just this
    * encoder's. */
  def decode(payload: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    require(payload.length >= 4 &&
      (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8,
      "not a JPEG payload (missing SOI)")
    def u16(i: Int): Int =
      ((payload(i) & 0xff) << 8) | (payload(i + 1) & 0xff)
    val quants = new Array[Array[Int]](4)
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var width = -1
    var height = -1
    var comps: Array[Component] = null
    var progressive = false
    var restartInterval = 0
    var pos = 2
    var sosAt = -1 // baseline: entry point of the one interleaved scan
    var eoi = false
    var scanCount = 0

    // sizing + progressive coefficient state, computed at the first SOS
    var geo: Geometry = null
    val progPreds = new Array[Int](4)

    /** Decode one progressive scan's entropy data; returns the payload
      * position of the next marker (resynced past stuffing and stray
      * RSTn). */
    def decodeProgScan(g: Geometry, restartEvery: Int, scanComps: Array[Int],
        ss: Int, se: Int, ah: Int, al: Int, entryPos: Int): Int = {
      val comps = g.comps
      val coefs = g.coefs
      val br = new BitReader(payload, entryPos)
      var eobrun = 0
      java.util.Arrays.fill(progPreds, 0)
      var restartCount = 0
      var unit = 0
      def maybeRestart(): Unit =
        if (restartEvery > 0 && unit > 0 && unit % restartEvery == 0) {
          br.consumeRestart(restartCount % 8)
          restartCount += 1
          java.util.Arrays.fill(progPreds, 0)
          eobrun = 0
        }
      def blockBase(ci: Int, bx: Int, by: Int): Int =
        (by * (g.planeW(ci) / 8) + bx) * 64

      def dcFirst(ci: Int, base: Int): Unit = {
        val s = br.decodeHuff(dcTabs(comps(ci).dcId))
        progPreds(ci) += extend(br.receive(s), s)
        coefs(ci)(base) = progPreds(ci) << al
      }
      def dcRefine(ci: Int, base: Int): Unit =
        if (br.nextBit() == 1) coefs(ci)(base) |= (1 << al)
      def acFirst(ci: Int, base: Int): Unit =
        if (eobrun > 0) eobrun -= 1
        else {
          val arr = coefs(ci)
          val acTab = acTabs(comps(ci).acId)
          var k = ss
          var done = false
          while (k <= se && !done) {
            val sym = br.decodeHuff(acTab)
            val r = sym >> 4
            val sz = sym & 0x0f
            if (sz == 0) {
              if (r == 15) k += 16 // ZRL: sixteen zero coefficients
              else { // EOBn: this block plus (eobrun) more are done
                eobrun = (1 << r) - 1 + (if (r > 0) br.receive(r) else 0)
                done = true
              }
            } else {
              k += r
              require(k <= se, "AC run past band end")
              arr(base + ZigZag(k)) = extend(br.receive(sz), sz) << al
              k += 1
            }
          }
        }
      def acRefine(ci: Int, base: Int): Unit = {
        val arr = coefs(ci)
        val acTab = acTabs(comps(ci).acId)
        val p1 = 1 << al
        val m1 = -1 << al
        def correct(idx: Int): Unit =
          if (br.nextBit() == 1 && (arr(idx) & p1) == 0)
            arr(idx) += (if (arr(idx) >= 0) p1 else m1)
        var k = ss
        if (eobrun == 0) {
          var done = false
          while (k <= se && !done) {
            val sym = br.decodeHuff(acTab)
            var r = sym >> 4
            val sz = sym & 0x0f
            var newval = 0
            if (sz == 0) {
              if (r < 15) { // EOBn: correction sweep below covers the rest
                eobrun = (1 << r) + (if (r > 0) br.receive(r) else 0)
                done = true
              }
              // r == 15: a run of 16 zero-HISTORY coefficients
            } else {
              require(sz == 1, "invalid refinement magnitude category")
              newval = if (br.nextBit() == 1) p1 else m1
            }
            if (!done) {
              // advance past r zero-history coefficients, reading inline
              // correction bits for every nonzero-history one passed
              var placed = false
              while (k <= se && !placed) {
                val idx = base + ZigZag(k)
                if (arr(idx) != 0) correct(idx)
                else if (r == 0) { if (newval != 0) arr(idx) = newval; placed = true }
                else r -= 1
                k += 1
              }
            }
          }
        }
        if (eobrun > 0) { // EOB span: corrections for remaining nonzeros
          while (k <= se) {
            val idx = base + ZigZag(k)
            if (arr(idx) != 0) correct(idx)
            k += 1
          }
          eobrun -= 1
        }
      }

      if (scanComps.length > 1) { // interleaved: DC scans only
        var my = 0
        while (my < g.mcusY) {
          var mx = 0
          while (mx < g.mcusX) {
            maybeRestart()
            var i = 0
            while (i < scanComps.length) {
              val ci = scanComps(i)
              val c = comps(ci)
              var vy = 0
              while (vy < c.v) {
                var hx = 0
                while (hx < c.h) {
                  val base = blockBase(ci, mx * c.h + hx, my * c.v + vy)
                  if (ah == 0) dcFirst(ci, base) else dcRefine(ci, base)
                  hx += 1
                }
                vy += 1
              }
              i += 1
            }
            unit += 1
            mx += 1
          }
          my += 1
        }
      } else { // non-interleaved: the component's own data-unit grid
        val ci = scanComps(0)
        var by = 0
        while (by < g.dataBY(ci)) {
          var bx = 0
          while (bx < g.dataBX(ci)) {
            maybeRestart()
            val base = blockBase(ci, bx, by)
            if (ss == 0) { if (ah == 0) dcFirst(ci, base) else dcRefine(ci, base) }
            else { if (ah == 0) acFirst(ci, base) else acRefine(ci, base) }
            unit += 1
            bx += 1
          }
          by += 1
        }
      }
      // resync to the next marker: remaining entropy bytes are padding;
      // a 0xFF inside them is stuffing (FF00) or a stray RSTn, both
      // skipped. If the reader already swallowed the marker while
      // feeding zero bits, br.pos - 2 points exactly at it.
      var p = math.max(entryPos, br.pos - 2)
      var found = -1
      while (found < 0) {
        require(p + 1 < payload.length, "entropy stream ran past the payload")
        if ((payload(p) & 0xff) == 0xff) {
          val m2 = payload(p + 1) & 0xff
          if (m2 == 0x00 || (m2 >= 0xd0 && m2 <= 0xd7)) p += 2
          else found = p
        } else p += 1
      }
      found
    }

    while (sosAt < 0 && !eoi) {
      require(pos + 2 <= payload.length, "truncated marker stream")
      val lead = payload(pos) & 0xff
      require(lead == 0xff, f"expected marker, got 0x$lead%02x")
      val m = payload(pos + 1) & 0xff
      if (m == 0xd9) { // EOI terminates the progressive scan sequence
        require(progressive && geo != null, "EOI before any image scan")
        eoi = true
        pos += 2
      } else {
      require(pos + 4 <= payload.length, "truncated marker stream")
      val len = u16(pos + 2)
      require(len >= 2 && pos + 2 + len <= payload.length,
        f"truncated segment 0x$m%02x")
      val seg = pos + 4
      var nextPos = pos + 2 + len
      m match {
        case 0xdb => // DQT: one or more tables per segment
          var p = seg
          while (p < pos + 2 + len) {
            require(p + 65 <= pos + 2 + len, "truncated DQT segment")
            require((payload(p) & 0xf0) == 0, "only 8-bit quant tables supported")
            val id = payload(p) & 0x0f
            // the nibble admits 0-15 but JPEG defines ids 0-3; a hostile
            // id must fail here, not as a raw AIOOBE on the 4-slot array
            require(id < 4, s"quant table id $id out of range")
            val t = new Array[Int](64)
            var i = 0
            while (i < 64) { t(ZigZag(i)) = payload(p + 1 + i) & 0xff; i += 1 }
            quants(id) = t
            p += 65
          }
        case 0xc0 | 0xc2 => // SOF0 (baseline) / SOF2 (progressive)
          require(comps == null, "duplicate SOF segment")
          progressive = m == 0xc2
          require((payload(seg) & 0xff) == 8, "only 8-bit precision supported")
          height = u16(seg + 1)
          width = u16(seg + 3)
          require(width >= 1 && height >= 1, "degenerate dimensions")
          val nc = payload(seg + 5) & 0xff
          require(nc == 1 || nc == 3,
            s"unsupported component count $nc (grayscale or YCbCr expected)")
          require(len >= 8 + 3 * nc, "truncated SOF0 segment")
          val cs = new Array[Component](nc)
          var i = 0
          while (i < nc) {
            val o = seg + 6 + 3 * i
            val hv = payload(o + 1) & 0xff
            val sh = hv >> 4
            val sv = hv & 0x0f
            require(sh >= 1 && sh <= 2 && sv >= 1 && sv <= 2,
              s"unsupported sampling factor ${sh}x$sv")
            val qId = payload(o + 2) & 0x0f
            require(qId < 4, s"quant table id $qId out of range")
            cs(i) = new Component(payload(o) & 0xff, sh, sv, qId)
            i += 1
          }
          comps = cs
          if (nc == 1)
            require(comps(0).h == 1 && comps(0).v == 1,
              "subsampling not applicable to one component")
        case 0xc4 => // DHT: one or more tables per segment
          var p = seg
          while (p < pos + 2 + len) {
            val tcTh = payload(p) & 0xff
            require((tcTh >> 4) <= 1, s"Huffman table class ${tcTh >> 4} out of range")
            require((tcTh & 0x0f) < 4, s"Huffman table id ${tcTh & 0x0f} out of range")
            require(p + 17 <= pos + 2 + len, "truncated DHT segment")
            var total = 0
            var l = 1
            while (l <= 16) { total += payload(p + l) & 0xff; l += 1 }
            require(p + 17 + total <= pos + 2 + len, "truncated DHT segment")
            val known = knownHuff(payload, p + 1, 16 + total)
            val t = if (known != null) known else {
              val bits = new Array[Int](17)
              l = 1
              while (l <= 16) { bits(l) = payload(p + l) & 0xff; l += 1 }
              val vals = new Array[Int](total)
              var i = 0
              while (i < total) { vals(i) = payload(p + 17 + i) & 0xff; i += 1 }
              new HuffTable(bits, vals)
            }
            if ((tcTh >> 4) == 0) dcTabs(tcTh & 0x0f) = t
            else acTabs(tcTh & 0x0f) = t
            p += 17 + total
          }
        case 0xdd => restartInterval = u16(seg)
        case 0xda if !progressive => // baseline SOS: ONE interleaved scan
          require(comps != null, "SOS before SOF0")
          val ns = payload(seg) & 0xff
          require(ns == comps.length, "scan component count must match SOF0")
          require(len >= 6 + 2 * ns, "truncated SOS segment")
          var i = 0
          while (i < ns) {
            val cid = payload(seg + 1 + 2 * i) & 0xff
            val c = comps.find(_.id == cid).getOrElse(
              throw new IllegalArgumentException(
                s"scan references unknown component id $cid"))
            val tt = payload(seg + 2 + 2 * i) & 0xff
            c.dcId = (tt & 0xf0) >> 4
            c.acId = tt & 0x0f
            require(c.dcId < 4 && c.acId < 4,
              s"scan Huffman table ids (${c.dcId}, ${c.acId}) out of range")
            i += 1
          }
          require((payload(seg + 1 + 2 * ns) & 0xff) == 0 &&
            (payload(seg + 2 + 2 * ns) & 0xff) == 63,
            "baseline full-spectrum scan expected")
          sosAt = pos + 2 + len
        case 0xda => // progressive SOS: one scan of the script
          require(comps != null, "SOS before SOF0")
          val ns = payload(seg) & 0xff
          require(ns >= 1 && ns <= comps.length,
            s"bad scan component count $ns")
          require(len >= 6 + 2 * ns, "truncated SOS segment")
          val scanComps = new Array[Int](ns)
          var i = 0
          while (i < ns) {
            val cid = payload(seg + 1 + 2 * i) & 0xff
            val ciIdx = comps.indexWhere(_.id == cid)
            require(ciIdx >= 0, s"scan references unknown component id $cid")
            val tt = payload(seg + 2 + 2 * i) & 0xff
            comps(ciIdx).dcId = (tt & 0xf0) >> 4
            comps(ciIdx).acId = tt & 0x0f
            require(comps(ciIdx).dcId < 4 && comps(ciIdx).acId < 4,
              s"scan Huffman table ids out of range")
            scanComps(i) = ciIdx
            i += 1
          }
          val ss = payload(seg + 1 + 2 * ns) & 0xff
          val se = payload(seg + 2 + 2 * ns) & 0xff
          val ahAl = payload(seg + 3 + 2 * ns) & 0xff
          val ah = ahAl >> 4
          val al = ahAl & 0x0f
          require(ss <= se && se < 64, s"bad spectral band $ss..$se")
          require(ah < 14 && al < 14, "bad successive-approximation bits")
          if (ss == 0) require(se == 0, "DC scan must have Se=0")
          else require(ns == 1, "AC progressive scans are single-component")
          // every scan pays a full block-grid walk, so unbounded scan
          // counts are a decode-time DoS from a small payload; real
          // progressive scripts run ~10 scans (spectral bands ×
          // approximation levels), so 64 is generous
          scanCount += 1
          require(scanCount <= 64, "too many progressive scans")
          if (geo == null) geo = new Geometry(width, height, comps, progressive)
          i = 0
          while (i < ns) {
            val c = comps(scanComps(i))
            if (ss == 0 && ah == 0)
              require(dcTabs(c.dcId) != null, "missing Huffman tables")
            if (ss > 0)
              require(acTabs(c.acId) != null, "missing Huffman tables")
            require(quants(c.qId) != null, s"missing quant table ${c.qId}")
            i += 1
          }
          nextPos = decodeProgScan(geo, restartInterval, scanComps, ss, se,
            ah, al, pos + 2 + len)
        case x if x >= 0xe0 && x <= 0xef => () // APPn
        case 0xfe => () // COM
        case other => throw new IllegalArgumentException(
          f"unsupported marker 0xff$other%02x")
      }
      pos = nextPos
      }
    }
    require(width > 0 && comps != null, "missing SOF0")
    val nc = comps.length
    if (geo == null) geo = new Geometry(width, height, comps, progressive)
    val geom = geo
    val planeW = geom.planeW
    // per-component planes on the MCU-padded grid; cropped at assembly
    val planes = new Array[Array[Byte]](nc)
    locally {
      var i = 0
      while (i < nc) {
        planes(i) = new Array[Byte](planeW(i) * geom.planeH(i))
        i += 1
      }
    }

    def writePixels(plane: Array[Byte], pw: Int, bx: Int, by: Int,
        px: Array[Double]): Unit = {
      var y = 0
      while (y < 8) {
        val rowBase = (by * 8 + y) * pw + bx * 8
        var x = 0
        while (x < 8) {
          val v = Math.round(px(y * 8 + x) + 128.0)
          plane(rowBase + x) =
            (if (v < 0) 0 else if (v > 255) 255 else v).toByte
          x += 1
        }
        y += 1
      }
    }
    // DC-only fast path: the IDCT of a DC-only block is flat. The fill
    // value applies the SAME two cosTab multiplications the separable
    // IDCT would (row pass then column pass) and the same level shift,
    // rounding and clamp as [[writePixels]], so the result is
    // bit-identical to the general path — computed once, not per sample.
    def writeFlat(plane: Array[Byte], pw: Int, bx: Int, by: Int,
        dequantDc: Double): Unit = {
      val v = Math.round(dequantDc * cosTab(0)(0) * cosTab(0)(0) + 128.0)
      val px = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
      var y = 0
      while (y < 8) {
        val rowBase = (by * 8 + y) * pw + bx * 8
        java.util.Arrays.fill(plane, rowBase, rowBase + 8, px)
        y += 1
      }
    }

    if (progressive) {
      // every scan already accumulated into coefs; one reconstruction
      // pass dequantizes + inverse-transforms each block into its plane
      val coefD = new Array[Double](64)
      var ci = 0
      while (ci < nc) {
        val qId = comps(ci).qId
        val quant = quants(qId)
        require(quant != null, s"missing quant table $qId")
        val arr = geom.coefs(ci)
        val bw = planeW(ci) / 8
        val bh = geom.planeH(ci) / 8
        var by = 0
        while (by < bh) {
          var bx = 0
          while (bx < bw) {
            val base = (by * bw + bx) * 64
            var hasAc = false
            var j = 1
            while (j < 64) { if (arr(base + j) != 0) hasAc = true; j += 1 }
            if (hasAc) {
              j = 0
              while (j < 64) {
                coefD(j) = arr(base + j).toDouble * quant(j); j += 1
              }
              writePixels(planes(ci), planeW(ci), bx, by, idct(coefD))
            } else
              writeFlat(planes(ci), planeW(ci), bx, by, arr(base).toDouble * quant(0))
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
    } else {
    locally {
      var i = 0
      while (i < nc) {
        val c = comps(i)
        require(quants(c.qId) != null, s"missing quant table ${c.qId}")
        require(c.dcId >= 0 && dcTabs(c.dcId) != null && acTabs(c.acId) != null,
          "missing Huffman tables")
        i += 1
      }
    }
    val br = new BitReader(payload, sosAt)
    val coef = new Array[Double](64)
    val preds = new Array[Int](nc)

    def decodeBlock(ci: Int, bx: Int, by: Int): Unit = {
      val c = geom.comps(ci)
      val quant = quants(c.qId)
      val acTab = acTabs(c.acId)
      java.util.Arrays.fill(coef, 0.0)
      val s = br.decodeHuff(dcTabs(c.dcId))
      preds(ci) += extend(br.receive(s), s)
      coef(0) = preds(ci).toDouble * quant(0)
      var k = 1
      var done = false
      var hasAc = false
      while (k < 64 && !done) {
        val sym = br.decodeHuff(acTab)
        if (sym == 0x00) done = true // EOB
        else if (sym == 0xf0) k += 16 // ZRL
        else {
          k += sym >> 4
          require(k < 64, "AC run past block end")
          val sz = sym & 0x0f
          coef(ZigZag(k)) = extend(br.receive(sz), sz).toDouble * quant(ZigZag(k))
          hasAc = true
          k += 1
        }
      }
      if (hasAc) writePixels(planes(ci), planeW(ci), bx, by, idct(coef))
      else writeFlat(planes(ci), planeW(ci), bx, by, coef(0))
    }

    var mcu = 0
    var restartCount = 0
    var my = 0
    while (my < geom.mcusY) {
      var mx = 0
      while (mx < geom.mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          br.consumeRestart(restartCount % 8)
          restartCount += 1
          java.util.Arrays.fill(preds, 0)
        }
        var ci = 0 // interleaved: each component's v×h block grid in turn
        while (ci < nc) {
          val c = geom.comps(ci)
          var vy = 0
          while (vy < c.v) {
            var hx = 0
            while (hx < c.h) {
              decodeBlock(ci, mx * c.h + hx, my * c.v + vy)
              hx += 1
            }
            vy += 1
          }
          ci += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    }
    if (nc == 1) {
      val out = new Array[Byte](width * height)
      val pw = planeW(0)
      var y = 0
      while (y < height) {
        System.arraycopy(planes(0), y * pw, out, y * width, width)
        y += 1
      }
      (width, height, 1, out)
    } else {
      // chroma upsample by sample replication + JFIF YCbCr→RGB. The
      // conversion is plain binary64 arithmetic with floor(v + 0.5)
      // rounding so a SQL oracle can replay it bit-identically.
      val out = new Array[Byte](width * height * 3)
      val cY = comps(0); val cCb = comps(1); val cCr = comps(2)
      var o = 0
      var y = 0
      while (y < height) {
        val rY = (y * cY.v / geom.vMax) * planeW(0)
        val rCb = (y * cCb.v / geom.vMax) * planeW(1)
        val rCr = (y * cCr.v / geom.vMax) * planeW(2)
        var x = 0
        while (x < width) {
          val yd = (planes(0)(rY + x * cY.h / geom.hMax) & 0xff).toDouble
          val cb = planes(1)(rCb + x * cCb.h / geom.hMax) & 0xff
          val cr = planes(2)(rCr + x * cCr.h / geom.hMax) & 0xff
          val r = math.floor(yd + 1.402 * (cr - 128) + 0.5).toInt
          val g = math.floor(
            yd - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt
          val b = math.floor(yd + 1.772 * (cb - 128) + 0.5).toInt
          out(o) = clamp255(r).toByte
          out(o + 1) = clamp255(g).toByte
          out(o + 2) = clamp255(b).toByte
          o += 3
          x += 1
        }
        y += 1
      }
      (width, height, 3, out)
    }
  }
}
