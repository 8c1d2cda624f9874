package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup text pipeline's two hot
  * per-row loops. Both have composable higher-order-function equivalents
  * (kept in `StringExpressionsSpec` and the DuckDB oracles), but Spark
  * evaluates HOF lambdas interpreted — at sf0.1 the shingle `transform`
  * and the `aggregate` character fold were ~7 s and ~14 s of the dedup
  * bench. These expressions run the identical algorithm in a tight JVM
  * loop and keep whole-stage codegen alive by emitting a static call.
  */

/** Distinct word n-gram shingles of a token array, joined by a single
  * space — semantically identical to
  * `array_distinct(transform(sequence(1, size-n+1), i ->
  *   concat_ws(" ", element_at(ws,i), …, element_at(ws,i+n-1))))`
  * guarded by `when(size >= n, …) otherwise empty` (first-occurrence
  * order, like `array_distinct`), and to the DuckDB list comprehension
  * `list_distinct([ws[i] || ' ' || … for i in range(1, len(ws)-n+2)])`.
  * Fewer than n tokens yield an EMPTY array (not null). */
case class WordShingles(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String =
    if (distinct) "word_shingles" else "word_shingles_all"

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.WordShingles.compute($a, $n, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  private val Sep = UTF8String.fromString(" ")

  /** Static so generated code can call it; one pass. `distinct` keeps
    * first-occurrence order (like array_distinct); otherwise every
    * shingle keeps its multiplicity (the repetition-analysis input). */
  def compute(arr: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val sz = arr.numElements()
    if (sz < n) return new GenericArrayData(Array.empty[Any])
    val out: java.util.Collection[UTF8String] =
      if (distinct) new java.util.LinkedHashSet[UTF8String]((sz - n + 1) * 2)
      else new java.util.ArrayList[UTF8String](sz - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= sz - n) {
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      // concatWs skips null inputs, same as SQL concat_ws
      out.add(UTF8String.concatWs(Sep, parts: _*))
      i += 1
    }
    new GenericArrayData(out.toArray(Array.empty[AnyRef]).asInstanceOf[Array[Any]])
  }
}

/** Karp–Rabin polynomial hash of a string's code points (base `base`,
  * default 31, mod 1e9+7), left-folded in index order — identical to the
  * HOF form `aggregate(transform(filter(split(c,""), len=1), ascii), 0L,
  * (acc,ch) -> (acc*base+ch) % M)` and to DuckDB's
  * `list_reduce(list_transform(string_split(w,''), c -> ord(c)), …)`:
  * all three iterate Unicode code points. Empty string folds to 0. A
  * second base (131) gives an independent replayable hash — two bases
  * combine into the ~60-bit key the HLL sketch buckets on. */
case class PolyHash(child: Expression, base: Int = 31)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(input: Any): Any =
    PolyHash.compute(input.asInstanceOf[UTF8String], base)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PolyHash.compute($a, $base);")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  private val M = 1000000007L

  /** The default base-31 hash ([[WinnowFingerprints]]' shingle hash). */
  def compute(str: UTF8String): Long = compute(str, 31)

  /** Static so generated code can call it. An all-ASCII row folds its
    * bytes (each byte is its code point); a row holding a byte >= 0x80
    * folds the code points of its decoded string. */
  def compute(str: UTF8String, base: Int): Long = {
    val n = str.numBytes
    var acc = 0L
    var i = 0
    while (i < n) {
      val b = str.getByte(i)
      if (b < 0) return computeDecoded(str, base)
      acc = (acc * base + b) % M
      i += 1
    }
    acc
  }

  /** The fold over the decoded string's code points (invalid UTF-8
    * decodes to U+FFFD, as in `toString`). */
  private[graft] def computeDecoded(str: UTF8String, base: Int): Long = {
    val s = str.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * base + cp) % M
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Histogram of a string's code points modulo `bins`, as array<long> of
  * length `bins` — ONE pass per row replacing the per-bin HOF form
  * `size(filter(transform(split(c,""), ascii), x -> x % bins = b))`
  * evaluated `bins` times (interpreted lambdas, `bins` passes). Same
  * code-point iteration as [[PolyHash]]; equivalence with the HOF form
  * is pinned in `StringExpressionsSpec`. */
case class CodepointHistogram(child: Expression, bins: Int)
    extends UnaryExpression {

  require(bins >= 1, s"bins must be >= 1, got $bins")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "codepoint_histogram"

  override def nullSafeEval(input: Any): Any =
    CodepointHistogram.compute(input.asInstanceOf[UTF8String], bins)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.CodepointHistogram.compute($a, $bins);")

  override protected def withNewChildInternal(
      newChild: Expression): CodepointHistogram = copy(child = newChild)
}

object CodepointHistogram {
  /** Static so generated code can call it. */
  def compute(str: UTF8String, bins: Int): ArrayData = {
    val counts = new Array[Long](bins)
    val s = str.toString
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts(cp % bins) += 1L
      i += Character.charCount(cp)
    }
    new GenericArrayData(counts)
  }
}

/** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
  * local fingerprinting scheme) of a token array: k-gram shingle hashes
  * (the [[PolyHash]] of each shingle, with multiplicity, in position
  * order), then for every window of `w` consecutive hashes the MINIMUM
  * is selected (rightmost on ties), and the distinct (position, hash)
  * selections come back packed as `(pos+1)·2³² + hash` in ascending
  * order (the hash is < 2³¹, so pack and unpack are exact in both
  * engines). Guarantee: any shared run of at least w+k-1 tokens between
  * two documents shares at least one fingerprint — detection without
  * storing every shingle (density 2/(w+1) of them in expectation).
  * Fewer shingles than one window → the single short window is
  * winnowed; no shingles → empty array. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override def nullSafeEval(input: Any): Any =
    WinnowFingerprints.compute(input.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.WinnowFingerprints.compute($a, $k, $w);")

  override protected def withNewChildInternal(
      newChild: Expression): WinnowFingerprints = copy(child = newChild)
}

object WinnowFingerprints {
  private val Sep = UTF8String.fromString(" ")

  /** Static so generated code can call it; one pass over the shingles,
    * O(n·w) selection (w is a small constant). */
  def compute(arr: ArrayData, k: Int, w: Int): ArrayData = {
    val sz = arr.numElements()
    val n = sz - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val h = new Array[Long](n)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < k) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      h(i) = PolyHash.compute(UTF8String.concatWs(Sep, parts: _*))
      i += 1
    }
    val starts = math.max(n - w + 1, 1)
    val sel = new java.util.TreeSet[java.lang.Long]()
    var s = 0
    while (s < starts) {
      val end = math.min(s + w - 1, n - 1)
      var m = Long.MaxValue
      var pos = s
      var j = s
      while (j <= end) { // <= keeps the RIGHTMOST minimum (winnowing's tie rule)
        if (h(j) <= m) { m = h(j); pos = j }
        j += 1
      }
      sel.add(((pos + 1).toLong << 32) | m) // 1-based pos, matching the SQL replay
      s += 1
    }
    val out = new Array[Any](sel.size())
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next().longValue(); o += 1 }
    new GenericArrayData(out)
  }
}

/** One-pass C4-style boilerplate strip: given a document's `source` and
  * its newline-separated `text`, drop every line whose exact
  * `key(source, line)` is in the frequent-line set (lines
  * whose document frequency within the source met the threshold —
  * computed by a separate bounded aggregation and collected like
  * [[BloomShingleFilter]]'s bitmask, but EXACT strings, so there are no
  * collisions to confirm away). Emits `struct(text_out string,
  * n_removed bigint)`; surviving lines keep their order and are
  * re-joined with `\n`; a document whose every line is frequent yields
  * the empty string. The set rides into codegen as one reference
  * object; the corpus side stays a pure scan — no join, no shuffle. */
case class StripFrequentLines(left: Expression, right: Expression,
    frequent: java.util.HashSet[String])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string source, string text), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = StripFrequentLines.Out
  override def prettyName: String = "strip_frequent_lines"

  override def nullSafeEval(src: Any, txt: Any): Any =
    StripFrequentLines.compute(
      src.asInstanceOf[UTF8String], txt.asInstanceOf[UTF8String], frequent)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("frequentLines", frequent,
      "java.util.HashSet<String>")
    nullSafeCodeGen(ctx, ev, (s, t) =>
      s"${ev.value} = graft.functions.StripFrequentLines.compute($s, $t, $setRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StripFrequentLines =
    copy(left = newLeft, right = newRight)
}

object StripFrequentLines {
  import org.apache.spark.sql.types.{StructField, StructType}

  val Out: StructType = StructType(Seq(
    StructField("text_out", StringType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))

  /** Membership key — shared by the build (driver) and probe (executor)
    * sides so the two cannot drift. The '\n' separator makes the
    * key unambiguous no matter what the inputs contain: a LINE can
    * never hold '\n' (text is split on it), so the first separator in
    * the key always delimits the line exactly - two distinct
    * (source, line) pairs cannot collide. */
  def key(source: String, line: String): String = line + "\n" + source

  /** Static so generated code can call it; one pass over the text. */
  def compute(src: UTF8String, txt: UTF8String,
      frequent: java.util.HashSet[String])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val source = src.toString
    val text = txt.toString
    val out = new java.lang.StringBuilder(text.length)
    var removed = 0L
    var kept = 0
    var start = 0
    while (start <= text.length) {
      val nl = text.indexOf('\n', start)
      val end = if (nl < 0) text.length else nl
      val line = text.substring(start, end)
      if (frequent.contains(key(source, line))) removed += 1L
      else {
        if (kept > 0) out.append('\n')
        out.append(line)
        kept += 1
      }
      start = end + 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(out.toString), removed)
  }
}

object StringFunctions {
  /** Column-API entry point for [[WordShingles]] (distinct shingles). */
  def word_shingles(ws: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(ws), n))

  /** All shingles with multiplicity (repetition analysis). */
  def word_shingles_all(ws: Column, n: Int): Column =
    ColumnBridge.column(
      WordShingles(ColumnBridge.expression(ws), n, distinct = false))

  /** Column-API entry point for [[PolyHash]]. */
  def poly_hash(c: Column): Column =
    ColumnBridge.column(PolyHash(ColumnBridge.expression(c)))

  /** [[PolyHash]] with an explicit base (e.g. 131 for the second,
    * independent hash of the HLL bucket key). */
  def poly_hash_base(c: Column, base: Int): Column =
    ColumnBridge.column(PolyHash(ColumnBridge.expression(c), base))

  /** Column-API entry point for [[NormText]]. */
  def norm_text(c: Column): Column =
    ColumnBridge.column(NormText(ColumnBridge.expression(c)))

  /** Column-API entry point for [[QualityKeep]]. */
  def quality_keep(c: Column): Column =
    ColumnBridge.column(QualityKeep(ColumnBridge.expression(c)))

  /** Column-API entry point for [[PiiMask]]. */
  def pii_mask(c: Column): Column =
    ColumnBridge.column(PiiMask(ColumnBridge.expression(c)))

  /** Column-API entry point for [[CodepointHistogram]]. */
  def codepoint_histogram(c: Column, bins: Int): Column =
    ColumnBridge.column(CodepointHistogram(ColumnBridge.expression(c), bins))

  /** Column-API entry point for [[WinnowFingerprints]]. */
  def winnow_fingerprints(ws: Column, k: Int, w: Int): Column =
    ColumnBridge.column(
      WinnowFingerprints(ColumnBridge.expression(ws), k, w))

  /** Column-API entry point for [[StripFrequentLines]]. */
  def strip_frequent_lines(source: Column, text: Column,
      frequent: java.util.HashSet[String]): Column =
    ColumnBridge.column(StripFrequentLines(
      ColumnBridge.expression(source), ColumnBridge.expression(text), frequent))
}
