package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the per-row text stages of the curation
  * projection (normalization, the quality verdict, PII masking). Each
  * replaces a chain of built-ins that decoded the row to a `String`
  * once per regex rewrite or split; here an all-ASCII row is handled by
  * one loop over its UTF-8 bytes. A row holding any byte >= 0x80
  * (non-ASCII or invalid UTF-8) is evaluated with the chain's own
  * semantics (Spark's `lower`, the same `java.util.regex` patterns,
  * code-point lengths), so its output is the chain's by construction.
  * `CurationKernelsSpec` pins every kernel to the chain it replaces;
  * the DuckDB oracles still replay the chains. */

/** Text normalization: lowercase, drop `[^a-z0-9 ]`, collapse space
  * runs, trim — the result of
  * `trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), '  +', ' '))`. */
case class NormText(child: Expression) extends UnaryExpression {

  // the setting Spark's `lower` reads; read per use, so a shared
  // instance follows the session's current value
  private def useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "norm_text"

  override def nullSafeEval(input: Any): Any =
    NormText.compute(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NormText.compute($a, $useICU);")

  override protected def withNewChildInternal(newChild: Expression): NormText =
    copy(child = newChild)
}

object NormText {

  /** Static so generated code can call it. */
  def compute(str: UTF8String, useICU: Boolean): UTF8String = {
    val out = new Array[Byte](str.numBytes)
    val n = fold(str, out, asciiOnly = true)
    if (n >= 0) UTF8String.fromBytes(out, 0, n)
    else {
      val lower = CollationSupport.Lower.exec(
        str, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
      val out2 = new Array[Byte](lower.numBytes)
      UTF8String.fromBytes(out2, 0, fold(lower, out2, asciiOnly = false))
    }
  }

  /** Lowercases ASCII letters, keeps `[a-z0-9]`, and writes one space
    * between kept runs that a space separated; every other byte is
    * dropped (every byte of a multi-byte sequence is outside
    * `[a-z0-9 ]`). Returns the output length, or -1 at the first
    * byte >= 0x80 when `asciiOnly`. */
  private def fold(s: UTF8String, out: Array[Byte], asciiOnly: Boolean): Int = {
    val n = s.numBytes
    var o = 0
    var space = false
    var i = 0
    while (i < n) {
      var b = s.getByte(i)
      if (b < 0) { if (asciiOnly) return -1 }
      else {
        if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
        if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
          if (space) { out(o) = ' '; o += 1; space = false }
          out(o) = b
          o += 1
        } else if (b == ' ' && o > 0) space = true
      }
      i += 1
    }
    o
  }
}

/** The rule-bundle keep verdict — the conjunction
  * `size(split(text, ' ')) BETWEEN 5 AND 10000`
  * `AND mean word length (non-space chars / tokens) in [2, 12]`
  * `AND (length(text) - #[a-zA-Z0-9 ] chars) / length(text) <= 0.2`
  * `AND some token is one of the English stopwords`,
  * in the chain's double arithmetic and order. A null row gives what
  * the chain gives: false while `size(null)` is -1 (the legacy,
  * non-ANSI setting), null otherwise. */
case class QualityKeep(child: Expression) extends UnaryExpression {

  // the setting `size` reads when it is built; read per use, so a shared
  // instance follows the session's current value
  private def nullIsFalse: Boolean = SQLConf.get.legacySizeOfNull

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable && !nullIsFalse
  override def prettyName: String = "quality_keep"

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => if (nullIsFalse) false else null
    case v => QualityKeep.compute(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!nullIsFalse)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.QualityKeep.compute($a);")
    else {
      val c = child.genCode(ctx)
      ev.copy(code = code"""${c.code}
        |boolean ${ev.value} = !${c.isNull} &&
        |  graft.functions.QualityKeep.compute(${c.value});""".stripMargin,
        isNull = FalseLiteral)
    }

  override protected def withNewChildInternal(newChild: Expression): QualityKeep =
    copy(child = newChild)
}

object QualityKeep {
  /** The stopwords `has_stopword` looks for, as in `TextAnalysis`. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "is", "and")

  private def isAlnumOrSpace(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == ' '

  /** Static so generated code can call it; one pass over the bytes. */
  def compute(str: UTF8String): Boolean = {
    val n = str.numBytes
    var spaces = 0
    var alnum = 0
    var stop = false
    var tok = 0
    var i = 0
    while (i < n) {
      val b = str.getByte(i)
      if (b < 0) return computeDecoded(str)
      if (b == ' ') {
        if (!stop) stop = isStopword(str, tok, i)
        spaces += 1
        tok = i + 1
      }
      if (isAlnumOrSpace(b)) alnum += 1
      i += 1
    }
    if (!stop) stop = isStopword(str, tok, n)
    verdict(n, n - spaces, spaces + 1, alnum, stop)
  }

  /** Stopword test of the token `[from, until)`; the stopwords are
    * "the", "a", "of", "is" and "and". */
  private def isStopword(s: UTF8String, from: Int, until: Int): Boolean =
    until - from match {
      case 1 => s.getByte(from) == 'a'
      case 2 =>
        val b0 = s.getByte(from)
        val b1 = s.getByte(from + 1)
        (b0 == 'o' && b1 == 'f') || (b0 == 'i' && b1 == 's')
      case 3 =>
        val b0 = s.getByte(from)
        val b1 = s.getByte(from + 1)
        val b2 = s.getByte(from + 2)
        (b0 == 't' && b1 == 'h' && b2 == 'e') || (b0 == 'a' && b1 == 'n' && b2 == 'd')
      case _ => false
    }

  /** The chain's semantics on a row with a byte >= 0x80: `length(text)`
    * counts the raw row's characters, every other count is taken on the
    * decoded string that `split` and `regexp_replace` see. */
  private def computeDecoded(str: UTF8String): Boolean = {
    val s = str.toString
    var spaces = 0
    var alnum = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') spaces += 1
      if (isAlnumOrSpace(c)) alnum += 1
      i += 1
    }
    val stop = s.split(" ", -1).exists(Stopwords.contains)
    verdict(str.numChars, s.codePointCount(0, s.length) - spaces, spaces + 1,
      alnum, stop)
  }

  private def verdict(chars: Int, nonSpaceChars: Int, tokens: Int,
      alnumOrSpace: Int, stop: Boolean): Boolean =
    tokens >= 5 && tokens <= 10000 && {
      val meanWordLen = nonSpaceChars.toDouble / tokens.toDouble
      meanWordLen >= 2.0 && meanWordLen <= 12.0
    } && (chars - alnumOrSpace).toDouble / chars.toDouble <= 0.2 && stop
}

/** PII masking with the default pattern bundle ([[PiiMask.Patterns]]),
  * applied as the ordered `regexp_replace` chain. A row can only match
  * if it holds an `@` (email) or a run of 3+ ASCII digits (SSN, phone,
  * and the 8+-digit catch-all); an all-ASCII row with neither is
  * returned as is, without decoding. */
case class PiiMask(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "pii_mask"

  override def nullSafeEval(input: Any): Any =
    PiiMask.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PiiMask.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): PiiMask =
    copy(child = newChild)
}

object PiiMask {
  /** Ordered (regex, replacement) pairs. Literal character classes and
    * bounded quantifiers only, so Java regex and DuckDB's RE2 rewrite
    * identically. Emails go first (their local parts can contain
    * digits), the structured digit shapes (SSN, separator-tolerant
    * phone) before the bare 8+-digit run would swallow their groups. */
  val Patterns: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]+" -> "<EMAIL>",
    "[0-9]{3}-[0-9]{2}-[0-9]{4}" -> "<SSN>",
    "\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}" -> "<PHONE>",
    "[0-9]{8,}" -> "<NUM>")

  private val compiled: Array[(java.util.regex.Pattern, String)] =
    Patterns.map { case (re, rep) => java.util.regex.Pattern.compile(re) -> rep }
      .toArray

  /** Static so generated code can call it. */
  def compute(str: UTF8String): UTF8String =
    if (!mayMatch(str)) str
    else {
      var s = str.toString
      var p = 0
      while (p < compiled.length) {
        s = compiled(p)._1.matcher(s).replaceAll(compiled(p)._2)
        p += 1
      }
      UTF8String.fromString(s)
    }

  /** True if the row holds a byte >= 0x80, an `@`, or 3 consecutive
    * ASCII digits. */
  private def mayMatch(str: UTF8String): Boolean = {
    val n = str.numBytes
    var digits = 0
    var i = 0
    while (i < n) {
      val b = str.getByte(i)
      if (b >= '0' && b <= '9') {
        digits += 1
        if (digits == 3) return true
      } else {
        if (b < 0 || b == '@') return true
        digits = 0
      }
      i += 1
    }
    false
  }
}
