package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.TextAnalysis

/** Differential test of the curation kernels (`norm_text`,
  * `quality_keep`, `pii_mask`) against the chains of built-ins they
  * replaced, copied here verbatim: row by row, nulls included, on the
  * sf0.001 and sf0.01 corpora, a seeded fuzz corpus, and edge rows
  * (empty, blank, null, U+0130, the Kelvin sign, supplementary code
  * points, invalid UTF-8). */
class CurationKernelsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf001Dir = new java.io.File(TestSpark.sfDir).getParentFile.toPath
    .resolve("sf0.01").toString

  // ---- the replaced chains, as they were written in TextAnalysis ----
  private val toks: Column = split(col("text"), " ")
  private def countIn(words: Seq[String]): Column =
    size(filter(toks, w => words.map(w === lit(_)).reduce(_ || _)))
  private val EnWords = Seq("the", "a", "of", "is", "and")

  private val chainNorm: Column =
    trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "  +", " "))

  private def qualityMeanWordLen: Column =
    length(regexp_replace(col("text"), " ", "")).cast("double") /
      size(toks).cast("double")
  private def qualityOkLen: Column = size(toks).between(5, 10000)
  private def qualityOkWordLen: Column =
    qualityMeanWordLen >= 2.0 && qualityMeanWordLen <= 12.0
  private def qualityOkSymbols: Column =
    ((length(col("text")) -
      length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")))
      .cast("double") / length(col("text")).cast("double")) <= 0.2
  private def qualityHasStopword: Column = countIn(EnWords) >= 1
  private def chainKeep: Column =
    qualityOkLen && qualityOkWordLen && qualityOkSymbols && qualityHasStopword

  private val chainPii: Column = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]+" -> "<EMAIL>",
    "[0-9]{3}-[0-9]{2}-[0-9]{4}" -> "<SSN>",
    "\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}" -> "<PHONE>",
    "[0-9]{8,}" -> "<NUM>").foldLeft(col("text")) {
    case (c, (re, rep)) => regexp_replace(c, re, rep)
  }
  // ----

  /** Rows where a kernel and its chain differ (null-safe). */
  private def mismatches(texts: DataFrame): Array[Row] =
    texts.select(col("text"),
        TextAnalysis.normalizedExpr.as("norm"), chainNorm.as("norm_chain"),
        TextAnalysis.qualityKeepExpr.as("keep"), chainKeep.as("keep_chain"),
        TextAnalysis.piiMaskedExpr.as("pii"), chainPii.as("pii_chain"))
      .filter(!(col("norm") <=> col("norm_chain")) ||
        !(col("keep") <=> col("keep_chain")) ||
        !(col("pii") <=> col("pii_chain")))
      .limit(5).collect()

  private def assertAgree(texts: DataFrame): Unit = {
    val bad = mismatches(texts)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** Texts from raw bytes (kept as they are, valid UTF-8 or not), through
    * an RDD scan (the codegen'd projection) and a local relation (folded
    * by the optimizer with the interpreted `eval`). */
  private def textFrames(rows: Seq[Array[Byte]]): Seq[DataFrame] = {
    val schema = StructType(Seq(StructField("b", BinaryType)))
    val rdd = spark.sparkContext.parallelize(rows.map(Row(_)), 2)
    Seq(spark.createDataFrame(rdd, schema),
      spark.createDataFrame(java.util.Arrays.asList(rows.map(Row(_)): _*), schema))
      .map(_.select(col("b").cast("string").as("text")))
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private def raw(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray

  private val edges: Seq[Array[Byte]] = Seq(
    "", " ", "  ", "\t", "a", "A", " a ", "the cat is on the mat",
    "The  Cat,  is ON   the mat!!  ", "İstanbul is a city of the world",
    "Kelvin is the unit of a scale", "KK k",
    "emoji 😀 is a thing of the web", "𝄞 clef",
    "call 415-555-0123 or user@example.com", "ssn 123-45-6789 and the rest",
    "123", "12", "1 2 3", "12345678", "a@b", "x@y.z and the rest of it",
    "café au lait is a drink of the day", "the a of is and").map(utf8) ++
    Seq( // invalid UTF-8, except the last row (U+212A between ASCII)
      raw(0xff),                                       // a lone invalid byte
      utf8("the ") ++ raw(0xe2) ++ utf8(" ab cd ef"),  // a lead byte alone
      raw(0xc3),                                       // a truncated 2-byte sequence
      utf8("12") ++ raw(0x80) ++ utf8("3456789012"),   // a stray continuation byte
      raw(0xed, 0xa0, 0x80) ++ utf8(" of"),            // an encoded surrogate
      utf8("AB") ++ raw(0xe2, 0x84, 0xaa) ++ utf8("x@y.co"))

  test("kernels ≡ replaced chains on the sf0.001 and sf0.01 corpora") {
    for (dir <- Seq(TestSpark.sfDir, sf001Dir))
      assertAgree(graft.sources.Tables.documents(spark, dir).select(col("text")))
  }

  test("kernels ≡ replaced chains on a seeded fuzz corpus") {
    val fuzz = graft.KernelBench.textCorpus(7L, 3000, dirty = true)
    // the corpus reaches every path: masked rows, kept rows, non-ASCII rows
    val frames = textFrames(fuzz)
    val df = frames.head
    assert(df.filter(TextAnalysis.piiMaskedExpr =!= col("text")).count() > 500)
    assert(df.filter(TextAnalysis.qualityKeepExpr).count() > 100)
    assert(df.filter(col("text").rlike("[^\\x00-\\x7f]")).count() > 50)
    frames.foreach(assertAgree)
  }

  test("kernels ≡ replaced chains on edge rows: blank, null, non-ASCII, invalid UTF-8") {
    val frames = textFrames(edges :+ null)
    assert(frames.head.filter(!is_valid_utf8(col("text"))).count() == 5)
    frames.foreach(assertAgree)
  }

  test("quality_keep of a null row follows the legacy size(null) setting") {
    val conf = spark.conf
    val saved = Seq("spark.sql.ansi.enabled", "spark.sql.legacy.sizeOfNull")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.ansi.enabled", "false")
      conf.set("spark.sql.legacy.sizeOfNull", "true")
      textFrames(Seq(null, utf8("the cat is on the mat"))).foreach { df =>
        val r = df.select(TextAnalysis.qualityKeepExpr, chainKeep).collect()
        assert(r.map(x => (x.get(0), x.get(1))).toSeq ==
          Seq((false, false), (true, true)))
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("text_quality_rules: keep is the conjunction of the four published columns") {
    def check(df: DataFrame): Unit = {
      val rules = TextAnalysis.qualityRulesOn(df)
      val bad = rules.filter(!(col("keep") <=> (col("ok_len") &&
          col("ok_word_len") && col("ok_symbols") && col("has_stopword"))))
        .limit(5).collect()
      assert(bad.isEmpty, bad.mkString("\n"))
      assert(rules.filter(col("keep")).count() > 0)
    }
    check(graft.sources.Tables.documents(spark, sf001Dir))
    val fuzz = graft.KernelBench.textCorpus(7L, 3000, dirty = true) ++ edges
    check(textFrames(fuzz).head
      .withColumn("doc_id", monotonically_increasing_id()))
  }
}
