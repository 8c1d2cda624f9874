package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the native [[WordShingles]] / [[PolyHash]] expressions to their
  * composable HOF equivalents (the forms the DuckDB oracles replay) on the
  * REAL fixture corpus plus adversarial edges — so the native fast paths
  * can never silently diverge from the oracle semantics. */
class StringExpressionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def hofShingles(ws: Column): Column = when(size(ws) >= 3,
    array_distinct(
      transform(sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1),
          element_at(ws, i + 2)))))
    .otherwise(typedlit(Seq.empty[String]))

  private def hofPoly(c: Column): Column = aggregate(
    transform(filter(split(c, ""), ch => length(ch) === 1),
      ch => ascii(ch).cast("long")),
    lit(0L), (acc, ch) => (acc * lit(31L) + ch) % lit(1000000007L))

  test("word_shingles ≡ HOF form on the fixture corpus (incl. order)") {
    val d = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val mismatches = d.select(
        StringFunctions.word_shingles(col("ws"), 3).as("native"),
        hofShingles(col("ws")).as("hof"))
      .filter(not(col("native") === col("hof")))
      .count()
    assert(mismatches == 0)
  }

  test("word_shingles edges: short docs, repeats keep first-occurrence order") {
    import spark.implicits._
    val rows = Seq(
      "",                 // 1 empty token after split
      "a",                // 1 token
      "a b",              // 2 tokens -> empty
      "a b c",            // exactly one shingle
      "a b c a b c a b",  // repeated shingles dedup, order preserved
      "x  y z"            // empty token from double space participates
    ).toDF("text").select(split(col("text"), " ").as("ws"))
    val out = rows.select(
        StringFunctions.word_shingles(col("ws"), 3).as("native"),
        hofShingles(col("ws")).as("hof"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
    // and the dedup keeps first occurrence order like array_distinct
    val rep = rows.select(StringFunctions.word_shingles(col("ws"), 3))
      .collect()(4).getSeq[String](0)
    assert(rep == Seq("a b c", "b c a", "c a b"))
  }

  test("property: native ≡ HOF on 300 randomized docs (unicode included)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // words exercise empties (double spaces), repeats, multi-byte BMP
    // chars and astral-plane emoji (surrogate pairs in UTF-16)
    val word = Gen.oneOf("", "a", "bb", "ccc", "a", "é", "中文", "😀", "x1!",
      "the", "de", "a-b")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val docs = (0 until 300).flatMap(i =>
      doc.apply(Gen.Parameters.default, Seed(i.toLong)))
    import spark.implicits._
    val df = docs.toDF("text")
      .select(col("text"), split(col("text"), " ").as("ws"))
    val bad = df.select(
        StringFunctions.word_shingles(col("ws"), 3).as("ns"),
        hofShingles(col("ws")).as("hs"),
        StringFunctions.poly_hash(col("text")).as("np"),
        hofPoly(col("text")).as("hp"))
      .filter(not(col("ns") === col("hs")) || col("np") =!= col("hp"))
      .count()
    assert(bad == 0)
  }

  test("poly_hash ≡ HOF fold on the fixture corpus") {
    val d = graft.sources.Tables.documents(spark, dir)
    val mismatches = d.select(
        StringFunctions.poly_hash(col("text")).as("native"),
        hofPoly(col("text")).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(mismatches == 0)
    // empty string folds to 0; single char folds to its codepoint
    import spark.implicits._
    val edges = Seq("", "A", "Az", "hello world").toDF("s")
      .select(StringFunctions.poly_hash(col("s")).as("native"),
        hofPoly(col("s")).as("hof"))
      .collect()
    edges.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    assert(edges(0).getLong(0) == 0L)
    assert(edges(1).getLong(0) == 'A'.toLong)
    // non-ASCII, supplementary-plane and lone-byte rows against a plain
    // fold over the code points of the decoded string (an invalid byte
    // decodes to U+FFFD); ASCII prefixes check the switch to the decoded
    // fold mid-row
    def raw(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray
    def utf8(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val rows = Seq("é", "abc é", "中文", "😀", "a😀b", "𝄞𝄞", "İ", "K",
      "mixed ascii then ß").map(utf8) ++
      Seq(raw(0xff), raw(0x80), utf8("ab") ++ raw(0xc3), raw(0xed, 0xa0, 0x80),
        utf8("x") ++ raw(0xf0, 0x9f) ++ utf8("y"))
    def fold(b: Array[Byte]): Long =
      new String(b, java.nio.charset.StandardCharsets.UTF_8).codePoints()
        .toArray.foldLeft(0L)((acc, cp) => (acc * 31 + cp) % 1000000007L)
    val got = rows.map(b => Tuple1(b)).toDF("b")
      .select(StringFunctions.poly_hash(col("b").cast("string")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == rows.map(fold))
  }

  test("codepoint_histogram ≡ the 16 per-bin HOF filters on the corpus") {
    val chars = filter(split(col("text"), ""), c => length(c) === 1)
    val codes = transform(chars, c => ascii(c).cast("long"))
    val hofBins = (0 until 16).map(b =>
      size(filter(codes, x => x % 16 === b)).cast("long"))
    val native = StringFunctions.codepoint_histogram(col("text"), 16)
    val mismatches = graft.sources.Tables.documents(spark, dir)
      .select(native.as("h"), array(hofBins: _*).as("hof"))
      .filter(not(col("h") === col("hof")))
      .count()
    assert(mismatches == 0)
    // empty string → all-zero bins of the right length
    import spark.implicits._
    val empty = Seq("").toDF("text")
      .select(StringFunctions.codepoint_histogram(col("text"), 16))
      .head().getSeq[Long](0)
    assert(empty == Seq.fill(16)(0L))
  }

  test("property: winnow ≡ independent reference on 300 randomized docs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // an independently-written reference: functional, 1-based, built from
    // the oracle's formulas rather than the expression's imperative loop
    def refWinnow(words: Vector[String], k: Int, w: Int): Vector[Long] = {
      def polyRef(s: String): Long =
        s.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
      val h = (0 to words.length - k)
        .map(i => polyRef(words.slice(i, i + k).mkString(" "))).toVector
      if (h.isEmpty) Vector.empty
      else {
        val sels = (1 to math.max(h.length - w + 1, 1)).map { i =>
          val slice = h.slice(i - 1, math.min(i + w - 1, h.length))
          val m = slice.min
          val pos = i + slice.lastIndexOf(m) // 1-based rightmost minimum
          pos.toLong * 4294967296L + m
        }
        sels.distinct.sorted.toVector
      }
    }
    val word = Gen.oneOf("", "a", "bb", "ccc", "a", "é", "中文", "😀", "x1!",
      "the", "de", "a-b")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
    val docs = (0 until 300).flatMap(i =>
      doc.apply(Gen.Parameters.default, Seed(1000L + i)))
    import spark.implicits._
    val native = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws) }
      .toDF("doc_id", "ws")
      .select(col("doc_id"),
        StringFunctions.winnow_fingerprints(col("ws"), 3, 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    docs.zipWithIndex.foreach { case (ws, i) =>
      val expect = refWinnow(ws.toVector, 3, 4)
      assert(native(i.toLong) == expect,
        s"doc $i (${ws.mkString("|")}): ${native(i.toLong)} vs $expect")
    }
  }

  test("winnow_fingerprints: window guarantee, density, short-doc edges") {
    import spark.implicits._
    def fps(texts: Seq[String]): Map[Long, Seq[Long]] =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          StringFunctions.winnow_fingerprints(
            split(col("text"), " "), 3, 4).as("fp"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val out = fps(Seq(
      base,                                      // 0: 38 shingles
      s"x1 x2 x3 ${(10 to 19).map(i => s"w$i").mkString(" ")} y1 y2 y3", // 1: shares a 10-token run
      "a b",                                     // 2: < 3 tokens → empty
      "a b c",                                   // 3: exactly one shingle
      ""))                                       // 4: empty text
    // guarantee: a shared run of >= w+k-1 = 6 tokens shares a fingerprint
    val h0 = out(0L).map(p => p & 0xffffffffL).toSet
    val h1 = out(1L).map(p => p & 0xffffffffL).toSet
    assert((h0 & h1).nonEmpty, "shared 10-token run must share a fingerprint")
    // every window of 4 consecutive shingle positions contains a selection
    val pos0 = out(0L).map(p => (p >> 32).toInt).toSet
    val nShingles = 38
    (1 to (nShingles - 3)).foreach { i =>
      assert((i until i + 4).exists(pos0.contains),
        s"window starting at shingle $i has no fingerprint")
    }
    // density: winnowing stores far fewer than all shingles
    assert(pos0.size < nShingles)
    // short docs: one shingle → exactly one fingerprint at pos 1
    assert(out(3L).map(_ >> 32) == Seq(1L))
    assert(out(2L).isEmpty && out(4L).isEmpty)
  }
}
