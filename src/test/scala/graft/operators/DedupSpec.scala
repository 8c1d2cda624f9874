package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Behavioral specs for the dedup operators on a synthetic corpus,
  * including the short-document edge case the fixtures never exercise
  * (docs with < 3 tokens must yield an empty shingle set, matching
  * DuckDB's `range(1, len - 1)` semantics, not throw). */
class DedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Writes a `documents.parquet` with the given texts into a temp dir so
    * the operators' (spark, dir) contract is exercised unchanged. */
  private def corpusDir(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dedup_corpus").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val base = Seq(
    "the quick brown fox jumps over the lazy dog again and again today",
    "a completely different document about spark query engines and planning",
    "the quick brown fox jumps over the lazy dog again and again tonight")

  test("documents shorter than 3 tokens do not crash shingling (guard)") {
    val dir = corpusDir(base ++ Seq("two tokens", "one", ""))
    // jaccardBrute explodes/compares shingle sets — short docs simply have
    // empty sets and can never reach the >= 0.6 threshold
    val pairs = Dedup.jaccardBrute(spark, dir).collect()
    assert(pairs.nonEmpty) // the two near-identical long docs still pair
    val ids = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(!ids.exists(id => id >= 3 && id < 100000)) // short docs pair-free
  }

  test("minhash LSH finds exactly the brute-force pair set (recall 1.0)") {
    val dir = corpusDir(base)
    // compare as canonically-ordered sets — production plans guarantee
    // rows, not row order
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val brute = keyed(Dedup.jaccardBrute(spark, dir).collect())
    val lsh = keyed(Dedup.minhashLsh(spark, dir).collect())
    assert(brute.nonEmpty)
    assert(lsh == brute)
  }

  test("cluster assignment is transitive: a≈b≈c clusters without a≈c pairing") {
    // sliding 20-token windows over 26 distinct tokens: adjacent windows
    // share 15 of 21 distinct shingles (J ≈ 0.714 ≥ 0.6) but the outer
    // pair shares only 12 of 24 (J = 0.5 < 0.6) — so the pair graph is a
    // path a-b-c and only the transitive closure puts all three together
    val w = (1 to 26).map(i => s"tok$i")
    val a = w.slice(0, 20).mkString(" ")
    val b = w.slice(3, 23).mkString(" ")
    val c = w.slice(6, 26).mkString(" ")
    val dummy = "completely unrelated words nothing matches here at all in any way"
    val dir = corpusDir(Seq(dummy, a, b, c))
    val pairs = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)))
    assert(!pairs.contains((1L, 3L)))
    val clusters = Dedup.clusterAssign(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(clusters(1L) == ((1L, true)))
    assert(clusters(2L) == ((1L, false))) // via the path, not a direct pair
    assert(clusters(3L) == ((1L, false)))
    assert(clusters(0L) == ((0L, true))) // singleton + its planted trunc copy
    assert(clusters(100000L)._1 == 0L)
  }

  test("incremental dedup pairs delta docs only against the history snapshot") {
    // history = two originals (one with a near-dup in the delta, one
    // clean); delta = a truncated copy of history doc 0 plus a fresh doc.
    // Also plant a delta-internal near-pair — incremental must IGNORE it
    // (delta×delta is the ingest batch's own dedup pass, not this one).
    val origin = "the quick brown fox jumps over the lazy dog again and again today ok"
    val histClean = "a completely different document about spark query engines and planning"
    val deltaCopy = origin.split(" ").dropRight(1).mkString(" ") // J > 0.6
    val deltaFresh = "fresh delta content with entirely new words nobody saw before now"
    val deltaFresh2 = deltaFresh + " extra" // near-dups deltaFresh, not history
    import spark.implicits._
    def frame(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val out = Dedup.incrementalOn(
        frame(Seq((10L, origin), (11L, histClean))),
        frame(Seq((20L, deltaCopy), (21L, deltaFresh), (22L, deltaFresh2))))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(20L)) // only the true cross-dup is flagged
    assert(out(20L)._1 == 10L && out(20L)._2 == 1L)
    // id COLLISION between the spaces: delta reuses history's id 1 with
    // DIFFERENT text (near-dup of history doc 2, unrelated to history
    // doc 1) — each side's confirm shingles must come from its own
    // frame, so the verdict is (1 -> dup_of 2), never a self-match or a
    // confirm against history doc 1's text
    val collided = Dedup.incrementalOn(
        frame(Seq((1L, histClean), (2L, origin))),
        frame(Seq((1L, deltaCopy))))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(collided == Map(1L -> ((2L, 1L))), collided.toString)
  }

  test("managed incremental batches release their cache — no session growth") {
    import spark.implicits._
    val origin = "the quick brown fox jumps over the lazy dog again and again today ok"
    val copy = origin.split(" ").dropRight(1).mkString(" ")
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    // a continuous-ingest loop: each batch consumes its verdicts, then
    // releases — at no point should more than one batch's candidate
    // cache be live, and after the loop the session must be back to its
    // starting cache footprint
    (0 until 3).foreach { i =>
      val (out, release) = Dedup.incrementalOnManaged(
        Seq((10L + i, origin)).toDF("doc_id", "text"),
        Seq((20L + i, copy)).toDF("doc_id", "text"))
      assert(out.collect().length == 1)
      release()
      assert(spark.sparkContext.getPersistentRDDs.size <= before,
        s"batch $i left its candidate frame cached")
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("property: union-find reps equal brute-force reachability on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genGraph = for {
      n <- Gen.chooseNum(0, 30)
      e <- Gen.chooseNum(0, 60)
      edges <- Gen.listOfN(e, for {
        a <- Gen.chooseNum(0L, math.max(n.toLong, 1L))
        b <- Gen.chooseNum(0L, math.max(n.toLong, 1L))
      } yield (a, b))
    } yield edges
    (0 until 200).foreach { i =>
      val edges = genGraph.apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(Nil)
      // brute force: repeated relaxation to the min reachable id
      val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct
      var rep = nodes.map(x => x -> x).toMap
      var changed = true
      while (changed) {
        changed = false
        for ((a, b) <- edges) {
          val m = math.min(rep(a), rep(b))
          if (rep(a) != m) { rep += a -> m; changed = true }
          if (rep(b) != m) { rep += b -> m; changed = true }
          // propagate through shared representatives as well
          for ((x, r) <- rep if r == rep(a) || r == rep(b))
            if (rep(x) != m) { rep += x -> m; changed = true }
        }
      }
      val got = Dedup.unionFindRepsForTest(edges.toArray)
      assert(got == rep, s"seed $i: $got vs $rep (edges $edges)")
    }
  }

  test("driver union-find and distributed propagation reach the same fixpoint") {
    // the strategy threshold picks the path; both must produce identical
    // (doc_id, cluster_rep, is_keeper) — min reachable id per component
    val ccDir = TestSpark.sfDir
    def run(): Map[Long, (Long, Boolean)] =
      Dedup.clusterAssign(spark, ccDir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val viaDriver = run() // fixture pair count is far under the default
    spark.conf.set("spark.graft.cc.driverMaxPairs", "0")
    val viaLoop = try run()
      finally spark.conf.unset("spark.graft.cc.driverMaxPairs")
    assert(viaDriver.nonEmpty)
    assert(viaLoop == viaDriver)
    // sanity: the fixture actually has multi-node components
    assert(viaDriver.exists { case (id, (rep, _)) => rep != id })
  }

  test("an overflowing bounded collect falls back to the distributed loop") {
    // driverMaxPairs = 1: the bounded collect brings 2 pairs back, more
    // than fit, so the pairs are persisted and propagated distributedly —
    // clusters and loser ids must equal the default driver path's
    import org.apache.spark.sql.functions.col
    val raw = graft.sources.Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text"))
    val docs = raw.unionAll(Dedup.plantedDelta(raw))
    def run(): (Map[Long, (Long, Boolean)], Set[Long]) = {
      val clusters = Dedup.clusterAssignOn(docs).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      val losers = Dedup.nearDupLoserIds(docs).collect().map(_.getLong(0))
      assert(losers.length == losers.distinct.length)
      (clusters, losers.toSet)
    }
    assert(Dedup.minhashLshOn(docs).count() > 1) // so 1 pair overflows
    val viaDriver = run()
    spark.conf.set("spark.graft.cc.driverMaxPairs", "1")
    val viaLoop = try run()
      finally spark.conf.unset("spark.graft.cc.driverMaxPairs")
    spark.catalog.clearCache()
    assert(viaDriver._2.nonEmpty)
    assert(viaLoop == viaDriver)
    // the loser ids are exactly the non-keepers of the cluster assignment
    assert(viaDriver._2 == viaDriver._1.collect { case (id, (_, false)) => id }.toSet)
  }

  test("simhash pairs identical docs (hamming 0) and isolates unrelated ones") {
    // identical texts ⇒ identical shingle sets ⇒ hamming exactly 0; on a
    // 13-token doc a one-word difference flips an EXPECTED ~8 of 64 bits,
    // so only the identical pair is a deterministic ≤3 match here
    val dir = corpusDir(Seq(base(0), base(1), base(0), "short doc"))
    val pairs = Dedup.simhashPairs(spark, dir).collect()
    val p02 = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 2L)
    assert(p02.nonEmpty && p02.get.getLong(2) == 0L)
    assert(!pairs.exists(r => r.getLong(0) == 1L || r.getLong(1) == 1L))
  }

  test("exact dedup keeps the minimum doc_id per distinct text") {
    val dir = corpusDir(base)
    val rows = Dedup.exact(spark, dir).collect()
    // planted exact copy: doc_id 0 duplicated at 200000 by withExactDups
    val dup = rows.find(_.getLong(2) == 2L)
    assert(dup.nonEmpty && dup.get.getLong(1) == 0L)
  }

  test("dupSpans merges overlapping duplicated windows into maximal spans") {
    // doc 0 (20 unique words) gets a truncated 18-word planted copy →
    // windows 1..11 shared → one maximal span (1, 18) of 11 windows in
    // both. Docs 1 and 2 share ONLY an embedded 10-word run s1..s10 at
    // word positions 6..15 → windows 6..8 → one span (6, 15) of 3
    // windows each. No other 8-gram crosses documents.
    val doc0 = (1 to 20).map(i => s"w$i").mkString(" ")
    val docA = ((1 to 5).map(i => s"a$i") ++ (1 to 10).map(i => s"s$i") ++
      (6 to 10).map(i => s"a$i")).mkString(" ")
    val docB = ((1 to 5).map(i => s"b$i") ++ (1 to 10).map(i => s"s$i") ++
      (6 to 10).map(i => s"b$i")).mkString(" ")
    val dir = corpusDir(Seq(doc0, docA, docB))
    val spans = Dedup.dupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(spans.size == 4)
    assert(spans(0L) == ((1L, 18L, 11L)) && spans(100000L) == ((1L, 18L, 11L)))
    assert(spans(1L) == ((6L, 15L, 3L)) && spans(2L) == ((6L, 15L, 3L)))
  }

  test("spanExcise keeps first occurrence, excises later copies word-exact") {
    // same corpus as the dupSpans test: min doc_id owns each window, so
    // doc 0 and doc 1 keep their text; the planted copy (100000) loses
    // its whole 18 words; doc 2 loses exactly the shared s1..s10 run
    val doc0 = (1 to 20).map(i => s"w$i").mkString(" ")
    val docA = ((1 to 5).map(i => s"a$i") ++ (1 to 10).map(i => s"s$i") ++
      (6 to 10).map(i => s"a$i")).mkString(" ")
    val docB = ((1 to 5).map(i => s"b$i") ++ (1 to 10).map(i => s"s$i") ++
      (6 to 10).map(i => s"b$i")).mkString(" ")
    val dir = corpusDir(Seq(doc0, docA, docB))
    val out = Dedup.spanExcise(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out.size == 4)
    assert(out(0L) == ((doc0, 0L)) && out(1L) == ((docA, 0L)))
    assert(out(100000L) == (("", 18L)))
    val bClean = ((1 to 5).map(i => s"b$i") ++ (6 to 10).map(i => s"b$i"))
      .mkString(" ")
    assert(out(2L) == ((bClean, 10L)))
  }
}
