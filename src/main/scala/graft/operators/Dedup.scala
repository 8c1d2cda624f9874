package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables

/** Deduplication operators over the `documents` fixture — exact dedup,
  * brute-force n-gram Jaccard, MinHash+LSH banding, and SimHash. The
  * training-data-pipeline surface beyond the reference (SURVEY §2.4/§7.5).
  *
  * The fixture corpus has no duplicates (500 distinct texts at sf0.01), so
  * each query first plants duplicates *deterministically in-query* with
  * arithmetic both engines express identically:
  *   - exact copies: `doc_id % 10 == 0` → same text at `doc_id + 200000`;
  *   - near copies: `doc_id % 20 == 0` → first ⌊9n/10⌋ words at
  *     `doc_id + 100000` (word-3-gram Jaccard vs the original ≈ 0.85).
  *
  * Scale story (the part that matters at 100 TB):
  *   - exact dedup groups on `md5(text)` not `text` — the shuffle carries a
  *     32-byte key instead of multi-KB documents;
  *   - brute-force Jaccard is the O(n²) correctness baseline only;
  *   - MinHash+LSH is the scale path: per-doc band hashes fold in ONE
  *     scalar-expression pass over the shingle array (no explode, no
  *     shuffle — the signature build is scan-side), then a self-join on
  *     (band, hash) — candidates ∝ true duplicates, not n². All hashing
  *     is native codegen'd expressions, no UDFs anywhere;
  *   - SimHash packs the signature into four 16-bit bands; candidate pairs
  *     must agree on one band (pigeonhole for hamming ≤ 3 over 64 bits).
  */
object Dedup {

  /** Distinct word-3-gram shingles — the native
    * [[graft.functions.WordShingles]] expression (one JVM loop per doc,
    * codegen-compatible). Semantically identical to the HOF form
    * `array_distinct(transform(sequence(1, size(ws)-2), i ->
    * concat_ws(" ", element_at(ws,i), …)))` guarded for < 3 tokens, and to
    * the DuckDB oracle's list comprehension (equivalence pinned on the
    * fixture corpus in `StringExpressionsSpec`); the interpreted HOF was
    * ~7 s of each dedup bench query at sf0.1. */
  private def shinglesOf(ws: Column): Column =
    graft.functions.StringFunctions.word_shingles(ws, 3)

  /** (doc_id, sh): per-document distinct shingle array. (`private[graft]`
    * so the streaming twin reuses the exact same expressions.) */
  private[graft] def withShingles(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), shinglesOf(col("ws")).as("sh"))

  /** documents ∪ exact copies of every 10th doc (keys shifted +200000). */
  private def withExactDups(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    d.unionAll(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
  }

  /** The planted near-dup DELTA of any (doc_id, text) frame: every 20th
    * document, truncated to its first 90% of words, re-keyed at
    * doc_id + 100000. `private[graft]` so the streaming incremental twin
    * replays the IDENTICAL construction instead of copying the formula. */
  private[graft] def plantedDelta(d: DataFrame): DataFrame = {
    val ws = col("ws")
    val truncLen = floor((size(ws) * lit(9)).cast("double") / lit(10.0)).cast("int")
    d.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat_ws(" ", slice(ws, lit(1), truncLen)).as("text"))
  }

  /** documents ∪ truncated (first ⌊9n/10⌋ words) copies of every 20th doc
    * (keys shifted +100000) — [[plantedDelta]] over the fixture. */
  private def withNearDups(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    d.unionAll(plantedDelta(d))
  }

  /** DuckDB CTEs mirroring [[withExactDups]] / [[withNearDups]]. */
  private val exactDupsCte: String =
    """d AS (SELECT doc_id, text FROM documents
      |      UNION ALL
      |      SELECT doc_id + 200000 AS doc_id, text FROM documents
      |      WHERE doc_id % 10 = 0)""".stripMargin

  private val nearDupsCte: String =
    """w0 AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
      |d AS (SELECT doc_id, text FROM documents
      |      UNION ALL
      |      SELECT doc_id + 100000 AS doc_id,
      |             array_to_string(ws[1:(9 * len(ws)) // 10], ' ') AS text
      |      FROM w0 WHERE doc_id % 20 = 0)""".stripMargin

  private val shinglesCte: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
      |s AS (SELECT doc_id,
      |             list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                            for i in range(1, len(ws) - 1)]) AS sh
      |      FROM w)""".stripMargin

  private val jaccardSql: String =
    """CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      | / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)""".stripMargin

  /** Near-linear candidate generation for the DuckDB replays: a pair with
    * Jaccard > 0 shares at least one shingle, so the exhaustive `a < b`
    * cross join can be replaced by a shared-shingle equi-join without
    * losing any ≥ 0.6 pair — same trick as a sort-merge on an inverted
    * index. Work is Σ_tok occ(tok)² (≈ 3M at sf0.1, max occupancy 28)
    * instead of n²·L (≈ 28M pairs × full list intersects), which kept
    * these four oracles from completing at the 10× verification scale.
    * Crucially the candidates stay INDEPENDENT of the MinHash family —
    * the oracle still proves LSH recall, not merely determinism. */
  private val sharedShingleCandCte: String =
    """inv AS (SELECT doc_id, unnest(sh) AS tok FROM s),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |         FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id)""".stripMargin

  // --- exact dedup ---------------------------------------------------------

  /** Exact dedup: one row per distinct text, keeping the minimum doc_id.
    * Groups on md5(text) so at scale the shuffle key is 32 bytes, not the
    * document body; partial aggregation collapses copies map-side. */
  def exact(spark: SparkSession, dir: String): DataFrame = (
    withExactDups(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies")))

  val exactOracle: String =
    s"""WITH $exactDupsCte
       |SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
       |       count(*) AS n_copies
       |FROM d GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin

  // --- brute-force n-gram Jaccard pairs ------------------------------------

  /** All near-duplicate pairs by exact word-3-gram Jaccard ≥ 0.6 —
    * the O(n²) correctness baseline that [[minhashLsh]] must reproduce.
    * Not in the bench headline set: at 100 TB you never run this; it exists
    * to *prove* the LSH path exact on the fixtures. */
  def jaccardBrute(spark: SparkSession, dir: String): DataFrame = {
    // Empty shingle sets (docs < 3 tokens) can never reach the J ≥ 0.6
    // threshold — drop them before the pair join. The oracle keeps them:
    // DuckDB yields NaN for 0/0 which fails the threshold; Spark's ANSI
    // mode would instead raise DIVIDE_BY_ZERO, so the filter is the
    // semantics-preserving guard.
    val s = withShingles(withNearDups(spark, dir))
      .filter(size(col("sh")) > 0)
    // repartition the STREAMED side of the nested-loop join: the fixture
    // arrives as one parquet split, and without this the whole n²·L
    // intersect work runs as a single task (observed 15+ min single-core
    // at sf0.1) — the shuffle moves n rows to buy n-way parallelism on
    // the quadratic part. The partition count is EXPLICIT: task cost here
    // is rows-per-partition × n, so AQE's size-based coalescing (which
    // sees a few MB and merges to ~3 partitions) would undo the fan-out.
    val nParts = spark.sparkContext.defaultParallelism
    val a = s.repartition(nParts, col("doc_id"))
      .select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = s.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val jac = size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
      size(array_union(col("a_sh"), col("b_sh"))).cast("double")
    (a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.6))
  }

  val jaccardBruteOracle: String =
    s"""WITH $nearDupsCte,
       |$shinglesCte,
       |$sharedShingleCandCte
       |SELECT c.a_id, c.b_id,
       |       $jaccardSql AS jaccard
       |FROM cand c JOIN s a ON a.doc_id = c.a_id
       |            JOIN s b ON b.doc_id = c.b_id
       |WHERE $jaccardSql >= 0.6
       |ORDER BY 1, 2, 3""".stripMargin

  // --- MinHash + LSH banding -----------------------------------------------

  private[graft] val NumHashes = 64
  private[graft] val NumBands = 16 // 4 rows/band → P(candidate | J=.85) ≈ 1 - 7e-6

  /** Per-doc LSH band hashes: ONE scalar expression pass
    * ([[graft.functions.MinHashBandsOf]]) folds the 64 per-shingle
    * minima and the 16 band hashes inside the row — a document's
    * signature has no cross-row state, so the former
    * explode → shuffle → sketch-aggregate detour (which moved one
    * (doc_id, hash) row per shingle through an exchange) is gone
    * entirely. The signature build is now a narrow scan-side projection;
    * the only shuffle left in the query is the banded candidate
    * self-join. The aggregate form ([[graft.functions.MinHashSketch]])
    * remains for genuinely grouped/streaming shapes and shares the same
    * hashing internals (`SketchHashing`, equivalence spec-pinned). The
    * hash family is not oracle-visible — correctness is gated on the
    * FINAL pair set matching the brute-force Jaccard oracle exactly. */
  private[graft] def bandHashes(docs: DataFrame): DataFrame =
    withShingles(docs).select(col("doc_id"),
      graft.functions.SketchScalarFunctions
        .minhash_bands_of(col("sh"), NumHashes, NumBands).as("bands"))

  /** Near-dup pairs via MinHash+LSH banding, then *exact* Jaccard on the
    * candidates only. Output is identical to [[jaccardBrute]] whenever the
    * banding recalls every true pair (it does on the fixtures — verified
    * against the same DuckDB oracle), but the join is on (band, bandHash):
    * candidate count scales with the number of true duplicates, not n².
    * Registry form: the fixture corpus with planted near-duplicates. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshOn(withNearDups(spark, dir))

  /** Library form over ANY (doc_id, text) frame — e.g. the raw corpus
    * inside [[graft.PipelineRun]]'s near-dedup stage.
    *
    * One lazy query: nothing is persisted and no eager `count()` job
    * pins a cache. Spark's exchange reuse shares the repeated subtrees
    * instead — the candidate shuffle feeds both the pair stream and the
    * semi-join's id broadcast, one candidate-doc shingle broadcast serves
    * both confirm joins, and a shuffled band self-join (a corpus too big
    * to broadcast its 16 (band, hash) rows per doc) reads one band
    * exchange on both sides. A broadcast band join on a small corpus
    * computes the bands once per side, a cheaper pass there than the
    * jobs a cache costs (at fixture scale the engine is job-bound). */
  def minhashLshOn(docs: DataFrame): DataFrame = {
    val bands = bandHashes(docs)
      .select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band", "bandHash")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bandHash") === col("y.bandHash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    // Exact-confirm shingles are recomputed ONLY for docs that appear in a
    // candidate pair (a semi-join on the tiny candidate-id set, broadcast
    // because candidates ∝ true duplicates) — at 100 TB this re-reads a
    // pruned 2-column slice of the corpus for a few thousand docs instead
    // of either persisting every document's shingle set or re-shingling
    // the full corpus twice.
    // LEFT-SEMI against the duplicate-bearing exploded id frame — semi
    // joins ignore build-side multiplicity, so no distinct (and no
    // shuffle) is spent deduplicating the candidate ids first
    val candIds = cand.select(explode(array(col("a_id"), col("b_id")))
      .as("doc_id"))
    val sh = withShingles(docs.join(broadcast(candIds),
      Seq("doc_id"), "leftsemi"))
    val jac = size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
      size(array_union(col("a_sh"), col("b_sh"))).cast("double")
    (cand
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .select(col("a_id"), col("b_id"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.6))
  }

  // Oracle: the exact brute-force pair set — LSH must not miss a pair.
  val minhashLshOracle: String = jaccardBruteOracle

  // --- incremental dedup (delta vs corpus snapshot) ------------------------

  /** Incremental near-dedup: a crawl DELTA against the historical corpus
    * — the production shape of dedup at 100 TB, where you never re-pair
    * history×history (that work is done and stored); each ingest batch
    * pairs only delta×history and delta-internal.
    *
    * This operator is the delta×history half: band signatures of the
    * delta join the snapshot's band index, confirmed by exact Jaccard,
    * and each delta document gets its verdict — the minimum matching
    * history id, the match count, and the best Jaccard.
    *
    * Scale shape: the history band frame is the PERSISTED INDEX a real
    * pipeline maintains (16 rows of 3 longs per doc — rewriting it per
    * batch would be the real cost; [[graft.sources.Layouts]]' bucketed
    * writer keeps it bucketed by (band, hash) so only the delta side
    * shuffles into the join). Candidates ∝ true cross-duplicates; the
    * exact confirm re-shingles candidate documents only (broadcast
    * semi-join, same discipline as [[minhashLshOn]]).
    *
    * Fixture realization: the planted +100000 truncated copies ARE the
    * re-crawl delta; originals are the snapshot. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withNearDups(spark, dir)
    incrementalOn(
      corpus.filter(col("doc_id") < 100000L),
      corpus.filter(col("doc_id") >= 100000L))
  }

  /** Library form: dedup `delta` against the `history` snapshot, both
    * `(doc_id, text)` frames. The two id spaces may overlap — each
    * side's exact-confirm shingles come from its OWN frame, so a delta
    * document reusing a history id can never be confirmed against the
    * wrong text.
    *
    * Caching contract: the candidate frame is persisted because it
    * feeds three consumers, and it must outlive this call — the
    * returned DataFrame still references it lazily, so it cannot be
    * unpersisted here. One-shot callers can leave it to
    * CacheManager (which dedups repeated calls by canonicalized plan) or
    * `spark.catalog.clearCache()` (Bench and Verify do); callers running
    * many batches in one session should use [[incrementalOnManaged]] and
    * release each batch's cache after consuming its verdicts. */
  def incrementalOn(history: DataFrame, delta: DataFrame): DataFrame =
    incrementalOnManaged(history, delta)._1

  /** [[incrementalOn]] with cache-lifetime control: returns the verdict
    * frame plus a `release()` that unpersists the batch's candidate
    * frame. A continuous-ingest loop calls `release()` after consuming
    * each batch's verdicts, so N batches hold ONE batch's cache at a
    * time instead of accumulating N for the session
    * (`DedupSpec` pins that with a repeated-batch run). Calling
    * `release()` before consumption is safe — the plan recomputes — it
    * just forfeits the reuse the persist exists for. */
  def incrementalOnManaged(history: DataFrame,
      delta: DataFrame): (DataFrame, () => Unit) = {
    val histBands = bandHashes(history)
      .select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band", "bandHash")))
    val deltaBands = bandHashes(delta)
      .select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band", "bandHash")))
    // persisted: the candidate frame feeds BOTH per-side id derivations
    // and the verdict join — without it the corpus-sized band subtree
    // evaluates once per consumer (Bench/Verify clear the cache between
    // queries)
    val cand = deltaBands.as("x").join(histBands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bandHash") === col("y.bandHash"))
      .select(col("x.doc_id").as("delta_id"), col("y.doc_id").as("hist_id"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // LEFT-SEMI prune against the (duplicate-bearing) candidate frame:
    // a semi join ignores build-side multiplicity, so no distinct — and
    // its shuffle — is needed to derive the per-side id sets
    val aSh = withShingles(delta.join(
        broadcast(cand.select(col("delta_id").as("doc_id"))),
        Seq("doc_id"), "leftsemi"))
      .select(col("doc_id").as("delta_id"), col("sh").as("a_sh"))
    val bSh = withShingles(history.join(
        broadcast(cand.select(col("hist_id").as("doc_id"))),
        Seq("doc_id"), "leftsemi"))
      .select(col("doc_id").as("hist_id"), col("sh").as("b_sh"))
    val jac = size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
      size(array_union(col("a_sh"), col("b_sh"))).cast("double")
    val out = cand
      .join(aSh, "delta_id")
      .join(bSh, "hist_id")
      .select(col("delta_id"), col("hist_id"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.6)
      .groupBy(col("delta_id"))
      .agg(min(col("hist_id")).as("dup_of"),
        count(lit(1)).as("n_dups"),
        max(col("jaccard")).as("best_jaccard"))
    (out, () => { cand.unpersist(); () })
  }

  /** DuckDB replay: brute delta×history Jaccard over the same planted
    * corpus — the LSH path must not miss a cross-pair (recall 1.0, the
    * same contract as [[minhashLshOracle]]). */
  val incrementalOracle: String =
    s"""WITH $nearDupsCte,
       |$shinglesCte,
       |inv AS (SELECT doc_id, unnest(sh) AS tok FROM s),
       |cand AS (SELECT DISTINCT a.doc_id AS delta_id, b.doc_id AS hist_id
       |         FROM inv a JOIN inv b ON a.tok = b.tok
       |         WHERE a.doc_id >= 100000 AND b.doc_id < 100000)
       |SELECT delta_id, min(hist_id) AS dup_of,
       |       count(*) AS n_dups, max(j) AS best_jaccard
       |FROM (SELECT c.delta_id, c.hist_id, $jaccardSql AS j
       |      FROM cand c JOIN s a ON a.doc_id = c.delta_id
       |                  JOIN s b ON b.doc_id = c.hist_id
       |      WHERE $jaccardSql >= 0.6)
       |GROUP BY 1 ORDER BY 1, 2, 3, 4""".stripMargin

  // --- SimHash -------------------------------------------------------------

  // Carter–Wegman affine family over the Karp–Rabin polynomial hash: all
  // constants are small enough that `p * A_i + B_i` stays under 2^63 in
  // both engines (p, A_i < M ≈ 1e9 → product < 1e18).
  private val M = 1000000007L
  private val HalfM = (M + 1) / 2 // 500000004

  /** 64-bit SimHash packed as four 16-bit bands. Bit i of the signature is
    * the sign of Σ_features ±1, where feature f votes +1 on bit i iff
    * h_i(f) = (A_i·poly(f) + B_i) mod M lands in the upper half of [0, M)
    * — 64 independent affine hashes over one polynomial fingerprint, every
    * step integer arithmetic DuckDB reproduces exactly (unlike the former
    * `xxhash64`, which left this query oracle-less).
    * Features are word-3-gram shingles — single tokens don't discriminate
    * on a small-vocabulary corpus (every doc uses most of the vocab).
    * Like the MinHash path, the vote fold is a per-row scalar expression
    * ([[graft.functions.SimHashBandsOf]], same Carter–Wegman hashes the
    * oracle replays) — no explode, no groupBy; the signature build is a
    * narrow projection over the scan. */
  private def simhashBands(docs: DataFrame): DataFrame =
    withShingles(docs).select(col("doc_id"),
      graft.functions.SketchScalarFunctions.simhash_bands_of(col("sh")).as("b4"))
      .select(col("doc_id"),
        element_at(col("b4"), 1).as("band0"),
        element_at(col("b4"), 2).as("band1"),
        element_at(col("b4"), 3).as("band2"),
        element_at(col("b4"), 4).as("band3"))

  /** SimHash near-dup pairs: candidates share at least one of the four
    * 16-bit bands (pigeonhole: hamming ≤ 3 ⇒ some band identical), then an
    * exact hamming ≤ 3 filter via bit_count(xor). Every arithmetic step is
    * integer-exact in both engines, so the DuckDB oracle below replays the
    * identical algorithm and the result hash-matches. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // Persisted: this 5-longs-per-doc frame is referenced FOUR times below
    // (both sides of the band self-join, then both sides of the hamming
    // confirm), and its polynomial-hash subtree is the most expensive
    // expression in the module.
    val bands = simhashBands(withNearDups(spark, dir))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val byBand = bands.select(col("doc_id"), posexplode(array(
        col("band0"), col("band1"), col("band2"), col("band3")))
      .as(Seq("band", "val")))
    val cand = byBand.as("x").join(byBand.as("y"),
        col("x.band") === col("y.band") && col("x.val") === col("y.val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val a = bands.select(col("doc_id").as("a_id"), col("band0").as("a0"),
      col("band1").as("a1"), col("band2").as("a2"), col("band3").as("a3"))
    val b = bands.select(col("doc_id").as("b_id"), col("band0").as("b0"),
      col("band1").as("b1"), col("band2").as("b2"), col("band3").as("b3"))
    val hamming = (0 until 4).map(i =>
      bit_count(col(s"a$i").bitwiseXOR(col(s"b$i")))).reduce(_ + _)
    (cand.join(a, "a_id").join(b, "b_id")
      .select(col("a_id"), col("b_id"), hamming.cast("long").as("hamming"))
      .filter(col("hamming") <= 3))
  }

  /** DuckDB replay of the SimHash pipeline: same polynomial fingerprint,
    * same 64 affine bit-hashes, same band packing, same hamming filter. */
  val simhashOracle: String =
    s"""WITH $nearDupsCte,
       |$shinglesCte,
       |e AS (SELECT doc_id, unnest(sh) AS w FROM s),
       |ph AS (SELECT doc_id,
       |              list_reduce(list_transform(string_split(w, ''),
       |                                         c -> CAST(ord(c) AS BIGINT)),
       |                          (a, b) -> (a * 31 + b) % $M) AS p
       |       FROM e),
       |bits AS (SELECT doc_id, i,
       |                SUM(CASE WHEN (p * ((1103515245 * i + 12345) % $M)
       |                               + ((1103515245 * (i + 64) + 12345) % $M))
       |                              % $M >= $HalfM
       |                         THEN 1 ELSE -1 END) AS sgn
       |         FROM ph CROSS JOIN range(0, 64) t(i) GROUP BY 1, 2),
       |bands AS (SELECT doc_id, i // 16 AS band,
       |                 CAST(SUM(CASE WHEN sgn > 0
       |                               THEN 1 << CAST(i % 16 AS INT)
       |                               ELSE 0 END) AS BIGINT) AS val
       |          FROM bits GROUP BY 1, 2),
       |b4 AS (SELECT doc_id,
       |              MAX(CASE WHEN band = 0 THEN val END) AS band0,
       |              MAX(CASE WHEN band = 1 THEN val END) AS band1,
       |              MAX(CASE WHEN band = 2 THEN val END) AS band2,
       |              MAX(CASE WHEN band = 3 THEN val END) AS band3
       |       FROM bands GROUP BY 1),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.val = y.val
       |          AND x.doc_id < y.doc_id)
       |SELECT c.a_id, c.b_id,
       |       CAST(bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
       |          + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3))
       |            AS BIGINT) AS hamming
       |FROM cand c
       |JOIN b4 a ON c.a_id = a.doc_id
       |JOIN b4 b ON c.b_id = b.doc_id
       |WHERE bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
       |    + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3)) <= 3
       |ORDER BY 1, 2, 3""".stripMargin

  // --- duplicate-cluster assignment (connected components over pairs) -----

  /** Safety cap for the propagation loop — label propagation converges in
    * O(cluster diameter) rounds, and duplicate clusters are near-cliques
    * by construction (LSH bands pair most members directly), so real
    * corpora converge in a handful of rounds. */
  private val MaxCcIters = 50

  /** Duplicate-CLUSTER assignment — the step a dedup pipeline needs after
    * pair detection: pairs only say "a duplicates b"; keep/drop decisions
    * need each document's connected component (a≈b, b≈c ⇒ {a,b,c} is one
    * cluster even when a and c never paired). Output: every document of
    * the near-dup corpus with its canonical representative (the MINIMUM
    * doc_id reachable through the [[minhashLsh]] pair graph; singletons
    * represent themselves) and the keep verdict.
    *
    * Algorithm ([[componentReps]]): a pair set that fits under
    * `spark.graft.cc.driverMaxPairs` is union-found on the driver;
    * beyond it, iterative min-label propagation — labels start as own
    * id; each round every node takes the min of its label and its
    * neighbors' labels (one edges⋈labels shuffle join + groupBy per
    * round), until a round changes nothing. The driver-side loop is
    * bounded CONVERGENCE control (the per-round sum is an aggregate, not
    * data movement) — the same shape GraphX/GraphFrames connected
    * components use; rounds = cluster diameter, which for duplicate
    * clusters is a small constant (LSH pairs most members directly). At
    * 100 TB each round is one shuffle of the (tiny) edge list against the
    * label frame; the fixpoint (min reachable id) is order-independent,
    * so the result is deterministic under any partitioning and the
    * DuckDB oracle replays it as a recursive transitive closure over the
    * SAME pair set (brute-force Jaccard ≡ LSH pairs on the fixtures).
    *
    * Registry form: the planted corpus, with the corpus id frame
    * constructed arithmetically (original ids + planted +100000 copies of
    * every 20th) so it is provably a doc_id-only scan, never the
    * planted-text subtree. */
  def clusterAssign(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
    val docs = ids.unionAll(ids.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 100000L).as("doc_id")))
    clusterAssignImpl(docs, minhashLsh(spark, dir))
  }

  /** Library form over ANY (doc_id, text) frame: near-dup pairs via
    * [[minhashLshOn]], then connected components. */
  def clusterAssignOn(docs: DataFrame): DataFrame =
    clusterAssignImpl(docs.select(col("doc_id")), minhashLshOn(docs))

  /** The duplicate-LOSER ids of a corpus: documents in a near-dup cluster
    * that are not its min-id representative — [[clusterAssignOn]]'s
    * complement, as an id frame ∝ TRUE DUPLICATES (never corpus size).
    * That bound is what lets a composed pipeline drop near-dups with a
    * broadcast ANTI join on the corpus scan instead of a corpus×corpus
    * keeper join ([[graft.PipelineRun.curated]]). Every loser is an
    * endpoint of some pair, so the frame comes straight from the
    * component reps (a driver-side local relation when the pairs fit
    * there, else a filter over the propagation loop's labels) — the
    * corpus is not scanned again to find them. */
  def nearDupLoserIds(docs: DataFrame): DataFrame =
    componentReps(minhashLshOn(docs)) match {
      case Left(reps) =>
        val spark = docs.sparkSession
        import spark.implicits._
        reps.iterator.collect { case (id, rep) if id != rep => id }
          .toSeq.toDF("doc_id")
      case Right(labels) =>
        labels.filter(col("doc_id") =!= col("label")).select(col("doc_id"))
    }

  /** CTE chain over the RAW `documents` table (no planted duplicates)
    * yielding `keepers(doc_id)` — near-dup cluster representatives, the
    * same shingle → shared-shingle candidates → exact-Jaccard → reachability
    * pipeline as [[clusterAssignOracle]]. Requires `WITH RECURSIVE`.
    * Shared by the composed pipeline oracle. */
  private[graft] val rawKeepersCtes: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |s AS (SELECT doc_id,
       |             list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                            for i in range(1, len(ws) - 1)]) AS sh
       |      FROM w),
       |$sharedShingleCandCte,
       |p AS (SELECT c.a_id, c.b_id
       |      FROM cand c JOIN s a ON a.doc_id = c.a_id
       |                  JOIN s b ON b.doc_id = c.b_id
       |      WHERE $jaccardSql >= 0.6),
       |edges AS (SELECT a_id AS u, b_id AS v FROM p
       |          UNION ALL
       |          SELECT b_id AS u, a_id AS v FROM p),
       |reach(u, v) AS (
       |  SELECT doc_id AS u, doc_id AS v FROM documents
       |  UNION
       |  SELECT r.u, edges.v FROM reach r JOIN edges ON r.v = edges.u),
       |keepers AS (SELECT u AS doc_id FROM reach GROUP BY u
       |            HAVING u = min(v))""".stripMargin

  /** Connected components over ANY undirected pair frame `(a_id, b_id)`
    * covering the node frame `docs(doc_id)` — the shared core of
    * [[clusterAssign]] (minhash pairs) and
    * [[Similarity.semanticDedup]] (embedding-cosine pairs). */
  private[operators] def connectedComponents(
      docs: DataFrame, pairs0: DataFrame): DataFrame =
    clusterAssignImpl(docs, pairs0)

  /** Pair-count threshold below which components run as driver-side
    * union-find on the COLLECTED pair list instead of the distributed
    * propagation loop — the same small-side strategy choice as a
    * broadcast join. 2²⁰ id pairs ≈ 16 MB on the driver; the pair set is
    * ∝ true duplicates (LSH-confirmed), so real corpora sit well under
    * this until dedup load is genuinely large, and the distributed loop
    * (identical fixpoint, spec-pinned equal) takes over beyond it.
    * Overridable via `spark.graft.cc.driverMaxPairs` (0 forces the
    * distributed path — how the equality spec exercises both). */
  private val CcDriverMaxPairsDefault = 1L << 20

  /** Driver-side union-find with min-root tracking: rep(x) = min id of
    * x's component — the same fixpoint the propagation loop converges
    * to. */
  private def unionFindReps(pairList: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- pairList) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min id becomes the root, so root == representative
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keysIterator.map(x => x -> find(x)).toMap
  }

  /** Test hook for the union-find (property-tested against brute-force
    * reachability in `DedupSpec`). */
  private[operators] def unionFindRepsForTest(
      pairs: Array[(Long, Long)]): Map[Long, Long] = unionFindReps(pairs)

  private def clusterAssignImpl(docs: DataFrame, pairs0: DataFrame): DataFrame = {
    val labels = componentReps(pairs0) match {
      case Left(reps) =>
        val spark = docs.sparkSession
        import spark.implicits._
        broadcast(reps.toSeq.toDF("doc_id", "label"))
      case Right(converged) => converged
    }
    (docs.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_rep"),
        (col("doc_id") === coalesce(col("label"), col("doc_id")))
          .as("is_keeper")))
  }

  /** Component representative (min reachable id) of every id incident to
    * a pair of `pairs0(a_id, b_id)`. Left: the driver-side union-find
    * reps, when the pair set fits under `spark.graft.cc.driverMaxPairs`.
    * Right: the converged `(doc_id, label)` frame of the distributed
    * propagation loop. Ids in no pair are in neither — they represent
    * themselves. */
  private def componentReps(
      pairs0: DataFrame): Either[Map[Long, Long], DataFrame] = {
    val pairs = pairs0.select(col("a_id"), col("b_id"))
    val driverMax = pairs.sparkSession.conf
      .getOption("spark.graft.cc.driverMaxPairs")
      .map(v => try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.cc.driverMaxPairs must be a long, got '$v'")
      }).getOrElse(CcDriverMaxPairsDefault)
    // driverMax > 0 so that setting the conf to 0 really does force the
    // distributed loop even on an empty pair set (the equality spec's
    // mechanism for exercising both paths)
    // small-graph fast path: ONE bounded collect runs the pair query once
    // and brings at most cap + 1 pairs to the driver — the extra row
    // tells an overflow from an exact fit without a count() job — then
    // union-find skips the distributed loop's per-round jobs
    val fitting =
      if (driverMax <= 0) None
      else {
        val cap = math.min(driverMax, Int.MaxValue - 1L).toInt
        Some(pairs.limit(cap + 1).collect()).filter(_.length <= cap)
      }
    fitting match {
      case Some(got) =>
        Left(unionFindReps(got.map(r => (r.getLong(0), r.getLong(1)))))
      case None =>
        // persist the DIRECTED pair set before symmetrizing: the reversed
        // union would otherwise embed the whole LSH+confirm subtree twice
        Right(propagateLabels(pairs.persist(StorageLevel.MEMORY_AND_DISK)))
    }
  }

  /** The distributed min-label propagation over a persisted directed
    * pair frame; releases `pairs` and returns the converged
    * (persisted) `(doc_id, label)` frame. */
  private def propagateLabels(pairs: DataFrame): DataFrame = {
    val edges = pairs.unionAll(
        pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    // propagate over the EDGE-INDUCED subgraph only: nodes untouched by
    // any pair never change labels, so at 100 TB the iteration state is
    // ∝ #duplicate documents, never corpus size — the full corpus joins
    // the converged reps exactly once at the end. Self-loops fold the
    // node's own label into the neighbor-min, so one round is ONE
    // shuffle join + groupBy (no re-join against the old labels), and
    // convergence is read off the label-sum: labels only shrink, so the
    // sum strictly decreases until the fixpoint.
    val incident = edges.select(col("a_id").as("doc_id")).distinct()
    val loopedEdges = edges.unionAll(
        incident.select(col("doc_id").as("a_id"), col("doc_id").as("b_id")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = incident.select(col("doc_id"), col("doc_id").as("label"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    var lastSum = Long.MaxValue
    var converged = false
    while (!converged && iter < MaxCcIters) {
      // rounds needed = component diameter — a small constant for LSH
      // duplicate clusters (bands pair most members directly, so
      // components are near-cliques; the fixtures converge in 2 rounds)
      val updated = loopedEdges
        .join(labels, loopedEdges("b_id") === labels("doc_id"))
        .groupBy(col("a_id")).agg(min(col("label")).as("label"))
        .select(col("a_id").as("doc_id"), col("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val newSum = updated.agg(sum(col("label"))).head().getLong(0)
      converged = newSum == lastSum
      lastSum = newSum
      labels.unpersist()
      labels = updated
      iter += 1
    }
    require(converged, s"label propagation did not converge in $MaxCcIters rounds")
    pairs.unpersist()
    loopedEdges.unpersist()
    labels
  }

  /** DuckDB replay: transitive closure (recursive CTE) over the SAME pair
    * set — min reachable id per node, singletons reaching only
    * themselves. */
  val clusterAssignOracle: String =
    s"""WITH RECURSIVE $nearDupsCte,
       |$shinglesCte,
       |$sharedShingleCandCte,
       |p AS (SELECT c.a_id, c.b_id
       |      FROM cand c JOIN s a ON a.doc_id = c.a_id
       |                  JOIN s b ON b.doc_id = c.b_id
       |      WHERE $jaccardSql >= 0.6),
       |e AS (SELECT a_id AS u, b_id AS v FROM p
       |      UNION ALL
       |      SELECT b_id AS u, a_id AS v FROM p),
       |reach(u, v) AS (
       |  SELECT doc_id AS u, doc_id AS v FROM d
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u)
       |SELECT u AS doc_id, min(v) AS cluster_rep,
       |       u = min(v) AS is_keeper
       |FROM reach GROUP BY u ORDER BY 1, 2, 3""".stripMargin

  // --- cross-source overlap matrix -----------------------------------------

  /** documents ∪ a 'mirror' source carrying exact copies of every 10th
    * doc (keys shifted +300000) — the scrape-mirror scenario: one corpus
    * source republishing another's content verbatim. */
  private def withMirrorSource(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
    d.unionAll(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 300000L).as("doc_id"), col("text"),
        lit("mirror").as("source")))
  }

  /** Inter-source exact-duplicate overlap matrix — which sources carry
    * the same content: per unordered source pair, the count of distinct
    * texts present in both. The curation diagnostic that tells you which
    * crawls mirror each other (and therefore which source to drop
    * wholesale rather than dedup row-by-row).
    *
    * Scale shape: distinct (md5, source) first — 32-byte key + source
    * label, partial-agg'd map-side — then a self-join on the hash. The
    * per-hash group size is the number of SOURCES holding that text
    * (bounded by the source catalog, ~dozens), so the pair blowup per key
    * is O(sources²), never O(docs²); output is at most a sources×sources
    * matrix. */
  def crossSource(spark: SparkSession, dir: String): DataFrame = {
    val d = withMirrorSource(spark, dir)
      .select(md5(col("text")).as("h"), col("source")).distinct()
    val a = d.select(col("h"), col("source").as("src_a"))
    val b = d.select(col("h"), col("source").as("src_b"))
    (a.join(b, Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared")))
  }

  val crossSourceOracle: String =
    """WITH d AS (SELECT doc_id, text, source FROM documents
      |           UNION ALL
      |           SELECT doc_id + 300000 AS doc_id, text, 'mirror' AS source
      |           FROM documents WHERE doc_id % 10 = 0),
      |h AS (SELECT DISTINCT md5(text) AS h, source FROM d)
      |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      |FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2, 3""".stripMargin

  // --- duplicated-span (substring) dedup -----------------------------------

  /** Window width (words) for [[dupSpans]]. */
  private[graft] val SpanW = 8

  /** Exact duplicated-SPAN detection (the substring-level dedup of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better" — arXiv:2107.06499 — re-expressed as a dataflow instead of a
    * suffix array): find every [[SpanW]]-word window whose text occurs in
    * ≥ 2 distinct documents, then merge overlapping windows per document
    * into maximal duplicated spans (1-based word offsets, inclusive).
    * Document-level dedup misses boilerplate shared across otherwise
    * distinct pages; this finds the shared substrings themselves, the
    * spans a curation pipeline would excise.
    *
    * Dataflow: one scan emits all windows with positions
    * ([[graft.functions.WordShingles]] keeps multiplicity + order, so
    * `posexplode` indexes them); window identity is the 8-byte
    * `poly_hash` — the shuffle carries (hash, doc_id), never window
    * text. Cross-doc hashes = distinct (hash, doc) pairs counted ≥ 2
    * (map-side partial agg, long counters). Positions of duplicated
    * windows come back via a LEFT SEMI join on the hash, and the
    * gaps-and-islands merge (lag + running sum over (doc, pos)) is one
    * shuffle on doc_id with per-group state bounded by DOCUMENT length —
    * never corpus size. At 100 TB: windows ∝ corpus tokens but every
    * stage is partial-agg'd or semi-join-pruned; a boilerplate span
    * shared by millions of docs is one hash group with a long counter,
    * not a pair blowup. The planted near-dup corpus (truncated copies)
    * guarantees the fixtures exercise long merged spans. */
  /** (doc_id, pos, h): every [[SpanW]]-word window of the near-dup corpus
    * with its 1-based word position and poly-hash — shared by
    * [[dupSpans]] and [[spanExcise]]. */
  private def spanPositions(spark: SparkSession, dir: String): DataFrame =
    spanPositionsOn(withNearDups(spark, dir))

  /** [[spanPositions]] over ANY (doc_id, text) frame. */
  private def spanPositionsOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(
        graft.functions.StringFunctions.word_shingles_all(
          split(col("text"), " "), SpanW)).as(Seq("pos0", "sh")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        graft.functions.StringFunctions.poly_hash(col("sh")).as("h"))

  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val positions = spanPositions(spark, dir)
    val dupHashes = positions.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("h"))
    (positions
      .join(dupHashes, Seq("h"), "left_semi")
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wnd) < SpanW, 0L)
          .otherwise(1L))
      .withColumn("island", sum(col("brk")).over(
        wnd.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (SpanW - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_windows")))
  }

  /** DuckDB CTEs mirroring [[spanPositions]] (expects the `d` corpus CTE
    * in scope). */
  private val spanPositionsCtes: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
       |p0 AS (SELECT doc_id,
       |              unnest([{'pos': i,
       |                       'sh': array_to_string(ws[CAST(i AS INT):CAST(i + ${SpanW - 1} AS INT)], ' ')}
       |                      for i in range(1, len(ws) - ${SpanW - 2})],
       |                     recursive := true)
       |       FROM w),
       |p AS (SELECT doc_id, pos,
       |             list_reduce(list_transform(string_split(sh, ''),
       |                                        c -> CAST(ord(c) AS BIGINT)),
       |                         (a, b) -> (a * 31 + b) % 1000000007) AS h
       |      FROM p0)""".stripMargin

  val dupSpansOracle: String =
    s"""WITH $nearDupsCte,
       |$spanPositionsCtes,
       |dup AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM p)
       |        GROUP BY h HAVING count(*) >= 2),
       |k AS (SELECT doc_id, pos FROM p WHERE h IN (SELECT h FROM dup)),
       |b AS (SELECT doc_id, pos,
       |             CASE WHEN pos - lag(pos) OVER
       |                    (PARTITION BY doc_id ORDER BY pos) < $SpanW
       |                  THEN 0 ELSE 1 END AS brk
       |      FROM k),
       |isl AS (SELECT doc_id, pos,
       |               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                              ROWS UNBOUNDED PRECEDING) AS island
       |        FROM b)
       |SELECT doc_id, min(pos) AS span_start,
       |       max(pos) + ${SpanW - 1} AS span_end,
       |       count(*) AS n_windows
       |FROM isl GROUP BY doc_id, island ORDER BY 1, 2, 3, 4""".stripMargin

  // --- duplicated-span excision --------------------------------------------

  /** The curation ACTION behind [[dupSpans]]: rewrite every document with
    * its duplicated spans excised, keeping each span's FIRST occurrence
    * corpus-wide. Ownership is per window: the minimum doc_id containing
    * a window's hash owns it; any higher doc_id's occurrence is a
    * "loser" window, and a document drops exactly the word positions
    * covered by its loser windows. (Document-level dedup deletes whole
    * near-copies; this keeps the unique remainder of partially-copied
    * documents — Lee et al. 2022's motivation for substring-level
    * dedup.)
    *
    * Scale shape: ownership is a groupBy(h).min(doc_id) over 16-byte
    * rows; loser positions come back through one hash-keyed join whose
    * volume is ∝ duplicated windows; covered word indices explode 8 per
    * loser window then distinct. Reassembly joins the corpus word list
    * (scan-side posexplode) against covered indices and rebuilds each
    * document with `sort_array(collect_list(...))` — a per-DOCUMENT
    * buffer bounded by document length, the same data-model-contract
    * bound as the denorm embed outputs (sanctioned in
    * `ScaleSafetySpec`): reconstructing a document's text requires that
    * document's words in one place by definition.
    *
    * Output: (doc_id, clean_text, n_removed) for every corpus document. */
  def spanExcise(spark: SparkSession, dir: String): DataFrame =
    spanExciseOn(withNearDups(spark, dir))

  /** [[spanExcise]] over ANY (doc_id, text) frame — how the composed
    * lineage pipeline runs the excision stage on its doc-level-dedup
    * survivors instead of the planted fixture corpus. Same output
    * contract: (doc_id, clean_text, n_removed) for EVERY input row. */
  def spanExciseOn(docs: DataFrame): DataFrame = {
    val positions = spanPositionsOn(docs)
    val owners = positions.groupBy(col("h"))
      .agg(min(col("doc_id")).as("owner"))
    // per-doc covered word-index SET — a frame ∝ duplicated spans, never
    // corpus size. The former shape exploded EVERY word of EVERY doc and
    // shuffled the whole corpus twice (words by (doc_id, widx), then the
    // collect_list re-assembly aggregate); excising with array
    // expressions against the aggregated set moves the corpus text
    // through at most one join (broadcast at fixture scale) and no
    // word-level shuffle at all (round 17).
    val covSets = positions
      .join(owners, Seq("h"))
      .filter(col("doc_id") > col("owner"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (SpanW - 1))).as("widx"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("widx")).as("cov"))
    val ws = split(col("text"), " ")
    val indexed = transform(ws,
      (w, i) => struct((i + 1).cast("long").as("widx"), w.as("word")))
    // null cov (no duplicated span) → array_contains is null-safe here:
    // coalesce to an empty set so every word survives, matching the
    // former left-join's null `cov` marker
    val covOrEmpty = coalesce(col("cov"), array().cast("array<long>"))
    val kept = filter(indexed,
      s => !array_contains(covOrEmpty, s.getField("widx")))
    (docs
      .join(covSets, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", transform(kept, s => s.getField("word")))
          .as("clean_text"),
        (size(ws) - size(kept)).cast("long").as("n_removed")))
  }

  val spanExciseOracle: String =
    s"""WITH $nearDupsCte,
       |$spanPositionsCtes,
       |own AS (SELECT h, min(doc_id) AS owner FROM p GROUP BY 1),
       |cov AS (SELECT DISTINCT p.doc_id, p.pos + t.k AS widx
       |        FROM p JOIN own USING (h)
       |        CROSS JOIN (SELECT unnest(range(0, $SpanW)) AS k) t
       |        WHERE p.doc_id > own.owner),
       |wd AS (SELECT doc_id,
       |              unnest([{'widx': i, 'word': ws[CAST(i AS INT)]}
       |                      for i in range(1, len(ws) + 1)],
       |                     recursive := true)
       |       FROM w)
       |SELECT wd.doc_id,
       |       coalesce(array_to_string(
       |         list(wd.word ORDER BY wd.widx)
       |           FILTER (WHERE cov.widx IS NULL), ' '), '') AS clean_text,
       |       CAST(sum(CASE WHEN cov.widx IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_removed
       |FROM wd LEFT JOIN cov
       |  ON wd.doc_id = cov.doc_id AND wd.widx = cov.widx
       |GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin

  // --- registry ------------------------------------------------------------

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (exact _),
    "dedup_jaccard_brute" -> (jaccardBrute _),
    "dedup_minhash_lsh" -> (minhashLsh _),
    "dedup_simhash" -> (simhashPairs _),
    "dedup_clusters" -> (clusterAssign _),
    "dedup_incremental" -> (incremental _),
    "dedup_dup_spans" -> (dupSpans _),
    "dedup_span_excise" -> (spanExcise _),
    "dedup_cross_source" -> (crossSource _))

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> exactOracle,
    "dedup_jaccard_brute" -> jaccardBruteOracle,
    "dedup_minhash_lsh" -> minhashLshOracle,
    "dedup_simhash" -> simhashOracle,
    "dedup_clusters" -> clusterAssignOracle,
    "dedup_incremental" -> incrementalOracle,
    "dedup_dup_spans" -> dupSpansOracle,
    "dedup_span_excise" -> spanExciseOracle,
    "dedup_cross_source" -> crossSourceOracle)
}
