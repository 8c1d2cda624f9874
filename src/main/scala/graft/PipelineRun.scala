package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.sources.Tables

/** End-to-end corpus curation — the user story the operator library
  * exists for, composed from the same oracle-gated pieces:
  *
  *   1. quality gate  (`text_quality_rules` keep verdict)
  *   2. PII masking   (`text_pii_mask` rewrite, raw corpus — no planting)
  *   3. NEAR-dup removal (`dedup_clusters` on the raw corpus: MinHash+LSH
  *                     pairs → connected components → keep each cluster's
  *                     min doc_id)
  *   4. exact dedup   (md5 on the NORMALIZED text, keep min doc_id —
  *                     normalization-aware, so case/punctuation variants
  *                     collapse; catches what shingle-level LSH ignores)
  *   5. train/val/test split (content-keyed poly_hash — dedup-safe)
  *   6. one parquet write partitioned by split
  *
  * Composition shape (the 100 TB story): stages 1, 2, 4's key and 5 are
  * ALL per-row expressions over `text` — the native `quality_keep`,
  * `pii_mask`, `norm_text` and `poly_hash` kernels of `graft.functions`,
  * each one pass over the row's bytes — so they ride ONE corpus scan as
  * one codegen'd projection — no self-joins re-reading the corpus per
  * stage (the previous form joined four derived frames of the same scan
  * back on doc_id: four avoidable corpus-sized shuffles). Near-dup
  * removal lands as a broadcast ANTI join against the duplicate-LOSER id
  * frame ([[graft.operators.Dedup.nearDupLoserIds]], ∝ true duplicates —
  * broadcastable by construction). Cluster assignment runs when that
  * frame is built: while the pair set fits the driver, the frame is a
  * local relation of the union-find losers, so the curated plan carries
  * no pair query and no rep join. The dedup window is the single wide
  * stage (32-byte md5 shuffle key), and it runs on the bounded-heap
  * top-k operator. `PipelineSpec` pins the behavioral invariants,
  * `PlanBudgetSpec` the 1-shuffle plan, and `pipeline_curated` is
  * oracle-gated end to end by [[curatedOracle]].
  *
  * `runMain graft.PipelineRun [sfDir] [outDir]` prints one JSON summary
  * line (same contract style as Bench).
  */
object PipelineRun {

  /** The curated corpus as a DataFrame (no side effects). */
  def curated(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // near-dup losers: cluster the RAW corpus's LSH pair graph (eagerly,
    // here); every id that is not its cluster's min — a
    // duplicate-proportional frame
    val losers = graft.operators.Dedup
      .nearDupLoserIds(docs.select(col("doc_id"), col("text")))
    // one projection computes every per-row stage (the registry's
    // text_pii_mask plants synthetic PII for oracle coverage — the raw
    // corpus is masked here, no planting)
    val enriched = docs.select(
      col("doc_id"),
      TextAnalysis.piiMaskedExpr.as("masked_text"),
      col("lang"), col("source"),
      TextAnalysis.splitExpr.as("split"),
      TextAnalysis.normalizedExpr.as("norm_text"),
      TextAnalysis.qualityKeepExpr.as("keep"))
    // normalization-aware exact dedup: keep the min doc_id per distinct
    // normalized text (32-byte md5 shuffle key, same shape as dedup_exact)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("norm_text"))).orderBy(col("doc_id"))
    (enriched
      .filter(col("keep"))
      .join(broadcast(losers), Seq("doc_id"), "left_anti")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("masked_text"), col("lang"),
        col("source"), col("split")))
  }

  /** [[curated]] with LINEAGE (round 15): every surviving training row
    * carries a provenance struct answering "which upstream document
    * produced this row, and what happened to it on the way" — the
    * cross-run audit question a 100 TB curation pass gets asked and
    * `pipeline_curated` drops. The composition grows the two curation
    * stages the plain pipeline omits (substring EXCISION and mix
    * RESAMPLING), so the chain survives all three destructive stage
    * classes the round-14 verdict named: dedup, excision, resample.
    *
    *   1. quality gate + PII mask (per-row expressions, one projection)
    *   2. near-dup cluster removal — keepers RECORD their cluster size
    *      (1 + losers whose representative they are; the loser frame is
    *      ∝ true duplicates, so the size join is broadcastable)
    *   3. exact dedup on normalized text — the representative records
    *      how many rows collapsed into it (a count over the SAME window
    *      partition the rank-1 filter already shuffles on)
    *   4. duplicated-span excision over the surviving masked corpus
    *      ([[graft.operators.Dedup.spanExciseOn]] — keep each ≥8-word
    *      span's first occurrence corpus-wide), recording words removed
    *   5. deterministic mix resample — per-lang keep thresholds from
    *      the raw corpus's language distribution (the
    *      `curate_mix_resample` arithmetic, APPLIED), keyed on the
    *      final text's content hash
    *   6. content-keyed split on the FINAL text (post-mask,
    *      post-excision — byte-equal survivors land in one split)
    *
    * The provenance column is a STRUCT(origin_doc_id, origin_source,
    * n_neardup_members, n_exact_dups, n_excised_words, transforms):
    * counts, never id lists — bounded at any corpus size — and
    * `transforms` is the ordered, DATA-DEPENDENT stage chain (entries
    * appear only when the stage actually rewrote or merged the row),
    * so a row's string is its audit trail, not a constant. */
  def curatedLineage(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // near-dup clusters once: losers feed the broadcast anti join (as in
    // [[curated]]), loser counts per representative feed the provenance
    val clusters = Dedup.clusterAssignOn(
      docs.select(col("doc_id"), col("text")))
    val losers = clusters.filter(!col("is_keeper")).select(col("doc_id"))
    val repSizes = clusters.filter(!col("is_keeper"))
      .groupBy(col("cluster_rep").as("doc_id"))
      .agg(count(lit(1)).as("n_losers"))
    val enriched = docs.select(
      col("doc_id"),
      col("text").as("raw_text"),
      TextAnalysis.piiMaskedExpr.as("masked_text"),
      col("lang"), col("source"),
      TextAnalysis.normalizedExpr.as("norm_text"),
      TextAnalysis.qualityKeepExpr.as("keep"))
    // exact-dedup representative + collapse count in ONE aggregation
    // (round 17): the former pair of windows (rank + count) each
    // re-derived md5(norm_text) as its own partition expression, so
    // Spark planned TWO exchanges and two sorts over the surviving
    // corpus; min_by(doc_id) picks the identical rank-1 row (doc_id is
    // unique) and count(*) is the window count, with map-side partial
    // aggregation and no sort
    val survivors = enriched
      .filter(col("keep"))
      .join(broadcast(losers), Seq("doc_id"), "left_anti")
      .groupBy(md5(col("norm_text")).as("norm_hash"))
      .agg(
        min_by(struct(col("doc_id"), col("raw_text"), col("masked_text"),
          col("lang"), col("source")), col("doc_id")).as("h"),
        count(lit(1)).as("n_exact_dups"))
      .select(col("h.doc_id").as("doc_id"), col("h.raw_text").as("raw_text"),
        col("h.masked_text").as("masked_text"), col("h.lang").as("lang"),
        col("h.source").as("source"), col("n_exact_dups"))
      .join(broadcast(repSizes), Seq("doc_id"), "left")
      .select(col("doc_id"), col("raw_text"), col("masked_text"),
        col("lang"), col("source"),
        (lit(1L) + coalesce(col("n_losers"), lit(0L)))
          .as("n_neardup_members"),
        col("n_exact_dups"))
    // substring excision among the survivors' masked text (first
    // occurrence corpus-wide wins — Lee et al. 2022's substring-level
    // pass, run where a real pipeline runs it: after doc-level dedup)
    val excised = Dedup.spanExciseOn(
      survivors.select(col("doc_id"), col("masked_text").as("text")))
    // per-lang resample thresholds from the raw corpus's language
    // distribution — the curate_mix_resample arithmetic, applied
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val thr = counts
      .crossJoin(counts.agg(sum(col("n_docs")).as("n_total")))
      .withColumn("thr_ppm",
        least(lit(1000000L),
          expr("((n_total div 2) div 5) * 1000000 div n_docs")))
      .select(col("lang"), col("thr_ppm"))
    val ph = graft.functions.StringFunctions.poly_hash(col("text"))
    val split = when(ph % 100L < 90, "train")
      .when(ph % 100L < 95, "val").otherwise("test")
    (survivors
      .join(excised, Seq("doc_id"))
      .join(broadcast(thr), Seq("lang"))
      .withColumn("text", col("clean_text"))
      .filter(ph % 1000000L < col("thr_ppm"))
      .withColumn("split", split)
      .select(col("doc_id"), col("text"), col("lang"), col("split"),
        struct(
          col("doc_id").as("origin_doc_id"),
          col("source").as("origin_source"),
          col("n_neardup_members"),
          col("n_exact_dups"),
          col("n_removed").as("n_excised_words"),
          concat_ws(";",
            lit("quality"),
            when(col("masked_text") =!= col("raw_text"), "pii_masked"),
            when(col("n_neardup_members") > 1,
              concat(lit("neardup_rep:"),
                col("n_neardup_members").cast("string"))),
            when(col("n_exact_dups") > 1,
              concat(lit("exact_rep:"), col("n_exact_dups").cast("string"))),
            when(col("n_removed") > 0,
              concat(lit("excised:"), col("n_removed").cast("string"))),
            lit("resampled"),
            concat(lit("split="), col("split"))).as("transforms"))
          .as("provenance")))
  }

  /** [[curatedLineage]] with the provenance struct flattened to six
    * scalar top-level columns — the REGISTERED row shape. The struct
    * form is the API (one nested column travels with the row through
    * any downstream select); this form is what the correctness gate
    * can actually sort and hash: the driver's comparator lexsorts raw
    * result columns before hashing, and a struct lands in pandas as a
    * dict — unhashable, the round-15 red row. Every provenance field
    * is a string or long, so the flattening loses nothing;
    * `PipelineSpec` pins flat ≡ struct field-for-field. */
  def curatedLineageFlat(spark: SparkSession, dir: String): DataFrame =
    curatedLineage(spark, dir).select(
      col("doc_id"), col("text"), col("lang"), col("split"),
      col("provenance.origin_doc_id").as("origin_doc_id"),
      col("provenance.origin_source").as("origin_source"),
      col("provenance.n_neardup_members").as("n_neardup_members"),
      col("provenance.n_exact_dups").as("n_exact_dups"),
      col("provenance.n_excised_words").as("n_excised_words"),
      col("provenance.transforms").as("transforms"))

  /** DuckDB replay of [[curatedLineageFlat]] — every stage fragment
    * chained as the Spark side chains the expressions, the provenance
    * fields emitted as the same six scalar top-level columns (the
    * round-15 struct_pack form crashed the driver's comparator — a
    * nested column is unsortable in its pandas lexsort). A defect in
    * any stage, in the lineage counters, or in how the stages compose
    * breaks the row hash. */
  val curatedLineageOracle: String = {
    import graft.operators.{Dedup, TextAnalysis => TA}
    // empty-string guard: DuckDB's string_split('', '') yields ['']
    // and ord('') is -1, so the unguarded fold evaluates to -1 where
    // Spark's poly_hash('') folds zero characters to 0 — a fully
    // excised doc would then pass the oracle's resample filter at
    // thr_ppm = 0 while Spark drops it (latent tiny-corpus mismatch)
    def phSql(c: String): String =
      s"""(CASE WHEN $c = '' THEN 0 ELSE
         | list_reduce(list_transform(string_split($c, ''),
         |                            c -> CAST(ord(c) AS BIGINT)),
         |             (a, b) -> (a * 31 + b) % 1000000007) END)""".stripMargin
    s"""WITH RECURSIVE ${Dedup.rawKeepersCtes},
       |nd_loser AS (SELECT u AS doc_id, min(v) AS rep FROM reach
       |             GROUP BY u HAVING u > min(v)),
       |nd_size AS (SELECT rep AS doc_id, count(*) AS n_losers
       |            FROM nd_loser GROUP BY 1),
       |j AS (SELECT d.doc_id, d.text AS raw_text,
       |             ${TA.piiMaskedSql} AS masked_text,
       |             d.lang, d.source,
       |             md5(${TA.normTextSql}) AS norm_hash
       |      FROM documents d
       |      JOIN keepers USING (doc_id)
       |      WHERE ${TA.qualityKeepSql}),
       |r AS (SELECT *, row_number() OVER (PARTITION BY norm_hash
       |                                   ORDER BY doc_id) AS rnk,
       |             count(*) OVER (PARTITION BY norm_hash) AS n_exact_dups
       |      FROM j),
       |surv AS (SELECT r.doc_id, r.raw_text, r.masked_text, r.lang,
       |                r.source,
       |                CAST(1 + coalesce(nd_size.n_losers, 0) AS BIGINT)
       |                  AS n_neardup_members,
       |                r.n_exact_dups
       |         FROM r LEFT JOIN nd_size USING (doc_id)
       |         WHERE r.rnk = 1),
       |sp_w AS (SELECT doc_id, string_split(masked_text, ' ') AS ws
       |         FROM surv),
       |sp_p0 AS (SELECT doc_id,
       |                 unnest([{'pos': i,
       |                          'sh': array_to_string(ws[CAST(i AS INT):CAST(i + ${Dedup.SpanW - 1} AS INT)], ' ')}
       |                         for i in range(1, len(ws) - ${Dedup.SpanW - 2})],
       |                        recursive := true)
       |          FROM sp_w),
       |sp_p AS (SELECT doc_id, pos, ${phSql("sh")} AS h FROM sp_p0),
       |sp_own AS (SELECT h, min(doc_id) AS owner FROM sp_p GROUP BY 1),
       |sp_cov AS (SELECT DISTINCT sp_p.doc_id, sp_p.pos + t.k AS widx
       |           FROM sp_p JOIN sp_own USING (h)
       |           CROSS JOIN (SELECT unnest(range(0, ${Dedup.SpanW})) AS k) t
       |           WHERE sp_p.doc_id > sp_own.owner),
       |sp_wd AS (SELECT doc_id,
       |                 unnest([{'widx': i, 'word': ws[CAST(i AS INT)]}
       |                         for i in range(1, len(ws) + 1)],
       |                        recursive := true)
       |          FROM sp_w),
       |exc AS (SELECT sp_wd.doc_id,
       |               coalesce(array_to_string(
       |                 list(sp_wd.word ORDER BY sp_wd.widx)
       |                   FILTER (WHERE sp_cov.widx IS NULL), ' '), '')
       |                 AS text,
       |               CAST(sum(CASE WHEN sp_cov.widx IS NOT NULL
       |                             THEN 1 ELSE 0 END) AS BIGINT)
       |                 AS n_removed
       |        FROM sp_wd LEFT JOIN sp_cov
       |          ON sp_wd.doc_id = sp_cov.doc_id
       |         AND sp_wd.widx = sp_cov.widx
       |        GROUP BY 1),
       |c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
       |t2 AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM c),
       |thr AS (SELECT lang,
       |               CAST(least(1000000,
       |                          ((n_total // 2) // 5) * 1000000 // n_docs)
       |                    AS BIGINT) AS thr_ppm
       |        FROM c CROSS JOIN t2),
       |fin AS (SELECT surv.doc_id, exc.text, surv.lang,
       |               CASE WHEN ${phSql("exc.text")} % 100 < 90 THEN 'train'
       |                    WHEN ${phSql("exc.text")} % 100 < 95 THEN 'val'
       |                    ELSE 'test' END AS split,
       |               surv.raw_text, surv.masked_text, surv.source,
       |               surv.n_neardup_members, surv.n_exact_dups,
       |               exc.n_removed
       |        FROM surv JOIN exc USING (doc_id)
       |        JOIN thr USING (lang)
       |        WHERE ${phSql("exc.text")} % 1000000 < thr.thr_ppm)
       |SELECT doc_id, text, lang, split,
       |       doc_id AS origin_doc_id,
       |       source AS origin_source,
       |       n_neardup_members,
       |       n_exact_dups,
       |       n_removed AS n_excised_words,
       |       concat_ws(';',
       |         'quality',
       |         CASE WHEN masked_text <> raw_text THEN 'pii_masked' END,
       |         CASE WHEN n_neardup_members > 1
       |              THEN 'neardup_rep:' || n_neardup_members::VARCHAR END,
       |         CASE WHEN n_exact_dups > 1
       |              THEN 'exact_rep:' || n_exact_dups::VARCHAR END,
       |         CASE WHEN n_removed > 0
       |              THEN 'excised:' || n_removed::VARCHAR END,
       |         'resampled',
       |         'split=' || split) AS transforms
       |FROM fin ORDER BY 1, 2, 3, 4""".stripMargin
  }

  /** DuckDB replay of the WHOLE composition — each stage's own oracle
    * fragment (quality keep, mask chain, normalization, split case,
    * shared-shingle near-dup keepers) chained exactly as [[curated]]
    * chains the expressions, ending in the same min-doc_id-per-norm-hash
    * window. A defect in any stage, or in how the stages compose, breaks
    * the row hash. */
  val curatedOracle: String = {
    import graft.operators.{Dedup, TextAnalysis => TA}
    s"""WITH RECURSIVE ${Dedup.rawKeepersCtes},
       |j AS (SELECT d.doc_id,
       |             ${TA.piiMaskedSql} AS masked_text,
       |             d.lang, d.source,
       |             ${TA.splitCaseSql} AS split,
       |             md5(${TA.normTextSql}) AS norm_hash
       |      FROM documents d
       |      JOIN keepers USING (doc_id)
       |      WHERE ${TA.qualityKeepSql}),
       |r AS (SELECT *, row_number() OVER (PARTITION BY norm_hash
       |                                   ORDER BY doc_id) AS rnk
       |      FROM j)
       |SELECT doc_id, masked_text, lang, source, split
       |FROM r WHERE rnk = 1 ORDER BY 1, 2, 3, 4, 5""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("target/pipeline_out")
    // ranked stages (the dedup window) run on the bounded-heap operator
    val spark = Session()

    val out = curated(spark, sfDir)
    out.write.mode("overwrite").partitionBy("split").parquet(outDir)

    val total = Tables.documents(spark, sfDir).count()
    val bySplit = spark.read.parquet(outDir).groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val summary = Seq(
      "docs_in" -> total,
      "docs_out" -> bySplit.values.sum,
      "train" -> bySplit.getOrElse("train", 0L),
      "val" -> bySplit.getOrElse("val", 0L),
      "test" -> bySplit.getOrElse("test", 0L))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(summary)
    spark.stop()
  }
}
