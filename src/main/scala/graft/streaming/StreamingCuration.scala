package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Structured Streaming form of the COMPOSED curation pipeline — the
  * continuous-ingest twin of [[graft.PipelineRun]]: documents arrive on
  * a stream and flow through quality gate → PII mask → normalization →
  * content-keyed split → normalization-aware exact dedup, emitting the
  * curated append stream.
  *
  * Batch and stream share ONE composition ([[curationOf]]) built from
  * the same Column expressions the oracle-gated operators use
  * (`TextAnalysis.qualityKeepExpr` / `normalizedExpr` / `splitExpr` /
  * `piiMaskedExpr`), so the twins cannot drift — the
  * only genuinely streaming piece is the stateful keep-FIRST-ARRIVAL
  * dedup (`dropDuplicates` on the normalized-text hash): which doc
  * SURVIVES a duplicate set is arrival-order-dependent, the set of
  * distinct contents kept is not — `StreamingCurationSpec` compares
  * exactly that invariant.
  *
  * Not mirrored: the batch pipeline's LSH near-dup cluster removal — an
  * iterative connected-components fixpoint with no bounded-state
  * streaming form. At scale that stage runs as a periodic batch job over
  * the accumulated corpus (the standard lambda split: cheap exact dedup
  * inline in the stream, expensive near-dup dedup in scheduled
  * compaction passes).
  *
  * State story at scale: one state row per distinct normalized text —
  * 32-byte md5 + nothing else. On an unbounded source, swap in
  * `dropDuplicatesWithinWatermark` once documents carry event time, the
  * same horizon trade documented on [[StreamingDedup]].
  */
object StreamingCuration {

  /** The shared composition over any (doc_id, text, lang, source) frame,
    * batch or streaming: pure per-row projections (the whole pre-dedup
    * pipeline is one codegen'd scan stage, no shuffle) feeding one
    * stateful dedup on the 32-byte content key. */
  def curationOf(docs: DataFrame): DataFrame = {
    docs.filter(TextAnalysis.qualityKeepExpr)
      .select(col("doc_id"), col("lang"), col("source"),
        TextAnalysis.piiMaskedExpr.as("masked_text"),
        TextAnalysis.normalizedExpr.as("norm_text"),
        TextAnalysis.splitExpr.as("split"))
      .withColumn("norm_hash", md5(col("norm_text")))
      .dropDuplicates("norm_hash")
  }

  /** Batch twin (batch dropDuplicates is also arrival-arbitrary, hence
    * the spec's key-set comparison). */
  def curatedBatch(spark: SparkSession, dir: String): DataFrame =
    curationOf(graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source")))

  /** Streaming curation run to completion on the finite fixture replay. */
  def curatedStreaming(spark: SparkSession, dir: String): DataFrame = {
    val sink = s"graft_stream_curation_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val (raw, streamDir, _) = StreamingStaging.stageParquetStream(
      spark, dir, "documents", "graft_stream_cur")
    val docs = raw.select(col("doc_id"), col("text"), col("lang"), col("source"))
    StreamingStaging.runAndConsume(spark, sink, streamDir)(
      curationOf(docs)
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .start())
  }

  /** [[curatedStreaming]] with the PRODUCTION sink: the append-mode
    * parquet FILE sink ([[StreamingLeaderboard]]'s mode — each curated
    * document emits exactly once on first arrival of its content key,
    * the manifest's atomic per-batch commit contract). THIS is the
    * pipeline's actual deployment shape: a crawl lands documents on a
    * stream and the curated table grows continuously as training-ready
    * parquet any engine can read. `StreamingCurationSpec` pins
    * parquet ≡ memory ≡ batch on the arrival-order-independent
    * invariants (kept content-key set; per-key payloads). */
  def curatedStreamingToParquet(spark: SparkSession, dir: String,
      outDir: String): DataFrame = {
    val (raw, streamDir, _) = StreamingStaging.stageParquetStream(
      spark, dir, "documents", "graft_stream_curpq")
    val docs = raw.select(col("doc_id"), col("text"), col("lang"), col("source"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cur_ckpt")
    try {
      val query = curationOf(docs)
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .start()
      try query.processAllAvailable()
      finally query.stop()
    } finally {
      StreamingStaging.deleteRecursively(streamDir)
      StreamingStaging.deleteRecursively(ckpt)
    }
    spark.read.parquet(outDir)
  }
}
