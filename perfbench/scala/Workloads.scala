package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.costs.{ChallengeReporting, Chapter5Sim, HomeworkSim, StatsCollector}
import graft.operators.TextAnalysis
import graft.sources.Tables

/** One executed op: its spec, wall time and output, and whether its
  * output check failed (set after the timed loop). */
final class OpRecord(val idx: Int, val spec: OpSpec, val wallS: Double,
    val startMs: Long, val endMs: Long, val out: Option[OpOutput],
    var error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** A workload drives the engine only through its public functions. */
trait Workload {
  /** The set-up step a client repeats (timed several times, median kept). */
  def setupUnit(): Unit
  /** Ops run untimed before the loop, to warm the code paths it runs. */
  def warmupOps: Seq[OpSpec]
  def exec(op: OpSpec): OpOutput
  /** A short op the traced run repeats with and without tracing. */
  def probe(): Unit
  /** One op of each kind, run once outside the timed loop by a traced run
    * of the peer workload (see [[Workload.peer]]). */
  def probeOps: Seq[OpSpec]
  /** Per-layer numbers only the traced run measures (isolated probes,
    * output sizes) over `records`, this workload's successful ops, keyed
    * by metric name. */
  def traced(records: Seq[OpRecord]): Map[String, Double]
}

object Workload {
  def apply(name: String, spark: SparkSession, sf: String, work: String,
      spans: Spans): Workload = name match {
    case "docdb_queries" => new Docdb(spark, sf, spans)
    case "curation" => new Curation(spark, sf, work, spans)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** The workload whose ops cover the layers `name` does not reach: a
    * traced run borrows its [[Workload.probeOps]] so that every per-layer
    * metric is measured on every workload. */
  def peer(name: String): String =
    if (name == "docdb_queries") "curation" else "docdb_queries"

  def key(op: OpSpec): String = s"${op.kind}:${op.key}"

  /** Marks every op whose (rows, digest) differs from the one recorded
    * for the same op (the check runs after the timed loop). */
  def check(records: Seq[OpRecord], expected: Map[String, (Long, String)]): Unit =
    records.filter(_.ok).foreach { r =>
      val got = r.out.map(o => (o.rows, o.digest))
      expected.get(key(r.spec)) match {
        case None => r.error = Some(s"no recorded digest for ${key(r.spec)}")
        case Some(exp) if !got.contains(exp) =>
          r.error = Some(s"output mismatch for ${key(r.spec)}: got $got, recorded $exp")
        case _ => ()
      }
    }
}

/** `docdb_queries`: registry queries, mini-SQL statements and cost-model
  * re-ranking over the relational tables. */
final class Docdb(spark: SparkSession, sf: String, spans: Spans) extends Workload {
  private val registry = graft.SparkEntry.productionQueries

  def setupUnit(): Unit = Tables.registerAll(spark, sf)

  def warmupOps: Seq[OpSpec] =
    Plan.RegistryRows.map(OpSpec("registry", _, "aux")) ++
      Plan.warmupStatements.map(OpSpec("sql", _, "key")) :+ OpSpec("rerank", "rerank", "other")

  /** The op's DataFrame; for a statement, the mini-SQL front end's parse,
    * catalog registration and compilation (the `plans.build` span). */
  def build(op: OpSpec): DataFrame = op.kind match {
    case "registry" => registry(op.key)(spark, sf)
    case "sql" => spans("plans.build")(graft.plans.MiniSql.execute(spark, sf, op.key))
  }

  def exec(op: OpSpec): OpOutput = op.kind match {
    case "rerank" => rerank()
    case _ =>
      val df = build(op)
      if (spans.enabled) spans("plans.plan")(df.queryExecution.executedPlan)
      Digest.consume(df)
  }

  /** Profiles the live part/lineitem tables as the challenge's
    * Product/OrderLine collections and re-ranks every design. */
  private def rerank(): OpOutput = {
    val product = Tables.part(spark, sf).select(col("p_partkey").as("IDP"),
      col("p_brand").as("brand"), col("p_type").as("categorie"),
      col("p_name").as("description"), col("p_retailprice").as("price"))
    // (l_orderkey, l_linenumber) repeats in the fixture, so the order-line
    // id is a generated unique id; only its fixed width enters the profile
    val orderLine = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(monotonically_increasing_id().as("IDL"),
        col("l_partkey").as("IDP"), col("o_custkey").as("IDC"),
        col("l_quantity").cast("long").as("quantity"))
    val stats = spans("costs.profile")(StatsCollector.profileChallenge(product, orderLine))
    val (rows, totals, ch5, hw) = spans("costs.rank") {
      val (rows, totals, _) = ChallengeReporting.runAll(stats)
      (rows, totals, Seq("DB1", "DB2").map(db => Chapter5Sim.runDb(db)._2),
        HomeworkSim.simulateQueries())
    }
    OpOutput(rows.size.toLong, Digest.md5(Seq(stats.toSeq.sortBy(_._1), rows,
      ChallengeReporting.ordering(totals), ch5, hw.map(_.total)).mkString("|")))
  }

  def probe(): Unit = exec(OpSpec("registry", "q2_brand_filter", "aux"))

  def probeOps: Seq[OpSpec] =
    Seq(OpSpec("sql", Plan.warmupStatements.head, "key"), OpSpec("rerank", "rerank", "other"))

  /** Designs ranked per re-rank op (the op's output row count). */
  def traced(records: Seq[OpRecord]): Map[String, Double] = {
    val ranked = records.filter(_.spec.kind == "rerank").flatMap(_.out).map(_.rows.toDouble)
    if (ranked.isEmpty) Map.empty else Map("costs.designs_ranked" -> ranked.sum / ranked.size)
  }
}

/** `curation`: the curation pipeline's two outputs written as parquet
  * partitioned by split, and the media decode stage over a slice of the
  * corpus. */
final class Curation(spark: SparkSession, sf: String, work: String,
    spans: Spans) extends Workload {
  private val registry = graft.SparkEntry.productionQueries

  /** The media slice (`doc_id < MediaDocs`), written into the run's own
    * directory before set-up: the codecs inflate each text byte into
    * hundreds of pixels, so the media stage decodes a fixed slice. */
  private val media = {
    val dir = s"$work/media"
    Tables.documents(spark, sf).filter(col("doc_id") < Curation.MediaDocs)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  def setupUnit(): Unit = Tables.registerAll(spark, sf)

  def warmupOps: Seq[OpSpec] = Plan.CurationWarmup

  def outDir(key: String): String = s"$work/out/$key"

  private def write(key: String): OpOutput = {
    val df = key match {
      case "curated" => graft.PipelineRun.curated(spark, sf)
      case "curated_lineage" => graft.PipelineRun.curatedLineageFlat(spark, sf)
    }
    val (o, obs) = Digest.observed(df)
    o.write.mode("overwrite").partitionBy("split").parquet(outDir(key))
    Digest.of(obs)
  }

  private def bytesUnder(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def exec(op: OpSpec): OpOutput = op.kind match {
    case "curate" => spans(s"pipeline.${op.key}")(write(op.key))
    case "media" => spans("operators.media_decode") {
      val outs = Plan.MediaRows.map(r => Digest.consume(registry(r)(spark, media)))
      OpOutput(outs.map(_.rows).sum, outs.map(_.digest).mkString(","))
    }
  }

  def probe(): Unit = Digest.consume(registry("mm_decode_png")(spark, media))

  def probeOps: Seq[OpSpec] = Seq(Plan.Curated, Plan.CuratedLineage, Plan.Media)

  override def traced(records: Seq[OpRecord]): Map[String, Double] = {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // the pipeline's per-row stages: PII mask, split key, normalization
    // and the quality verdict
    val rowexpr = timed {
      Digest.consume(TextAnalysis.piiMaskOn(docs))
      Digest.consume(docs.select(col("doc_id"), TextAnalysis.splitExpr.as("split"),
        TextAnalysis.normalizedExpr.as("norm_text"), TextAnalysis.qualityKeepExpr.as("keep")))
    }
    val neardup = timed(Digest.consume(graft.operators.Dedup.nearDupLoserIds(docs)))
    val curates = records.filter(r => r.ok && r.spec.kind == "curate")
    val written = curates.map(r => bytesUnder(outDir(r.spec.key)).toDouble)
    Map("functions.rowexpr_s" -> rowexpr, "operators.neardup_s" -> neardup) ++
      (if (curates.isEmpty) Map.empty else Map(
        "pipeline.docs_per_s" -> docs.count().toDouble * curates.size / curates.map(_.wallS).sum,
        "sources.bytes_written_per_write" -> written.sum / written.size))
  }
}

object Curation {
  val MediaDocs = 1000L
}
