package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ANN family's SELECTION FRONTIER, measured: for each timed
  * production form (LSH multi-probe, IVF-SQ, IVF-PQ, persisted-index
  * build+query) at each scale point, (recall@3 vs an exact sampled
  * ground truth, wall seconds, shuffle bytes written) — the curve a
  * 100 TB user actually picks an index from. The per-family recall
  * FLOORS in `SimilaritySpec` are pass/fail at fixture scale; this main
  * turns them into a frontier across scale, and SCALING.md checks in
  * the table.
  *
  * Ground truth at scale: the full O(n²) exact top-k is exactly what a
  * scaled corpus forbids, so recall is measured on a ~150-query SAMPLE
  * — every mod-th vector's exact top-3 by a broadcast-sample × corpus
  * pass (linear in n, one bounded window over sample×n rows), the
  * standard ANN-benchmark methodology (ann-benchmarks does the same
  * with held-out query sets).
  *
  * Shuffle bytes come from a stage-completion listener summing
  * `shuffleWriteMetrics.bytesWritten` across the timed run — the
  * exchange volume the exchange-audit spec bounds structurally is here
  * REPORTED per form, so the frontier shows what the ≤64 B-code
  * candidate shuffles buy as n grows.
  *
  * Usage: runMain graft.Frontier <sf0.1Dir> <outRoot> <factor...>
  * (factor 1 = the fixture itself; >1 reuses/creates the StressScale
  * corpus at outRoot/x<factor>). Writes one JSON line to
  * SPARK_GRAFT_FRONTIER_OUT (default target/frontier_report.json).
  */
object Frontier {

  private final class ShuffleBytes
      extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Exact top-`k` for every `mod`-th vector: broadcast the sampled
    * queries against one corpus scan — linear in n. */
  private def exactSampleTopK(spark: SparkSession, dir: String, mod: Long,
      k: Int): Map[Long, Set[Long]] = {
    val dv = transform(col("embedding"), x => x.cast("double"))
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), dv.as("ev"))
    val q = e.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("query_id"), col("ev").as("qev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    e.select(col("vec_id").as("neighbor_id"), col("ev").as("b_ev"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.operators.Similarity.cosine(col("qev"), col("b_ev"))
          .as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (v, rs) => v -> rs.map(_.getLong(1)).toSet }
  }

  /** The timed ANN family (same entries Bench times): the production
    * forms — the two `*_indexed` rows price build+query per call by
    * design — plus the two CACHED query-only bench rows, which is where
    * the persisted artifacts' steady state (and the LSH index's
    * exchange-free postings side) actually shows. A warmup call before
    * timing builds their per-process artifact so the listener counts
    * only query traffic. */
  private val Forms: Seq[String] = Seq(
    "sim_ann_lsh", "sim_ann_lsh_indexed", "sim_ann_lsh_index_query",
    // the bucket-capped forms: the skew fuse's frontier point — what
    // the probes·cap candidate ceiling trades in recall for wall
    "sim_ann_lsh_capped", "sim_ann_lsh_capped_index_query",
    "sim_ann_ivf_sq", "sim_ann_ivfpq",
    "sim_ann_ivfpq_indexed", "sim_ann_ivfpq_index_query")

  /** The per-factor nprobe sweep on a prebuilt index: query-only wall +
    * recall per notch, plus the AUTO default — what a deployment
    * actually dials to buy recall back as n grows. `prefix` tags the
    * emitted form names (clustered rows report as `clu_indexed_query_*`
    * so the two corpus shapes never mix in a reader). */
  private def sweepAt(spark: SparkSession, dir: String, factor: Int,
      n: Long, prefix: String = ""): Seq[(Int, String, Long, Double, Double, Double)] = {
    val mod = math.max(1L, n / 150)
    val exact = exactSampleTopK(spark, dir, mod, 3)
    val root = java.nio.file.Files
      .createTempDirectory("graft_frontier_idx").toString
    graft.operators.Similarity.buildIvfPqIndexProdOn(spark,
      graft.sources.Tables.embeddings(spark, dir), root)
    val notches = Seq(4, 8, 16, 32).map(v => (s"nprobe$v", v)) :+
      ("auto", graft.operators.Similarity.AutoProbes)
    val out = notches.map { case (label, nprobe) =>
      val listener = new ShuffleBytes
      spark.sparkContext.addSparkListener(listener)
      val wall = try (1 to 2).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        graft.operators.Similarity.annIvfPqIndexed(spark, dir, root,
          nprobe).count()
        (System.nanoTime() - t0) / 1e9
      }.min finally {
        Thread.sleep(2000)
        spark.sparkContext.removeSparkListener(listener)
      }
      val shuffleMb = listener.bytes.get() / 2 / 1e6
      spark.catalog.clearCache()
      val res = graft.operators.Similarity.annIvfPqIndexed(spark, dir,
        root, nprobe)
      val got = res.filter(res.col("vec_id") % mod === 0)
        .collect().groupBy(_.getLong(0))
        .map { case (v, rs) => v -> rs.map(_.getLong(1)).toSet }
      val recall = exact.map { case (v, ex) =>
        (ex intersect got.getOrElse(v, Set.empty)).size.toDouble / ex.size
      }.sum / exact.size
      println(f"[frontier] x$factor ${prefix}indexed_query $label%-8s " +
        f"recall@3=$recall%.3f wall=$wall%.2fs shuffle=${shuffleMb}%.1fMB")
      (factor, s"${prefix}indexed_query_$label", n, recall, wall, shuffleMb)
    }
    graft.streaming.StreamingStaging.deleteRecursively(
      java.nio.file.Paths.get(root))
    out
  }

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val positional = args.filterNot(_.startsWith("--"))
    require(positional.length >= 3,
      "usage: Frontier <sf0.1Dir> <outRoot> " +
        "[--clustered|--filtered-only|--clustered-filtered|--sweep-only]" +
        " <factor...>")
    val sfDir = positional(0)
    val outRoot = positional(1)
    val factors = positional.drop(2).map(_.toInt)
    val clustered = flags.contains("--clustered")
    val filteredOnly = flags.contains("--filtered-only")
    // the 2×2's fourth quadrant (round 16): the FILTERED variants on the
    // mixture-of-Gaussians corpus — rows emit as clu_<form> so the
    // advisor can hold clustered and isotropic filtered evidence apart
    val clusteredFiltered = flags.contains("--clustered-filtered")
    val sweepOnly = flags.contains("--sweep-only")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    graft.sources.Tables.requiredConfs.foreach { case (k, v) =>
      builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopKPlanning.register(spark)
    val registry = SparkEntry.benchQueries
    val baseVecs = graft.sources.Tables.load(spark, sfDir, "embeddings").count()
    try graft.sources.Tables.load(spark, sfDir, "embeddings").count()
    catch { case _: Throwable => () }

    // both corpus shapes come from the ONE composed-layout entry point
    // (StressScale.composeCorpus, round 15) — the same recipe the bench
    // pool launcher uses, so a frontier factor and a bench factor can
    // never diverge in shape. The clustered corpus is synthesized at
    // EVERY factor including 1× (the fixture is isotropic — a clustered
    // slope needs the same corpus shape at its base point).
    // embeddings-only: every frontier form reads embeddings.parquet
    // alone, and a first uncached 100x compose otherwise pays document
    // + event synthesis it never uses (the compose call is shared with
    // the bench launcher, which requests the full set; either order
    // fills in what the other skipped — composeCorpus re-links
    // idempotently and never dangles an absent table)
    def isotropicDir(factor: Int): String =
      StressScale.composeCorpus(spark, sfDir, outRoot, factor,
        tables = Seq("embeddings"))
    def clusteredDir(factor: Int): String =
      StressScale.composeCorpus(spark, sfDir, outRoot, factor,
        clustered = true, tables = Seq("embeddings"))

    val rows =
      if (clustered || filteredOnly || clusteredFiltered || sweepOnly)
        Seq.empty
    else factors.toSeq.flatMap { factor =>
      val dir = isotropicDir(factor)
      val n = baseVecs * math.max(1, factor)
      val mod = math.max(1L, n / 150)
      val exact = exactSampleTopK(spark, dir, mod, 3)
      println(s"[frontier] x$factor: n=$n, ${exact.size} sampled queries")
      Forms.map { form =>
        val fn = registry(form)
        // warmup: builds the cached artifact for the *_query rows so
        // their timed runs (and shuffle bytes) are query-only
        spark.catalog.clearCache()
        try fn(spark, dir).count() catch { case _: Throwable => () }
        val listener = new ShuffleBytes
        spark.sparkContext.addSparkListener(listener)
        val wall = try (1 to 2).map { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }.min finally {
          Thread.sleep(2000) // let the async listener bus drain
          spark.sparkContext.removeSparkListener(listener)
        }
        val shuffleMb = listener.bytes.get() / 2 / 1e6 // per run (2 runs)
        spark.catalog.clearCache()
        val res = fn(spark, dir)
        val got = res.filter(res.col(res.columns(0)) % mod === 0)
          .collect().groupBy(_.getLong(0))
          .map { case (v, rs) => v -> rs.map(_.getLong(1)).toSet }
        val recall = exact.map { case (v, ex) =>
          (ex intersect got.getOrElse(v, Set.empty)).size.toDouble / ex.size
        }.sum / exact.size
        println(f"[frontier] x$factor $form%-22s recall@3=$recall%.3f " +
          f"wall=$wall%.2fs shuffle=${shuffleMb}%.1fMB")
        (factor, form, n, recall, wall, shuffleMb)
      }
    }
    // FILTERED-search rows: the documented filtered-ANN recall caveat
    // (probes are chosen by geometry, a selective filter thins the
    // candidates), measured instead of asserted. Allowed set = a 1-in-7
    // id slice (≈14%, the registry row's language-slice selectivity,
    // expressible on the synthesized corpora where no documents table
    // exists); queries = the same ~150-vector sample as external
    // queries. Ground truth = exact top-3 AMONG the allowed ids, self
    // included when allowed — the identical convention on both sides
    // (external-query search does not exclude the source vector), so
    // the unfiltered baseline row isolates what the filter alone costs.
    val filteredRows = if (clustered || sweepOnly) Seq.empty
    else factors.toSeq.flatMap { factor =>
      val pfx = if (clusteredFiltered) "clu_" else ""
      val dir =
        if (clusteredFiltered) clusteredDir(factor) else isotropicDir(factor)
      val lshfTable = s"graft_frontier_lshf_$pfx" + s"x$factor"
      val n = baseVecs * math.max(1, factor)
      val mod = math.max(1L, n / 150)
      val dv = transform(col("embedding"), x => x.cast("double"))
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), dv.as("ev"))
      val q = e.filter(col("vec_id") % mod === 0)
        .select(col("vec_id").as("query_id"), col("ev").as("qev"))
      def exactAmong(
          pred: Option[org.apache.spark.sql.Column]): Map[Long, Set[Long]] = {
        val nb0 = e.select(col("vec_id").as("neighbor_id"),
          col("ev").as("b_ev"))
        val nb = pred.map(nb0.filter).getOrElse(nb0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
        nb.crossJoin(broadcast(q))
          .select(col("query_id"), col("neighbor_id"),
            graft.operators.Similarity.cosine(col("qev"), col("b_ev"))
              .as("cosine"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("query_id"), col("neighbor_id"))
          .collect().groupBy(_.getLong(0))
          .map { case (v, rs) => v -> rs.map(_.getLong(1)).toSet }
      }
      val root = java.nio.file.Files
        .createTempDirectory("graft_frontier_fidx").toString
      graft.operators.Similarity.buildIvfPqIndexProdOn(spark,
        graft.sources.Tables.embeddings(spark, dir), root)
      val allowed = e.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      // the tombstoned variant runs LAST — its setup mutates the shared
      // per-factor index (a 10% erasure batch), measuring what the
      // tombstone anti-joins cost the warm search and that recall among
      // SURVIVORS is undamaged
      val variants = Seq(
        ("search_unfiltered",
          None: Option[org.apache.spark.sql.Column],
          () => (),
          () => graft.operators.Similarity.searchIvfPqIndex(
            spark, q, dir, root)),
        // the FIXED-knob filtered row (the r11 measured recall penalty)
        // kept as the control for what the auto compensation recovers
        ("search_filtered_14pct_nprobe8",
          Some(col("neighbor_id") % 7 === 0),
          () => (),
          () => graft.operators.Similarity.searchIvfPqIndexFiltered(
            spark, q, dir, root, allowed, nprobe = 8)),
        // the auto default: nprobe scaled by the filter's inverse
        // selectivity (round 12)
        ("search_filtered_14pct",
          Some(col("neighbor_id") % 7 === 0),
          () => (),
          () => graft.operators.Similarity.searchIvfPqIndexFiltered(
            spark, q, dir, root, allowed)),
        // the LSH artifact's filtered rows (round 13): the fixed
        // radius-2 control vs the AutoRadius dial — the dial's
        // qualification is landing within 0.05 of the IVF-PQ filtered
        // auto point on the same corpus
        ("lsh_filtered_14pct_r2",
          Some(col("neighbor_id") % 7 === 0),
          () => graft.operators.Similarity.buildLshIndexProd(spark, dir,
            s"$root/lshf", lshfTable),
          () => graft.operators.Similarity.searchLshIndexFiltered(
            spark, q, dir, lshfTable, allowed,
            radius = 2)),
        ("lsh_filtered_14pct",
          Some(col("neighbor_id") % 7 === 0),
          () => (),
          () => graft.operators.Similarity.searchLshIndexFiltered(
            spark, q, dir, lshfTable, allowed)),
        ("search_tombstoned_10pct",
          Some(col("neighbor_id") % 10 =!= 5),
          () => graft.operators.Similarity.deleteFromIvfPqIndex(spark,
            e.filter(col("vec_id") % 10 === 5).select(col("vec_id")),
            root, "frontier-erasure"),
          () => graft.operators.Similarity.searchIvfPqIndex(
            spark, q, dir, root)))
      val out = variants.map { case (form0, pred, setup, run) =>
        val form = pfx + form0
        setup()
        val exactF = exactAmong(pred)
        val listener = new ShuffleBytes
        spark.sparkContext.addSparkListener(listener)
        val wall = try (1 to 2).map { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          run().count()
          (System.nanoTime() - t0) / 1e9
        }.min finally {
          Thread.sleep(2000)
          spark.sparkContext.removeSparkListener(listener)
        }
        val shuffleMb = listener.bytes.get() / 2 / 1e6
        spark.catalog.clearCache()
        val got = run().collect().groupBy(_.getLong(0))
          .map { case (v, rs) => v -> rs.map(_.getLong(1)).toSet }
        val recall = exactF.map { case (v, ex) =>
          (ex intersect got.getOrElse(v, Set.empty)).size.toDouble / ex.size
        }.sum / exactF.size
        println(f"[frontier] x$factor $form%-22s recall@3=$recall%.3f " +
          f"wall=$wall%.2fs shuffle=${shuffleMb}%.1fMB")
        (factor, form, n, recall, wall, shuffleMb)
      }
      // the erasure-DEADLINE purge at this scale: the tombstoned variant
      // above left a 10% erasure batch on this factor's index — time the
      // full physical pass (every live cell rewritten minus dead rows;
      // one run — the job mutates the artifact; recall not applicable,
      // query invariance across the purge is spec-gated)
      val purgeRow = {
        val listener = new ShuffleBytes
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        val cells = graft.operators.Similarity.compactIvfPqIndex(
          spark, root, maxFilesPerCell = 0)
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(2000)
        spark.sparkContext.removeSparkListener(listener)
        val shuffleMb = listener.bytes.get() / 1e6
        println(f"[frontier] x$factor ${pfx}purge_10pct_tombstones " +
          f"cells=$cells wall=$wall%.2fs shuffle=${shuffleMb}%.1fMB")
        (factor, s"${pfx}purge_10pct_tombstones", n, -1.0, wall, shuffleMb)
      }
      graft.streaming.StreamingStaging.deleteRecursively(
        java.nio.file.Paths.get(root))
      out :+ purgeRow
    }
    // the KNOB sweep: one prebuilt index per swept factor, query-only
    // wall + recall per nprobe notch + the AUTO default. Default mode
    // sweeps the largest scale point (the curve a deployment dials on);
    // --clustered sweeps EVERY factor on the mixture-of-Gaussians
    // corpora — the qualification run for the auto dial's headline
    // claim ("recall holds as the index grows") on the corpus shape IVF
    // exists for, not just the isotropic worst case.
    val sweepRows: Seq[(Int, String, Long, Double, Double, Double)] =
      if (clustered) factors.toSeq.flatMap { factor =>
        val dir = clusteredDir(factor)
        sweepAt(spark, dir, factor, baseVecs * math.max(1, factor), "clu_")
      }
      // --sweep-only: the isotropic per-factor sweep alone — how a
      // dial change gets its no-isotropic-regression check measured
      // without re-running the full 9-form frontier
      else if (sweepOnly) factors.toSeq.flatMap { factor =>
        sweepAt(spark, isotropicDir(factor), factor,
          baseVecs * math.max(1, factor))
      }
      else if (filteredOnly || clusteredFiltered) Seq.empty
      else {
        val factor = factors.max
        sweepAt(spark, isotropicDir(factor), factor,
          baseVecs * math.max(1, factor))
      }
    val body = (rows ++ filteredRows ++ sweepRows).map {
      case (f, form, n, r, w, mb) =>
      s"""{"factor":$f,"form":"$form","n":$n,"recall_at_3":${f"$r%.4f"},""" +
        s""""wall_sec":${f"$w%.3f"},"shuffle_mb":${f"$mb%.1f"}}"""
    }.mkString("[", ",", "]")
    val line = s"""{"metric":"ann_frontier","rows":$body,""" +
      s""""agg":"wall=min-of-2 cache-cleared; shuffle=bytesWritten/run; """ +
      s"""recall@3 vs exact sampled ground truth (~150 queries)"}"""
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_FRONTIER_OUT",
      "target/frontier_report.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Exception =>
      System.err.println(s"[frontier] could not write $outPath: ${e.getMessage}") }
    spark.stop()
  }
}
