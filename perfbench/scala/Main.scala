package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point (launched by `perfbench/run.py`).
  *
  *   --mode run      --workload W --seed N --seconds S --trace 0|1 --data D --work T
  *   --mode record   --data D --work T --out F  record the expected digests
  *
  * `--data` is the directory of the input tables.
  *
  * A run starts a session sized from the host, sets up (repeating the
  * workload's set-up step), warms up, then times the whole seeded rounds
  * that `--seconds` covers ([[Plan.roundCount]]). Outputs are checked
  * after the timed loop. The last stdout line is the result object. */
object Main {
  val SetupRepeats = 3
  val ProbePairs = 6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    opt("mode") match {
      case "run" => run(opt)
      case "record" => Record.run(opt)
      case m => throw new IllegalArgumentException(s"unknown mode: $m")
    }
  }

  /** `local[cpus]` with one shuffle partition per core, the confs every
    * engine entry point applies, and the bounded-heap top-k planning. */
  def session(opt: Map[String, String], work: String): SparkSession = {
    val cpus = opt.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val b = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    graft.sources.Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopKPlanning.register(spark)
    spark
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private val TailGrid = Seq(0.999, 0.99, 0.95, 0.9, 0.8, 0.75, 0.7, 0.6, 0.5)

  /** The highest percentile with at least ten samples beyond it, by
    * nearest rank; the maximum when there are too few samples for any. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    TailGrid.find(p => s.size * (1 - p) >= 10) match {
      case Some(p) => (s(math.ceil(p * s.size).toInt - 1), f"p${p * 100}%.1f of ${s.size}")
      case None => (if (s.isEmpty) 0.0 else s.last, s"max of ${s.size} (too few for a percentile)")
    }
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  /** Heap the program retains after the timed loop: full GCs,
    * each followed by a pause for Spark's context cleaner to release what
    * the collected objects held, until the used heap stops shrinking. */
  private def settledHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); Thread.sleep(50); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used()
    var next = used()
    var i = 0
    while (next < last * 0.98 && i < 5) { last = next; next = used(); i += 1 }
    next
  }

  def run(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val expected = Record.load(opt("expected"))
    Plan.selfCheck(workload, expected)
    val rounds = Plan.rounds(workload, seed, Plan.roundCount(workload, seconds))

    val tSession = System.nanoTime()
    val spark = session(opt, work)
    val sessionS = secs(tSession)
    val sc = spark.sparkContext
    // spans record the timed loop and the traced run's probes only
    val spans = new Spans(false)
    val counters = new SparkCounters
    if (trace) sc.addSparkListener(counters)
    val w = Workload(workload, spark, opt("data"), work, spans)

    // set-up: the repeated step first (the first repeat is the one a
    // single client pays on a cold JVM), then the warm-up
    val units = (1 to SetupRepeats).map { _ => val t0 = System.nanoTime(); w.setupUnit(); secs(t0) }
    // every op, here and below, starts with an empty cache, as in
    // graft.Bench: the engine's dedup persists frames that a later op
    // would otherwise reuse
    val tWarm = System.nanoTime()
    w.warmupOps.foreach { op => spark.catalog.clearCache(); w.exec(op) }
    val warmupS = secs(tWarm)
    val setupS = sessionS + median(units) + warmupS

    // one op through `wl`; loop ops tag their Spark jobs with their index
    def execute(wl: Workload, op: OpSpec, idx: Int, tagged: Boolean): OpRecord = {
      spark.catalog.clearCache()
      if (tagged) sc.setLocalProperty(SparkCounters.OpKey, idx.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(wl.exec(op)) catch { case e: Throwable => Left(e) }
      val wall = secs(t0)
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(SparkCounters.OpKey, null)
      new OpRecord(idx, op, wall, startMs, endMs, res.toOption,
        res.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }

    // timed closed loop: one client, whole rounds
    val records = mutable.ArrayBuffer.empty[OpRecord]
    spans.enabled = trace
    val gc0 = gcSeconds()
    val tLoop = System.nanoTime()
    rounds.foreach(_.foreach(op => records += execute(w, op, records.size, tagged = true)))
    val loopS = secs(tLoop)
    val jvmGcS = gcSeconds() - gc0
    val probeRecords = mutable.ArrayBuffer.empty[OpRecord]

    // output checks, outside the timed loop
    Workload.check(records.toSeq, expected)
    val ok = records.filter(_.ok)
    def walls(cls: String) = ok.filter(_.spec.cls == cls).map(_.wallS).toSeq
    val (opTail, opTailP) = tail(ok.map(_.wallS).toSeq)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics ++= Seq(
        "setup_s" -> (setupS, "s"),
        "ops_per_s" -> (ok.size / loopS, "1/s"),
        "op_p50_s" -> (median(ok.map(_.wallS).toSeq), "s"),
        "op_tail_s" -> (opTail, "s"),
        "ok_frac" -> (ok.size.toDouble / records.size, "1"),
        "key_p50_s" -> (median(walls("key")), "s"),
        "aux_mean_s" -> (mean(walls("aux")), "s"))
    } else {
      SparkCounters.drain(sc)
      val per = ok.map(rec => rec -> counters.of(rec.idx)).toSeq
      def perOp(f: (OpRecord, counters.Agg) => Double): Double =
        if (per.isEmpty) 0.0 else per.map { case (rec, a) => f(rec, a) }.sum / per.size
      val rssMb = peakRssMb()
      val liveMb = settledHeapMb()
      // tracing overhead: pairs of the probe op untraced (no listener, no
      // spans) and traced, each side first in half of the pairs
      def probe(traced: Boolean): Double = {
        spans.enabled = traced
        if (traced) sc.addSparkListener(counters) else sc.removeSparkListener(counters)
        spark.catalog.clearCache()
        val t0 = System.nanoTime(); w.probe(); secs(t0)
      }
      val (plain, tracedRuns) = (1 to ProbePairs).map { i =>
        if (i % 2 == 0) { val p = probe(false); (p, probe(true)) }
        else { val t = probe(true); (probe(false), t) }
      }.unzip
      spans.enabled = true
      // the layers this workload does not reach: one op of each kind of
      // the peer workload, outside the loop, checked like the loop's ops
      val peer = Workload(Workload.peer(workload), spark, opt("data"), work, spans)
      peer.probeOps.foreach(op => probeRecords += execute(peer, op, -1 - probeRecords.size, tagged = false))
      Workload.check(probeRecords.toSeq, expected)
      val extra = w.traced(ok.toSeq) ++ peer.traced(probeRecords.filter(_.ok).toSeq)
      metrics ++= Seq(
        "spark.jobs_per_op" -> (perOp((_, a) => a.jobs.toDouble), "count"),
        "spark.stages_per_op" -> (perOp((_, a) => a.stages.toDouble), "count"),
        "spark.driver_s_per_op" -> (perOp((rec, a) =>
          SparkCounters.uncovered(rec.startMs, rec.endMs, a.stageSpans.toSeq) / 1000.0), "s"),
        "spark.task_s" -> (perOp((_, a) => a.taskMs / 1000.0), "s"),
        "spark.gc_s" -> (perOp((_, a) => a.gcMs / 1000.0), "s"),
        "spark.shuffle_write_bytes" -> (perOp((_, a) => a.shuffleWrite.toDouble), "B"),
        "spark.shuffle_read_bytes" -> (perOp((_, a) => a.shuffleRead.toDouble), "B"),
        "spark.input_bytes" -> (perOp((_, a) => a.input.toDouble), "B"),
        "spark.peak_exec_mem_bytes" -> (per.map(_._2.peakExecMem.toDouble).foldLeft(0.0)(_ max _), "B"),
        "jvm.gc_s" -> (jvmGcS, "s"),
        "jvm.peak_rss_mb" -> (rssMb, "MB"),
        "jvm.live_heap_mb" -> (liveMb, "MB"),
        "plans.build_s" -> (spans.mean("plans.build"), "s"),
        "plans.plan_s" -> (spans.mean("plans.plan"), "s"),
        "sources.register_s" -> (median(units), "s"),
        "costs.profile_s" -> (spans.mean("costs.profile"), "s"),
        "costs.rank_s" -> (spans.mean("costs.rank"), "s"),
        "pipeline.curated_s" -> (spans.mean("pipeline.curated"), "s"),
        "pipeline.curated_lineage_s" -> (spans.mean("pipeline.curated_lineage"), "s"),
        "operators.media_decode_s" -> (spans.mean("operators.media_decode"), "s"),
        "trace.overhead_frac" -> (median(tracedRuns) / median(plain) - 1, "1"))
      Seq("costs.designs_ranked" -> "count", "functions.rowexpr_s" -> "s",
        "operators.neardup_s" -> "s", "pipeline.docs_per_s" -> "1/s",
        "sources.bytes_written_per_write" -> "B")
        .foreach { case (k, u) => metrics(k) = (extra.getOrElse(k, 0.0), u) }
    }
    spark.stop()

    // a traced run's probe ops count as attempted ops too
    val all = records ++ probeRecords
    val failed = all.count(!_.ok)
    val correct = failed == 0
    // context lines before the result line
    println(s"# workload=$workload seed=$seed trace=${if (trace) 1 else 0} " +
      s"cpus=${opt.getOrElse("cpus", "?")} heap=${opt.getOrElse("heap", "?")} " +
      s"build=${opt.getOrElse("build", "?")} rounds=${rounds.size} ops=${records.size} loop_s=${"%.3f".format(loopS)}")
    println(f"# setup: session $sessionS%.3f s, set-up step ${units.map(u => f"$u%.3f").mkString("/")} s, warm-up $warmupS%.3f s")
    println(s"# op_tail_s is the $opTailP")
    println("# round walls: " + records.grouped(rounds.head.size).map(rs => f"${rs.map(_.wallS).sum}%.3f").mkString("/") + " s")
    println("# op walls: " + records.map(r => f"${r.spec.kind}=${r.wallS}%.3f").mkString(" "))
    println("# op medians: " + ok.groupBy(_.spec.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      f"$k=${median(rs.map(_.wallS).toSeq)}%.3f s x${rs.size}" }.mkString(", "))
    all.filterNot(_.ok).take(5).foreach(rec => println(s"# failed op ${rec.idx} ${Workload.key(rec.spec)}: ${rec.error.get}"))
    val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${all.size}, "failed": $failed, "metrics": {${m.mkString(", ")}}}""")
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
