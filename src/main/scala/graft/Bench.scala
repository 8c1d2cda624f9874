package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // production planning: ranked-window top-k runs on the bounded-heap
    // TopKPerKeyExec (same rows, no per-group sort — spec-pinned and
    // Verify runs the oracle gate through the same rewrite)
    val spark = Session()
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    // Times the PRODUCTION registry (no oracle canonicalization sort) for
    // the scale-path set only; the O(n²) oracle baselines
    // (SparkEntry.baselineOnly) are correctness-gated by Verify, not timed.
    //
    // WARM-UP PROTOCOL (round 15 — composition invariance). Before ANY
    // timing starts, every registry row runs ONCE, untimed, in sorted
    // order. Rationale: the registry's scalar call sites (LSH bucket
    // popcounts, PQ code distances, the JPEG/MJPEG codecs, simhash) are
    // SHARED across rows, so under the old protocol a row's wall was a
    // function of which siblings ran before it and paid its C2 ramp —
    // three separate rounds (9, 13, 14) re-adjudicated 25%+ phantom
    // movements whenever a new row joined a JIT-sharing family. After a
    // full untimed pass, every shared site (and Spark's codegen cache,
    // which is keyed on generated source and therefore reused across
    // iterations of the same plan) is at steady state before the first
    // timed iteration, so the timed numbers no longer depend on session
    // composition. The former JitSensitive 5-iteration special-case set
    // (13 rows at its peak) is retired by the same mechanism.
    // SPARK_GRAFT_WARMUP=off skips the pass (measurement-protocol knob
    // for A/B'ing the warm-up itself — never for headline pools).
    //
    // Each query then runs 3 times and reports the MIN — a single-shot
    // run at local[32] carries ±0.5 s of GC/scheduling noise that reads
    // as phantom regressions. The DataFrame cache is cleared before
    // every iteration (and between warm-up and timing), so queries that
    // persist an intermediate (the LSH dedups) pay their full
    // cache-build cost in every timed run — warm-up and min-of-3
    // discount JIT ramp, never a warm cache. A query that throws is
    // recorded as -1.0 with its error message — a crash must never
    // masquerade as a fast timing.
    //
    // SPARK_GRAFT_BENCH_EXCLUDE (comma-separated row names) drops rows
    // from the session — ONLY for the composition A/B protocol (run a
    // pool with and without a row, diff the neighbors); excluded-row
    // sessions must archive to a throwaway SPARK_GRAFT_BENCH_RUNS dir so
    // they never join a headline merge pool.
    val excluded: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val registry = SparkEntry.benchQueries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => excluded(name) }
    // SPARK_GRAFT_WARMUP_SF_DIR (default: the timed sfDir) lets SCALED
    // pool sessions pay the warm-up pass at the 1× fixture instead of
    // the N× corpus: the shared scalar call sites JIT on invocation
    // count, which the 1× pass already saturates (the round-14 evidence
    // — in-session rows at sf0.1 reached steady state), while a full
    // 30× untimed pass would cost most of an hour per session.
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_SF_DIR", sfDir)
    if (!sys.env.get("SPARK_GRAFT_WARMUP").contains("off")) {
      val t0 = System.nanoTime()
      registry.foreach { case (_, fn) =>
        spark.catalog.clearCache()
        try fn(spark, warmupDir).count()
        catch { case _: Throwable => () } // the timed loop records it
      }
      spark.catalog.clearCache()
      System.err.println(
        f"[bench] warm-up pass: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
          s"(${registry.size} rows, untimed, at $warmupDir)")
    }
    val Iterations = 3
    val results = registry.map { case (name, fn) =>
      val runs = (1 to Iterations).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
                  catch { case e: Throwable =>
                    Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      val firstErr = runs.collectFirst { case (_, Some(e)) => e }
      val times = runs.map(_._1).sorted
      (name, if (firstErr.isEmpty) times.head else -1.0, times, firstErr)
    }
    val qs = results.map { case (k, v, _, _) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    // Per-run [min, median, max]: the r7 official artifact diverged 6-12x
    // from a builder re-run of the same commit on the mm family — pure
    // environment contention. With the spread in the artifact, a noisy
    // query shows max >> min and can't be misread as a plan regression.
    val spread = results.map { case (k, _, t, _) =>
      jstr(k) + s":[${t.head},${t(t.length / 2)},${t.last}]"
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, None) => v }.sum
    // Build fingerprint — MD5 over the (path, bytes) of every class
    // file THIS MAIN CAN LOAD: sessions are only min-merged WITHIN one
    // build, so a recompile that changes any loadable class starts a
    // fresh merge pool and old (possibly faster) code can never mask a
    // real regression. Content, not mtimes: sbt touches directory
    // stamps on every invocation, which made an mtime fingerprint
    // differ across sessions of the IDENTICAL build. Measurement-ONLY
    // mains that Bench never references are EXCLUDED (round 14): an
    // edit to the Frontier/StressScale harnesses recompiles the
    // classes dir without changing a single timed code path, and twice
    // in round 13 that orphaned a fully-deepened bench pool. Nothing
    // in the timed registry may reference these (none does — verified
    // by grep; a new reference would reintroduce silent pool reuse
    // across real changes, so keep them main()-only harnesses).
    val measurementOnlyMains =
      Seq("Frontier", "StressScale", "Profile", "PlanAudit", "Verify")
        .map(n => s"graft/$n")
    def isMeasurementOnly(rel: String): Boolean =
      measurementOnlyMains.exists(m =>
        rel == s"$m.class" || rel.startsWith(s"$m$$"))
    // The code source is the classes DIRECTORY under a plain
    // `java -cp` launch but a PACKAGED bg-jobs JAR under `sbt runMain`
    // — the round-13 implementation hashed the jar as one blob there,
    // so the exclusion list never applied and any recompile (including
    // measurement-only mains) re-keyed the pool: the exact orphaning
    // this fingerprint exists to prevent. Both layouts now enumerate
    // the same (relative .class name, bytes) pairs, so the tag is
    // launcher-independent.
    val buildTag: String = try {
      val src = new java.io.File(Bench.getClass.getProtectionDomain
        .getCodeSource.getLocation.toURI).toPath
      val md = java.security.MessageDigest.getInstance("MD5")
      val entries: Vector[(String, Array[Byte])] =
        if (java.nio.file.Files.isDirectory(src)) {
          val walk = java.nio.file.Files.walk(src)
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala
              .filter(p => java.nio.file.Files.isRegularFile(p) &&
                p.toString.endsWith(".class"))
              .map(p => (src.relativize(p).toString,
                java.nio.file.Files.readAllBytes(p)))
              .toVector
          } finally walk.close()
        } else {
          val jar = new java.util.jar.JarFile(src.toFile)
          try {
            import scala.jdk.CollectionConverters._
            jar.entries().asScala
              .filter(e => !e.isDirectory && e.getName.endsWith(".class"))
              .map { e =>
                val in = jar.getInputStream(e)
                try (e.getName, in.readAllBytes()) finally in.close()
              }.toVector
          } finally jar.close()
        }
      entries.sortBy(_._1)
        .filterNot { case (name, _) => isMeasurementOnly(name) }
        .foreach { case (name, bytes) =>
          md.update(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          md.update(bytes)
        }
      md.digest().take(6).map("%02x".format(_)).mkString
    } catch { case _: Exception => "unknown" }
    val warmup =
      if (sys.env.get("SPARK_GRAFT_WARMUP").contains("off")) "off" else "full"
    val excludedJson = excluded.toSeq.sorted.map(jstr).mkString("[", ",", "]")
    val sessionLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"errors":$errs,"sf":"$sfDir","build":"$buildTag","cpus":${Session.cpus},"warmup":"$warmup","warmup_dir":${jstr(warmupDir)},"excluded":$excludedJson,"agg":"full-registry untimed warm-up pass, then min-of-$Iterations per query, cache cleared per run; spread=[min,median,max]","registry":"production (no canonicalization sort)"}"""
    System.err.println(s"[bench] session: $sessionLine")
    // Archive the session under bench_runs/ for tools-side pooling
    // (tools/bench_pool.sh min-merges same-build same-sf same-cpus
    // sessions via tools/bench_merge.py), but the line THIS main prints
    // is the CURRENT session's measurement and nothing else (round 18).
    // Two round-17 defects forced the change: (a) the merge keyed on
    // (build, sf, warmup, excluded) but NOT the core count, so the
    // driver's SPARK_GRAFT_CPUS=8 scaling probe reported min-over-
    // {8-core run, archived 32-core sessions} — identical numbers at
    // both core counts, the scaling block unreadable; (b) merging
    // archived sessions made the driver's artifact depend on
    // builder-committed timings instead of measuring this run. The
    // single-session noise floor the old merge addressed (r10/r11) is
    // now carried by the session's own min-of-3 + the spread field,
    // and pooled headlines remain available via tools/bench_pool.sh.
    val runsDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "bench_runs"))
    try {
      java.nio.file.Files.createDirectories(runsDir)
      java.nio.file.Files.writeString(
        runsDir.resolve(s"run-${System.currentTimeMillis()}.json"),
        sessionLine + "\n")
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not archive run: ${e.getMessage}") }
    val line = sessionLine
    println(line)
    // the file is the canonical copy — the driver's stdout tail-capture
    // truncated the r6 artifact mid-line (BENCH_OUT env overrides)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
  }

}
