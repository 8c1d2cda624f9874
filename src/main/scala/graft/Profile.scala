package graft

/** Scratch profiler (measurement-only main — excluded from the bench
  * build fingerprint; repointed per round at the current bench hog).
  *
  * Three modes:
  *
  *   runMain graft.Profile rows <sfDir> [substr,substr,...]
  *     Per-registry-row empirical shape: wall (min-of-2 after one
  *     untimed warm-up), #jobs, #stages, #tasks, Σtask-time,
  *     shuffle-write bytes — the fixed-overhead diagnosis. A row whose
  *     wall >> Σtask/cores is scheduling/driver-bound, not compute-
  *     bound; a row with many stages pays per-stage latency.
  *
  *   runMain graft.Profile stages <sfDir> <rowName>
  *     One row's per-stage decomposition (second run, warm): stage id,
  *     wall, task count, Σtask, shuffle read/write, first line of the
  *     stage's name/callsite — sorted by wall desc.
  *
  *   runMain graft.Profile explain <sfDir> [outDir] [suffix] [substr,...]
  *     explain("formatted") of the selected rows, one file each at
  *     <outDir>/<row>_<suffix>.txt (defaults plans/r17, before).
  */
object Profile {

  private final class StageAgg extends org.apache.spark.scheduler.SparkListener {
    case class S(name: String, wall: Double, tasks: Int, taskSum: Double,
      shufRead: Long, shufWrite: Long, input: Long, where: String)
    val stages = scala.collection.mutable.ArrayBuffer.empty[S]
    var jobs = 0
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      synchronized {
        val i = sc.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield (a - b) / 1e3).getOrElse(0.0)
        val m = i.taskMetrics
        // first graft frame from the submission stack: broadcast/subquery
        // future stages all share the useless withThreadLocalCaptured
        // callsite, the details block has the real origin
        val where = i.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("Profile"))
          .getOrElse("").trim.take(90)
        stages += S(i.name, wall, i.numTasks, m.executorRunTime / 1e3,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead, where)
      }
    def reset(): Unit = synchronized { stages.clear(); jobs = 0 }
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("rows")
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Session()

    mode match {
      case "rows" =>
        val filt = args.lift(2).map(_.split(',').toSeq).getOrElse(Seq(""))
        val rows = SparkEntry.benchQueries.toSeq.sortBy(_._1)
          .filter { case (n, _) => filt.exists(n.contains) }
        val agg = new StageAgg
        spark.sparkContext.addSparkListener(agg)
        // full-registry-style warm-up over the SELECTED rows
        rows.foreach { case (_, fn) =>
          spark.catalog.clearCache()
          try fn(spark, sfDir).count() catch { case _: Throwable => () }
        }
        println(f"${"row"}%-42s ${"wall"}%7s ${"jobs"}%5s ${"stg"}%5s " +
          f"${"tasks"}%6s ${"Σtask"}%8s ${"shufW"}%9s")
        rows.foreach { case (name, fn) =>
          val walls = (1 to 2).map { _ =>
            spark.catalog.clearCache()
            agg.reset()
            val t0 = System.nanoTime()
            try fn(spark, sfDir).count() catch { case e: Throwable =>
              println(s"ERR $name: ${e.getMessage.take(120)}") }
            (System.nanoTime() - t0) / 1e9
          }
          // listener state reflects the LAST run; walls.min is the wall
          Thread.sleep(50) // let listener bus drain
          val (j, st, tk, ts, sw) = agg.synchronized {
            (agg.jobs, agg.stages.length, agg.stages.map(_.tasks).sum,
              agg.stages.map(_.taskSum).sum, agg.stages.map(_.shufWrite).sum)
          }
          println(f"$name%-42s ${walls.min}%7.2f $j%5d $st%5d $tk%6d " +
            f"$ts%8.2f ${sw / 1024}%8dK")
        }
      case "stages" =>
        val rowName = args.lift(2).getOrElse("sim_ann_index_delta")
        val fn = SparkEntry.benchQueries(rowName)
        val agg = new StageAgg
        spark.sparkContext.addSparkListener(agg)
        spark.catalog.clearCache()
        fn(spark, sfDir).count() // warm-up
        spark.catalog.clearCache()
        agg.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(100)
        println(f"TOTAL $rowName wall=$wall%.2f s jobs=${agg.jobs} " +
          f"stages=${agg.stages.length}")
        agg.stages.sortBy(-_.wall).take(40).foreach { s =>
          println(f"${s.wall}%7.3f s tasks=${s.tasks}%-4d Σtask=${s.taskSum}%7.2f " +
            f"in=${s.input / 1024}%6dK sr=${s.shufRead / 1024}%6dK " +
            f"sw=${s.shufWrite / 1024}%6dK  ${s.name.linesIterator.next().take(60)}" +
            f"  @ ${s.where}")
        }
      case "explain" =>
        // dump explain("formatted") of selected rows to plans/<outDir>/
        val outDir = args.lift(2).getOrElse("plans/r17")
        val suffix = args.lift(3).getOrElse("before")
        val filt = args.lift(4).map(_.split(',').toSeq).getOrElse(Seq(""))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        SparkEntry.benchQueries.toSeq.sortBy(_._1)
          .filter { case (n, _) => filt.exists(n.contains) }
          .foreach { case (name, fn) =>
            try {
              val df = fn(spark, sfDir)
              val plan = df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
              println(s"WROTE $outDir/${name}_$suffix.txt")
            } catch { case e: Throwable =>
              println(s"ERR $name: ${e.getMessage.take(160)}") }
          }
    }
    spark.stop()
  }
}
