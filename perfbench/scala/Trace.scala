package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-op Spark counters from the public listener API. The benchmark
  * tags every job it starts with the op's index through the
  * `perfbench.op` local property; stages and tasks inherit the tag
  * through their job. Listener callbacks run on Spark's listener bus, so
  * readers call [[SparkCounters.drain]] first. */
final class SparkCounters extends SparkListener {
  final class Agg {
    var jobs = 0L
    var stages = 0L
    var failedTasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    var peakExecMem = 0L
    val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val byOp = mutable.HashMap.empty[Int, Agg]
  private val stageOp = mutable.HashMap.empty[Int, Int]

  private def agg(op: Int): Agg = byOp.getOrElseUpdate(op, new Agg)

  def of(op: Int): Agg = synchronized(byOp.getOrElse(op, new Agg))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.OpKey)))
      .foreach { tag =>
        val op = tag.toInt
        val a = agg(op)
        a.jobs += 1
        a.stages += e.stageIds.size
        e.stageIds.foreach(s => stageOp(s) = op)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (op <- stageOp.get(info.stageId); s <- info.submissionTime;
         c <- info.completionTime) agg(op).stageSpans += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val a = agg(op)
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) a.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }
}

object SparkCounters {
  val OpKey = "perfbench.op"

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchAccess.drain(sc)

  /** Wall time of `[start, end]` not covered by any of `spans` (ms). */
  def uncovered(start: Long, end: Long, spans: Seq[(Long, Long)]): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}

/** Named layer spans recorded around the benchmark's calls into the
  * engine's modules: kept in memory and summarized when the run ends. */
final class Spans(var enabled: Boolean) {
  private val durations = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def apply[A](layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally durations.getOrElseUpdate(layer, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e9
    }

  def mean(layer: String): Double =
    durations.get(layer).filter(_.nonEmpty).map(d => d.sum / d.size).getOrElse(0.0)
}
