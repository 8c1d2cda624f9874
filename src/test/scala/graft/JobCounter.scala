package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. Listener events arrive
  * asynchronously, so the block's jobs are tagged through a local
  * property and a differently tagged sentinel job runs after the block:
  * the listener bus delivers events in order, so once the sentinel's
  * start is seen, every job of the block has been counted. */
object JobCounter {
  private val Key = "graft.test.jobTag"

  def jobsOf[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val sentinel = s"$tag-end"
    val jobs = new AtomicInteger
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Key)).orNull match {
          case `tag` => jobs.incrementAndGet()
          case `sentinel` => ended.countDown()
          case _ => ()
        }
    }
    val saved = sc.getLocalProperty(Key)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, tag)
      val result = body
      sc.setLocalProperty(Key, sentinel)
      sc.parallelize(Seq(1), 1).count()
      require(ended.await(60, TimeUnit.SECONDS), "sentinel job start never delivered")
      (result, jobs.get)
    } finally {
      sc.setLocalProperty(Key, saved)
      sc.removeSparkListener(listener)
    }
  }
}
