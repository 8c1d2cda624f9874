package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.Tables

/** Job budget of the near-dup stage of the curation pipeline. At fixture
  * scale the engine is job-bound (each Spark job costs scheduling and
  * driver time whatever its size), so the number of jobs the `curated`
  * pipeline starts is part of its cost contract, the way
  * `PlanBudgetSpec` pins shuffles. Counts are exact and taken on the
  * sf0.001 fixture with the shared test session (AQE on, 4 shuffle
  * partitions); a change that adds an eager `count()`, a persist
  * materialization or a second corpus scan fails here. */
class CuratedJobBudgetSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  /** Jobs of `body` on a cold cache, after the fixture's parquet schema
    * is cached (a first load's schema inference is one job of its own). */
  private def jobsOf(body: => Any): Int = {
    spark.catalog.clearCache()
    Tables.documents(spark, dir)
    JobCounter.jobsOf(spark)(body)._2
  }

  test("nearDupLoserIds runs the pair query once: bounded collect, no rescan") {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // the persist+count of the band and shingle frames, the pairs'
    // persist+count+collect and the loser rescan cost 19 jobs before
    assert(jobsOf(Dedup.nearDupLoserIds(docs).collect()) == NearDupJobs)
  }

  test("curated pipeline job count") {
    // 21 jobs before the near-dup stage became one pair query
    assert(jobsOf(PipelineRun.curated(spark, dir).collect()) == CuratedJobs)
  }

  private val NearDupJobs = 6
  private val CuratedJobs = 9
}
