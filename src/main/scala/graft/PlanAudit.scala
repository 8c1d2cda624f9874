package graft

/** Plan audit CLI: one JSON line per production-registry query with the
  * physical-plan facts the scale story depends on — shuffle Exchange
  * count, broadcast-join count, and whole-stage-codegen span count.
  * `PlanBudgetSpec` pins the shuffle counts so a plan regression (a new
  * Exchange creeping into a query) fails CI rather than surfacing as a
  * 100 TB incident; this main regenerates the numbers when a change is
  * intentional.
  *
  * Usage: runMain graft.PlanAudit [sfDir]
  */
object PlanAudit {

  /** Shuffle exchanges only — BroadcastExchange moves no fact-side data
    * and is usually the DESIRED plan, so it is counted separately. */
  def shuffleCount(plan: String): Int =
    "Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)"
      .r.findAllIn(plan).size

  def broadcastJoinCount(plan: String): Int =
    "BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(plan).size

  /** Distinct whole-stage-codegen spans: fused operators print as
    * `*(id) Operator`. Only visible on a NON-adaptive plan — under AQE
    * neither toString nor explain("formatted") annotates operators
    * inside materialized query stages, so the audit session turns AQE
    * off (Exchange insertion happens before AQE, so shuffle counts are
    * unaffected; production keeps AQE on). */
  def codegenSpanCount(plan: String): Int =
    """\*\(\d+\)""".r.findAllIn(plan).toSet.size

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session("spark.sql.adaptive.enabled" -> "false") // see codegenSpanCount
    SparkEntry.productionQueries.toSeq.sortBy(_._1).foreach {
      case (name, fn) =>
        val line = try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          s"""{"query":"$name","shuffles":${shuffleCount(plan)},""" +
            s""""broadcast_joins":${broadcastJoinCount(plan)},""" +
            s""""codegen_spans":${codegenSpanCount(plan)}}"""
        } catch {
          case e: Throwable =>
            s"""{"query":"$name","error":"${
              Option(e.getMessage).getOrElse(e.getClass.getName)
                .replaceAll("[\"\\\\\n\r\t]", " ").take(120)}"}"""
        }
        println(line)
        spark.catalog.clearCache()
    }
    spark.stop()
  }
}
