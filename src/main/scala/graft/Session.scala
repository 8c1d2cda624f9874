package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import graft.sources.Tables

/** The one session contract of every entry-point main: `local[n]` with
  * n from `SPARK_GRAFT_CPUS` (default: the host's cores), one shuffle
  * partition per core, no UI, the UTC session timezone, log level WARN,
  * [[Tables.requiredConfs]] merged over the launcher's confs, then the
  * caller's own confs, then the bounded-heap top-k planning
  * ([[graft.plans.TopKPlanning.register]]). */
object Session {

  private val ExcludedRules = "spark.sql.optimizer.excludedRules"

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** [[Tables.requiredConfs]] as applied over the launcher's confs:
    * `excludedRules` is one comma-separated value, so the required rules
    * are appended to the launcher's list (trimmed, each once, launcher
    * order first) instead of replacing it. Every other key as is. */
  def requiredConfs(launcher: Map[String, String]): Map[String, String] =
    Tables.requiredConfs.map {
      case (k @ ExcludedRules, rules) =>
        k -> (launcher.get(k).toSeq :+ rules).flatMap(_.split(','))
          .map(_.trim).filter(_.nonEmpty).distinct.mkString(",")
      case kv => kv
    }

  /** `confs` are applied last, over the contract's own. */
  def apply(confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    // a new SparkConf holds the launcher's `spark.*` system properties
    (requiredConfs(new SparkConf().getAll.toMap) ++ confs).foreach {
      case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopKPlanning.register(spark)
    spark
  }
}
