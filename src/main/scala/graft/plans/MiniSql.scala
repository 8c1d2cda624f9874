package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.costs.ChallengeModel.{IntV, NumV, SqlValue, StrV}
import graft.costs.ChallengePlanner
import graft.sources.Tables

/** Executable mini-SQL front end (SURVEY §2.3) — the challenge engine's
  * grammar (`SELECT f1, f2 FROM A [a] [JOIN B [b] ON a.x = b.y]
  * [WHERE p [AND p]*]`, equality-only predicates, reference
  * `challenge/planner.py:16-112`) parsed by the SAME parser the cost
  * planner uses ([[ChallengePlanner.parseSql]]), then compiled to
  * DataFrame operations over the one or two fixture tables the statement
  * names, each loaded through [[Tables.byName]] (so `events.ts` is
  * normalized). The session catalog is not touched: no temp view is
  * created or replaced.
  *
  * Compilation is declarative: per-side filters are applied before the
  * join (the reference's O10 pushdown is Catalyst's
  * `PushPredicateThroughJoin` anyway), the join is a plain equi-join that
  * AQE/size-based planning can broadcast, and the SELECT list projects
  * qualified fields back to bare names. Unsupported SQL (anything not
  * matching the grammar) throws `IllegalArgumentException` — same
  * contract as the reference's `ValueError`
  * (`challenge/planner.py:74-75`).
  *
  * Scale: the compiled plan is indistinguishable from hand-written
  * DataFrame code — scans prune columns, filters reach parquet, the join
  * broadcasts its filtered dimension. Building the DataFrame adds no
  * Spark job and no driver-side work beyond parsing and one file listing
  * per named table: [[Tables.load]] reuses the table's cached parquet
  * schema instead of inferring it (one job per table) again, and only
  * the named tables are loaded, not the whole catalog.
  */
object MiniSql {

  private def litOf(v: SqlValue): Column = v match {
    case IntV(l) => lit(l)
    case NumV(d) => lit(d)
    case StrV(s) => lit(s)
  }

  /** Parse `sql` with the challenge grammar and execute it over the
    * parquet catalog at `dir`. Table names in the SQL are fixture table
    * names (`part`, `lineitem`, …). */
  def execute(spark: SparkSession, dir: String, sql: String): DataFrame = {
    val parsed = ChallengePlanner.parseSql(sql)

    def table(name: String): DataFrame = {
      require(Tables.names.contains(name), s"Unknown table: $name")
      Tables.byName(spark, dir, name).alias(name)
    }

    def filtersFor(collection: String): Option[Column] = {
      val preds = parsed.filters.filter(_.collection == collection)
        .map(p => col(s"$collection.${p.field}") === litOf(p.value))
      preds.reduceOption(_ && _)
    }

    def withFilters(df: DataFrame, collection: String): DataFrame =
      filtersFor(collection).map(df.filter).getOrElse(df)

    val aliasMap = parsed.aliasEntries.toMap

    val joined = parsed.join match {
      case None =>
        val collection = parsed.aliasEntries.head._2
        withFilters(table(collection), collection)
      case Some(j) =>
        val left = withFilters(table(j.leftCollection), j.leftCollection)
        val right = withFilters(table(j.rightCollection), j.rightCollection)
        left.join(right,
          col(s"${j.leftCollection}.${j.leftField}") ===
            col(s"${j.rightCollection}.${j.rightField}"))
    }

    val projection = parsed.selectFields.map { field =>
      if (field.contains('.')) {
        val Array(alias, name) = field.split("\\.", 2)
        val collection = aliasMap.getOrElse(alias, alias)
        col(s"$collection.$name").as(name)
      } else col(field)
    }
    (joined.select(projection: _*))
  }

  // --- registry: challenge Q1/Q2 round-tripped through the parser ----------

  private val q1Sql =
    "SELECT p_partkey, p_name FROM part WHERE p_type = 'PROMO';"

  private val q2Sql =
    """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, p.p_retailprice
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_brand = 'Brand#4' AND l.l_orderkey = 1149;""".stripMargin

  def sqlChallengeQ1(spark: SparkSession, dir: String): DataFrame =
    execute(spark, dir, q1Sql)

  def sqlChallengeQ2(spark: SparkSession, dir: String): DataFrame =
    execute(spark, dir, q2Sql)

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_challenge_q1" -> (sqlChallengeQ1 _),
    "sql_challenge_q2" -> (sqlChallengeQ2 _))

  val oracles: Map[String, String] = Map(
    "sql_challenge_q1" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE p_type = 'PROMO' ORDER BY 1, 2""".stripMargin,
    "sql_challenge_q2" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, p_retailprice
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#4' AND l_orderkey = 1149
        |ORDER BY 1, 2, 3, 4""".stripMargin)
}
