package graft.plans

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.JobCounter.jobsOf
import graft.TestSpark
import graft.operators.Relational

/** The mini-SQL front end must round-trip the challenge queries to the
  * SAME results as the hand-built DataFrame pipelines, and reject SQL
  * outside the reference grammar. */
class MiniSqlSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("sql_challenge_q2 equals the hand-built challengeQ2 pipeline") {
    val viaSql: Seq[Row] = MiniSql.sqlChallengeQ2(spark, dir).collect().toSeq
    val direct: Seq[Row] = Relational.challengeQ2(spark, dir).collect().toSeq
    assert(viaSql == direct)
  }

  test("single-table filter compiles and matches a direct filter") {
    val viaSql = MiniSql.sqlChallengeQ1(spark, dir).collect().toSeq
    val direct = graft.sources.Tables.part(spark, dir)
      .filter(org.apache.spark.sql.functions.col("p_type") === "PROMO")
      .select("p_partkey", "p_name")
      .orderBy("p_partkey", "p_name").collect().toSeq
    assert(viaSql == direct)
    assert(viaSql.nonEmpty)
  }

  test("aliased and unaliased predicates both resolve") {
    val a = MiniSql.execute(spark, dir,
      "SELECT p_partkey FROM part p WHERE p.p_brand = 'Brand#4'").collect()
    val b = MiniSql.execute(spark, dir,
      "SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'").collect()
    assert(a.toSeq == b.toSeq && a.nonEmpty)
  }

  test("SQL outside the grammar is rejected") {
    assertThrows[IllegalArgumentException] {
      MiniSql.execute(spark, dir, "DELETE FROM part")
    }
    assertThrows[IllegalArgumentException] {
      MiniSql.execute(spark, dir, "INSERT INTO part VALUES (1)")
    }
  }

  test("unknown tables are rejected") {
    assertThrows[IllegalArgumentException] {
      MiniSql.execute(spark, dir, "SELECT x FROM not_a_table WHERE x = 1")
    }
  }

  private val joinSql =
    """SELECT l.l_orderkey, p.p_name
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_brand = 'Brand#4'""".stripMargin

  test("building a join statement starts no Spark job once its tables were loaded") {
    MiniSql.execute(spark, dir, joinSql)
    val (df, jobs) = jobsOf(spark)(MiniSql.execute(spark, dir, joinSql))
    assert(jobs == 0)
    assert(df.collect().nonEmpty)
  }

  test("execute creates and replaces no temp view") {
    graft.sources.Tables.names.foreach(spark.catalog.dropTempView)
    // a view named like a fixture table must neither be read nor replaced
    spark.range(1).createOrReplaceTempView("part")
    try {
      def views = spark.catalog.listTables().collect().toSeq.map(t => (t.name, t.tableType))
      val before = views
      val rows = MiniSql.execute(spark, dir, joinSql).collect()
      assert(rows.nonEmpty)
      assert(views == before)
      assert(spark.table("part").columns.toSeq == Seq("id"))
    } finally spark.catalog.dropTempView("part")
  }

  test("a statement over events returns ts as a timestamp") {
    val df = MiniSql.execute(spark, dir, "SELECT event_id, ts FROM events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.collect().nonEmpty)
  }
}
