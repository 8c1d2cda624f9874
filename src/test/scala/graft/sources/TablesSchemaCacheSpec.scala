package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.JobCounter.jobsOf
import graft.TestSpark

/** [[Tables.load]] infers a table's parquet schema once and reuses it:
  * a repeat load starts no Spark job yet reads exactly what a plain
  * `spark.read.parquet` reads, and everything inference depends on — the
  * files under the path, the session confs — keys its own entry. */
class TablesSchemaCacheSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def tempDir(): String =
    Files.createTempDirectory("graft_schema_cache").toString

  test("a repeat load starts no job and reads what a plain parquet read reads") {
    Tables.load(spark, dir, "part")
    val (df, jobs) = jobsOf(spark)(Tables.load(spark, dir, "part"))
    assert(jobs == 0)
    val plain = spark.read.parquet(s"$dir/part.parquet")
    assert(df.schema == plain.schema)
    assert(df.collect().toSeq == plain.collect().toSeq)
    // a fresh relation every time: the two loads share no expression id
    val ids = df.queryExecution.analyzed.output.map(_.exprId).toSet
    val again = Tables.load(spark, dir, "part").queryExecution.analyzed.output.map(_.exprId)
    assert(again.nonEmpty && again.forall(id => !ids.contains(id)))
  }

  test("a table rewritten at the same path comes back with its new schema") {
    val root = tempDir()
    spark.range(5).toDF("a").write.parquet(s"$root/t.parquet")
    assert(Tables.load(spark, root, "t").schema.map(_.name) == Seq("a"))
    assert(jobsOf(spark)(Tables.load(spark, root, "t"))._2 == 0)

    spark.range(3).select(col("id").as("a"), col("id").cast("string").as("b"))
      .write.mode("overwrite").parquet(s"$root/t.parquet")
    val rewritten = Tables.load(spark, root, "t")
    assert(rewritten.schema.map(f => f.name -> f.dataType) ==
      Seq("a" -> LongType, "b" -> StringType))
    assert(rewritten.count() == 3)
  }

  test("a conf that changes inference keys its own entry") {
    // a raw parquet BINARY column: no Spark schema in the footer, so its
    // inferred type follows `binaryAsString`
    val key = "spark.sql.parquet.binaryAsString"
    val root = tempDir()
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val out = HadoopOutputFile.fromPath(new Path(s"$root/t.parquet"), new Configuration())
    val writer = ExampleParquetWriter.builder(out).withType(schema).build()
    try Seq("x", "y").foreach(v => writer.write(new SimpleGroupFactory(schema).newGroup().append("b", v)))
    finally writer.close()

    def bType = Tables.load(spark, root, "t").schema("b").dataType
    assert(bType == BinaryType)
    val saved = spark.conf.getAll.get(key) // getOption would return the default
    try {
      spark.conf.set(key, "true")
      assert(bType == StringType)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // the original conf set hits its own entry again
    val (df, jobs) = jobsOf(spark)(Tables.load(spark, root, "t"))
    assert(jobs == 0 && df.schema("b").dataType == BinaryType)
  }

  test("a conf set to its default value starts no inference job") {
    val key = "spark.sql.parquet.binaryAsString"
    Tables.load(spark, dir, "part")
    val saved = spark.conf.getAll.get(key)
    try {
      // the save/restore idiom `getOption` then `set` does exactly this
      spark.conf.set(key, spark.conf.get(key))
      assert(spark.conf.getAll.contains(key))
      assert(jobsOf(spark)(Tables.load(spark, dir, "part"))._2 == 0)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a missing path raises the exception a plain parquet read raises") {
    val root = tempDir()
    val plain = intercept[Exception](spark.read.parquet(s"$root/none.parquet"))
    val viaLoad = intercept[Exception](Tables.load(spark, root, "none"))
    assert(viaLoad.getClass == plain.getClass)
    assert(viaLoad.getMessage == plain.getMessage)
  }
}
