package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The conf merge of [[Session]], checked as the pure function it is: no
  * session is built here, since `getOrCreate` in the test JVM would
  * return `TestSpark.spark` and change its confs. */
class SessionSpec extends AnyFunSuite {

  private val Key = "spark.sql.optimizer.excludedRules"
  private val Rule = Tables.requiredConfs(Key)
  private val UserA = "org.apache.spark.sql.catalyst.optimizer.ConstantFolding"
  private val UserB = "org.apache.spark.sql.catalyst.optimizer.PushFoldableIntoBranches"

  private def merged(launcher: Map[String, String]): String =
    Session.requiredConfs(launcher)(Key)

  test("a launcher's excludedRules survive, in order, with the required rule appended once") {
    assert(merged(Map(Key -> s"$UserA,$UserB")) == s"$UserA,$UserB,$Rule")
    assert(merged(Map(Key -> s" $UserA , $UserB ")) == s"$UserA,$UserB,$Rule")
    assert(merged(Map(Key -> s"$UserA,$Rule,$UserB")) == s"$UserA,$Rule,$UserB")
    assert(merged(Map(Key -> s"$UserA, $Rule ")) == s"$UserA,$Rule")
  }

  test("an empty or missing list gives exactly the required value") {
    for (launcher <- Seq(Map.empty[String, String], Map(Key -> ""),
        Map(Key -> " , "), Map("spark.sql.shuffle.partitions" -> "8")))
      assert(merged(launcher) == Rule)
  }

  test("every other required conf is applied as is") {
    val confs = Session.requiredConfs(Map(Key -> UserA) ++
      Tables.requiredConfs.keys.filterNot(_ == Key).map(_ -> "launcher"))
    assert(confs.keySet == Tables.requiredConfs.keySet)
    assert(confs - Key == Tables.requiredConfs - Key)
  }
}
