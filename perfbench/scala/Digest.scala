package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What an op produced: its row count and an order-independent digest. */
final case class OpOutput(rows: Long, digest: String)

/** Order-independent result digests, observed on the same job that
  * consumes the result (`Dataset.observe`), so checking adds no job and
  * keeps every column live — a `count()` would let the optimizer prune
  * the columns and skip their work. */
object Digest {
  /** Doubles are rounded to 6 places so that a different summation order
    * inside an aggregate cannot flip the digest. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _ => c
  }

  /** `df` with the digest aggregates attached, and the handle to read them. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val hash = xxhash64(df.schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      canon(df.col(s"`${df.columns(i)}`"), f.dataType)
    }: _*)
    (df.observe(obs, count(lit(1)).as("n"), sum(hash.cast(DecimalType(38, 0))).as("h")), obs)
  }

  def of(obs: Observation): OpOutput = {
    val m = obs.get
    OpOutput(m("n").asInstanceOf[Long], String.valueOf(m("h")))
  }

  /** Consumes every row of `df` through the `noop` sink. Columns are
    * renamed positionally first, so duplicate output names stay
    * addressable. */
  def consume(df: DataFrame): OpOutput = {
    val (o, obs) = observed(df.toDF(df.columns.indices.map(i => s"c$i"): _*))
    o.write.format("noop").mode("overwrite").save()
    of(obs)
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
