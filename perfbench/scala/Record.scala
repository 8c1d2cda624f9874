package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Records the expected (rows, digest) of every fixed-input op the
  * docdb and curation generators can emit, so a run checks each op's
  * output against the output recorded at the commit that defined the
  * benchmark. Before an entry is recorded it is cross-checked against an
  * independent form where the engine has one: each mini-SQL statement
  * against Spark SQL running the same text, each registry query against
  * its oracle-form registry entry. It also records the op sequences of
  * [[Plan.RecordedSeeds]] for [[Plan.selfCheck]]. */
object Record {
  def load(path: String): Map[String, (Long, String)] = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    root.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText)
    }.toMap
  }

  def run(opt: Map[String, String]): Unit = {
    val work = opt("work")
    val spark = Main.session(opt, work)
    val sf = opt("data")
    val spans = new Spans(false)
    val docdb = new Docdb(spark, sf, spans)
    val curation = new Curation(spark, sf, work, spans)
    val oracle = graft.SparkEntry.queries
    graft.sources.Tables.registerAll(spark, sf)
    def entry(op: OpSpec, w: Workload): (String, (Long, String)) = {
      val out = w.exec(op)
      require(out.rows > 0, s"${Workload.key(op)} returns no rows on ${sf}")
      Workload.key(op) -> (out.rows, out.digest)
    }
    val registry = Plan.RegistryRows.map { r =>
      val e = entry(OpSpec("registry", r, "aux"), docdb)
      val o = Digest.consume(oracle(r)(spark, sf))
      require((o.rows, o.digest) == e._2, s"$r: production ${e._2} != oracle form (${o.rows}, ${o.digest})")
      e
    }
    val sql = Plan.allStatements.map { s =>
      val e = entry(OpSpec("sql", s, "key"), docdb)
      val o = Digest.consume(spark.sql(s))
      require((o.rows, o.digest) == e._2, s"$s: MiniSql ${e._2} != Spark SQL (${o.rows}, ${o.digest})")
      e
    }
    val rerank = Seq(entry(OpSpec("rerank", "rerank", "other"), docdb))
    val cur = curation.probeOps.map(entry(_, curation))
    spark.stop()
    val plans = for (w <- Seq("docdb_queries", "curation"); seed <- Plan.RecordedSeeds)
      yield Plan.planKey(w, seed) -> Plan.fingerprint(w, seed)
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    (registry ++ sql ++ rerank ++ cur ++ plans).sortBy(_._1).foreach { case (k, (rows, digest)) =>
      node.putArray(k).add(rows).add(digest)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(opt("out")), node)
    println(s"recorded ${node.size} digests to ${opt("out")}")
  }
}
