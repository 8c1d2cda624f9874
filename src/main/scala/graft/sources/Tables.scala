package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet table catalog over the driver fixtures (TESTDATA.md).
  *
  * The reference models collections declaratively (JSON Schemas +
  * statistics, reference `main.py:114-134`, `challenge/loader.py:35-107`);
  * here a "collection" is a real parquet-backed DataFrame. Scans go
  * through `spark.read.parquet` so Catalyst's FileSourceScanExec gets
  * predicate pushdown + column pruning for free — the rebuild's analog of
  * the reference's full/shard/index scan strategies
  * (`challenge/simulator.py:57-67`) is partition pruning + row-group
  * skipping, which need no hand-rolled access-path selection.
  *
  * Scale note: at 100 TB these would be partitioned/bucketed table roots
  * rather than single files; all call sites take the directory as a
  * parameter so the layout can change without touching operators.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A fresh DataFrame over `dir/name.parquet`. A plain
    * `spark.read.parquet` infers the schema from the parquet footers
    * with one Spark job per call — on the job-bound sf0.1 statements
    * that job cost more than the scan itself. So the first load of a
    * table infers it and caches the SCHEMA (never the DataFrame: a
    * reused DataFrame would share expression ids across queries and pin
    * a stale file listing); later loads pass it to
    * `spark.read.schema(s).parquet`, which starts no job and still builds
    * a fresh relation with fresh expression ids.
    *
    * The cache key ([[SchemaKey]]) is everything inference depends on:
    *   - the qualified path;
    *   - (path, length, modification time) of every leaf file, from one
    *     driver-side Hadoop `listFiles` — a table rewritten in place is
    *     inferred again;
    *   - the session's set confs whose value differs from the conf's
    *     registered default — e.g. `nanosAsLong` decides whether
    *     `events.ts` infers as long or fails. A conf set to its default
    *     changes no inference, so restoring a saved value with
    *     `spark.conf.set(k, <default>)` keeps hitting the same entry.
    * A path that cannot be listed is read uncached, so a missing table
    * raises Spark's own `PATH_NOT_FOUND` error as before. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(key) =>
        schemas.synchronized(Option(schemas.get(key))) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            // inferred outside the lock: one slow footer read must not
            // stall loads of other tables
            val df = spark.read.parquet(path)
            schemas.synchronized(schemas.putIfAbsent(key, df.schema))
            df
        }
    }
  }

  private final case class SchemaKey(path: String,
      files: Seq[(String, Long, Long)], confs: Map[String, String])

  /** Bounded LRU of inferred schemas (a few entries per session in
    * practice: one per fixture table and conf set). */
  private val MaxSchemas = 256
  private val schemas = new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[SchemaKey, StructType]): Boolean = size() > MaxSchemas
  }

  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    try {
      val it = fs.listFiles(qualified, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted
      Some(SchemaKey(qualified.toString, files, nonDefaultConfs(spark)))
    } catch { case _: FileNotFoundException => None }
  }

  /** The set confs whose value is not their registered default; a conf
    * without a registered SQL default is kept. */
  private def nonDefaultConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, v) =>
      scala.util.Try(DefaultConf.getConfString(k)).toOption.forall(_ != v)
    }

  /** A conf with nothing set: it reads every SQL conf's default. */
  private val DefaultConf = new SQLConf

  /** Session configs every graft entry point needs.
    *   - `nanosAsLong`: the events fixture stores parquet INT64
    *     TIMESTAMP(NANOS), which Spark 4.x refuses to read natively —
    *     surfaced as a long that [[events]] converts to a microsecond
    *     timestamp.
    *   - object-hash fallback threshold: the sketch aggregates
    *     (`graft.functions.MinHashSketch`/`SimHashSketch`) run under
    *     ObjectHashAggregateExec, whose default 128-key fallback degrades
    *     to sort-based aggregation on any realistic group count; the
    *     buffers are small (≤512 B/group), so hash aggregation stays the
    *     right plan well past this bound.
    *   - `InferFiltersFromGenerate` excluded (round 17): the rule adds
    *     `size(e) > 0 AND isnotnull(e)` below every non-outer explode,
    *     and after CollapseProject inlines the projection, `e` is the
    *     full generator child — so every expensive generator expression
    *     in the registry (`word_shingles`, `minhash_bands_of`,
    *     `bloom_shingle_filter(word_shingles(..))`) was evaluated up to
    *     THREE times per corpus row (plan audit: the inferred Filter
    *     carried the whole MinHash sketch twice next to the Generate's
    *     own copy in dedup_incremental / dedup_minhash_lsh /
    *     text_decontaminate{,_bloom}). Results are identical without
    *     the rule: a non-outer Generate already emits nothing for
    *     null/empty arrays, which is exactly the rows the inferred
    *     filter dropped — it only pre-trims Generate input, it never
    *     changes output. Scale-independent: at 100 TB the duplicate
    *     evaluations are full corpus re-scans of the costliest scalar
    *     work the pipeline does.
    *     CAVEAT: `excludedRules` is a comma-separated whole-value conf,
    *     not additive — applying this map as is OVERWRITES any exclusion
    *     list supplied via spark-defaults/launcher flags (and a later
    *     `spark.conf.set` overwrites this one). [[graft.Session]], which
    *     builds every entry-point main's session, appends this rule to
    *     the launcher's list instead; perfbench's session applies the
    *     map as is.
    *   - `canChangeCachedPlanOutputPartitioning` deliberately left at
    *     its default (false) — round 17 tried `true` (AQE coalescing of
    *     cached-plan partitions removes ~250 ms/task of block-manager
    *     lock contention on tiny 32-partition cache builds at 1×) and
    *     the 10× trend gate rejected it: byte-based coalescing collapses
    *     a small persisted frame to ONE partition, and every downstream
    *     consumer whose COMPUTE is amplified past its input bytes (the
    *     LSH candidate joins — kilobytes of buckets in, tens of millions
    *     of candidate pairs out) runs single-threaded
    *     (`sim_ann_lsh_capped` 3.0 → 24.0 s min-merged at 10×,
    *     session spreads to 59 s). Cached-partition counts here must
    *     follow the static parallelism knob, which the launcher already
    *     scales with the core count. */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  /** `ts` normalizes to a microsecond [[org.apache.spark.sql.types.TimestampType]]
    * whatever the fixture generation stored:
    *   - INT64 TIMESTAMP(NANOS) (surfaced as long via [[requiredConfs]]):
    *     integer division (`DIV` — exact long arithmetic; a double
    *     division would round at 1e18 magnitudes) truncates exactly like
    *     DuckDB's native TIMESTAMP_NS → TIMESTAMP read of the same file;
    *   - native TIMESTAMP/TIMESTAMP_NTZ micros: a cast under the UTC
    *     session timezone, which preserves the stored wall-clock value
    *     bit-for-bit. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(load(spark, dir, "events"))

  /** The `ts` normalization above for ANY events frame — batch or
    * streaming (the streaming twins stage the same parquet, so they
    * dispatch on the same schema). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** The fixture table `name` as SQL sees it: [[events]] with its `ts`
    * normalized, every other table as [[load]] reads it. */
  def byName(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else load(spark, dir, name)

  /** Register all fixture tables ([[byName]]) as temp views so
    * `spark.sql` works over them. Starts no Spark job once each table's
    * schema is cached (see [[load]]). [[graft.plans.MiniSql]] does not
    * need the views: it loads the tables a statement names directly. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => byName(spark, dir, n).createOrReplaceTempView(n))
}
