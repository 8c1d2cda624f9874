package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** The reference's declared relational query surface (SURVEY §2.5),
  * realized as real Spark DataFrame pipelines over the TPC-H-ish fixtures.
  *
  * Domain mapping (FIXTURES.md): Product/Movie→part,
  * Stock/OrderLine/Review→lineitem, Client/User→customer.
  *
  * Reference query declarations:
  *   - q1–q5: `query_simulator/queries.py:9-125`
  *   - q6–q7 aggregates: `query_simulator/aggregate.py`, `tests/test_aggregate.py`
  *   - challenge Q1/Q2: `challenge/queries.json` + `challenge/planner.py:152-311`
  *   - chapter5 Q1–Q5: `chapter5/planner.py:8-96`
  *
  * Determinism conventions (driver hash-compares against a DuckDB oracle):
  *   - every output column is explicitly aliased, identically in Spark and SQL;
  *   - every query ends in ORDER BY over all output columns (canonical
  *     multiset order — duplicate rows are interchangeable);
  *   - fractional-double aggregates go through decimal(18,2) before SUM and
  *     are cast back to double, so the result is bit-identical regardless of
  *     accumulation order (integral doubles like l_quantity are summed raw:
  *     exact in IEEE754 at these magnitudes).
  *
  * Scale notes are per-query; the common ones: filters/projections reach the
  * parquet scan (PushedFilters/ReadSchema), filtered dimensions are
  * broadcast-hinted, fact-fact joins stay shuffled equi-joins that AQE can
  * re-plan (skew join, local shuffle read) at runtime.
  */
object Relational {

  // Filter constants chosen (TESTDATA inspection). Each one alone returns
  // rows at every scale factor (smoke sf0.001, correctness sf0.01, bench
  // sf0.1), but the challenge-Q2 pair does not: order `OrderKeyQ2` has a
  // `Brand` line only at sf0.01, so `challenge_q2` and `denorm_rewrite_q2`
  // (`Denorm`) return no rows at sf0.001 and sf0.1. The constants stay as
  // they are because the oracle hashes are recorded over them.
  private[operators] val Brand = "Brand#4"
  private val PartKey = 7L
  private val StockPart = 185L
  private val StockSupp = 1L
  private val ShipDate = "1995-01-02 00:00:00"
  private[operators] val OrderKeyQ2 = 1149L

  private def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Sum a fractional double deterministically: decimal-sum, then back to
    * double (order-independent; identical bits in Spark and DuckDB). */
  private def dsum(c: Column): Column = sum(money(c)).cast("double")

  // --- homework q1–q5 (query_simulator/queries.py) -------------------------

  /** q1: shard-targeted 2-key equality lookup (`queries.py:16-30`).
    * Scale: both predicates push to parquet (row-group skip); on a layout
    * partitioned by l_partkey this is the reference's "shard-targeted scan"
    * (`challenge/simulator.py:57-61`) via Catalyst partition pruning. */
  def q1StockLookup(spark: SparkSession, dir: String): DataFrame = (
    Tables.lineitem(spark, dir)
      .filter(col("l_partkey") === StockPart && col("l_suppkey") === StockSupp)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity")))

  val q1Oracle: String =
    s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
       |FROM lineitem WHERE l_partkey = $StockPart AND l_suppkey = $StockSupp
       |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** q2: full-scan equality filter + projection (`queries.py:32-46`). */
  def q2BrandFilter(spark: SparkSession, dir: String): DataFrame = (
    Tables.part(spark, dir)
      .filter(col("p_brand") === Brand)
      .select(col("p_partkey"), col("p_name"), col("p_brand")))

  val q2Oracle: String =
    s"""SELECT p_partkey, p_name, p_brand FROM part
       |WHERE p_brand = '$Brand' ORDER BY 1, 2, 3""".stripMargin

  /** q3: equality filter on a date column (`queries.py:48-62`). */
  def q3OrdersByDate(spark: SparkSession, dir: String): DataFrame = (
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") === expr(s"timestamp'$ShipDate'"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_shipdate")))

  val q3Oracle: String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate
       |FROM lineitem WHERE l_shipdate = TIMESTAMP '$ShipDate'
       |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** q4: filtered dimension ⋈ fact (`queries.py:64-87`). The brand filter
    * makes `part` tiny relative to `lineitem`, so broadcast it — at 100 TB
    * the filtered dimension is still MBs while the fact side never moves
    * (no shuffle of lineitem at all). */
  def q4BrandStockJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_brand") === Brand)
      .select(col("p_partkey"), col("p_brand"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    (l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_brand"), col("l_orderkey"),
        col("l_linenumber"), col("l_quantity")))
  }

  val q4Oracle: String =
    s"""SELECT p_partkey, p_brand, l_orderkey, l_linenumber, l_quantity
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE p_brand = '$Brand' ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** q5: multi-way filtered join (`queries.py:89-123`). Date-range +
    * brand-filtered lineitem ⋈ part (broadcast) ⋈ orders ⋈ customer.
    * Scale: lineitem⋈orders is the only fact-fact shuffle (both sides hashed
    * on orderkey); customer joins on o_custkey after orders is reduced by
    * the semi-filtered lineitem side — AQE can demote it to broadcast at
    * runtime when the intermediate is small. */
  def q5OrdersBrandClientJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
        col("l_shipdate") < expr("timestamp'1997-01-01 00:00:00'"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
    val p = Tables.part(spark, dir).filter(col("p_brand") === Brand)
      .select(col("p_partkey"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    (l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
        col("c_custkey"), col("c_mktsegment"), col("l_quantity")))
  }

  val q5Oracle: String =
    s"""SELECT l_orderkey, l_linenumber, p_partkey, c_custkey, c_mktsegment, l_quantity
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE p_brand = '$Brand'
       |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
       |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin

  // --- homework q6–q7 aggregates (query_simulator/aggregate.py) ------------

  /** q6: group by the sharding key (`tests/test_aggregate.py:17-44`).
    * Scale: partial (map-side) aggregation shrinks each partition to
    * |group keys present| rows before the exchange; on a layout bucketed by
    * l_partkey the exchange is elided entirely — the executable analog of the
    * reference's shuffle-free shard-aligned aggregate (`aggregate.py:218-237`). */
  def q6StockByProduct(spark: SparkSession, dir: String): DataFrame = (
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).as("total_quantity"),
        count(lit(1)).as("n_lines")))

  val q6Oracle: String =
    """SELECT l_partkey, sum(l_quantity) AS total_quantity, count(*) AS n_lines
      |FROM lineitem GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin

  /** q6 under key-skew mitigation: salt the grouping key into 8 subkeys,
    * aggregate partially per (key, salt), then merge per key — the
    * classic two-stage rewrite that bounds any one reducer's share of a
    * hot key at 1/8th. Results are identical to [[q6StockByProduct]]
    * (integral-double sums are exact in either grouping), so it shares
    * q6's oracle. At sf scale AQE's skew handling makes this unnecessary;
    * the operator exists for deliberately skewed keys at 100 TB where a
    * single group exceeds an executor. */
  def q6Salted(spark: SparkSession, dir: String): DataFrame = (
    Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
      .groupBy(col("l_partkey"), col("salt"))
      .agg(sum(col("l_quantity")).as("pq"), count(lit(1)).as("pn"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("pq")).as("total_quantity"),
        sum(col("pn")).cast("long").as("n_lines")))

  /** q7: group by a non-shard key (`tests/test_aggregate.py:46-64`) with a
    * deterministic revenue sum over fractional doubles. */
  def q7OrdersByDateAgg(spark: SparkSession, dir: String): DataFrame = (
    Tables.lineitem(spark, dir)
      .groupBy(col("l_shipdate"))
      .agg(sum(col("l_quantity")).as("total_quantity"),
        dsum(col("l_extendedprice")).as("total_price")))

  val q7Oracle: String =
    """SELECT l_shipdate, sum(l_quantity) AS total_quantity,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM lineitem GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin

  /** q8: hierarchical ROLLUP over (returnflag, linestatus) — the
    * reporting-cube shape (subtotals + grand total in one pass). Spark
    * expands the rollup BEFORE the shuffle: each input row contributes
    * its three grouping-set rows map-side and partial aggregation
    * collapses them, so the exchange carries ≤ 3×|groups| rows — one
    * aggregate, not three queries. Grouping levels are disambiguated by
    * `grouping_id` (identical bitmask semantics to DuckDB's GROUPING)
    * and null keys are coalesced to 'ALL' so the driver's row compare
    * never sorts raw nulls. */
  def q8Rollup(spark: SparkSession, dir: String): DataFrame = (
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
        sum(col("l_quantity")).as("total_quantity"),
        count(lit(1)).as("n_lines"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("total_quantity"), col("n_lines")))

  val q8Oracle: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |       sum(l_quantity) AS total_quantity,
      |       count(*) AS n_lines
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** q9: per-customer running order total — the cumulative-window
    * reporting shape. One shuffle on the partition key, then a streamed
    * frame (ROWS UNBOUNDED PRECEDING — O(1) state per row, the sort is
    * within-partition). The money sum runs in decimal(18,2) so the
    * order-dependent accumulation is EXACT (and therefore
    * order-independent in value), cast to double only at the end;
    * (o_orderdate, o_orderkey) is a total order so ranks never tie. */
  def q9RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    (Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        money(col("o_totalprice")).as("p"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(col("p")).over(w).cast("double").as("running_total"),
        count(lit(1)).over(w).as("n_orders_so_far")))
  }

  val q9Oracle: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |              OVER (PARTITION BY o_custkey
      |                    ORDER BY o_orderdate, o_orderkey
      |                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      |         AS running_total,
      |       count(*) OVER (PARTITION BY o_custkey
      |                      ORDER BY o_orderdate, o_orderkey
      |                      ROWS UNBOUNDED PRECEDING) AS n_orders_so_far
      |FROM orders ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** q10: PIVOT — per-part quantity totals fanned out by return flag.
    * The reference has no pivot (SURVEY §2.4); this is the extension's
    * wide-report shape. Deliberately NOT `Dataset.pivot`: even with an
    * explicit value list Spark compiles pivot to a two-phase plan —
    * aggregate on (group, pivot) then pivot-first on (group), TWO
    * shuffles (and an implicit list adds a distinct-values pre-job).
    * The conditional-aggregate form is the identical result in ONE
    * shuffle with map-side partials — the plan you want at 100 TB, and
    * exactly what the oracle writes. The pivot domain is declared, not
    * discovered: at scale the flag domain is a contract, and a new flag
    * value must fail loudly in review, not silently add a column. */
  def q10Pivot(spark: SparkSession, dir: String): DataFrame = {
    def flagSum(f: String): Column =
      sum(when(col("l_returnflag") === f, col("l_quantity"))).cast("double")
    (Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(flagSum("A").as("qty_a"), flagSum("N").as("qty_n"),
        flagSum("R").as("qty_r")))
  }

  val q10Oracle: String =
    """SELECT l_partkey,
      |       CAST(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END)
      |            AS DOUBLE) AS qty_a,
      |       CAST(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END)
      |            AS DOUBLE) AS qty_n,
      |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END)
      |            AS DOUBLE) AS qty_r
      |FROM lineitem GROUP BY 1 ORDER BY 1, 2, 3, 4""".stripMargin

  /** q11: set difference — customers who ordered in the fixture range's
    * first five years but NOT after 2000 (churn-shaped; cutoff picked so
    * both sf0.001 and sf0.01 yield a non-empty difference). The
    * reference has no set ops (SURVEY §2.4). `except` is ANSI EXCEPT
    * DISTINCT in both engines; Spark plans it as a left-anti hash
    * aggregate join — one shuffle per side on the full row as key. */
  def q11Except(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"))
    val early = o.filter(col("o_orderdate") < "2000-01-01")
      .select(col("o_custkey"))
    val late = o.filter(col("o_orderdate") >= "2000-01-01")
      .select(col("o_custkey"))
    early.except(late)
  }

  val q11Oracle: String =
    """SELECT o_custkey FROM orders WHERE o_orderdate < DATE '2000-01-01'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '2000-01-01'
      |ORDER BY 1""".stripMargin

  /** q12: LEFT OUTER join — every part with its count of RETURNED
    * lineitems, zero when none (the reference has only inner equi-joins,
    * SURVEY §2.4). `count(col)` ignores the outer join's nulls in both
    * engines, so no-return parts surface as 0 rather than vanishing.
    * Scale: the return-filtered fact side shrinks before the join; the
    * preserved side is the dimension, so size-based planning broadcasts
    * the REDUCED fact side when it fits and AQE re-plans when it does
    * not. */
  def q12OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey"))
    // recent returns only — the window is tight enough that parts with
    // ZERO matches exist at every fixture scale, so the preserved side
    // is genuinely exercised (an inner join would drop those rows)
    val r = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R" &&
        col("l_shipdate") >= expr("timestamp'2000-01-01 00:00:00'"))
      .select(col("l_partkey"), col("l_orderkey"))
    (p.join(r, col("p_partkey") === col("l_partkey"), "left")
      .groupBy(col("p_partkey"))
      .agg(count(col("l_orderkey")).as("n_returns")))
  }

  val q12Oracle: String =
    """SELECT p_partkey, count(l_orderkey) AS n_returns
      |FROM part LEFT JOIN lineitem
      |  ON p_partkey = l_partkey AND l_returnflag = 'R'
      | AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
      |GROUP BY 1 ORDER BY 1, 2""".stripMargin

  /** q13: scalar subquery — parts whose total ordered quantity exceeds
    * the all-parts average (no subqueries in the reference, SURVEY
    * §2.4). Determinism: per-part totals are sums of integral doubles
    * (exact in IEEE at these magnitudes under any order), and the
    * average is one division of two exact values — bit-identical in
    * both engines. Scale: the scalar aggregate is a one-row broadcast
    * into the filter, not a per-row subquery execution. */
  def q13ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val totals = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
    val mean = totals.agg(avg(col("total_qty")).as("m"))
    (totals.join(broadcast(mean), col("total_qty") > col("m"))
      .select(col("l_partkey"), col("total_qty")))
  }

  val q13Oracle: String =
    """SELECT l_partkey, sum(l_quantity) AS total_qty
      |FROM lineitem GROUP BY 1
      |HAVING sum(l_quantity) >
      |  (SELECT avg(t) FROM (SELECT sum(l_quantity) AS t
      |                       FROM lineitem GROUP BY l_partkey))
      |ORDER BY 1, 2""".stripMargin

  // --- challenge engine Q1/Q2 (challenge/queries.json) ---------------------

  /** challenge Q1: `SELECT description FROM Product WHERE categorie=…`
    * (`challenge/queries.json`, planned at `challenge/planner.py:152-311`). */
  def challengeQ1(spark: SparkSession, dir: String): DataFrame = (
    Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO")
      .select(col("p_partkey"), col("p_name").as("description")))

  val challengeQ1Oracle: String =
    """SELECT p_partkey, p_name AS description FROM part
      |WHERE p_type = 'PROMO' ORDER BY 1, 2""".stripMargin

  /** challenge Q2: OrderLine ⋈ Product with per-side filters pushed before
    * the join (`challenge/planner.py:224-250` — Catalyst's
    * PushPredicateThroughJoin does this rewrite for free here). */
  def challengeQ2(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).filter(col("l_orderkey") === OrderKeyQ2)
    val p = Tables.part(spark, dir).filter(col("p_brand") === Brand)
    (l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("p_retailprice")))
  }

  val challengeQ2Oracle: String =
    s"""SELECT l_orderkey, l_linenumber, l_quantity, p_retailprice
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE p_brand = '$Brand' AND l_orderkey = $OrderKeyQ2
       |ORDER BY 1, 2, 3, 4""".stripMargin

  // --- chapter5 Movie/Review Q1–Q5 (chapter5/planner.py) -------------------

  /** ch5 Q1: movies by genre (`chapter5/planner.py:8-17`). */
  def ch5Q1MoviesByGenre(spark: SparkSession, dir: String): DataFrame = (
    Tables.part(spark, dir)
      .filter(col("p_type") === "STANDARD")
      .select(col("p_partkey"), col("p_name"), col("p_type")))

  val ch5Q1Oracle: String =
    """SELECT p_partkey, p_name, p_type FROM part
      |WHERE p_type = 'STANDARD' ORDER BY 1, 2, 3""".stripMargin

  /** ch5 Q2: reviews for one movie — shard-targeted filter
    * (`chapter5/planner.py:20-29`). */
  def ch5Q2ReviewsForMovie(spark: SparkSession, dir: String): DataFrame = (
    Tables.lineitem(spark, dir)
      .filter(col("l_partkey") === PartKey)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity")))

  val ch5Q2Oracle: String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
       |FROM lineitem WHERE l_partkey = $PartKey ORDER BY 1, 2, 3, 4""".stripMargin

  /** ch5 Q3: movie ⋈ review co-partitioned join (`chapter5/planner.py:32-43`).
    * The reference's "no shuffle when join key == both sharding keys"
    * (`chapter5/simulator.py:209-217`) maps to bucketed layouts
    * (`BucketedLayoutSpec`). On flat parquet the dimension is UNFILTERED,
    * so it gets no `broadcast()` hint: a hint is unconditional, and a
    * dimension that grows with the dataset would eventually OOM the
    * driver. Size-based planning (autoBroadcastJoinThreshold + AQE)
    * broadcasts while the dimension is genuinely small and degrades to a
    * shuffle join when it is not — `JoinPlanningSpec` asserts both the
    * absence of the hint and the size-chosen broadcast at test scale. */
  def ch5Q3MovieReviewJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    val l = Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_quantity"))
    (l.join(p, col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("l_quantity")))
  }

  val ch5Q3Oracle: String =
    """SELECT p_partkey, p_name, l_quantity
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |ORDER BY 1, 2, 3""".stripMargin

  /** ch5 Q4: avg rating by movie (`chapter5/planner.py:46-55`). avg over
    * integral doubles = exact sum / exact count → bit-deterministic. */
  def ch5Q4AvgRatingByMovie(spark: SparkSession, dir: String): DataFrame = (
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(avg(col("l_quantity")).as("avg_rating")))

  val ch5Q4Oracle: String =
    """SELECT l_partkey, avg(l_quantity) AS avg_rating
      |FROM lineitem GROUP BY 1 ORDER BY 1, 2""".stripMargin

  /** ch5 Q5: aggregate → join on a named intermediate
    * (`chapter5/planner.py:58-77`, dataflow `chapter5/simulator.py:290-347`).
    * Scale: the aggregate output has |movies| rows — joined to the movie
    * dimension on the same key; AQE broadcasts whichever side is small. */
  def ch5Q5TopMoviesWithTitles(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(avg(col("l_quantity")).as("avg_rating"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    (agg.join(p, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("p_name"), col("avg_rating")))
  }

  val ch5Q5Oracle: String =
    """SELECT l_partkey, p_name, avg(l_quantity) AS avg_rating
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1, 2 ORDER BY 1, 2, 3""".stripMargin

  // --- registry ------------------------------------------------------------

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_stock_lookup" -> (q1StockLookup _),
    "q2_brand_filter" -> (q2BrandFilter _),
    "q3_orders_by_date" -> (q3OrdersByDate _),
    "q4_brand_stock_join" -> (q4BrandStockJoin _),
    "q5_orders_brand_client_join" -> (q5OrdersBrandClientJoin _),
    "q6_stock_by_product" -> (q6StockByProduct _),
    "q6_salted_skew" -> (q6Salted _),
    "q7_orders_by_date_agg" -> (q7OrdersByDateAgg _),
    "q8_rollup" -> (q8Rollup _),
    "q9_running_total" -> (q9RunningTotal _),
    "q10_pivot" -> (q10Pivot _),
    "q11_except" -> (q11Except _),
    "q12_outer_join" -> (q12OuterJoin _),
    "q13_scalar_subquery" -> (q13ScalarSubquery _),
    "challenge_q1" -> (challengeQ1 _),
    "challenge_q2" -> (challengeQ2 _),
    "ch5_q1_movies_by_genre" -> (ch5Q1MoviesByGenre _),
    "ch5_q2_reviews_for_movie" -> (ch5Q2ReviewsForMovie _),
    "ch5_q3_movie_review_join" -> (ch5Q3MovieReviewJoin _),
    "ch5_q4_avg_rating_by_movie" -> (ch5Q4AvgRatingByMovie _),
    "ch5_q5_top_movies_with_titles" -> (ch5Q5TopMoviesWithTitles _))

  val oracles: Map[String, String] = Map(
    "q1_stock_lookup" -> q1Oracle,
    "q2_brand_filter" -> q2Oracle,
    "q3_orders_by_date" -> q3Oracle,
    "q4_brand_stock_join" -> q4Oracle,
    "q5_orders_brand_client_join" -> q5Oracle,
    "q6_stock_by_product" -> q6Oracle,
    "q6_salted_skew" -> q6Oracle,
    "q7_orders_by_date_agg" -> q7Oracle,
    "q8_rollup" -> q8Oracle,
    "q9_running_total" -> q9Oracle,
    "q10_pivot" -> q10Oracle,
    "q11_except" -> q11Oracle,
    "q12_outer_join" -> q12Oracle,
    "q13_scalar_subquery" -> q13Oracle,
    "challenge_q1" -> challengeQ1Oracle,
    "challenge_q2" -> challengeQ2Oracle,
    "ch5_q1_movies_by_genre" -> ch5Q1Oracle,
    "ch5_q2_reviews_for_movie" -> ch5Q2Oracle,
    "ch5_q3_movie_review_join" -> ch5Q3Oracle,
    "ch5_q4_avg_rating_by_movie" -> ch5Q4Oracle,
    "ch5_q5_top_movies_with_titles" -> ch5Q5Oracle)
}
